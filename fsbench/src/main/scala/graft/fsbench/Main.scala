package graft.fsbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

import graft.api.FeatureStore
import graft.catalog.Catalog

/** One benchmark run: populate a workload's store `SetupReps` times,
  * warm up on the last one, time a closed loop of ops against it for
  * `--seconds`, check every result against the generator, and write the
  * result document to `--out`.
  *
  *   Main --workload serve|train|ingest --seed N --seconds S --trace 0|1
  *        --out result.json --work scratch-dir
  */
object Main {
  /** Store populations per run; setup_s takes their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = new File(need("work")).getAbsoluteFile
    // two task threads leave the other cores of a 4-core box to the
    // driver, JIT and GC threads; at local[4] runs spread twice as wide
    val cores = math.min(2, Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"fsbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // bound the status store, so retained heap does not grow with ops run
      .config("spark.ui.retainedJobs", 50L)
      .config("spark.ui.retainedStages", 50L)
      .config("spark.sql.ui.retainedExecutions", 50L)
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val failures = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    def noteFailures(phase: String, rec: Recorder): Unit =
      rec.failures.foreach(f => failures += ListMap(
        "phase" -> phase, "op" -> f.op, "index" -> f.index, "reason" -> f.reason))

    // every populate builds a fresh store (the timed phase uses the
    // last); the warm-up's JIT, codegen and first scans are paid once
    val reps = (1 to SetupReps).map { rep =>
      val dir = new File(work, s"store-$rep").getPath
      val s0 = System.nanoTime()
      val catalog = new Catalog(s"$dir/catalog.json", spark.sparkContext.hadoopConfiguration)
      val fs = new FeatureStore(spark, tracer.fold[graft.catalog.CatalogApi](catalog)(new TimingCatalog(catalog, _)))
      val w = Workloads.make(workload, fs, seed, dir)
      w.populate()
      val s = (System.nanoTime() - s0) / 1e9
      if (rep < SetupReps) { fs.close(); deleteTree(new File(dir)) }
      (s, w, fs)
    }
    val populateS = reps.map(_._1)
    val (_, w, fs) = reps.last
    val warm = new Recorder
    val w0 = System.nanoTime()
    val warmHarness = new Harness(warm, None)
    for (_ <- 1 to w.warmupRounds) while (!w.step(warmHarness)) ()
    val warmupS = (System.nanoTime() - w0) / 1e9
    noteFailures("warmup", warm)

    val rec = new Recorder
    val harness = new Harness(rec, tracer)
    val timedStart = System.nanoTime()
    val deadline = timedStart + (seconds * 1e9).toLong
    var stop = false
    while (!stop) stop = w.step(harness) && System.nanoTime() >= deadline
    val wallS = (System.nanoTime() - timedStart) / 1e9
    noteFailures("timed", rec)
    val ledger = tracer.map { t => t.detach(); t.ledger() }

    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val finalProblems = w.finalCheck()
    finalProblems.foreach(r => failures += ListMap("phase" -> "final", "op" -> "state", "index" -> -1, "reason" -> r))
    val storeBytes = treeBytes(new File(w.namespaceDir))

    val succeeded = rec.attempted - rec.failed
    val metrics = mutable.LinkedHashMap.empty[String, Any]
    def metric(name: String, value: Double, unit: String, extra: (String, Any)*): Unit =
      metrics += name -> ListMap(Seq("value" -> value, "unit" -> unit) ++ extra: _*)
    metric("setup_s", sessionS + median(populateS) + warmupS, "s",
      "session_start_s" -> sessionS, "populate_s" -> populateS, "warmup_s" -> warmupS,
      "warmup_ms" -> ListMap(warm.ops.map(op => op -> warm.latencies(op)): _*))
    metric("ops_per_s", succeeded / wallS, "1/s", "ops" -> succeeded, "wall_s" -> wallS)
    metric("error_ratio", rec.failed.toDouble / math.max(1, rec.attempted), "ratio",
      "failed" -> rec.failed, "attempted" -> rec.attempted)
    metric("heap_mb", heapMb, "MB")
    val kindP50 = w.ops.flatMap(op => Stats.percentile(rec.latencies(op), 0.5).map(_.value))
    if (kindP50.size == w.ops.size)
      metric("op_p50_gmean_ms", math.exp(kindP50.map(math.log).sum / kindP50.size), "ms", "ops" -> w.ops)
    val perOp = Seq(
      ("last", "ms", 1.0, true), ("window", "ms", 1.0, true), ("resample", "s", 1e-3, false),
      ("asof", "s", 1e-3, false), ("dag", "s", 1e-3, false), ("save", "ms", 1.0, true),
      ("compact", "s", 1e-3, false))
    perOp.filter { case (op, _, _, _) => w.ops.contains(op) }.foreach { case (op, unit, scale, tail) =>
      val xs = rec.latencies(op)
      Stats.percentile(xs, 0.5).foreach(p =>
        metric(s"${op}_${unit}_p50", p.value * scale, unit, "n" -> p.n))
      if (tail) Stats.tail(xs).foreach(p =>
        metric(s"${op}_${unit}_p90", p.value * scale, unit,
          "percentile" -> p.q, "n" -> p.n, "beyond" -> p.beyond))
    }
    metric("bytes_per_row", storeBytes.toDouble / w.liveRows, "B",
        "store_bytes" -> storeBytes, "live_rows" -> w.liveRows)

    val doc = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "shuffle_partitions" -> cores,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "setup_reps" -> SetupReps,
      "correct" -> failures.isEmpty, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> metrics,
      "latencies_ms" -> ListMap(w.ops.map(op => op -> rec.latencies(op)): _*),
      "failures" -> failures,
      "ledger" -> ledger.map(ledgerJson(_, w.ops)))
    Files.write(Paths.get(need("out")),
      JsonMapper.builder().addModule(DefaultScalaModule).build().writeValueAsBytes(doc))
    fs.close()
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double = Stats.percentile(xs, 0.5).get.value

  /** The traced run's ledger: every op's spans, its self times, and the
    * per-op and per-workload means of each `<layer>.<quantity>`.
    */
  private def ledgerJson(ls: Seq[Tracer.OpLedger], ops: Seq[String]): ListMap[String, Any] = {
    def means(xs: Seq[Tracer.OpLedger]): Seq[(String, Double)] =
      if (xs.isEmpty) Nil
      else xs.head.quantities.map(_._1).map(k => k -> xs.map(_.quantities.toMap.apply(k)).sum / xs.size)
    val perOp = ops.flatMap(op => means(ls.filter(_.t.op == op)).map { case (k, v) => s"$op.$k" -> v })
    ListMap(
      "units" -> Tracer.Units,
      "per_layer" -> ListMap(means(ls): _*),
      "per_op" -> ListMap(perOp: _*),
      "op_counts" -> ListMap(ops.map(op => op -> ls.count(_.t.op == op)): _*),
      "ops" -> ls.map { l =>
        val t = l.t
        ListMap(
          "op" -> t.op, "index" -> t.index, "start_ms" -> t.startMs, "wall_ms" -> t.wallMs,
          "rows_out" -> t.rowsOut,
          "self" -> ListMap("api_self_ms" -> l.apiSelfMs, "driver_only_ms" -> l.driverOnlyMs),
          "catalog" -> ListMap(t.catalog.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
            n -> ListMap("calls" -> ss.size, "ms" -> ss.map(_.ms).sum)
          }: _*),
          "plan" -> ListMap(l.phases.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
            n -> ss.map(_.ms).sum
          }: _*),
          "jobs" -> l.jobs.map(j => ListMap("id" -> j.id, "start_ms" -> j.startMs, "ms" -> j.ms,
            "tasks" -> j.tasks, "records_read" -> j.recordsRead, "shuffle_bytes" -> j.shuffleBytes)),
          "fs" -> ListMap("list_calls" -> t.fs.listCalls, "bytes_read" -> t.fs.bytesRead,
            "write_calls" -> t.fs.writeCalls, "bytes_written" -> t.fs.bytesWritten),
          "gc_ms" -> t.gcMs)
      })
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length else 0L

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
