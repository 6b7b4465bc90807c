package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first measured query isn't charged for
    // session spin-up (classloading, codegen compiler, shuffle init);
    // best-effort — a missing warmup table must not abort the benchmark
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    } catch { case _: Throwable => }
    // One self-contained timed execution. clearCache() first so a
    // persist() inside a query builder (the pinned LSH sketch frames)
    // can't leak work between runs — every timing pays its own
    // materialization. Returns (seconds, errored): a crashed query is
    // REPORTED as an error, never silently timed as ~0s (which would
    // make the bench *improve* when a query breaks).
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      spark.catalog.clearCache()
      // localCheckpoint blocks (Pack's ranged frame, the contraction's
      // final edge set) live OUTSIDE the CacheManager, so clearCache()
      // can't free them and they'd pile up across 60 queries x 4 runs;
      // the previous run's frames are unreferenced by now, so dropping
      // every persistent RDD between runs is safe and deterministic.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val t0 = System.nanoTime()
      // materialize EVERY output column, not a count: a count() lets
      // Catalyst prune projections the query is supposed to pay for
      // (expression-heavy selects would be measured as near-free).
      // bit_xor of xxhash64 over the whole row forces full evaluation
      // and cannot overflow (unlike an ANSI sum of hashes). Schemas
      // xxhash64 cannot hash (e.g. map-typed columns) fall back to
      // count() rather than silently timing an analysis error as ~0s.
      val err =
        try {
          val df = fn(spark, sfDir)
          try df.agg(org.apache.spark.sql.functions.expr("bit_xor(xxhash64(struct(*)))")).collect()
          catch { case _: org.apache.spark.sql.AnalysisException => df.count() }
          false
        } catch { case _: Throwable => true }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // cold run first (JIT + first parquet scan), then THREE warm runs;
    // the REPORTED per-query number is the BEST warm run — the noise
    // floor, standard benchmarking practice: system-level drift (CPU
    // frequency, page cache, a co-tenant burst) only ever ADDS time, so
    // min() converges on the query's actual cost while a single sample
    // rides the noise (bit-identical code measured 2.8x apart across
    // rounds before this; min-of-2 still let a contended stretch poison
    // five adjacent queries 2-7x in one round — the third sample means
    // one bad stretch has to strike the same query three times to show).
    //
    // Round 13 proved even min-of-3 is not contention-proof: a co-tenant
    // that stays busy for the bench's whole 17 minutes poisons all three
    // samples (recorded 16.0s for a query an idle box runs in 0.9s), and
    // nothing in the artifact says so. Two additions make a poisoned run
    // machine-visible instead of needing a human re-measure:
    //  (a) every query records its WARM SPREAD — the ratio of the
    //      third-best to the best warm sample. Consistent samples ⇒ ~1.0;
    //      a contended stretch can inflate the minimum but not fake three
    //      CONSISTENT low readings, so spread >> 1 flags the number.
    //  (b) any query whose first triple spreads >2x gets a second triple
    //      (one retry — bounded so a genuinely noisy box can't loop
    //      forever); reported time is the min over all samples, spread is
    //      recomputed over the best three, and the query is listed in
    //      "reruns" so the artifact shows the first pass was unstable.
    // /proc/loadavg snapshots (start / end / max seen between queries)
    // expose OTHER-process pressure: this JVM's own 32 worker threads are
    // expected load, so "max" way above what one local[32] run generates
    // (or nonzero load at start) marks external contention.
    def load1(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadStart = load1()
    var loadMax = loadStart
    // optional substring filter for fast local iteration on a few
    // queries; the DRIVER never sets it, so its artifact always covers
    // the full suite (and a filtered run is self-describing: "sf" plus
    // the queries map shows exactly what ran)
    val benchFilter: String => Boolean =
      sys.env.get("SPARK_GRAFT_BENCH_FILTER")
        .map(f => (n: String) => n.contains(f))
        .getOrElse((_: String) => true)
    val results = SparkEntry.queries.filter(kv => benchFilter(kv._1)).map { case (name, fn) =>
      val (coldT, coldErr) = once(fn)
      var warms = Seq.fill(3)(once(fn))
      def sortedTimes = warms.map(_._1).sorted
      def spreadOfBest3 = {
        val s = sortedTimes
        if (s.head <= 0) 1.0 else s(2) / s.head
      }
      val anyErr = coldErr || warms.exists(_._2)
      val rerun = !anyErr && spreadOfBest3 > 2.0
      if (rerun) warms = warms ++ Seq.fill(3)(once(fn))
      loadMax = math.max(loadMax, load1())
      (name, coldT, sortedTimes.head, anyErr || warms.exists(_._2),
        spreadOfBest3, rerun)
    }
    val loadEnd = load1()
    // 3-decimal timings: the driver captures only the TAIL of stdout, so
    // the final JSON line must stay compact — full-precision doubles for
    // 44 queries once pushed the line past the capture window and the
    // round's bench parsed as null. Cold timings are diagnostics only;
    // they go to stderr so they can't bloat (or be mistaken for) the
    // one machine-read stdout line.
    // Locale.ROOT pinned: the default-locale "%.3f" emits "0,123" on
    // comma-decimal locales, corrupting the machine-read JSON line.
    def f3(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    def f2(d: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    def obj(f: ((String, Double, Double, Boolean, Double, Boolean)) => String): String =
      results.map { case r @ (k, _, _, _, _, _) => s"\"" + k + "\":" + f(r) }.mkString("{", ",", "}")
    val qs = obj(r => f3(r._3))
    val cold = obj(r => f3(r._2))
    // 2-decimal spreads keep the line compact; the signal is coarse
    // (1.0x = stable, >2x = the reported min was not reproducible).
    val spreads = obj(r => f2(r._5))
    val errList = results.collect { case (k, _, _, true, _, _) => k }
    val errs = errList.map(k => s"\"" + k + "\"").mkString("[", ",", "]")
    val rerunList = results.collect { case (k, _, _, _, _, true) => k }
    val reruns = rerunList.map(k => s"\"" + k + "\"").mkString("[", ",", "]")
    val total = results.map(_._3).sum
    val loads = s"""{"start":${f2(loadStart)},"max":${f2(loadMax)},"end":${f2(loadEnd)}}"""
    System.err.println(s"""[bench-cold] {"queries_cold":$cold}""")
    // With any erred query the total is NOT a usable number (round 12's 31
    // broken gates each "contributed" ~0.07s and the total read as a big
    // improvement) — emit null so a consumer parsing only the JSON line
    // cannot read a misleadingly fast total without noticing the errors.
    val value = if (errList.isEmpty) f3(total) else "null"
    val line = s"""{"metric":"total","value":$value,"unit":"sec","queries":$qs,"spread":$spreads,"reruns":$reruns,"load":$loads,"errs":$errs,"sf":"$sfDir"}"""
    // Persist the full line to a file so the evidence survives any stdout
    // truncation regardless of line length.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_results.json"), line + "\n")
    catch { case _: Throwable => }
    // A short self-contained digest FIRST (same schema: full-suite total,
    // per-query entries for the slowest gates within a byte budget, exact
    // reconstruction fields for the elided rest) — kept for consumers with
    // a small tail-capture window...
    val bySlowest = results.toSeq.sortBy(-_._3)
    var used = 0
    val picked = bySlowest.takeWhile { case (k, _, t, _, _, _) =>
      val w = k.length + f3(t).length + 4
      if (used + w <= 1400) { used += w; true } else false
    }
    val omitted = results.size - picked.size
    val omittedSec = total - picked.map(_._3).sum
    val qsC = picked.map { case (k, _, t, _, _, _) => s"\"" + k + "\":" + f3(t) }
      .mkString("{", ",", "}")
    val errsC = errList.take(8).map(k => s"\"" + k + "\"").mkString("[", ",", "]")
    val compact = s"""{"metric":"total","value":$value,"unit":"sec","gates":${results.size},""" +
      s""""queries":$qsC,"queries_omitted":$omitted,"omitted_sec":${f3(omittedSec)},""" +
      s""""reruns":${rerunList.size},"n_errs":${errList.size},"errs":$errsC,""" +
      s""""load":$loads,"sf":"$sfDir"}"""
    println(compact)
    // ...and the COMPLETE per-query JSON as the LAST stdout line (the
    // driver's parse target). Through round 19 the driver recorded
    // parsed:null every round: the full line was printed first (so a tail
    // capture held only its middle) and, worse, sbt's logger re-prefixed
    // every forked line with "[info] " (fixed via run/outputStrategy in
    // build.sbt). Last + unprefixed makes head-grep, tail-grep and
    // last-JSON-line consumers all land on a complete parseable object
    // carrying EVERY gate. The line is NOT bounded: a consumer reading a
    // tail window of stdout needs one that holds the whole line (~9 KB at
    // 258 gates); one with a smaller window reads bench_results.json,
    // which carries the identical line.
    println(line)
    spark.stop()
    // A crashed query must surface as a failed RUN, not just a JSON field:
    // round 12 recorded rc:0 with 31 erred gates and read as a pass.
    if (errList.nonEmpty) {
      System.err.println(s"[bench] ${errList.size} queries errored: ${errList.mkString(",")}")
      sys.exit(1)
    }
  }
}
