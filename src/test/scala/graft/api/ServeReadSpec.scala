package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{CountingFs, JobCounting, PlanCounting, SparkSpec}
import graft.ops.TimeseriesOps
import graft.store.{TimeseriesStore, TxAdd, TxLog}

/** Serve-path reads: what `last()` and short `loadDataFrame` windows
  * cost in Spark jobs and optimized plans, that the one-pass endpoint
  * lookup returns the dedup winner under every reference backend name,
  * that a window served on the driver equals the Spark path's frame,
  * that a later null reads back as null, and how feature
  * directories without a committed log open: empty when nothing was
  * committed, refused (naming the migration) when a pre-log writer left
  * data there.
  */
class ServeReadSpec extends SparkSpec with JobCounting with PlanCounting {
  import spark.implicits._

  private def freshStore(backend: String = "spark"): (FeatureStore, String) = {
    val dir = tmpDir("graft-serve")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("s", s"$dir/warehouse", backend = backend)
    (fs, s"$dir/warehouse")
  }

  private def daily(from: String, days: Int): DataFrame =
    (0 until days).map(i => (new Timestamp(ts(from).getTime + i * 86400000L), i.toDouble))
      .toDF("time", "value")

  test("plain last() and first() on a pinned feature start no Spark job") {
    val (fs, _) = freshStore()
    fs.createFeature("s/f")
    fs.saveDataFrame(daily("2024-01-01", 10), Some("s/f"))
    // a rewrite of the last day: the endpoint must still resolve the
    // last-writer-wins winner
    fs.saveDataFrame(Seq((ts("2024-01-10"), ts("2030-01-01"), 99.0))
      .toDF("time", "created_time", "value"), Some("s/f"))
    fs.createFeature("s/ser", serialized = true)
    fs.saveDataFrame(daily("2024-01-01", 3).withColumn("value", col("value").cast("string")),
      Some("s/ser"))
    // the winner is read on the driver: no job, cold or warm
    for (_ <- 1 to 2) {
      val (got, jobs) = jobsOf(fs.last("s/f"))
      assert(got.contains(99.0) && jobs.isEmpty, s"jobs: $jobs")
      val (head, headJobs) = jobsOf(fs.first(Seq("s/f"))("s/f"))
      assert(head.contains(0.0) && headJobs.isEmpty, s"jobs: $headJobs")
      val (ser, serJobs) = jobsOf(fs.last("s/ser"))
      assert(ser.contains("2.0") && serJobs.isEmpty, s"jobs: $serJobs")
    }
  }

  test("a 4-feature ranged loadDataFrame starts no 0-record job before its scans") {
    val (fs, _) = freshStore()
    val names = (0 until 4).map(i => s"s/w$i")
    names.foreach { n =>
      fs.createFeature(n)
      fs.saveDataFrame(daily("2024-01-01", 10), Some(n))
    }
    def load() = fs.loadDataFrame(names, Some(ts("2024-01-04")), Some(ts("2024-01-05"))).collect()
    // the Spark path, pinned by turning the driver load path off
    val (rows, jobs) = withDriverLoadBound(fs, -1)(jobsOf(load()))
    assert(rows.length == 2)
    // a schema-inference probe reads footers only: it shows up as a
    // job with no input records ahead of the first real scan
    assert(jobs.nonEmpty && jobs.head.records > 0, s"jobs: $jobs")
    // by default the window is served on the driver: no job, same rows
    val (onDriver, driverJobs) = jobsOf(load())
    assert(onDriver.toSeq == rows.toSeq && driverJobs.isEmpty, s"jobs: $driverJobs")
  }

  /** Raw rows of one feature: the last day carries a created_time
    * rewrite, a created_time tie broken by value, a NaN and a null;
    * the first day mirrors it. Times are noon UTC so a year-style
    * feature spans two year partitions. */
  private def trickyRows(first: String, last: String): DataFrame = {
    val t0 = ts(first)
    val t1 = ts(last)
    def at(t: Timestamp, hours: Int) = new Timestamp(t.getTime + hours * 3600000L)
    val mid = (1 to 5).map(i => (at(t0, 24 * i), at(t0, 24 * i), Option(i.toDouble)))
    val ends = Seq(t0, t1).flatMap(t => Seq(
      (t, t, Option(1.0)),
      (t, at(t, 2), Option(Double.NaN)),
      (t, at(t, 2), Option.empty[Double]),
      (t, at(t, 1), Option(7.0)),
      (t, at(t, 1), Option(3.0))))
    (mid ++ ends).toDF("time", "created_time", "value")
  }

  /** The endpoint through the full dedup: travel, dedupLatest, a time
    * sort, the serialized unwrap — what loadSeries computes. */
  private def viaDedup(
      fs: FeatureStore, name: String, tt: Option[String], fromTail: Boolean): Option[Row] = {
    val f = fs.catalog.getFeature("s", name).get
    val raw = fs.store(fs.catalog.getNamespace("s").get).read(name, partitionStyle = f.partition)
    val traveled = tt.map(TimeseriesOps.timeTravel(raw, _)).getOrElse(raw)
    val deduped = TimeseriesOps.dedupLatest(traveled)
    val unwrapped =
      if (f.serialized) deduped.withColumn("value", get_json_object(col("value"), "$.v"))
      else deduped
    unwrapped.orderBy(if (fromTail) col("time").desc else col("time").asc)
      .select("time", "value").limit(1).collect().headOption
  }

  /** num, ser and yr: the tricky rows as a double, a serialized and a
    * year-partitioned feature. */
  private def saveTricky(fs: FeatureStore): Unit = {
    fs.createFeature("s/num")
    fs.saveDataFrame(trickyRows("2024-01-01T12:00:00", "2024-01-20T12:00:00"), Some("s/num"))
    fs.createFeature("s/ser", serialized = true)
    fs.saveDataFrame(trickyRows("2024-01-01T12:00:00", "2024-01-20T12:00:00")
      .withColumn("value", col("value").cast("string")), Some("s/ser"))
    fs.createFeature("s/yr", partition = "year")
    fs.saveDataFrame(trickyRows("2022-12-27T12:00:00", "2023-01-10T12:00:00"), Some("s/yr"))
  }

  private val travels = Seq(None, Some("0s"), Some("1h"))

  /** The search's head and tail under every travel equal the dedup's;
    * returns what each lookup read. */
  private def assertEndpoints(fs: FeatureStore, names: Seq[String], clue: String = "")
      : Map[(String, Option[String], Boolean), graft.store.EndpointReads] = {
    val ns = fs.catalog.getNamespace("s").get
    (for (name <- names; tt <- travels; fromTail <- Seq(true, false)) yield {
      val f = fs.catalog.getFeature("s", name).get
      val (got, reads) = fs.endpointLookup(ns, f, tt, fromTail)
      val want = viaDedup(fs, name, tt, fromTail)
      assert(got.map(_.toSeq.map(String.valueOf)) == want.map(_.toSeq.map(String.valueOf)),
        s"$clue s/$name tt=$tt fromTail=$fromTail")
      (name, tt, fromTail) -> reads
    }).toMap
  }

  test("endpoint lookups equal dedupLatest plus a time sort on both backends") {
    for (backend <- Seq("spark", "txlog")) {
      val (fs, _) = freshStore(backend)
      saveTricky(fs)
      assertEndpoints(fs, Seq("num", "ser", "yr"), backend)
      // the winners themselves: no travel keeps the latest-created NaN
      // (NaN sorts above every double, null below), a 1h travel keeps
      // the created_time tie's larger value, 0s keeps the original
      assert(fs.last(Seq("s/num"))("s/num").exists(_.asInstanceOf[Double].isNaN))
      assert(fs.last(Seq("s/num"), Some("1h"))("s/num").contains(7.0))
      assert(fs.first(Seq("s/num"), Some("0s"))("s/num").contains(1.0))
      assert(fs.last(Seq("s/ser"), Some("1h"))("s/ser").contains("7.0"))
    }
  }

  test("a plain parquet tree without a transaction log fails fast naming importSnapshot") {
    implicit val sqlCtx = spark.sqlContext
    val (fs, warehouse) = freshStore()
    val ns = fs.catalog.getNamespace("s").get
    // a tree written the pre-log way: one plain partitioned write
    val rows = trickyRows("2024-01-01T12:00:00", "2024-01-20T12:00:00")
    rows.withColumn("partition", date_format(col("time"), "yyyy-MM-dd"))
      .write.partitionBy("partition").parquet(s"$warehouse/feature/legacy")
    // and one a parquet file-sink stream wrote (`_spark_metadata`)
    val mem = MemoryStream[(Timestamp, Double)]
    val q = mem.toDF().toDF("time", "value")
      .withColumn("created_time", col("time"))
      .withColumn("partition", date_format(col("time"), "yyyy-MM-dd"))
      .writeStream.format("parquet").partitionBy("partition")
      .option("path", s"$warehouse/feature/sunk")
      .option("checkpointLocation", tmpDir("graft-serve-ckpt")).start()
    mem.addData((ts("2024-01-01T10:00:00"), 1.0), (ts("2024-01-02T10:00:00"), 2.0))
    q.processAllAvailable()
    q.stop()
    for (name <- Seq("legacy", "sunk")) {
      fs.createFeature(s"s/$name")
      // refused when the read is BUILT, never read as an empty feature
      val load = intercept[IllegalStateException](fs.loadDataFrame(Seq(s"s/$name")))
      assert(load.getMessage.contains("importSnapshot"), load.getMessage)
      val last = intercept[IllegalStateException](fs.last(s"s/$name"))
      assert(last.getMessage.contains("importSnapshot"), last.getMessage)
      // and a save must not bury the tree under a fresh log
      intercept[IllegalStateException](
        fs.saveDataFrame(daily("2024-02-01", 1), Some(s"s/$name")))
    }
    // the migration: move the tree aside, import it under the same name
    val moved = s"${tmpDir("graft-serve-legacy")}/legacy"
    assert(new java.io.File(s"$warehouse/feature/legacy")
      .renameTo(new java.io.File(moved)))
    fs.importFeature("s/legacy", moved)
    def sorted(df: DataFrame) = df.select("time", "created_time", "value")
      .orderBy("time", "created_time", "value").collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(sorted(fs.store(ns).read("legacy")) == sorted(rows))
    assert(fs.last(Seq("s/legacy"), Some("1h"))("s/legacy").contains(7.0))
    // files renamed in by an install whose commit never landed carry
    // no committer marker: the feature reads as its committed state
    val crashed = new java.io.File(s"$warehouse/feature/crashed")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(moved), crashed)
    new java.io.File(crashed, "_SUCCESS").delete()
    fs.createFeature("s/crashed")
    assert(fs.loadDataFrame(Seq("s/crashed")).count() == 0)
    assert(fs.last("s/crashed").isEmpty)
  }

  test("an unpinned plain tree written by featureSink reads back through the facade") {
    implicit val sqlCtx = spark.sqlContext
    val (fs, warehouse) = freshStore()
    fs.createFeature("s/sunk")
    // the layout the pre-log featureSink wrote: normalized envelope,
    // parquet file sink, no transaction log
    val mem = MemoryStream[(Timestamp, String)]
    val q = graft.store.TimeseriesStore.normalize(mem.toDF().toDF("time", "value"), "date")
      .writeStream.format("parquet").partitionBy("partition")
      .option("path", s"$warehouse/feature/sunk")
      .option("checkpointLocation", tmpDir("graft-serve-ckpt")).start()
    mem.addData((ts("2024-01-01T10:00:00"), "alpha"), (ts("2024-01-02T10:00:00"), "beta"))
    q.processAllAvailable()
    q.stop()
    assert(fs.catalog.getFeature("s", "sunk").get.valueType.isEmpty)
    val moved = s"${tmpDir("graft-serve-sunk")}/sunk"
    assert(new java.io.File(s"$warehouse/feature/sunk").renameTo(new java.io.File(moved)))
    // a file a failed micro-batch left behind: on disk, not in the sink log
    val orphanDir = tmpDir("graft-serve-orphan")
    Seq((ts("2024-01-02T11:00:00"), ts("2024-01-02T11:00:00"), "orphan"))
      .toDF("time", "created_time", "value").write.mode("overwrite").parquet(orphanDir)
    val orphan = new java.io.File(orphanDir).listFiles().filter(_.getName.endsWith(".parquet")).head
    org.apache.commons.io.FileUtils.copyFile(orphan,
      new java.io.File(s"$moved/partition=2024-01-02/part-orphan.snappy.parquet"))
    // the sink log's absolute paths name the old location; the import
    // re-roots them at the moved tree
    fs.importFeature("s/sunk", moved)
    // string values: a guessed double schema could not read them back
    val rows = fs.loadDataFrame(Seq("s/sunk")).orderBy("time").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("alpha", "beta"))
    assert(fs.last("s/sunk").contains("beta"))
  }

  test("cloneFeature of a string-valued feature copies its values intact") {
    val (fs, _) = freshStore()
    fs.createFeature("s/str")
    fs.saveDataFrame(Seq((ts("2024-01-01"), "a"), (ts("2024-01-02"), "b"), (ts("2025-03-01"), "c"))
      .toDF("time", "value"), Some("s/str"))
    fs.cloneFeature("s/str2", "s/str")
    val rows = fs.loadDataFrame(Seq("s/str2")).orderBy("time").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("a", "b", "c"))
    assert(fs.last("s/str2").contains("c"))
    // the year-style clone keeps its partition type too
    fs.createFeature("s/ystr", partition = "year")
    fs.saveDataFrame(Seq((ts("2023-06-01"), "y1"), (ts("2024-06-01"), "y2"))
      .toDF("time", "value"), Some("s/ystr"))
    fs.cloneFeature("s/ystr2", "s/ystr")
    assert(fs.loadDataFrame(Seq("s/ystr2")).orderBy("time").collect()
      .map(_.getString(1)).toSeq == Seq("y1", "y2"))
  }

  test("a feature directory with no data files returns the empty envelope") {
    val (fs, warehouse) = freshStore()
    val ns = fs.catalog.getNamespace("s").get
    // pinned: saved once, then every data file removed (a crashed first
    // append leaves just this shape behind)
    fs.createFeature("s/gone")
    fs.saveDataFrame(daily("2024-01-01", 3), Some("s/gone"))
    val dir = new java.io.File(s"$warehouse/feature/gone")
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    new java.io.File(dir, "_temporary").mkdirs()
    // unpinned: a bare directory
    fs.createFeature("s/bare")
    new java.io.File(s"$warehouse/feature/bare").mkdirs()
    for (name <- Seq("gone", "bare")) {
      val raw = fs.store(ns).read(name)
      assert(raw.columns.toSeq == Seq("time", "created_time", "value") && raw.count() == 0, name)
      assert(fs.loadDataFrame(Seq(s"s/$name")).count() == 0, name)
      assert(fs.last(s"s/$name").isEmpty, name)
    }
    // nothing to copy: the clone gets no data directory
    fs.cloneFeature("s/gone2", "s/gone")
    assert(!new java.io.File(s"$warehouse/feature/gone2").exists())
  }

  /** Rewrites feature `name`'s log by hand: one commit that re-adds
    * the given live files as `strip` leaves them. */
  private def handWritten(warehouse: String, name: String)(strip: Seq[TxAdd] => Seq[TxAdd]): Seq[TxAdd] = {
    val root = s"$warehouse/feature/$name"
    val log = new TxLog(spark.sparkContext.hadoopConfiguration, root)
    val stripped = strip(log.snapshot())
    def opt(k: String, v: Option[Long]) = v.map(x => s""","$k":$x""").getOrElse("")
    val lines = stripped.flatMap { a =>
      Seq(s"""{"remove":{"path":"${a.path}"}}""",
        s"""{"add":{"path":"${a.path}","partition":"${a.partition}","sv":0""" +
          opt("tmin", a.tmin) + opt("tmax", a.tmax) + opt("fsize", a.fsize) + "}}")
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"$root/_txlog/${log.latestVersion() + 1}%020d.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    stripped
  }

  private def liveAdds(warehouse: String, name: String): Seq[TxAdd] =
    new TxLog(spark.sparkContext.hadoopConfiguration, s"$warehouse/feature/$name").snapshot()

  /** `days` daily noon rows from 2024-01-01 valued by index; rows at or
    * past `maskedFrom` were created a month after their time. */
  private def backfilled(days: Int, maskedFrom: Int): DataFrame =
    (0 until days).map { i =>
      val t = new Timestamp(ts("2024-01-01T12:00:00").getTime + i * 86400000L)
      (t, if (i >= maskedFrom) new Timestamp(t.getTime + 30L * 86400000L) else t, i.toDouble)
    }.toDF("time", "created_time", "value")

  /** The features the loose-bounds cases run on. */
  private def saveLoose(fs: FeatureStore, warehouse: String): Unit = {
    val st = fs.store(fs.catalog.getNamespace("s").get)
    // adds without stats: a middle file loses tmin, tmax and fsize, the
    // tail file its time bounds only
    fs.createFeature("s/bare")
    fs.saveDataFrame(trickyRows("2024-01-01T12:00:00", "2024-01-10T12:00:00"), Some("s/bare"))
    handWritten(warehouse, "bare") { live =>
      val byTime = live.sortBy(_.tmax)
      Seq(byTime(byTime.size / 2).copy(tmin = None, tmax = None, fsize = None),
        byTime.last.copy(tmin = None, tmax = None))
    }
    // four files tied at the tail's tmax, with created_time rewrites
    // and a created_time tie broken by value
    fs.createFeature("s/tied")
    fs.saveDataFrame(backfilled(5, maskedFrom = 5), Some("s/tied"))
    val t = ts("2024-01-05T12:00:00")
    for ((hours, v) <- Seq((3, 30.0), (1, 10.0), (2, 20.0), (3, 31.0)))
      fs.saveDataFrame(Seq((t, new Timestamp(t.getTime + hours * 3600000L), v))
        .toDF("time", "created_time", "value"), Some("s/tied"))
    // an evolved schema: int values in epoch 0 (created now, so any
    // travel masks them), then double values and an added column whose
    // rows reach back to the head and rewrite the tail's time
    fs.createFeature("s/evo")
    fs.saveDataFrame((5 to 10).map(i => (ts(f"2024-01-$i%02dT12:00:00"), i)).toDF("time", "value"),
      Some("s/evo"))
    st.evolveSchema("evo", org.apache.spark.sql.types.StructType.fromDDL(
      "time timestamp, created_time timestamp, value double, q string"))
    st.save("evo", (Seq(1, 2, 3, 4, 10).map(i => (ts(f"2024-01-$i%02dT12:00:00"), 100.0 + i, s"q$i")))
      .toDF("time", "value", "q").withColumn("created_time", col("time")))
    // travel masking the whole tail tier, and every row
    fs.createFeature("s/masked")
    fs.saveDataFrame(backfilled(10, maskedFrom = 7), Some("s/masked"))
    fs.createFeature("s/allmasked")
    fs.saveDataFrame(backfilled(10, maskedFrom = 0), Some("s/allmasked"))
    // empty features: never saved, and every row deleted
    fs.createFeature("s/empty")
    fs.createFeature("s/erased")
    fs.saveDataFrame(daily("2024-01-01", 3), Some("s/erased"))
    fs.deleteRows("s/erased", lit(true))
  }

  private val looseNames = Seq("bare", "tied", "evo", "masked", "allmasked", "empty", "erased")

  test("the endpoint search equals dedupLatest on missing stats, ties, epochs and masks") {
    val (fs, warehouse) = freshStore()
    saveLoose(fs, warehouse)
    val reads = assertEndpoints(fs, looseNames)
    // adds the log records without size or stats are stated from their
    // footers as it is replayed: the search reads them on the driver,
    // newest tier first, like any others
    val bare = reads(("bare", None, true))
    assert(bare.driverTiers.size == 1 && bare.sparkFiles.isEmpty, bare)
    // the tail day's file and its four rewrites tie at tmax: one tier,
    // read together
    assert(reads(("tied", None, true)).driverTiers.map(_.size) == Seq(5))
    assert(fs.last("s/tied").contains(31.0))
    assert(fs.last(Seq("s/tied"), Some("1h"))("s/tied").contains(10.0))
    // the evolved tail: epoch 0's int row, widened; under travel the
    // epoch-1 rewrite of the same time
    assert(fs.last("s/evo").contains(10.0))
    assert(fs.last(Seq("s/evo"), Some("0s"))("s/evo").contains(110.0))
    assert(fs.first(Seq("s/evo"))("s/evo").contains(101.0))
    // the masked tail tiers are read and passed over
    assert(reads(("masked", Some("0s"), true)).driverTiers.size == 4)
    assert(fs.last(Seq("s/masked"), Some("0s"))("s/masked").contains(6.0))
    assert(fs.last(Seq("s/allmasked"), Some("0s"))("s/allmasked").isEmpty)
    assert(fs.last("s/empty").isEmpty && fs.last("s/erased").isEmpty)
    assert(reads(("empty", None, true)) == graft.store.EndpointReads(Nil, Nil))
  }

  test("lastTimeBefore seeds equal the dedup's last surviving time before the start") {
    val (fs, warehouse) = freshStore()
    saveTricky(fs)
    saveLoose(fs, warehouse)
    val ns = fs.catalog.getNamespace("s").get
    val froms = Seq("2022-01-01T00:00:00", "2023-01-01T00:00:00", "2024-01-01T12:00:00",
      "2024-01-05T12:00:00", "2024-01-05T12:00:01", "2024-01-08T00:00:00", "2025-01-01T00:00:00")
    for (name <- Seq("num", "ser", "yr") ++ looseNames; tt <- travels; from <- froms.map(ts)) {
      val f = fs.catalog.getFeature("s", name).get
      val raw = fs.store(ns).read(name, partitionStyle = f.partition)
      val deduped = TimeseriesOps.dedupLatest(tt.map(TimeseriesOps.timeTravel(raw, _)).getOrElse(raw))
      val want = deduped.filter(col("time") < lit(from)).agg(max("time")).collect().head
      assert(fs.lastTimeBefore(ns, f, from, tt) == Option(want.getTimestamp(0)),
        s"s/$name tt=$tt from=$from")
    }
    // the seed a resample fills from: day 6 is the last row a 0s travel
    // keeps, so the grid from day 8 carries it
    val grid = fs.loadDataFrame(Seq("s/masked"), Some(ts("2024-01-08T12:00:00")),
      Some(ts("2024-01-10T12:00:00")), freq = Some("1d"), timeTravel = Some("0s"))
      .collect()
    assert(grid.nonEmpty && grid.forall(_.getDouble(1) == 6.0), grid.toSeq)
  }

  test("past spark.sql.files.maxPartitionBytes the search runs one Spark job, same answers") {
    val (fs, warehouse) = freshStore()
    saveTricky(fs)
    saveLoose(fs, warehouse)
    val names = Seq("num", "ser", "yr") ++ looseNames
    val smallest = names.flatMap(liveAdds(warehouse, _)).flatMap(_.fsize).min
    val key = "spark.sql.files.maxPartitionBytes"
    // below every file: every candidate goes to the Spark job
    withConf(key -> (smallest - 1)) {
      val reads = assertEndpoints(fs, names, "all via Spark")
      assert(reads.forall { case (_, r) => r.driverTiers.isEmpty }, reads)
      assert(reads(("num", None, true)).sparkFiles.nonEmpty)
      val (got, jobs) = jobsOf(fs.last("s/num"))
      assert(got.exists(_.asInstanceOf[Double].isNaN))
      assert(jobs.size == 1 && jobs.head.shuffleBytes == 0L, s"jobs: $jobs")
    }
    // room for the first tier only: the masked tail is read on the
    // driver, the rest of the search goes to the job
    val first = liveAdds(warehouse, "masked").flatMap(a => a.tmax.map(_ -> a.fsize.get))
      .groupBy(_._1).toSeq.maxBy(_._1)._2.map(_._2).sum
    withConf(key -> first) {
      val mixed = assertEndpoints(fs, Seq("masked"), "driver then Spark")(("masked", Some("0s"), true))
      assert(mixed.driverTiers.size == 1 && mixed.sparkFiles.nonEmpty, mixed)
    }
  }

  test("the search opens only its candidate tier, through the namespace's storage options") {
    val dir = tmpDir("graft-serve-countfs")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    // the countfs scheme resolves only through the namespace's options:
    // a driver read on the session's conf could not open these files
    fs.createNamespace("s", CountingFs.url(s"$dir/warehouse"), storageOptions = CountingFs.options())
    fs.createFeature("s/m")
    fs.saveDataFrame(backfilled(10, maskedFrom = 7), Some("s/m"))
    val root = s"$dir/warehouse/feature/m"
    def partitionsOpened(opens: Map[String, Int]): Set[String] =
      opens.keySet.filter(_.endsWith(".parquet")).map(_.stripPrefix(s"$root/").takeWhile(_ != '/'))
    val ((got, jobs), opens) = CountingFs.opensDuring(root)(jobsOf(fs.last("s/m")))
    assert(got.contains(9.0) && jobs.isEmpty, s"jobs: $jobs")
    assert(partitionsOpened(opens) == Set("partition=2024-01-10"), opens)
    // one replay: the log directory is listed once
    val (_, lists) = CountingFs.listsDuring(root)(fs.last("s/m"))
    assert(lists == Map(s"$root/_txlog" -> 1), lists)
    // under travel the masked tail tiers are opened, and nothing deeper
    // than the first survivor
    val (masked, opened) = CountingFs.opensDuring(root)(fs.last(Seq("s/m"), Some("0s"))("s/m"))
    assert(masked.contains(6.0))
    assert(partitionsOpened(opened) == (7 to 10).map(d => f"partition=2024-01-$d%02d").toSet, opened)
  }

  /** A load's schema and rows, each value as a string (NaN and null
    * compare by name). */
  private def frame(df: DataFrame): (org.apache.spark.sql.types.StructType, Seq[Seq[String]]) =
    (df.schema, df.collect().map(_.toSeq.map(String.valueOf)).toSeq)

  /** `load` on the default path equals `load` forced onto the Spark
    * path, and the default path starts no Spark job unless `viaSpark`. */
  private def assertLoadsAgree(fs: FeatureStore, clue: String, viaSpark: Boolean = false)(
      load: => DataFrame): Unit = {
    val want = withDriverLoadBound(fs, -1)(frame(load))
    val (got, jobs) = jobsOf(frame(load))
    assert(got == want, clue)
    assert(jobs.nonEmpty == viaSpark, s"$clue jobs: $jobs")
  }

  test("a loadDataFrame served on the driver equals the Spark path's frame") {
    val (fs, warehouse) = freshStore()
    saveTricky(fs)
    saveLoose(fs, warehouse)
    // a rewrite to null: the fill carries the day before over it (the
    // first save declares a nullable value column)
    fs.createFeature("s/holes")
    fs.saveDataFrame((0 until 5).map(i => (ts(f"2024-01-0${i + 1}"), Option(i.toDouble)))
      .toDF("time", "value"), Some("s/holes"))
    fs.saveDataFrame(Seq((ts("2024-01-03"), ts("2030-01-01"), Option.empty[Double]))
      .toDF("time", "created_time", "value"), Some("s/holes"))
    // declared time columns that are not nullable
    for (i <- 0 until 3) {
      fs.createFeature(s"s/strict$i")
      fs.saveDataFrame(spark.range(3).select(timestamp_seconds(col("id") * 86400 + 1704110400L + i).as("time"),
        col("id").cast("double").as("value")), Some(s"s/strict$i"))
    }
    val ranges = Seq(
      "full" -> (None, None),
      "partial" -> (Some(ts("2024-01-03")), Some(ts("2024-01-08T12:00:00"))),
      "empty" -> (Some(ts("2030-01-01")), Some(ts("2030-02-01"))),
      "instant" -> (Some(ts("2024-01-05T12:00:00")), Some(ts("2024-01-05T12:00:00"))))
    val sets = Seq(
      Seq("num", "ser", "yr"),              // mixed value types: the join chain
      Seq("num", "yr", "tied", "masked"),   // one value type: the pivot
      Seq("evo", "allmasked"),              // an int -> double epoch, an added column
      Seq("empty", "erased", "num"),        // never saved, every row deleted
      Seq("holes"),                         // alone, a null filled
      Seq("strict0", "num"),                // time nullable: any input's,
      Seq("strict0", "strict1"),            // the join chain's outer joins,
      Seq("strict0", "strict1", "strict2")) // not the pivot's of non-null inputs
    for (set <- sets; (rn, (from, to)) <- ranges; tt <- travels)
      assertLoadsAgree(fs, s"$set $rn tt=$tt")(
        fs.loadDataFrame(set.map("s/" + _), from, to, timeTravel = tt))
    for (v <- Seq(0L, 2L))
      assertLoadsAgree(fs, s"asOfVersion $v")(
        fs.loadDataFrame(Seq("s/tied", "s/evo", "s/num"), asOfVersion = Some(v)))
    val holes = fs.loadDataFrame(Seq("s/holes")).collect().map(_.getDouble(1)).toSeq
    assert(holes == Seq(0.0, 1.0, 1.0, 3.0, 4.0), holes)
    // files the log records without size or stats: stated from their
    // footers, so the driver serves them too
    assertLoadsAgree(fs, "bare")(fs.loadDataFrame(Seq("s/bare", "s/num")))
    // duplicate names fail alike on both paths
    def dup() = intercept[IllegalArgumentException](fs.loadDataFrame(Seq("s/num", "s/num"))).getMessage
    assert(dup() == withDriverLoadBound(fs, -1)(dup()))
    // the bound is on what the selections decode to: one byte short of
    // the three features' total takes the Spark path, the total the driver
    val ns = fs.catalog.getNamespace("s").get
    def decoded(names: Seq[String]) = names.map(fs.store(ns).select(_, None, None).decodedBytes.get).sum
    val set = Seq("num", "ser", "yr")
    val total = decoded(set)
    for ((bound, viaSpark) <- Seq(total - 1 -> true, total -> false))
      withDriverLoadBound(fs, bound)(
        assertLoadsAgree(fs, s"bound $bound", viaSpark)(fs.loadDataFrame(set.map("s/" + _))))
    // a steady series compresses well: files far under the bound that
    // decode past it take the Spark path
    fs.createFeature("s/steady")
    fs.saveDataFrame(spark.range(5000).select(timestamp_seconds(col("id") * 60 + 1704067200L).as("time"),
      lit(1.5).as("value")), Some("s/steady"))
    val fileBytes = liveAdds(warehouse, "steady").flatMap(_.fsize).sum
    // 5,000 rows of (time, created_time, value), 8 + 3 x 8 bytes each
    assert(2 * fileBytes < 5000L * 32 && decoded(Seq("steady")) == 5000L * 32, fileBytes)
    withDriverLoadBound(fs, 2 * fileBytes)(
      assertLoadsAgree(fs, "steady", viaSpark = true)(fs.loadDataFrame(Seq("s/steady"))))
    // and by default a load of all of them is small enough for the driver
    assertLoadsAgree(fs, "default bound")(fs.loadDataFrame((set :+ "steady").map("s/" + _)))
  }

  test("a driver-served window opens only its selected files, through the namespace's storage options") {
    val dir = tmpDir("graft-serve-window-countfs")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    // the countfs scheme resolves only through the namespace's options
    fs.createNamespace("s", CountingFs.url(s"$dir/warehouse"), storageOptions = CountingFs.options())
    val names = (0 until 4).map(i => s"s/w$i")
    names.foreach { n =>
      fs.createFeature(n)
      fs.saveDataFrame(daily("2024-01-01", 10), Some(n))
    }
    val root = s"$dir/warehouse/feature"
    def window() = fs.loadDataFrame(names, Some(ts("2024-01-04")), Some(ts("2024-01-05"))).collect()
    val (((rows, jobs), opens), lists) =
      CountingFs.listsDuring(root)(CountingFs.opensDuring(root)(jobsOf(window())))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(3.0, 4.0) && jobs.isEmpty, s"jobs: $jobs")
    // the log selects each feature's two days in range: those files
    // alone are opened
    val opened = opens.keySet.filter(_.endsWith(".parquet"))
      .map(_.stripPrefix(s"$root/").split('/').take(2).mkString("/"))
    assert(opened == (0 until 4).flatMap(i => Seq(4, 5).map(d => f"w$i/partition=2024-01-$d%02d")).toSet,
      opens)
    // one replay per feature: each log directory listed once, nothing else
    assert(lists == (0 until 4).map(i => s"$root/w$i/_txlog" -> 1).toMap, lists)
  }

  test("driver-served last(), first() and windows optimize no plan but the returned frame's") {
    val (fs, _) = freshStore()
    val names = (0 until 4).map(i => s"s/w$i")
    names.foreach { n =>
      fs.createFeature(n)
      fs.saveDataFrame(daily("2024-01-01", 10), Some(n))
    }
    fs.createFeature("s/ser", serialized = true)
    fs.saveDataFrame(daily("2024-01-01", 3).withColumn("value", col("value").cast("string")),
      Some("s/ser"))
    // a masked tail: travel reads tier after tier
    fs.createFeature("s/m")
    fs.saveDataFrame(backfilled(10, maskedFrom = 7), Some("s/m"))
    // cold (the first call compiles its shapes) and warm
    for (round <- 1 to 2) {
      val (got, plans) = plansOf(
        (fs.last("s/w0"), fs.first(Seq("s/w1"))("s/w1"), fs.last("s/ser"),
          fs.last(Seq("s/m"), Some("0s"))("s/m")))
      assert(got == (Some(9.0), Some(0.0), Some("2.0"), Some(6.0)), s"round $round")
      assert(plans.isEmpty, s"round $round: ${plans.map(_.treeString)}")
      val (rows, windowPlans) = plansOf(
        fs.loadDataFrame(names, Some(ts("2024-01-04")), Some(ts("2024-01-05"))).collect())
      assert(rows.map(_.getDouble(1)).toSeq == Seq(3.0, 4.0), s"round $round")
      // the collect of the frame it returns: one plan
      assert(windowPlans.size == 1, s"round $round: ${windowPlans.map(_.treeString)}")
    }
  }

  test("a null saved after non-nullable values reads back as null on both paths") {
    val (fs, _) = freshStore()
    val ns = fs.catalog.getNamespace("s").get
    // (Timestamp, Double) tuples: the first save's value column is not
    // nullable, and created_time defaults to a non-nullable now()
    val dense = (0 until 5).map(i => (ts(f"2024-01-0${i + 1}"), i.toDouble)).toDF("time", "value")
    assert(!dense.schema("value").nullable)
    def rewriteToNull(name: String): Unit =
      fs.saveDataFrame(Seq((ts("2024-01-03"), ts("2030-01-01"), Option.empty[Double]))
        .toDF("time", "created_time", "value"), Some(s"s/$name"))
    fs.createFeature("s/dense")
    fs.saveDataFrame(dense, Some("s/dense"))
    rewriteToNull("dense")
    // a log that declares the value not nullable, as logs written
    // before epoch 0 declared every data column nullable did
    fs.createFeature("s/declared")
    fs.saveDataFrame(dense, Some("s/declared"))
    fs.store(ns).evolveSchema("declared", org.apache.spark.sql.types.StructType.fromDDL(
      "time timestamp, created_time timestamp, value double not null"))
    rewriteToNull("declared")
    for (name <- Seq("dense", "declared")) {
      val rewritten = fs.store(ns).read(name).filter(col("created_time") === lit(ts("2030-01-01")))
        .collect()
      assert(rewritten.length == 1 && rewritten.head.isNullAt(rewritten.head.fieldIndex("value")),
        s"$name: ${rewritten.toSeq}")
      // the fill carries the day before over the null, with one schema
      // and one set of rows on both paths
      for ((from, to) <- Seq((None, None), (Some(ts("2024-01-02")), Some(ts("2024-01-04")))))
        assertLoadsAgree(fs, s"$name $from..$to")(fs.loadDataFrame(Seq(s"s/$name"), from, to))
      val rows = fs.loadDataFrame(Seq(s"s/$name")).collect().map(_.getDouble(1)).toSeq
      assert(rows == Seq(0.0, 1.0, 1.0, 3.0, 4.0), s"$name: $rows")
      // the endpoint at the null: the lookup keeps it
      val f = fs.catalog.getFeature("s", name).get
      val (_, reads) = fs.endpointLookup(ns, f, None, fromTail = true)
      assert(reads.sparkFiles.isEmpty && fs.last(Seq(s"s/$name"))(s"s/$name").contains(4.0))
      assert(viaDedup(fs, name, None, fromTail = true).map(_.getDouble(1)).contains(4.0))
    }
  }

  test("the driver readers never write their shared conf, and read what a fresh reader reads") {
    val (fs, warehouse) = freshStore()
    saveLoose(fs, warehouse)
    val st = fs.store(fs.catalog.getNamespace("s").get)
    // evo holds two schema epochs: take the readers the store caches for
    // them before anything reads through them
    val log = new TxLog(spark.sparkContext.hadoopConfiguration, s"$warehouse/feature/evo")
    val epochs = log.schemaHistory().map(j =>
      TimeseriesStore.readable(org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]))
    assert(epochs.size == 2)
    val readers = epochs.map(st.localReader)
    def entries(r: org.apache.spark.sql.graftbridge.LocalParquetReader): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      r.conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    }
    val before = readers.map(entries)
    // evo's files under travel, through every driver path
    fs.last(Seq("s/evo"), Some("0s"))
    fs.first(Seq("s/evo"), Some("1h"))
    fs.loadDataFrame(Seq("s/evo", "s/tied"), timeTravel = Some("0s")).collect()
    val files = log.snapshot().groupBy(_.sv.getOrElse(0L)).map { case (sv, adds) =>
      sv.toInt -> adds.map(a => (new org.apache.hadoop.fs.Path(s"$warehouse/feature/evo/${a.path}"), a.fsize.get))
    }
    assert(files.keySet == Set(0, 1) && files.values.forall(_.size > 1), files)
    def strings(schema: org.apache.spark.sql.types.StructType,
        rows: Seq[org.apache.spark.sql.catalyst.InternalRow]) =
      rows.map(_.toSeq(schema).map(String.valueOf))
    for ((schema, i) <- epochs.zipWithIndex) {
      val fresh = new org.apache.spark.sql.graftbridge.LocalParquetReader(
        spark, schema, Map.empty, spark.sparkContext.hadoopConfiguration)
      assert(strings(schema, readers(i).read(files(i))) == strings(schema, fresh.read(files(i))), s"epoch $i")
      // the cached reader is the one the reads went through
      assert(st.localReader(schema) eq readers(i))
    }
    for ((was, now) <- before.zip(readers.map(entries))) {
      val written = (was.keySet ++ now.keySet).filter(k => was.get(k) != now.get(k))
      assert(written.isEmpty, s"written: ${written.map(k => k -> now.get(k))}")
    }
  }
}
