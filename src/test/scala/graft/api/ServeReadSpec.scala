package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{JobCounting, SparkSpec}
import graft.ops.TimeseriesOps

/** Serve-path reads: what `last()` and short `loadDataFrame` windows
  * cost in Spark jobs, that the one-pass endpoint lookup returns the
  * dedup winner under every reference backend name, and how feature
  * directories without a committed log open: empty when nothing was
  * committed, refused (naming the migration) when a pre-log writer left
  * data there.
  */
class ServeReadSpec extends SparkSpec with JobCounting {
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

  test("plain last() on a pinned feature is one job with no shuffle") {
    val (fs, _) = freshStore()
    fs.createFeature("s/f")
    fs.saveDataFrame(daily("2024-01-01", 10), Some("s/f"))
    // a rewrite of the last day: the endpoint must still resolve the
    // last-writer-wins winner
    fs.saveDataFrame(Seq((ts("2024-01-10"), ts("2030-01-01"), 99.0))
      .toDF("time", "created_time", "value"), Some("s/f"))
    fs.last("s/f") // warm the session's caches
    val (got, jobs) = jobsOf(fs.last("s/f"))
    assert(got.contains(99.0))
    assert(jobs.size == 1, s"jobs: $jobs")
    assert(jobs.map(_.shuffleBytes).sum == 0L, s"jobs: $jobs")
  }

  test("a 4-feature ranged loadDataFrame starts no 0-record job before its scans") {
    val (fs, _) = freshStore()
    val names = (0 until 4).map(i => s"s/w$i")
    names.foreach { n =>
      fs.createFeature(n)
      fs.saveDataFrame(daily("2024-01-01", 10), Some(n))
    }
    val (rows, jobs) = jobsOf(
      fs.loadDataFrame(names, Some(ts("2024-01-04")), Some(ts("2024-01-05"))).collect())
    assert(rows.length == 2)
    // a schema-inference probe reads footers only: it shows up as a
    // job with no input records ahead of the first real scan
    assert(jobs.nonEmpty && jobs.head.records > 0, s"jobs: $jobs")
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

  test("endpoint lookups equal dedupLatest plus a time sort on both backends") {
    for (backend <- Seq("spark", "txlog")) {
      val (fs, _) = freshStore(backend)
      val ns = fs.catalog.getNamespace("s").get
      fs.createFeature("s/num")
      fs.saveDataFrame(trickyRows("2024-01-01T12:00:00", "2024-01-20T12:00:00"), Some("s/num"))
      fs.createFeature("s/ser", serialized = true)
      fs.saveDataFrame(trickyRows("2024-01-01T12:00:00", "2024-01-20T12:00:00")
        .withColumn("value", col("value").cast("string")), Some("s/ser"))
      fs.createFeature("s/yr", partition = "year")
      fs.saveDataFrame(trickyRows("2022-12-27T12:00:00", "2023-01-10T12:00:00"), Some("s/yr"))
      for (name <- Seq("num", "ser", "yr"); tt <- Seq(None, Some("0s"), Some("1h"));
           fromTail <- Seq(true, false)) {
        val f = fs.catalog.getFeature("s", name).get
        val (got, _) = fs.endpointLookup(ns, f, tt, fromTail)
        val want = viaDedup(fs, name, tt, fromTail)
        val clue = s"$backend s/$name tt=$tt fromTail=$fromTail"
        assert(got.map(_.toSeq.map(String.valueOf)) == want.map(_.toSeq.map(String.valueOf)), clue)
      }
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
}
