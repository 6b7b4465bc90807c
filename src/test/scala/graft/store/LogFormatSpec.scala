package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{CountingFs, JobCounting, SparkSpec}
import graft.api.FeatureStore

/** The one log format: a log written before schema declarations and
  * per-file stats existed reads like a log written today (its epoch 0
  * derived from the files' footers, its adds stated from them, in
  * memory), and its first write commits what was derived. Also pins
  * what the format refuses: files whose footers disagree, and an add at
  * an epoch the log does not declare.
  */
class LogFormatSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  /** Rewrites every file of the log under feature directory `root` the
    * way a writer from before schema declarations and per-file stats
    * left it: no schema line, and adds without `sv`, `fsize`, `nrec`,
    * `tmin` and `tmax`. */
  private def strip(root: String): Unit =
    editLog(root) { line =>
      if (line.contains("\"schemaJson\"")) None
      else Some(Seq("sv", "fsize", "nrec", "tmin", "tmax")
        .foldLeft(line)((l, k) => l.replaceAll(s""","$k":-?\\d+""", "")))
    }

  private def editLog(root: String)(edit: String => Option[String]): Unit =
    Files.list(Paths.get(root, TxLog.LogDirName)).forEach { p =>
      if (p.getFileName.toString.endsWith(".json")) {
        val lines = new String(Files.readAllBytes(p), UTF_8).linesIterator.flatMap(edit(_))
        Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      }
    }

  private def liveAdds(root: String): Seq[TxAdd] =
    new TxLog(spark.sparkContext.hadoopConfiguration, root).snapshot()

  /** `n` rows six hours apart from `start`, valued from `v0`, all
    * created at `created`. */
  private def batch(start: String, n: Int, v0: Double, created: String): DataFrame =
    (0 until n).map { i =>
      (new Timestamp(ts(start).getTime + i * 6 * 3600000L), ts(created), v0 + i)
    }.toDF("time", "created_time", "value")

  /** Five days, rewrites of two of them, two more days: three commits. */
  private def saveHistory(fs: FeatureStore, name: String): Unit = {
    fs.saveDataFrame(batch("2024-01-01", 20, 0.0, "2024-02-01"), Some(name))
    fs.saveDataFrame(batch("2024-01-03", 6, 100.0, "2024-03-01"), Some(name))
    fs.saveDataFrame(batch("2024-01-06", 8, 200.0, "2024-02-01"), Some(name))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  test("a log from before schema declarations reads like its twin, and its first save migrates it") {
    val dir = tmpDir("graft-logformat")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("s", CountingFs.url(s"$dir/warehouse"), storageOptions = CountingFs.options())
    val st = fs.store(fs.catalog.getNamespace("s").get)
    val root = s"$dir/warehouse/feature"
    for (n <- Seq("s/twin", "s/old")) { fs.createFeature(n); saveHistory(fs, n) }
    strip(s"$root/old")
    assert(liveAdds(s"$root/old").forall(a => a.sv.isEmpty && a.fsize.isEmpty && a.nrec.isEmpty))
    val version = st.tableVersion("old")

    def assertTwins(): Unit = {
      val order = Seq(col("time"), col("created_time"))
      assert(rows(st.read("old").orderBy(order: _*)) == rows(st.read("twin").orderBy(order: _*)))
      for ((from, to) <- Seq((None, None), (Some(ts("2024-01-02")), Some(ts("2024-01-04")))); tt <- Seq(None, Some("0s")))
        assert(rows(fs.loadDataFrame(Seq("s/old"), from, to, timeTravel = tt)) ==
          rows(fs.loadDataFrame(Seq("s/twin"), from, to, timeTravel = tt)), s"$from..$to tt=$tt")
      assert(fs.last("s/old").isDefined && fs.last("s/old") == fs.last("s/twin"))
      assert(fs.first(Seq("s/old"))("s/old") == fs.first(Seq("s/twin"))("s/twin"))
      assert(fs.last(Seq("s/old"), Some("0s"))("s/old") == fs.last(Seq("s/twin"), Some("0s"))("s/twin"))
    }
    assertTwins()
    // stated in memory, a small window of it reaches the driver path
    val (window, jobs) =
      jobsOf(fs.loadDataFrame(Seq("s/old"), Some(ts("2024-01-02")), Some(ts("2024-01-03"))).collect())
    assert(window.nonEmpty && jobs.isEmpty, s"jobs: $jobs")
    // reads write nothing: planning one still opens the footers
    val (_, opened) = CountingFs.opensDuring(s"$root/old")(st.select("old", None, None))
    assert(opened.keySet.exists(_.endsWith(".parquet")), opened)
    assert(st.tableVersion("old") == version)

    // the first save commits the declaration and the stated adds with its own files
    for (n <- Seq("s/twin", "s/old")) fs.saveDataFrame(batch("2024-01-09", 4, 300.0, "2024-02-01"), Some(n))
    val commit = new String(Files.readAllBytes(Paths.get(f"$root/old/_txlog/${version + 1}%020d.json")), UTF_8)
    assert(commit.linesIterator.count(_.contains("\"schemaJson\"")) == 1, commit)
    val live = liveAdds(s"$root/old")
    assert(live.forall(a => a.sv.contains(0L) && a.nrec.isDefined && a.tmin.isDefined && a.tmax.isDefined), live)
    assert(live.map(a => a.fsize) == live.map(a => Some(Files.size(Paths.get(s"$root/old/${a.path}")))))
    assert(st.tableSchema("old") == st.tableSchema("twin"))
    // after it, planning a read opens the log alone, no data file
    val (_, after) = CountingFs.opensDuring(s"$root/old")(st.select("old", None, None))
    assert(after.nonEmpty && after.keySet.forall(_.contains("/_txlog/")), after)
    assertTwins()
  }

  test("planning a read of a log from before schema declarations opens each data file once") {
    val dir = tmpDir("graft-logformat-once")
    val st = new TimeseriesStore(spark, CountingFs.url(dir), CountingFs.options())
    st.save("f", batch("2024-01-01", 20, 0.0, "2024-02-01")) // five days, one file each
    strip(s"$dir/feature/f")
    // the footer that declares epoch 0 also states the add
    val (_, opened) = CountingFs.opensDuring(s"$dir/feature/f")(st.select("f", None, None))
    val files = opened.filter(_._1.endsWith(".parquet"))
    assert(files.size == 5 && files.values.forall(_ == 1), opened)
  }

  test("a double batch saved into a stripped log of long values reads back every row, widened") {
    val dir = tmpDir("graft-logformat-widen")
    val st = new TimeseriesStore(spark, dir)
    st.save("f", (1 to 5).map(i => (ts(f"2024-01-$i%02d"), i.toLong)).toDF("time", "value"))
    strip(s"$dir/feature/f")
    st.save("f", (6 to 8).map(i => (ts(f"2024-01-$i%02d"), i + 0.5)).toDF("time", "value"))
    assert(st.tableSchema("f").get("value").dataType == DoubleType)
    val want = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.5, 7.5, 8.5)
    for (bound <- Seq(-1L, TimeseriesStore.DriverLoadBytes)) withDriverLoadBound(st, bound) {
      assert(st.read("f").orderBy("time").select("value").as[Double].collect().toSeq == want, s"bound $bound")
      val (first, _) = st.endpoint("f", fromTail = false)
      assert(first.rows.map(_.getDouble(2)) == Seq(1.0), s"bound $bound")
    }
    // the old files keep epoch 0, the batch's declaration is epoch 1
    assert(liveAdds(s"$dir/feature/f").map(_.sv.get).distinct.sorted == Seq(0L, 1L))
  }

  test("live files whose footers disagree fail fast, naming a file") {
    val dir = tmpDir("graft-logformat-disagree")
    val st = new TimeseriesStore(spark, dir)
    st.save("f", (1 to 3).map(i => (ts(f"2024-01-$i%02d"), i.toLong)).toDF("time", "value"))
    st.evolveValueType("f", DoubleType)
    st.save("f", (4 to 5).map(i => (ts(f"2024-01-$i%02d"), i + 0.5)).toDF("time", "value"))
    strip(s"$dir/feature/f")
    val paths = liveAdds(s"$dir/feature/f").map(_.path)
    for (op <- Seq[() => Any](() => st.read("f"), () => st.endpoint("f", fromTail = true),
        () => st.save("f", Seq((ts("2024-01-09"), 9.0)).toDF("time", "value")))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("disagree") && paths.exists(e.getMessage.contains), e.getMessage)
    }
  }

  test("an add at an epoch the log does not declare fails at plan time, naming the feature and file") {
    val dir = tmpDir("graft-logformat-sv")
    val st = new TimeseriesStore(spark, dir)
    st.save("f", (1 to 3).map(i => (ts(f"2024-01-$i%02d"), i.toDouble)).toDF("time", "value"))
    val victim = liveAdds(s"$dir/feature/f").head.path
    editLog(s"$dir/feature/f")(l => Some(if (l.contains(victim)) l.replace("\"sv\":0", "\"sv\":3") else l))
    for (op <- Seq[() => Any](() => st.read("f"), () => st.endpoint("f", fromTail = true),
        () => st.compact("f"))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("'f'") && e.getMessage.contains(victim), e.getMessage)
    }
  }

  test("mergeInto replays the log once: one _txlog listing, insert-only or overlapping") {
    val dir = tmpDir("graft-logformat-merge")
    val st = new TimeseriesStore(spark, CountingFs.url(dir), CountingFs.options())
    def days(from: Int, to: Int, v: Double) =
      (from to to).map(i => (ts(f"2024-01-$i%02d"), v + i)).toDF("time", "value")
    st.save("f", days(1, 5, 0.0))
    val log = s"$dir/feature/f/_txlog"
    val (inserted, insertLists) = CountingFs.listsDuring(log)(st.mergeInto("f", days(10, 11, 0.0)))
    assert(inserted == ((0L, 2L)) && insertLists == Map(log -> 1), insertLists)
    val (merged, mergeLists) = CountingFs.listsDuring(log)(st.mergeInto("f", days(4, 6, 100.0)))
    assert(merged == ((2L, 1L)) && mergeLists == Map(log -> 1), mergeLists)
    assert(st.read("f").orderBy("time").select("value").as[Double].collect().toSeq ==
      Seq(1.0, 2.0, 3.0, 104.0, 105.0, 106.0, 10.0, 11.0))
  }

  test("a restated add whose file a concurrent commit retired is left out") {
    val dir = tmpDir("graft-logformat-restate")
    val conf = spark.sparkContext.hadoopConfiguration
    new TxLog(conf, dir).commit(Seq(TxAdd("partition=p/x.parquet", "p"), TxAdd("partition=p/y.parquet", "p")))
    val stale = new TxLog(conf, dir)
    assert(stale.snapshot().size == 2)
    new TxLog(conf, dir).commit(Nil, Seq(TxRemove("partition=p/x.parquet")))
    stale.commit(Seq(TxAdd("partition=p/z.parquet", "p")),
      restated = Seq(TxAdd("partition=p/x.parquet", "p", fsize = Some(1L)),
        TxAdd("partition=p/y.parquet", "p", fsize = Some(2L))))
    assert(new TxLog(conf, dir).snapshot().map(a => a.path -> a.fsize).toSet ==
      Set("partition=p/y.parquet" -> Some(2L), "partition=p/z.parquet" -> None))
  }
}
