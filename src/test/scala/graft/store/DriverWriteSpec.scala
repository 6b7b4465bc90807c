package graft.store

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CountingFs, JobCounting, SparkSpec}
import graft.api.FeatureStore

/** The driver write path of `save` and `compact`: that it starts no
  * Spark job, that for the same batches it leaves the log, the files'
  * physical schema and the reads the Spark path leaves, when it is and
  * is not taken, that a crash at its file create or footer open commits
  * nothing, and that pre-1582 rows written by it read back in range.
  * Then, on both paths, that a compaction rewrites only the partitions
  * that changed since the last one, and reads as a full rewrite would.
  */
class DriverWriteSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  private val Day = 86400000L

  /** A facade over a fresh warehouse, with namespace `w`. */
  private def facade(prefix: String): (FeatureStore, String) = {
    val dir = tmpDir(prefix)
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("w", s"$dir/warehouse")
    (fs, s"$dir/warehouse")
  }

  private def storeOf(fs: FeatureStore): TimeseriesStore = fs.store(fs.catalog.getNamespace("w").get)

  private def adds(st: TimeseriesStore, name: String): Seq[TxAdd] =
    st.select(name, None, None).adds.sortBy(a => (a.partition, a.tmin))

  /** What the exactness contract compares of an add: everything but its
    * file name and size. */
  private def meta(a: TxAdd) = (a.partition, a.tmin, a.tmax, a.vmin, a.vmax, a.nrec, a.sv, a.blc, a.bl, a.dd)

  /** Every add's file: its parquet schema and the codecs of its chunks. */
  private def physical(root: String, name: String, st: TimeseriesStore): Seq[(String, Set[String])] =
    adds(st, name).map { a =>
      val md = FileMeta.footer(new Path(s"$root/feature/$name/${a.path}"), st.hadoopConf)
      (md.getFileMetaData.getSchema.toString,
        md.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet)
    }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The same steps on two facades: the first on the default bound, each
    * step starting no Spark job, the second with the bound off. */
  private def twins(prefix: String)(steps: FeatureStore => Unit): Seq[(FeatureStore, String)] = {
    val pair = Seq(facade(s"$prefix-driver"), facade(s"$prefix-spark"))
    val (_, jobs) = jobsOf(steps(pair.head._1))
    assert(jobs.isEmpty, s"$prefix: driver steps ran jobs $jobs")
    withDriverLoadBound(pair(1)._1, -1)(steps(pair(1)._1))
    pair
  }

  /** Both facades agree on the log, the files and the reads of `name`. */
  private def assertSame(pair: Seq[(FeatureStore, String)], name: String, dropCreated: Boolean = false): Unit = {
    val Seq((d, droot), (s, sroot)) = pair
    val (dst, sst) = (storeOf(d), storeOf(s))
    assert(adds(dst, name).map(meta) == adds(sst, name).map(meta), name)
    val dPhys = physical(droot, name, dst)
    assert(dPhys == physical(sroot, name, sst), name)
    dPhys.foreach { case (schema, codecs) =>
      assert(schema.contains("int64 time (TIMESTAMP(MICROS,true))") && codecs == Set("SNAPPY"), schema)
    }
    def rows(st: TimeseriesStore) =
      sortedRows(if (dropCreated) st.read(name).drop("created_time") else st.read(name))
    assert(rows(dst) == rows(sst), name)
    // loadDataFrame on both read paths, full and ranged, on both facades
    val f = s"w/$name"
    for ((from, to) <- Seq((None, None), (Some(ts("2024-01-02")), Some(ts("2024-01-03T12:00:00"))))) {
      val loads = for {
        fs <- Seq(d, s)
        bound <- Seq(TimeseriesStore.DriverLoadBytes, -1L)
      } yield withDriverLoadBound(fs, bound)(sortedRows(fs.loadDataFrame(Seq(f), from, to)))
      assert(loads.distinct.size == 1, s"$name $from..$to: $loads")
    }
  }

  private def at(day: Int, hour: Int = 0): Timestamp =
    new Timestamp(ts("2024-01-01").getTime + day * Day + hour * 3600000L)

  test("the driver path leaves the Spark path's log, files and reads, batch by batch") {
    val pair = twins("graft-dw-exact") { fs =>
      val st = storeOf(fs)
      // a serialized feature
      fs.createFeature("w/ser", serialized = true)
      fs.saveDataFrame(Seq((at(0), at(0), "a"), (at(1), at(0), "b"), (at(2, 6), at(0), "c"))
        .toDF("time", "created_time", "value"), Some("w/ser"))
      fs.saveDataFrame(Seq((at(1), at(9), "b2")).toDF("time", "created_time", "value"), Some("w/ser"))
      fs.compactFeature("w/ser")
      // an evolved extra column, saved with and without it
      fs.createFeature("w/ext")
      val ext = (0 until 4).map(i => (at(i), at(0), i.toDouble)).toDF("time", "created_time", "value")
      st.save("ext", ext)
      st.evolveSchema("ext", StructType.fromDDL(
        "time timestamp, created_time timestamp, value double, region string"))
      st.save("ext", ext.withColumn("value", col("value") + 10).withColumn("created_time", lit(at(5)))
        .withColumn("region", lit("eu")).filter(col("value") < 13))
      st.save("ext", Seq((at(3), at(6), 7.0)).toDF("time", "created_time", "value"))
      st.compact("ext")
      // two epochs, compacted to the latest
      fs.createFeature("w/epochs")
      fs.saveDataFrame((0 until 3).map(i => (at(i), at(0), i)).toDF("time", "created_time", "value"),
        Some("w/epochs"))
      fs.evolveFeatureValueType("w/epochs", DoubleType)
      fs.saveDataFrame(Seq((at(1), at(4), 1.5), (at(3), at(4), 3.5)).toDF("time", "created_time", "value"),
        Some("w/epochs"))
      fs.compactFeature("w/epochs")
      // created_time rewrites and ties: equal created_time keeps the
      // larger value, as dedupLatest does
      fs.createFeature("w/ties")
      fs.saveDataFrame((0 until 3).map(i => (at(i, 1), at(0), i.toDouble)).toDF("time", "created_time", "value"),
        Some("w/ties"))
      fs.saveDataFrame(Seq((at(0, 1), at(2), 5.0), (at(1, 1), at(0), 9.0), (at(1, 1), at(0), -9.0))
        .toDF("time", "created_time", "value"), Some("w/ties"))
      fs.compactFeature("w/ties", Seq("2024-01-01", "2024-01-02"))
      // one time saved under two session zones lands in two partitions;
      // compaction keeps one row per (partition, time)
      fs.createFeature("w/zones")
      val t = ts("2024-01-02T03:00:00")
      fs.saveDataFrame(Seq((t, at(0), 1.0)).toDF("time", "created_time", "value"), Some("w/zones"))
      withConf("spark.sql.session.timeZone" -> "America/Los_Angeles")(
        fs.saveDataFrame(Seq((t, at(1), 2.0), (at(2), at(1), 3.0)).toDF("time", "created_time", "value"),
          Some("w/zones")))
      fs.saveDataFrame(Seq((t, at(2), 4.0)).toDF("time", "created_time", "value"), Some("w/zones"))
      fs.compactFeature("w/zones")
    }
    Seq("ser", "ext", "epochs", "ties", "zones").foreach(assertSame(pair, _))
    val (d, _) = pair.head
    // 03:00 UTC is the evening before in Los Angeles
    assert(adds(storeOf(d), "zones").map(_.partition) == Seq("2024-01-01", "2024-01-02"))
    assert(storeOf(d).read("zones").filter(col("time") === lit(ts("2024-01-02T03:00:00"))).count() == 2)
    assert(storeOf(d).read("ties").collect().map(r => r.getDouble(2)).toSet == Set(5.0, 9.0, 2.0))
    assert(adds(storeOf(d), "epochs").forall(_.sv.contains(1L)))
  }

  test("a defaulted created_time is stamped at the save on both paths") {
    val before = new Timestamp(System.currentTimeMillis())
    val pair = twins("graft-dw-created") { fs =>
      fs.createFeature("w/now")
      fs.saveDataFrame((0 until 3).map(i => (at(i), i.toDouble)).toDF("time", "value"), Some("w/now"))
      fs.compactFeature("w/now")
    }
    val after = new Timestamp(System.currentTimeMillis())
    assertSame(pair, "now", dropCreated = true)
    pair.foreach { case (fs, _) =>
      val created = storeOf(fs).read("now").collect().map(_.getTimestamp(1))
      assert(created.length == 3 && created.forall(c => !c.before(before) && !c.after(after)), created.toSeq)
    }
  }

  test("a bloom-indexed feature gets byte-identical blooms on either path") {
    val pair = twins("graft-dw-bloom") { fs =>
      val st = storeOf(fs)
      fs.createFeature("w/b")
      fs.saveDataFrame((0 until 30).map(i => (at(i % 3, i / 3), i.toDouble)).toDF("time", "value"), Some("w/b"))
      st.declareBloomIndex("b", "value", bits = 512, k = 3)
      fs.saveDataFrame((0 until 30).map(i => (at(i % 3, i / 3), at(4), i * 0.5))
        .toDF("time", "created_time", "value"), Some("w/b"))
      fs.compactFeature("w/b", Seq("2024-01-02"))
    }
    assertSame(pair, "b", dropCreated = true)
    val blooms = adds(storeOf(pair.head._1), "b").flatMap(_.bl)
    // the compacted day and the two days of the indexed save
    assert(blooms.size == 3, blooms)
    // of the files with a bloom, only the indexed save's third day holds 14.5
    assert(storeOf(pair.head._1).candidateFilesForKey("b", "value", "14.5").filter(_.bl.isDefined)
      .map(_.partition) == Seq("2024-01-03"))
  }

  private def batch(days: Int, v: Double): DataFrame =
    (0 until days).map(i => (at(i), at(10), v + i)).toDF("time", "created_time", "value")

  test("an ordinary save starts no Spark job on the driver path, first save or not") {
    val st = new TimeseriesStore(spark, tmpDir("graft-dw-jobs"))
    val (_, first) = jobsOf(st.save("f", batch(10, 0.0)))
    val (_, second) = jobsOf(st.save("f", batch(10, 100.0)))
    val (_, compaction) = jobsOf(st.compact("f"))
    assert(first.isEmpty && second.isEmpty && compaction.isEmpty, s"jobs: $first $second $compaction")
    assert(st.tableVersion("f") == 2L && st.read("f").count() == 10L)
  }

  test("a batch over the bound, or backed by an RDD, takes the Spark path to the same log") {
    val rows = (0 until 5).map(i => Row(at(i), at(10), i.toDouble))
    val schema = StructType.fromDDL("time timestamp, created_time timestamp, value double")
    val local = spark.createDataFrame(rows.asJava, schema)
    val bytes = TimeseriesStore.normalize(local, "date").queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    def saved(st: TimeseriesStore, df: DataFrame) = {
      val (_, jobs) = jobsOf(st.save("f", df))
      (adds(st, "f").map(meta), jobs.size)
    }
    val (onDriver, driverJobs) = saved(new TimeseriesStore(spark, tmpDir("graft-dw-local")), local)
    val exact = new TimeseriesStore(spark, tmpDir("graft-dw-exact-bound"))
    val (atBound, atBoundJobs) = withDriverLoadBound(exact, bytes)(saved(exact, local))
    val over = new TimeseriesStore(spark, tmpDir("graft-dw-over"))
    val (overBound, overJobs) = withDriverLoadBound(over, bytes - 1)(saved(over, local))
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val (fromRdd, rddJobs) = saved(new TimeseriesStore(spark, tmpDir("graft-dw-rdd")), rdd)
    assert(driverJobs == 0 && atBoundJobs == 0, s"$driverJobs $atBoundJobs")
    assert(overJobs > 0 && rddJobs > 0, s"$overJobs $rddJobs")
    assert(Seq(atBound, overBound, fromRdd).forall(_ == onDriver))
  }

  test("a CHECK-violating driver batch throws the Spark path's message, with no job and nothing staged") {
    def refused(dir: String, bound: Long): (String, Int) = {
      val st = new TimeseriesStore(spark, dir)
      st.save("f", batch(2, 1.0))
      st.addCheck("f", "positive", "value > 0")
      withDriverLoadBound(st, bound) {
        val (e, jobs) = jobsOf(intercept[IllegalArgumentException](st.save("f", batch(3, -1.0))))
        assert(st.tableVersion("f") == 1L && st.read("f").count() == 2L)
        (e.getMessage, jobs.size)
      }
    }
    val dir = tmpDir("graft-dw-check")
    val (onDriver, jobs) = refused(dir, TimeseriesStore.DriverLoadBytes)
    val (onSpark, sparkJobs) = refused(tmpDir("graft-dw-check-spark"), -1)
    assert(onDriver == onSpark && onDriver.contains("violated by 2 rows"), onDriver)
    assert(jobs == 0 && sparkJobs > 0)
    val stage = new java.io.File(s"$dir/.stage/f")
    assert(!stage.exists || stage.list().isEmpty)
  }

  test("a driver save leaves the session's write settings untouched") {
    val st = new TimeseriesStore(spark, tmpDir("graft-dw-conf"))
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val minKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    withConf(tsKey -> "INT96") {
      val before = spark.conf.getAll
      val (_, jobs) = jobsOf(st.save("f", batch(2, 1.0)))
      assert(jobs.isEmpty)
      assert(spark.conf.getAll == before && spark.conf.get(tsKey) == "INT96")
      assert(!spark.conf.getOption(minKey).contains("16k"))
    }
    // the file still carries micros, the stats the log skips on
    assert(adds(st, "f").forall(a => a.tmin.isDefined && a.tmax.isDefined))
  }

  test("the driver writer creates its files through the namespace's storage options") {
    val dir = tmpDir("graft-dw-countfs")
    val st = new TimeseriesStore(spark, CountingFs.url(dir), CountingFs.options())
    val ((_, jobs), creates) = CountingFs.createsDuring(dir)(jobsOf(st.save("f", batch(3, 1.0))))
    val staged = creates.keys.filter(p => p.contains("/.stage/f/") && p.endsWith(".snappy.parquet"))
    assert(jobs.isEmpty && staged.size == 3 && staged.forall(creates(_) == 1), creates)
    val (_, compactCreates) = CountingFs.createsDuring(dir)(jobsOf(st.compact("f"))._2)
    assert(compactCreates.keys.count(_.endsWith(".snappy.parquet")) == 3, compactCreates)
    assert(st.read("f").count() == 3L)
  }

  test("a fatal error at the driver writer's create or footer open commits nothing; a retry converges") {
    for (atCreate <- Seq(true, false)) {
      val dir = tmpDir("graft-dw-crash")
      val st = new TimeseriesStore(spark, dir)
      st.save("f", batch(3, 1.0))
      st.save("f", batch(2, 5.0).withColumn("created_time", lit(at(11))))
      val failing = new TimeseriesStore(spark, CountingFs.url(dir),
        CountingFs.options(fatalStagedOpens = !atCreate, fatalStagedCreates = atCreate))
      val ops: Seq[(String, TimeseriesStore => Unit)] = Seq(
        "save" -> (_.save("f", batch(4, 20.0).withColumn("created_time", lit(at(12))))),
        "compact" -> (_.compact("f")))
      for ((op, run) <- ops) {
        val version = st.tableVersion("f")
        val rows = sortedRows(st.read("f"))
        val (_, jobs) = jobsOf(intercept[CountingFs.InjectedFatal](run(failing)))
        assert(jobs.isEmpty, s"$op: $jobs")
        assert(st.tableVersion("f") == version && sortedRows(st.read("f")) == rows, s"$op at create $atCreate")
        run(st)
        assert(st.tableVersion("f") == version + 1)
      }
      // the retried save and compaction: one row per time, the newest
      assert(sortedRows(st.read("f")) == sortedRows(batch(4, 20.0).withColumn("created_time", lit(at(12)))),
        s"at create $atCreate")
    }
  }

  test("a ranged load over pre-1582 days returns them on both read paths") {
    val (fs, _) = facade("graft-dw-1500")
    val rows = (1 to 20).map(d => (Timestamp.valueOf(f"1500-01-$d%02d 12:00:00"), d.toDouble))
    for (style <- Seq("date", "year")) {
      fs.createFeature(s"w/old_$style", partition = style)
      val (_, jobs) = jobsOf(fs.saveDataFrame(rows.toDF("time", "value"), Some(s"w/old_$style")))
      assert(jobs.isEmpty, s"$style: $jobs")
      val load = () => fs.loadDataFrame(Seq(s"w/old_$style"),
        Some(Timestamp.valueOf("1500-01-12 00:00:00")), Some(Timestamp.valueOf("1500-01-13 23:00:00")))
        .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq
      val want = rows.filter(r => r._2 == 12.0 || r._2 == 13.0)
      assert(load() == want, style)
      assert(withDriverLoadBound(fs, -1)(load()) == want, s"$style on Spark")
      assert(fs.loadDataFrame(Seq(s"w/old_$style")).count() == 20L)
    }
  }

  // --- incremental compaction ---------------------------------------

  /** A facade over a fresh countfs warehouse, with namespace `w` and
    * feature `w/f` holding three days of six hourly rows, each day's
    * even hours saved again with a newer created_time, so every day has
    * rows a compaction drops. Returns the facade, its catalog path and
    * the warehouse's local path. */
  private def threeDays(prefix: String): (FeatureStore, String, String) = {
    val dir = tmpDir(prefix)
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("w", CountingFs.url(s"$dir/warehouse"), storageOptions = CountingFs.options())
    fs.createFeature("w/f")
    val st = storeOf(fs)
    st.save("f", (0 until 18).map(i => (at(i / 6, i % 6), at(0), i.toDouble)).toDF("time", "created_time", "value"))
    st.save("f", (0 until 18 by 2).map(i => (at(i / 6, i % 6), at(1), -i.toDouble))
      .toDF("time", "created_time", "value"))
    (fs, s"$dir/catalog.json", s"$dir/warehouse")
  }

  private val Days = Seq("2024-01-01", "2024-01-02", "2024-01-03")

  private def paths(st: TimeseriesStore, day: String): Set[String] =
    adds(st, "f").filter(_.partition == day).map(_.path).toSet

  /** `compact` of `w/f` (of `partitions`, when given), checked against
    * the full rewrite it stands in for: afterwards `read` returns the
    * history's latest row per time, which rewriting every partition
    * leaves, and `loadDataFrame` the rows it returned before, on both
    * read paths. Returns the parquet files the compaction created and
    * the adds it retired. */
  private def compactChecked(fs: FeatureStore, root: String, partitions: Seq[String] = Nil): (Int, Set[String]) = {
    val st = storeOf(fs)
    val full = sortedRows(graft.ops.TimeseriesOps.dedupLatest(st.read("f")))
    def loads() = Seq(TimeseriesStore.DriverLoadBytes, -1L).map(b =>
      withDriverLoadBound(fs, b)(sortedRows(fs.loadDataFrame(Seq("w/f")))))
    val loaded = loads()
    val before = adds(st, "f").map(_.path).toSet
    val (_, creates) = CountingFs.createsDuring(root)(fs.compactFeature("w/f", partitions))
    assert(sortedRows(st.read("f")) == full)
    assert(loads() == loaded && loaded.distinct.size == 1)
    (creates.keys.count(_.endsWith(".parquet")), before -- adds(st, "f").map(_.path))
  }

  /** `body` once per compaction path: the driver's, then Spark's. */
  private def onBothPaths(prefix: String)(body: (FeatureStore, String, String) => Unit): Unit =
    for ((path, bound) <- Seq("driver" -> TimeseriesStore.DriverLoadBytes, "spark" -> -1L)) {
      val (fs, catalog, root) = threeDays(s"$prefix-$path")
      withDriverLoadBound(fs, bound)(body(fs, catalog, root))
    }

  test("a compaction right after a compaction opens, creates and commits nothing") {
    onBothPaths("graft-dw-again") { (fs, _, root) =>
      val st = storeOf(fs)
      assert(compactChecked(fs, root)._1 == 3)
      assert(adds(st, "f").forall(_.dd.contains(true)))
      val version = st.tableVersion("f")
      for (parts <- Seq(Nil, Days.take(2))) {
        val ((_, opens), creates) =
          CountingFs.createsDuring(root)(CountingFs.opensDuring(root)(fs.compactFeature("w/f", parts)))
        assert(creates.isEmpty && !opens.keys.exists(_.endsWith(".parquet")), s"$opens $creates")
        assert(st.tableVersion("f") == version)
      }
    }
  }

  test("after a save into one of three compacted days, a compaction rewrites that day alone") {
    onBothPaths("graft-dw-one-day") { (fs, _, root) =>
      val st = storeOf(fs)
      compactChecked(fs, root)
      st.save("f", Seq((at(1, 2), at(3), 99.0), (at(1, 9), at(3), 98.0)).toDF("time", "created_time", "value"))
      val (touched, kept) = (paths(st, Days(1)), Seq(Days(0), Days(2)).map(paths(st, _)))
      assert(touched.size == 2)
      // the named call skips its clean day; the whole-feature call then has nothing left
      assert(compactChecked(fs, root, Days.take(2)) == (1, touched))
      assert(Seq(Days(0), Days(2)).map(paths(st, _)) == kept)
      assert(compactChecked(fs, root) == (0, Set.empty))
    }
  }

  test("the compaction flag survives a checkpoint: a fresh store still skips the clean days") {
    onBothPaths("graft-dw-checkpoint") { (fs, catalog, root) =>
      val st = storeOf(fs)
      compactChecked(fs, root)
      var hour = 6
      while (st.tableVersion("f") < TxLog.CheckpointEvery) {
        st.save("f", Seq((at(2, hour), at(4), hour.toDouble)).toDF("time", "created_time", "value"))
        hour += 1
      }
      val checkpoint = new java.io.File(f"$root/feature/f/_txlog/${TxLog.CheckpointEvery}%020d.checkpoint.json")
      assert(scala.io.Source.fromFile(checkpoint).getLines().count(_.contains("\"dd\":true")) == 3)
      val touched = paths(st, Days(2))
      val fresh = new FeatureStore(spark, catalog)
      withDriverLoadBound(fresh, fs.driverLoadBytes)(assert(compactChecked(fresh, root) == (1, touched)))
    }
  }

  test("a schema epoch, a changed bloom declaration, optimize and a row delete make the days they touch dirty") {
    onBothPaths("graft-dw-dirty") { (fs, _, root) =>
      val st = storeOf(fs)
      compactChecked(fs, root)
      // a new epoch: every day is rewritten at it
      st.evolveSchema("f", StructType.fromDDL(
        "time timestamp, created_time timestamp, value double, region string"))
      assert(compactChecked(fs, root)._1 == 3 && adds(st, "f").forall(_.sv.contains(1L)))
      // a bloom declaration: every day; the same one again: none; other bits: every day
      st.declareBloomIndex("f", "value", bits = 512, k = 3)
      assert(compactChecked(fs, root)._1 == 3)
      st.declareBloomIndex("f", "value", bits = 512, k = 3)
      assert(compactChecked(fs, root)._1 == 0)
      st.declareBloomIndex("f", "value", bits = 1024, k = 3)
      assert(compactChecked(fs, root)._1 == 3)
      assert(adds(st, "f").forall(_.bl.flatMap(FileBloom.decode).exists(_._2.length == 16)))
      // optimize packs the first day's three files into one unflagged file
      Seq(7, 8).foreach(h => st.save("f", Seq((at(0, h), at(5), h.toDouble)).toDF("time", "created_time", "value")))
      assert(st.optimize("f") == 3L)
      val packed = paths(st, Days(0))
      assert(packed.size == 1 && adds(st, "f").forall(a => a.dd.isEmpty == packed(a.path)))
      assert(compactChecked(fs, root) == (1, packed))
      // a row delete rewrites the last day's file
      assert(fs.deleteRows("w/f", col("time") === lit(at(2, 1))) == 1L)
      val rewritten = paths(st, Days(2))
      assert(compactChecked(fs, root) == (1, rewritten))
      assert(compactChecked(fs, root) == (0, Set.empty))
    }
  }
}
