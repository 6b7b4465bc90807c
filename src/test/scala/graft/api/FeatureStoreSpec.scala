package graft.api

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.transform.TransformRegistry

/** End-to-end facade scenarios ported from the reference suite
  * (`/root/reference/tests/test_featurestore.py`): save/load round
  * trips, multi-column fan-out, resampled loads, time travel,
  * serialized schema drift, empty/out-of-range loads, last values,
  * transform DAGs with cycle detection, namespace GC.
  */
class FeatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): FeatureStore = {
    val dir = tmpDir("graft-fs")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("test", s"$dir/warehouse")
    fs
  }

  private def dailySeries(from: String, days: Int, f: Int => Double) =
    (0 until days).map { i =>
      (new java.sql.Timestamp(ts(from).getTime + i * 86400000L), f(i))
    }.toDF("time", "value")

  test("describeFeature: one-pass summary matches a driver-side recompute") {
    val fs = freshStore()
    fs.createFeature("test/d1")
    // 1..100 days of values 0.5, 1.0, ..., 50.0 — known exact stats
    fs.saveDataFrame(dailySeries("2021-01-01", 100, i => (i + 1) * 0.5), Some("test/d1"))
    val row = fs.describeFeature("test/d1").head
    val vals = (1 to 100).map(_ * 0.5)
    assert(row.getLong(0) === 100L)
    assert(math.abs(row.getDouble(1) - vals.sum / 100) < 1e-12) // mean
    val mean = vals.sum / 100
    val sampleVar = vals.map(v => (v - mean) * (v - mean)).sum / 99
    assert(math.abs(row.getDouble(2) - math.sqrt(sampleVar)) < 1e-9) // std
    assert(row.getDouble(3) === 0.5 && row.getDouble(4) === 50.0) // min/max
    // sketch quantiles: lower-edge estimates within 2^-7 relative of
    // the exact nearest-rank values 12.5 / 25.0 / 37.5
    for ((idx, exact) <- Seq((5, 12.5), (6, 25.0), (7, 37.5))) {
      val est = row.getDouble(idx)
      assert(est <= exact + 1e-9 && (exact - est) / exact <= 1.0 / 128 + 1e-9,
        s"q$idx est=$est exact=$exact")
    }
    // bounded window narrows the stats
    val win = fs.describeFeature("test/d1",
      Some(ts("2021-01-01")), Some(ts("2021-01-10"))).head
    assert(win.getLong(0) === 10L && win.getDouble(4) === 5.0)
  }

  test("profileNamespace: every numeric feature in ONE pass, sketch p50 in bound") {
    val fs = freshStore()
    fs.createFeature("test/pa")
    fs.createFeature("test/pb")
    fs.createFeature("test/skipme", serialized = true)
    fs.saveDataFrame(dailySeries("2021-01-01", 50, i => (i + 1) * 1.0), Some("test/pa"))
    fs.saveDataFrame(dailySeries("2021-01-01", 20, i => 100.0 + i), Some("test/pb"))
    val rows = fs.profileNamespace("test").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("pa", "pb")) // serialized feature skipped
    val pa = rows("pa")
    assert(pa.getLong(1) === 50L)
    assert(math.abs(pa.getDouble(2) - 25.5) < 1e-9) // mean of 1..50
    assert(pa.getDouble(4) === 1.0 && pa.getDouble(5) === 50.0)
    val p50 = pa.getDouble(6) // exact nearest-rank = 25.0; sketch within 2^-7
    assert(p50 <= 25.0 + 1e-9 && (25.0 - p50) / 25.0 <= 1.0 / 128 + 1e-9, s"p50=$p50")
    val pb = rows("pb")
    assert(pb.getLong(1) === 20L && pb.getDouble(4) === 100.0 && pb.getDouble(5) === 119.0)
    // empty namespace: empty frame, same schema
    fs.createNamespace("emptyns", tmpDir("graft-emptyns"))
    val e = fs.profileNamespace("emptyns")
    assert(e.columns.toSeq === Seq("feature", "n", "mean", "std", "min", "max", "p50"))
    assert(e.count() === 0)
  }

  test("maintainFeature: repack + vacuum in one call; zorder leg keeps rows") {
    val dir = tmpDir("graft-maint")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("m", s"$dir/warehouse", backend = "txlog")
    fs.createFeature("m/f")
    // many tiny commits -> many small files
    (0 until 6).foreach { b =>
      fs.saveDataFrame(dailySeries("2021-01-01", 10, i => b * 10.0 + i), Some("m/f"))
    }
    val before = fs.loadDataFrame(Seq("m/f"), Some(ts("2021-01-01")), Some(ts("2021-01-10")))
      .orderBy("time").collect().map(_.getDouble(1)).toSeq
    val (repacked, vacuumed) = fs.maintainFeature("m/f", retentionMs = 0L)
    assert(repacked > 0, "small files should repack")
    assert(vacuumed > 0, "retired bytes should vacuum at retention 0")
    val after = fs.loadDataFrame(Seq("m/f"), Some(ts("2021-01-01")), Some(ts("2021-01-10")))
      .orderBy("time").collect().map(_.getDouble(1)).toSeq
    assert(after === before) // LWW-deduped reads unchanged by maintenance
    // z-order leg: full rewrite, rows still identical
    val (rewritten, _) = fs.maintainFeature("m/f", zorder = true, retentionMs = 3600000L)
    assert(rewritten > 0)
    assert(fs.loadDataFrame(Seq("m/f"), Some(ts("2021-01-01")), Some(ts("2021-01-10")))
      .orderBy("time").collect().map(_.getDouble(1)).toSeq === before)
  }

  test("save/load round trip with dedup on rewrite (test :350-402)") {
    val fs = freshStore()
    fs.createFeature("test/df1")
    fs.saveDataFrame(dailySeries("2021-01-01", 10, _.toDouble), Some("test/df1"))
    val out = fs.loadDataFrame(Seq("test/df1"),
      Some(ts("2021-01-01")), Some(ts("2021-01-10")))
    assert(out.count() == 10)
    assert(out.columns.toSeq == Seq("time", "test/df1"))
    // rewrite the same range with new values: load must dedup to latest
    fs.saveDataFrame(dailySeries("2021-01-01", 10, i => i * 100.0), Some("test/df1"))
    val re = fs.loadDataFrame(Seq("test/df1"),
      Some(ts("2021-01-01")), Some(ts("2021-01-10")))
    assert(re.count() == 10)
    assert(re.orderBy("time").collect().map(_.getDouble(1)).toSeq ==
      (0 until 10).map(_ * 100.0))
  }

  test("multi-column save fans out per feature (core.py:303-313)") {
    val fs = freshStore()
    fs.createFeature("test/df3")
    fs.createFeature("test/df4", partition = "year")
    val wide = (0 until 5).map { i =>
      (new java.sql.Timestamp(ts("2021-01-01").getTime + i * 86400000L),
        i.toDouble, s"s$i")
    }.toDF("time", "test/df3", "test/df4")
    fs.saveDataFrame(wide)
    val out = fs.loadDataFrame(Seq("test/df3", "test/df4"),
      Some(ts("2021-01-01")), Some(ts("2021-01-05"))).orderBy("time").collect()
    assert(out.length == 5)
    assert(out.map(_.getDouble(1)).toSeq == Seq(0.0, 1.0, 2.0, 3.0, 4.0))
    assert(out.map(_.getString(2)).toSeq == Seq("s0", "s1", "s2", "s3", "s4"))
  }

  test("resampled load forward-fills onto the grid (test :405-491)") {
    val fs = freshStore()
    fs.createFeature("test/rs")
    // data on days 0,1,2,...9 with a gap: only even days
    val df = (0 until 10 by 2).map { i =>
      (new java.sql.Timestamp(ts("2021-01-01").getTime + i * 86400000L), i.toDouble)
    }.toDF("time", "value")
    fs.saveDataFrame(df, Some("test/rs"))
    val out = fs.loadDataFrame(Seq("test/rs"),
      Some(ts("2021-01-02")), Some(ts("2021-01-06")), freq = Some("1d"))
      .orderBy("time").collect()
    // 02..06 inclusive; carry-over from 01-01 seeds day 02 (J3 semantics)
    assert(out.map(_.getDouble(1)).toSeq == Seq(0.0, 2.0, 2.0, 4.0, 4.0))
  }

  test("evolveFeatureValueType widens table schema and catalog pin together") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DoubleType
    val dir = tmpDir("graft-fs-evolve")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("tx", s"$dir/warehouse", backend = "txlog")
    fs.createFeature("tx/e")
    // first save pins INT
    fs.saveDataFrame(
      (0 until 3).map(i => (new java.sql.Timestamp(ts("2021-01-01").getTime + i * 86400000L), i))
        .toDF("time", "value"), Some("tx/e"))
    val before = fs.loadDataFrame(Seq("tx/e"), Some(ts("2021-01-01")), Some(ts("2021-01-03")))
    assert(before.schema("tx/e").dataType.simpleString == "int")
    fs.evolveFeatureValueType("tx/e", DoubleType)
    // post-evolution save carries fractional values WITHOUT truncation —
    // the catalog pin moved with the table schema
    fs.saveDataFrame(
      Seq((new java.sql.Timestamp(ts("2021-01-04").getTime), 3.5))
        .toDF("time", "value"), Some("tx/e"))
    val after = fs.loadDataFrame(Seq("tx/e"), Some(ts("2021-01-01")), Some(ts("2021-01-04")))
    assert(after.schema("tx/e").dataType == DoubleType)
    assert(after.orderBy("time").collect().map(_.getDouble(1)).toSeq ==
      Seq(0.0, 1.0, 2.0, 3.5))
  }

  test("widen-from-last: resample seed scan is partition-bounded, results unchanged") {
    val fs = freshStore()
    fs.createFeature("test/wfl")
    // 60 daily partitions; load the last 5 days on a grid — the ffill
    // seed is the day before the range, NOT 55 days of history
    fs.saveDataFrame(dailySeries("2021-01-01", 60, _.toDouble), Some("test/wfl"))
    val out = fs.loadDataFrame(Seq("test/wfl"),
      Some(ts("2021-02-25")), Some(ts("2021-03-01")), freq = Some("1d"))
    assert(out.orderBy("time").collect().map(_.getDouble(1)).toSeq ==
      Seq(55.0, 56.0, 57.0, 58.0, 59.0))
    // boundedness: the returned plan's scan starts at the RESOLVED seed
    // time (02-24), so directory pruning admits ~7 of the 60 partitions
    // (descend through AQE — collectLeaves stops at the adaptive root)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(out.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    scans.foreach(s => assert(s.selectedPartitions.partitionCount <= 9,
      s"seed scan reads ${s.selectedPartitions.partitionCount} of 60 partitions"))

    // sparse history: the only seed row lives 50 partitions back — the
    // ladder widens past its 3/9 rungs to full width and still finds it
    fs.createFeature("test/wfl2")
    fs.saveDataFrame(dailySeries("2021-01-01", 1, _ => 7.0), Some("test/wfl2"))
    val far = fs.loadDataFrame(Seq("test/wfl2"),
      Some(ts("2021-02-20")), Some(ts("2021-02-22")), freq = Some("1d"))
    assert(far.orderBy("time").collect().map(_.getDouble(1)).toSeq ==
      Seq(7.0, 7.0, 7.0))
  }

  test("resampled load with fill=interpolate lerps the gaps (extension)") {
    val fs = freshStore()
    fs.createFeature("test/li")
    val df = (0 until 10 by 2).map { i =>
      (new java.sql.Timestamp(ts("2021-01-01").getTime + i * 86400000L), i.toDouble)
    }.toDF("time", "value")
    fs.saveDataFrame(df, Some("test/li"))
    val out = fs.loadDataFrame(Seq("test/li"),
      Some(ts("2021-01-02")), Some(ts("2021-01-06")), freq = Some("1d"),
      fill = "interpolate")
      .orderBy("time").collect()
    // odd days read the midpoint of their even neighbors; even days
    // exact. The LAST grid day carries flat: the scan is clipped at
    // toDate (same bounded read as ffill — no unbounded tail scan for
    // a next neighbor), which is pandas' clip-then-interpolate shape.
    assert(out.map(_.getDouble(1)).toSeq == Seq(1.0, 2.0, 3.0, 4.0, 4.0))
    intercept[IllegalArgumentException](
      fs.loadDataFrame(Seq("test/li"), fill = "interpolate"))
    intercept[IllegalArgumentException](
      fs.loadDataFrame(Seq("test/li"), freq = Some("1d"), fill = "spline"))
  }

  test("time travel reconstructs what was known (test :550-590)") {
    val fs = freshStore()
    fs.createFeature("test/tt")
    def version(offsetMin: Int, v: Double) =
      (0 until 3).map { i =>
        val t = ts("2021-06-01").getTime + i * 86400000L
        (new java.sql.Timestamp(t), new java.sql.Timestamp(t - offsetMin * 60000L), v)
      }.toDF("time", "created_time", "value")
    fs.saveDataFrame(version(60, 1.0), Some("test/tt"))
    fs.saveDataFrame(version(30, 2.0), Some("test/tt"))
    fs.saveDataFrame(version(10, 3.0), Some("test/tt"))
    def vals(tt: Option[String]) =
      fs.loadDataFrame(Seq("test/tt"), Some(ts("2021-06-01")), Some(ts("2021-06-03")),
        timeTravel = tt).collect().map(_.getDouble(1)).toSet
    assert(vals(None) == Set(3.0))
    assert(vals(Some("-15min")) == Set(2.0))
    assert(vals(Some("-45min")) == Set(1.0))
    assert(fs.loadDataFrame(Seq("test/tt"), Some(ts("2021-06-01")), Some(ts("2021-06-03")),
      timeTravel = Some("-120min")).count() == 0)
  }

  test("serialized features allow schema drift and unwrap on load (test :494-521)") {
    val fs = freshStore()
    fs.createFeature("test/ser", serialized = true)
    fs.saveDataFrame(dailySeries("2021-01-01", 3, _.toDouble), Some("test/ser"))
    // drift: now save struct values under the same feature
    val structs = (3 until 5).map { i =>
      (new java.sql.Timestamp(ts("2021-01-01").getTime + i * 86400000L), (i, s"x$i"))
    }.toDF("time", "value")
    fs.saveDataFrame(structs, Some("test/ser"))
    val out = fs.loadDataFrame(Seq("test/ser"),
      Some(ts("2021-01-01")), Some(ts("2021-01-05"))).orderBy("time").collect()
    assert(out.length == 5)
    val vs = out.map(_.getString(1))
    assert(vs(0) == "0.0") // scalar round-trips to its JSON text, not {"v":...}
    assert(vs(3).contains("\"x3\"")) // struct round-trips to its JSON object
  }

  test("loadDataFrameTyped parses serialized values with a caller schema") {
    val fs = freshStore()
    fs.createFeature("test/typed", serialized = true)
    val structs = (0 until 3).map { i =>
      (new java.sql.Timestamp(ts("2021-01-01").getTime + i * 86400000L), (i, s"x$i"))
    }.toDF("time", "value")
    fs.saveDataFrame(structs, Some("test/typed"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_1", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("_2", org.apache.spark.sql.types.StringType)))
    val out = fs.loadDataFrameTyped("test/typed", schema,
      Some(ts("2021-01-01")), Some(ts("2021-01-03"))).orderBy("time").collect()
    assert(out.map(_.getStruct(1).getInt(0)).toSeq == Seq(0, 1, 2))
    assert(out.map(_.getStruct(1).getString(1)).toSeq == Seq("x0", "x1", "x2"))
    intercept[IllegalArgumentException] {
      fs.createFeature("test/plain2")
      fs.loadDataFrameTyped("test/plain2", schema)
    }
  }

  test("non-serialized schema change on append is rejected (test :512-514)") {
    val fs = freshStore()
    fs.createFeature("test/pin")
    fs.saveDataFrame(dailySeries("2021-01-01", 2, _.toDouble), Some("test/pin"))
    val strs = Seq((ts("2021-01-03"), "oops")).toDF("time", "value")
    intercept[IllegalArgumentException](fs.saveDataFrame(strs, Some("test/pin")))
  }

  test("empty feature and out-of-range loads (test :524-547)") {
    val fs = freshStore()
    fs.createFeature("test/empty")
    assert(fs.loadDataFrame(Seq("test/empty"),
      Some(ts("2021-01-01")), Some(ts("2021-01-03"))).count() == 0)
    // with freq: all-null spine of expected length (test :535-538)
    val spined = fs.loadDataFrame(Seq("test/empty"),
      Some(ts("2021-01-01")), Some(ts("2021-01-03")), freq = Some("1d")).collect()
    assert(spined.length == 3 && spined.forall(_.isNullAt(1)))
    // out-of-range: data in 2021, query 2020 -> empty, no carry-in
    fs.createFeature("test/oor")
    fs.saveDataFrame(dailySeries("2021-01-01", 5, _.toDouble), Some("test/oor"))
    assert(fs.loadDataFrame(Seq("test/oor"),
      Some(ts("2020-01-01")), Some(ts("2020-03-01"))).count() == 0)
  }

  test("last values incl. empty feature (test :593-624)") {
    val fs = freshStore()
    fs.createFeature("test/last1")
    fs.createFeature("test/last3")
    fs.saveDataFrame(dailySeries("2021-01-01", 5, _ * 2.0), Some("test/last1"))
    val last = fs.last(Seq("test/last1", "test/last3"))
    assert(last("test/last1").contains(8.0))
    assert(last("test/last3").isEmpty)
    val first = fs.first(Seq("test/last1", "test/last3"))
    assert(first("test/last1").contains(0.0))
    assert(first("test/last3").isEmpty)
    // time travel threads through the pruned endpoint path
    assert(fs.last(Seq("test/last1"), timeTravel = Some("-120min"))("test/last1").isEmpty)
  }

  test("transform DAG: sql + registry, recursion, cycle detection (test :627-695)") {
    val fs = freshStore()
    fs.createFeature("test/raw")
    fs.saveDataFrame(dailySeries("2021-01-01", 5, _.toDouble), Some("test/raw"))
    fs.transformSql("test/squared", Seq("test/raw"), "f0 * f0")
    // transform-of-transform (combined = raw + squared)
    fs.transformSql("test/combined", Seq("test/raw", "test/squared"), "f0 + f1")
    val out = fs.loadDataFrame(Seq("test/combined"),
      Some(ts("2021-01-01")), Some(ts("2021-01-05"))).orderBy("time").collect()
    assert(out.map(_.getDouble(1)).toSeq == (0 until 5).map(i => i + i.toDouble * i))
    // registry transform
    TransformRegistry.register("double-it", df => df.withColumn("value", col("f0") * 2))
    fs.transformFn("test/doubled", Seq("test/raw"), "double-it")
    val dbl = fs.loadDataFrame(Seq("test/doubled"),
      Some(ts("2021-01-01")), Some(ts("2021-01-05"))).orderBy("time").collect()
    assert(dbl.map(_.getDouble(1)).toSeq == (0 until 5).map(_ * 2.0))
    // last() evaluates transforms at the tail (test :665-672)
    assert(fs.last(Seq("test/squared"))("test/squared").contains(16.0))
    // cycle: A depends on B depends on A
    fs.transformSql("test/cycA", Seq("test/cycB"), "f0")
    fs.transformSql("test/cycB", Seq("test/cycA"), "f0")
    intercept[IllegalStateException](
      fs.loadDataFrame(Seq("test/cycA"), Some(ts("2021-01-01")), Some(ts("2021-01-02")))
        .count())
  }

  test("cloneFeature copies metadata and data; cleanNamespace GCs orphans") {
    val fs = freshStore()
    fs.createFeature("test/src")
    fs.saveDataFrame(dailySeries("2021-01-01", 3, _.toDouble), Some("test/src"))
    fs.cloneFeature("test/dst", "test/src")
    val out = fs.loadDataFrame(Seq("test/dst"), Some(ts("2021-01-01")), Some(ts("2021-01-03")))
    assert(out.count() == 3)
    // deleting the catalog entry but keeping data leaves an orphan dir
    fs.deleteFeature("test/dst", deleteData = false)
    assert(fs.cleanNamespace("test") == Seq("dst"))
    assert(fs.cleanNamespace("test").isEmpty)
  }

  test("materializeFeature persists a transform's output as real data") {
    val fs = freshStore()
    fs.createFeature("test/mraw")
    fs.saveDataFrame(dailySeries("2021-01-01", 5, _.toDouble), Some("test/mraw"))
    fs.transformSql("test/mvirt", Seq("test/mraw"), "f0 * 3")
    fs.createFeature("test/mreal")
    fs.materializeFeature("test/mvirt", "test/mreal",
      Some(ts("2021-01-01")), Some(ts("2021-01-05")))
    val out = fs.loadDataFrame(Seq("test/mreal"),
      Some(ts("2021-01-01")), Some(ts("2021-01-05"))).orderBy("time").collect()
    assert(out.map(_.getDouble(1)).toSeq == (0 until 5).map(_ * 3.0))
  }

  test("trainingFrame: as-of feature values per label, no future leakage") {
    val fs = freshStore()
    fs.createFeature("test/f1")
    fs.createFeature("test/f2")
    fs.saveDataFrame(dailySeries("2021-01-01", 10, _ * 1.0), Some("test/f1"))
    fs.saveDataFrame(dailySeries("2021-01-01", 10, _ * 100.0), Some("test/f2"))
    // labels at mid-day offsets: strictly between feature observations
    val labels = Seq(0, 3, 7).map { d =>
      (new java.sql.Timestamp(ts("2021-01-01").getTime + d * 86400000L + 43200000L), s"y$d")
    }.toDF("time", "label")
    val out = fs.trainingFrame(labels, Seq("test/f1", "test/f2"))
      .orderBy("time").collect()
    // as-of 12:00 on day d the latest observation is day d's (00:00)
    assert(out.map(r => (r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq ==
      Seq(("y0", 0.0, 0.0), ("y3", 3.0, 300.0), ("y7", 7.0, 700.0)))
    // a label before any observation gets null, never a future value
    val early = Seq((new java.sql.Timestamp(ts("2021-01-01").getTime - 86400000L), "pre"))
      .toDF("time", "label")
    val pre = fs.trainingFrame(early, Seq("test/f1")).collect().head
    assert(pre.isNullAt(2))
  }

  test("compactFeature collapses history through the facade") {
    val fs = freshStore()
    fs.createFeature("test/cmp")
    fs.saveDataFrame(dailySeries("2021-01-01", 5, _.toDouble), Some("test/cmp"))
    fs.saveDataFrame(dailySeries("2021-01-01", 5, _ * 10.0), Some("test/cmp"))
    fs.compactFeature("test/cmp")
    val out = fs.loadDataFrame(Seq("test/cmp"),
      Some(ts("2021-01-01")), Some(ts("2021-01-05"))).orderBy("time").collect()
    assert(out.map(_.getDouble(1)).toSeq == (0 until 5).map(_ * 10.0))
    fs.transformSql("test/cmpT", Seq("test/cmp"), "f0")
    intercept[IllegalArgumentException](fs.compactFeature("test/cmpT"))
  }

  test("feature-list polymorphism mirrors _unpack_list (test :128-142)") {
    import FeatureStore._
    assert(unpackList(Seq("test/test1")) == Seq(("test", "test1")))
    assert(unpackList(Seq("test1"), Some("test")) == Seq(("test", "test1")))
    assert(unpackList(Seq("test1", "test2"), Some("test")) ==
      Seq(("test", "test1"), ("test", "test2")))
    assert(unpackList(Seq("test/test1", "test/test2")) ==
      Seq(("test", "test1"), ("test", "test2")))
    assert(unpackSpecs(Seq(
      Map("name" -> "test/test1"),
      Map("name" -> "test2", "namespace" -> "test"))) ==
      Seq(("test", "test1"), ("test", "test2")))
    val specDf = Seq(("test", "test1"), ("test", "test2")).toDF("namespace", "name")
    assert(unpackFrame(specDf) == Seq(("test", "test1"), ("test", "test2")))
    // name-only frame resolves against the call's default namespace
    val nameOnly = Seq("test1", "test/test2").toDF("name")
    assert(unpackFrame(nameOnly, Some("test")) ==
      Seq(("test", "test1"), ("test", "test2")))
    intercept[IllegalArgumentException](unpackFrame(Seq(1).toDF("id")))
    intercept[IllegalArgumentException](unpackSpecs(Seq(Map("namespace" -> "x"))))
  }

  test("loadDataFrame accepts dict-style and DataFrame spec selections") {
    val fs = freshStore()
    fs.createFeature("test/poly_a")
    fs.createFeature("test/poly_b")
    fs.saveDataFrame(dailySeries("2024-01-01", 5, _.toDouble), name = Some("test/poly_a"))
    fs.saveDataFrame(dailySeries("2024-01-01", 5, _ * 2.0), name = Some("test/poly_b"))
    val byNames = fs.loadDataFrame(Seq("test/poly_a", "test/poly_b"))
      .orderBy("time").collect().toSeq
    val bySpecs = fs.loadDataFrameSpecs(Seq(
      Map("name" -> "test/poly_a"),
      Map("name" -> "poly_b", "namespace" -> "test"))).orderBy("time").collect().toSeq
    val byFrame = fs.loadDataFrame(
      Seq("poly_a", "poly_b").toDF("name"),
      None, None, None, None, Some("test")).orderBy("time").collect().toSeq
    assert(bySpecs == byNames)
    assert(byFrame == byNames)
    // endpoint verbs accept the same shapes
    val lastByName = fs.last(Seq("test/poly_a", "test/poly_b"))
    assert(fs.lastSpecs(Seq(Map("name" -> "test/poly_a"),
      Map("name" -> "test/poly_b"))) == lastByName)
    assert(fs.last(Seq("test/poly_a", "test/poly_b").toDF("name")) == lastByName)
    assert(fs.firstSpecs(Seq(Map("name" -> "test/poly_a")))("test/poly_a").contains(0.0))
  }

  test("namespace storage options reach the per-namespace Hadoop conf") {
    val dir = tmpDir("graft-fs-opts")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("opts", s"$dir/warehouse",
      storageOptions = Map("graft.test.credential" -> "sesame"))
    fs.createFeature("opts/f")
    // the catalog round-trips the options and the store lays them over
    // the session conf (reference: _model.py:102-112 passes them to
    // fsspec per namespace; here they become namespace-scoped Hadoop
    // conf keys, e.g. fs.s3a credentials)
    val ns = fs.listNamespaces(Some("^opts$")).head
    assert(ns.storageOptions == Map("graft.test.credential" -> "sesame"))
    val st = fs.store(ns)
    assert(st.hadoopConf.get("graft.test.credential") == "sesame")
    assert(spark.sparkContext.hadoopConfiguration.get("graft.test.credential") == null,
      "options must stay namespace-scoped, never leak into the session conf")
    // data path still works end-to-end with options applied
    fs.saveDataFrame(dailySeries("2024-01-01", 3, _.toDouble), name = Some("opts/f"))
    assert(fs.loadDataFrame(Seq("opts/f")).count() == 3)
  }

  test("updateNamespace rotates storage options through the facade (core.py:137-142)") {
    val dir = tmpDir("graft-fs-rotate")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("rot", s"$dir/warehouse",
      storageOptions = Map("graft.test.credential" -> "old-secret"))
    fs.createFeature("rot/f")
    fs.saveDataFrame(dailySeries("2024-01-01", 3, _.toDouble), name = Some("rot/f"))
    // credential rotation through the PUBLIC facade (not the catalog
    // layer): replaces the map wholesale, bumps the version, and the
    // next load's per-namespace Hadoop conf carries the new secret
    fs.updateNamespace("rot", storageOptions = Some(Map("graft.test.credential" -> "new-secret")))
    val ns = fs.listNamespaces(Some("^rot$")).head
    assert(ns.storageOptions == Map("graft.test.credential" -> "new-secret"))
    assert(ns.version == 2)
    assert(fs.store(ns).hadoopConf.get("graft.test.credential") == "new-secret")
    // reads keep working under the rotated options
    assert(fs.loadDataFrame(Seq("rot/f")).count() == 3)
    // meta/description update alone must NOT clobber the options
    fs.updateNamespace("rot", description = Some("rotated"))
    assert(fs.listNamespaces(Some("^rot$")).head.storageOptions ==
      Map("graft.test.credential" -> "new-secret"))
  }

  test("timeTravel endpoint lookup reads file tiers newest first until settled") {
    val fs = freshStore()
    val ns = fs.listNamespaces(Some("^test$")).head
    def save(name: String, backfilledFrom: Int): Unit = {
      fs.createFeature(s"test/$name")
      // 60 daily rows; rows at or past `backfilledFrom` were created a
      // month AFTER their event time, so a travel read masks them
      val rows = (0 until 60).map { i =>
        val t = new java.sql.Timestamp(ts("2024-01-01").getTime + i * 86400000L)
        val created = if (i >= backfilledFrom) new java.sql.Timestamp(t.getTime + 30L * 86400000L) else t
        (t, created, i.toDouble)
      }.toDF("time", "created_time", "value")
      fs.saveDataFrame(rows, Some(s"test/$name"))
    }
    // one file per day: the day each read file holds, in read order
    def days(r: graft.store.EndpointReads): Seq[Int] = {
      assert(r.sparkFiles.isEmpty, r)
      r.driverTiers.map { tier =>
        assert(tier.size == 1, r)
        val d = java.time.LocalDate.parse(tier.head.stripPrefix("partition=").takeWhile(_ != '/'))
        (d.toEpochDay - java.time.LocalDate.parse("2024-01-01").toEpochDay).toInt
      }
    }
    save("tt", backfilledFrom = 56)
    val f = fs.catalog.getFeature("test", "tt").get
    // no travel: the newest file settles it, one file read
    val (plain, r0) = fs.endpointLookup(ns, f, None, fromTail = true)
    assert(plain.get.getDouble(1) == 59.0 && days(r0) == Seq(59))
    // travel: the 4 backfilled rows vanish; the search reads days 59
    // down to 55 and stops — day 55 is newer than every unread file's
    // tmax — so the 60-file history is never read
    val (traveled, r1) = fs.endpointLookup(ns, f, Some("0s"), fromTail = true)
    assert(traveled.get.getDouble(1) == 55.0 && days(r1) == (55 to 59).reverse)
    // head lookups order by tmin: backfill the EARLIEST rows
    save("tt2", backfilledFrom = 0)
    val f2 = fs.catalog.getFeature("test", "tt2").get
    val (_, r2) = fs.endpointLookup(ns, f2, None, fromTail = false)
    assert(days(r2) == Seq(0))
    // tt2 has every row backfilled, so travel masks the WHOLE feature:
    // the search reads every file and returns None rather than a wrong
    // endpoint
    val (none, r3) = fs.endpointLookup(ns, f2, Some("0s"), fromTail = true)
    assert(none.isEmpty && days(r3) == (0 until 60).reverse)
    // a deeper mask widens file by file to the first survivor
    save("tt3", backfilledFrom = 48)
    val f3 = fs.catalog.getFeature("test", "tt3").get
    val (deep, r4) = fs.endpointLookup(ns, f3, Some("0s"), fromTail = true)
    assert(deep.get.getDouble(1) == 47.0 && days(r4) == (47 to 59).reverse)
    // facade answer under travel
    assert(fs.last(Seq("test/tt"), timeTravel = Some("0s"))("test/tt").contains(55.0))
  }

  test("concurrent store() resolution publishes exactly one store per namespace") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = tmpDir("graft-fs-race")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("race", s"$dir/warehouse",
      storageOptions = Map("graft.test.credential" -> "s"))
    val ns = fs.listNamespaces(Some("^race$")).head
    // the old get-then-put let two threads both build a TimeseriesStore
    // and leak the loser's cache-bypassing FileSystem handles; the
    // atomic publish must hand every thread the SAME instance
    val instances = Await.result(
      Future.sequence((1 to 16).map(_ => Future(fs.store(ns)))), 1.minute)
    assert(instances.distinct.size == 1)
    // a rotated namespace swaps the store; concurrent resolvers of the
    // NEW value again agree on one instance, distinct from the old
    fs.updateNamespace("race", storageOptions = Some(Map("graft.test.credential" -> "s2")))
    val ns2 = fs.listNamespaces(Some("^race$")).head
    val swapped = Await.result(
      Future.sequence((1 to 16).map(_ => Future(fs.store(ns2)))), 1.minute)
    assert(swapped.distinct.size == 1)
    assert(swapped.head ne instances.head)
  }

  test("every reference backend name gets table versions, AS OF loads and restore") {
    // the catalog records the name; every namespace is log-backed
    for (backend <- Seq("spark", "dask", "pandas")) {
      val dir = tmpDir(s"graft-fs-$backend")
      val fs = new FeatureStore(spark, s"$dir/catalog.json")
      fs.createNamespace("b", s"$dir/warehouse", backend = backend)
      assert(fs.listNamespaces(Some("^b$")).head.backend == backend)
      fs.createFeature("b/f")
      fs.saveDataFrame(dailySeries("2024-01-01", 3, _.toDouble), Some("b/f"))
      fs.saveDataFrame(dailySeries("2024-01-01", 3, 10.0 + _), Some("b/f"))
      assert(fs.featureVersion("b/f") == 1L, backend)
      def values(asOf: Option[Long]) = fs.loadDataFrame(Seq("b/f"), asOfVersion = asOf)
        .orderBy("time").collect().map(_.getDouble(1)).toSeq
      assert(values(Some(0L)) == Seq(0.0, 1.0, 2.0), backend)
      assert(values(None) == Seq(10.0, 11.0, 12.0), backend)
      assert(fs.restoreFeature("b/f", 0L) == 2L, backend)
      assert(values(None) == Seq(0.0, 1.0, 2.0), backend)
    }
  }

  test("save validation: extraneous columns rejected, empty save is a no-op") {
    val fs = freshStore()
    fs.createFeature("test/val")
    val bad = Seq((ts("2021-01-01"), 1.0, "extra")).toDF("time", "value", "junk")
    intercept[IllegalArgumentException](fs.saveDataFrame(bad, Some("test/val")))
    fs.saveDataFrame(dailySeries("2021-01-01", 0, _.toDouble), Some("test/val"))
    assert(fs.loadDataFrame(Seq("test/val"),
      Some(ts("2021-01-01")), Some(ts("2021-01-02"))).count() == 0)
  }

  test("an empty first save pins no value type; the first REAL save still decides it") {
    val fs = freshStore()
    fs.createFeature("test/pin")
    // an empty string-typed batch first: must NOT pin 'string'
    fs.saveDataFrame(
      Seq.empty[(java.sql.Timestamp, String)].toDF("time", "value"), Some("test/pin"))
    // the first real (double) append must succeed, not be rejected as
    // a schema change against a phantom pin
    fs.saveDataFrame(dailySeries("2021-01-01", 3, _.toDouble), Some("test/pin"))
    assert(fs.last(Seq("test/pin"))("test/pin").contains(2.0))
    // and the real pin now enforces
    intercept[IllegalArgumentException](fs.saveDataFrame(
      Seq((ts("2021-01-05"), "nope")).toDF("time", "value"), Some("test/pin")))
  }

  test("single-feature wide save drops null cells like the fan-out path (no shadowing)") {
    val fs = freshStore()
    fs.createFeature("test/n1")
    fs.saveDataFrame(Seq((ts("2021-01-01"), 5.0)).toDF("time", "test/n1"))
    // a later wide frame with a null at the stored time must not
    // shadow 5.0 via last-writer-wins on the next read
    fs.saveDataFrame(Seq(
      (ts("2021-01-01"), None: Option[Double]),
      (ts("2021-01-02"), Some(7.0))).toDF("time", "test/n1"))
    val out = fs.loadDataFrame(Seq("test/n1"),
      Some(ts("2021-01-01")), Some(ts("2021-01-02"))).orderBy("time").collect()
    assert(out.map(_.getDouble(1)).toSeq == Seq(5.0, 7.0))
  }

  test("resampled load with an empty feature and no bounds injects no epoch row") {
    val fs = freshStore()
    fs.createFeature("test/full")
    fs.createFeature("test/none")
    fs.saveDataFrame(dailySeries("2021-01-01", 3, _.toDouble), Some("test/full"))
    val out = fs.loadDataFrame(Seq("test/full", "test/none"), freq = Some("1d"))
      .orderBy("time").collect()
    // grid defaults to test/full's own bounds; the empty feature
    // contributes all-null cells, NOT a bogus 1970-01-01 grid point
    assert(out.length == 3)
    assert(out.head.getTimestamp(0) == ts("2021-01-01"))
    assert(out.forall(_.isNullAt(2)))
  }
}
