package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("capByKey equals the naive per-key window, including the fallback path") {
    // heavy skew (one key owns 80% of rows), plus a tiny key BELOW the
    // cap, plus non-contiguous ids so the hash order is non-trivial
    val df = ((0 until 4000).map(i => ("hot", i * 7L + 3)) ++
      (0 until 900).map(i => ("warm", 100000L + i * 11)) ++
      (0 until 3).map(i => ("tiny", 900000L + i))).toDF("k", "id")
    def naive(cap: Int) = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
        .orderBy(((col("id") * 2654435761L) % 2147483647L), col("id"))
      df.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= cap)
        .select(col("k"), col("id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    for (cap <- Seq(1, 25, 1000)) {
      val got = Scale.capByKey(df, "k", "id", cap)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === naive(cap), s"cap=$cap diverged")
    }
    // margin 1.01 starves thresholds often enough to exercise the
    // detect-and-fall-back leg — the result must STILL be exact
    val tight = Scale.capByKey(df, "k", "id", 25, margin = 1.01)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(tight === naive(25), "fallback path diverged")
  }

  test("salted dedup equals unsalted dedup (max_by associativity)") {
    val df = (0 until 5000).map { i =>
      // heavy skew: 90% of rows hit one (user, time) key
      val k = if (i % 10 == 0) i % 7 else 0
      (k.toLong,
        new java.sql.Timestamp(ts("2021-01-01").getTime + (k % 3) * 3600000L),
        new java.sql.Timestamp(ts("2021-01-01").getTime + i * 1000L),
        i.toDouble)
    }.toDF("user_id", "time", "created_time", "value")
    val plain = TimeseriesOps.dedupLatest(df, keyCols = Seq("user_id"))
      .orderBy("user_id", "time").collect().toSeq
    val salted = Scale.dedupLatestSalted(df, salts = 8, keyCols = Seq("user_id"))
      .orderBy("user_id", "time").collect().toSeq
    assert(plain == salted)
  }

  test("salted join equals plain join and takes the shuffled (non-broadcast) path") {
    // skew: 80% of big rows on one key
    val big = (0 until 4000).map { i =>
      (i.toLong, if (i % 5 == 0) s"k${i % 4}" else "hot", i.toDouble)
    }.toDF("id", "key", "v")
    val small = (0 until 4).map(i => (s"k$i", i * 10)).toDF("key", "w")
      .union(Seq(("hot", 99)).toDF("key", "w"))
    val salted = Scale.saltedJoin(big, small, Seq("key"), salts = 8, saltOn = "id")
    val plain = big.join(small, Seq("key"))
    assert(salted.select("id", "key", "v", "w").as[(Long, String, Double, Int)].collect().sorted.toSeq ===
      plain.select("id", "key", "v", "w").as[(Long, String, Double, Int)].collect().sorted.toSeq)
    val plan = salted.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), s"salted join was broadcast — salt is pure overhead:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"expected a shuffled join on (key, salt):\n$plan")
  }

  test("bucketed tables join without a shuffle") {
    val a = (0L until 1000L).map(i => (i, i * 2.0)).toDF("k", "va")
    val b = (0L until 1000L).map(i => (i, s"s$i")).toDF("k", "vb")
    Scale.writeBucketed(a, "bkt_a", 8, Seq("k"))
    Scale.writeBucketed(b, "bkt_b", 8, Seq("k"))
    // disable auto-broadcast so the sort-merge path is exercised (at
    // real scale neither side broadcasts); bucketing must then align
    // both sides with no shuffle exchange
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> -1) {
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected bucket-local SMJ:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("compaction collapses history and preserves the deduped view") {
    val dir = tmpDir("graft-compact")
    val st = new graft.store.TimeseriesStore(spark, dir)
    def save(v: Double) = st.save("f", (0 until 10).map { i =>
      (new java.sql.Timestamp(ts("2021-01-01").getTime + i * 86400000L),
        new java.sql.Timestamp(ts("2021-06-01").getTime + v.toLong), v)
    }.toDF("time", "created_time", "value"))
    save(1.0); save(2.0); save(3.0) // three append generations
    def files() = new java.io.File(s"$dir/feature/f").listFiles
      .filter(_.isDirectory).flatMap(_.listFiles).count(_.getName.endsWith(".parquet"))
    val before = files()
    val expected = TimeseriesOps.dedupLatest(st.read("f")).orderBy("time")
      .collect().map(_.getDouble(2)).toSeq
    assert(expected == Seq.fill(10)(3.0))
    st.compact("f")
    // compaction retires the old generations in the log; their bytes
    // stay for time travel until vacuum reclaims them
    st.vacuum("f", retentionMs = 0L)
    assert(files() < before)
    val after = TimeseriesOps.dedupLatest(st.read("f")).orderBy("time")
      .collect().map(_.getDouble(2)).toSeq
    assert(after == expected)
    // raw row count is now one per time (history collapsed)
    assert(st.read("f").count() == 10)
    // subset compaction: only named partitions rewritten
    save(4.0)
    st.compact("f", partitions = Seq("2021-01-01"))
    val counts = st.read("f").groupBy(date_format(col("time"), "yyyy-MM-dd").as("d"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("2021-01-01") == 1) // compacted day
    assert(counts("2021-01-02") == 2) // untouched day still has 2 generations
  }

  test("heavyHitters is exact and partitioning-invariant (the MG guarantee)") {
    // Zipf-ish head over a wide dictionary: two qualifying keys, one
    // key sitting just UNDER the cut, a long uniform tail
    val rows = Seq.fill(400)("alpha") ++ Seq.fill(300)("beta") ++
      Seq.fill(190)("gamma") ++ (0 until 110).map(i => s"tail$i")
    val n = rows.size // 1000
    val naive = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c.toDouble > n * 0.2 }.toMap
    assert(naive.keySet === Set("alpha", "beta"), "fixture sanity")
    // capacity 4 ≥ 1/0.2 − 1: the guarantee holds at the boundary;
    // every physical layout must produce the same exact answer even
    // though each layout nominates different candidate sets
    for (parts <- Seq(1, 3, 13, 32)) {
      val df = rows.toDF("k").repartition(parts)
      val got = Scale.heavyHitters(df, "k", capacity = 4, minShare = 0.2)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === naive, s"parts=$parts diverged")
    }
    // gamma at 19% must NEVER appear (it is below the cut even though
    // MG summaries will often nominate it)
    val wide = Scale.heavyHitters(rows.toDF("k").repartition(8), "k", 9, 0.1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wide === Map("alpha" -> 400L, "beta" -> 300L, "gamma" -> 190L))
    // below the guarantee line the call must refuse, not silently drop
    intercept[IllegalArgumentException] {
      Scale.heavyHitters(rows.toDF("k"), "k", capacity = 3, minShare = 0.2)
    }
  }

  test("PartitionEstimate declines a scan under a partition-column filter") {
    import org.apache.spark.sql.graftbridge.PartitionEstimate.leafScanPartitions
    val dir = tmpDir("graft-estimate")
    spark.range(400).select(col("id"), (col("id") % 4).as("p"))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val df = spark.read.parquet(dir)
    val all = leafScanPartitions(df)
    assert(all.exists(_ >= 1L))
    // a data-column filter prunes no directory: the listing estimate holds
    assert(leafScanPartitions(df.filter(col("id") > 10)) == all)
    // a partition filter does — directly, through a rename, and through
    // one side of a union — so the full listing would overcount
    assert(leafScanPartitions(df.filter(col("p") === 1)).isEmpty)
    assert(leafScanPartitions(df.select(col("id"), col("p").as("q")).filter(col("q") === 1)).isEmpty)
    assert(leafScanPartitions(df.union(spark.read.parquet(dir)).filter(col("p") === 1)).isEmpty)
  }
}
