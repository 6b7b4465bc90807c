package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Kernel semantics ported from the reference pytest suite
  * (`/root/reference/tests/test_featurestore.py`) — dedup, time travel,
  * resample grid edges, forward-fill equivalence, align join.
  */
class TimeseriesOpsSpec extends SparkSpec {
  import spark.implicits._

  private def series(rows: (String, String, Double)*) =
    rows.toSeq.toDF("t", "c", "value")
      .select(col("t").cast("timestamp").as("time"),
        col("c").cast("timestamp").as("created_time"), col("value"))

  test("dedupLatest keeps max created_time per time (last-writer-wins)") {
    val df = series(
      ("2021-01-01 00:00:00", "2021-01-01 01:00:00", 1.0),
      ("2021-01-01 00:00:00", "2021-01-01 02:00:00", 2.0),
      ("2021-01-02 00:00:00", "2021-01-01 01:00:00", 3.0))
    val out = TimeseriesOps.dedupLatest(df).orderBy("time").collect()
    assert(out.map(_.getDouble(2)).toSeq == Seq(2.0, 3.0))
  }

  test("dedupLatest ties on created_time resolve deterministically (max value)") {
    val df = series(
      ("2021-01-01 00:00:00", "2021-01-01 01:00:00", 5.0),
      ("2021-01-01 00:00:00", "2021-01-01 01:00:00", 9.0),
      ("2021-01-01 00:00:00", "2021-01-01 01:00:00", 7.0))
    val out = (1 to 3).map(_ => TimeseriesOps.dedupLatest(df).collect().head.getDouble(2))
    assert(out.toSet == Set(9.0))
  }

  test("timeTravel keeps rows known at time + delta (test_featurestore.py:550-590)") {
    // version v saved with created_time = time - offset
    val t = "2021-01-01 12:00:00"
    val df = series(
      (t, "2021-01-01 11:50:00", 3.0), // -10min (latest knowledge)
      (t, "2021-01-01 11:30:00", 2.0), // -30min
      (t, "2021-01-01 11:00:00", 1.0)) // -60min
    def load(tt: Option[String]): Seq[Double] = {
      val base = tt.map(d => TimeseriesOps.timeTravel(df, d)).getOrElse(df)
      TimeseriesOps.dedupLatest(base).collect().map(_.getDouble(2)).toSeq
    }
    assert(load(None) == Seq(3.0))
    assert(load(Some("-15min")) == Seq(2.0)) // as known 15min before event time
    assert(load(Some("-45min")) == Seq(1.0))
    assert(load(Some("-120min")) == Seq.empty)
  }

  test("resample: inclusive grid, ffill, carry-in seed, clamp (dask.py:154-188)") {
    val df = series(
      ("2021-01-01 00:00:00", "2021-01-01 00:00:00", 1.0),
      ("2021-01-03 00:00:00", "2021-01-01 00:00:00", 3.0))
    // grid starting after the data begins: first point seeds from carry-in
    val out = TimeseriesOps.resample(df, ts("2021-01-02"), ts("2021-01-05"), "1d", Seq("value"))
      .orderBy("time").collect()
    assert(out.length == 4) // 02,03,04,05 inclusive
    assert(out.map(r => Option(r.get(1))).toSeq ==
      Seq(Some(1.0), Some(3.0), Some(3.0), Some(3.0)))
    // to < from clamps to a single grid point
    val one = TimeseriesOps.resample(df, ts("2021-01-02"), ts("2021-01-01"), "1d", Seq("value"))
    assert(one.count() == 1)
    // grid before any data: all-null
    val pre = TimeseriesOps.resample(df, ts("2020-12-01"), ts("2020-12-03"), "1d", Seq("value"))
      .collect()
    assert(pre.length == 3 && pre.forall(_.isNullAt(1)))
  }

  test("resample sub-day frequency matches pandas semantics (test :405-465)") {
    val df = series(
      ("2021-01-01 00:00:00", "2021-01-01 00:00:00", 1.0),
      ("2021-01-01 00:25:00", "2021-01-01 00:00:00", 2.0))
    val out = TimeseriesOps.resample(
      df, ts("2021-01-01T00:00:00"), ts("2021-01-01T01:00:00"), "10min", Seq("value"))
      .orderBy("time").collect()
    assert(out.length == 7)
    assert(out.map(_.getDouble(1)).toSeq == Seq(1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0))
  }

  test("ffillBucketed equals global ffill for any monotone bucketing") {
    val n = 500
    val df = (0 until n).map { i =>
      (new Timestamp(1609459200000L + i * 3600000L),
        if (i % 7 == 0) Some(i.toDouble) else None)
    }.toDF("time", "value")
    val globalF = TimeseriesOps.ffill(df, Seq("value")).orderBy("time")
      .collect().map(r => Option(r.get(1)))
    val bucketF = TimeseriesOps.ffillBucketed(
      df, Seq("value"), date_trunc("day", col("time"))).orderBy("time")
      .collect().map(r => Option(r.get(1)))
    assert(globalF.toSeq == bucketF.toSeq)
  }

  test("ffillBucketed peers at duplicate orderKeys fill identically at any physical order") {
    // two non-null peers at t1 plus a null row at t1 and a later null
    // at t2: under a ROWS frame the physically-first peer would keep
    // its own value while the second saw both — the RANGE frame makes
    // every peer (and the t2 row) read the same tie -> max resolution,
    // which is also what the cross-bucket seed aggregate picks
    val rows = Seq(
      (new Timestamp(1609459200000L), Some(3.0)),
      (new Timestamp(1609459200000L), Some(5.0)),
      (new Timestamp(1609459200000L), None),
      (new Timestamp(1609545600000L), None))
    for (parts <- Seq(1, 2, 4)) {
      val df = rows.toDF("time", "value").repartition(parts)
      val out = TimeseriesOps.ffillBucketed(df, Seq("value"),
          date_trunc("day", col("time")))
        .collect().map(_.getDouble(1)).toSeq
      assert(out.count(_ == 5.0) == 4, s"at $parts partitions got $out")
    }
  }

  test("alignJoin rejects duplicate series names on BOTH paths with a clear error") {
    val a = Seq((new Timestamp(0L), 1.0)).toDF("time", "value")
    val b = Seq((new Timestamp(0L), 2.0)).toDF("time", "value")
    // 2-input join-chain path: previously an AMBIGUOUS_REFERENCE deep
    // inside the fill; now the same message the pivot path raises
    val e2 = intercept[IllegalArgumentException](TimeseriesOps.alignJoin(Seq(a, b)))
    assert(e2.getMessage.contains("duplicate series names"))
    val e3 = intercept[IllegalArgumentException](TimeseriesOps.alignJoin(Seq(a, b, a)))
    assert(e3.getMessage.contains("duplicate series names"))
  }

  test("ffillBucketed accepts non-temporal monotone buckets (integer six-hour blocks)") {
    // the seed window's opaque partition constant must be type-agnostic
    // — the year()-based form failed analysis on any non-temporal
    // bucket despite the "any monotone bucketing" contract
    val df = (0 until 48).map { i =>
      (new Timestamp(1609459200000L + i * 3600000L),
        if (i % 5 == 0) Some(i.toDouble) else None)
    }.toDF("time", "value")
    val viaInt = TimeseriesOps.ffillBucketed(df, Seq("value"),
        (unix_micros(col("time")) / 21600000000L).cast("long"))
      .orderBy("time").collect().map(r => Option(r.get(1)))
    val global = TimeseriesOps.ffill(df, Seq("value")).orderBy("time")
      .collect().map(r => Option(r.get(1)))
    assert(viaInt.toSeq == global.toSeq)
  }

  test("Freq rejects counts that overflow Long micros instead of wrapping") {
    intercept[IllegalArgumentException](Freq.toMicros("200000000000000min"))
    intercept[IllegalArgumentException](Freq.toMicros("99999999999999999999s"))
  }

  test("alignJoin outer-joins on time and forward-fills (_timeseries.py:11-26)") {
    val a = Seq(("2021-01-01 00:00:00", 1.0), ("2021-01-03 00:00:00", 3.0))
      .toDF("t", "a").select(col("t").cast("timestamp").as("time"), col("a"))
    val b = Seq(("2021-01-02 00:00:00", 20.0), ("2021-01-04 00:00:00", 40.0))
      .toDF("t", "b").select(col("t").cast("timestamp").as("time"), col("b"))
    val out = TimeseriesOps.alignJoin(Seq(a, b)).collect()
    assert(out.length == 4)
    assert(out.map(r => (Option(r.get(1)), Option(r.get(2)))).toSeq == Seq(
      (Some(1.0), None), (Some(1.0), Some(20.0)),
      (Some(3.0), Some(20.0)), (Some(3.0), Some(40.0))))
  }

  test("alignJoin pivot path (3+ same-typed series) equals the join chain") {
    def s(name: String, points: (Int, Double)*) =
      points.map { case (d, v) =>
        (new Timestamp(ts("2021-01-01").getTime + d * 86400000L), v)
      }.toDF("time", name)
    val dfs = Seq(
      s("a", 0 -> 1.0, 2 -> 3.0),
      s("b", 1 -> 10.0),
      s("c", 0 -> 100.0, 3 -> 300.0),
      s("d", 2 -> 7.0))
    val viaPivot = TimeseriesOps.alignJoin(dfs)
    assert(viaPivot.columns.toSeq == Seq("time", "a", "b", "c", "d"))
    // same-typed 4-way alignment goes through ONE grouping shuffle, not
    // a chain of 3 full-outer joins
    assert(!viaPivot.queryExecution.optimizedPlan.toString.contains("FullOuter"))
    val viaJoin = dfs.reduce((x, y) => x.join(y, Seq("time"), "full_outer"))
    val filled = TimeseriesOps.ffill(viaJoin, Seq("a", "b", "c", "d")).orderBy("time")
    assert(viaPivot.collect().map(_.toSeq).toSeq == filled.collect().map(_.toSeq).toSeq)
  }

  test("alignJoinWide (blocked plans) equals alignJoin exactly") {
    // the blocked form exists because one 10k-column plan pins the
    // Catalyst optimizer (ScaleProbe); with blockSize=2 over 5 series
    // every seam is exercised: spine ride-in, per-block fill, 1:1
    // block joins — and the result must be bit-identical to the
    // single-plan alignment, including cross-block fill at times a
    // block never saw
    def s(name: String, points: (Int, Double)*) =
      points.map { case (d, v) =>
        (new Timestamp(ts("2021-01-01").getTime + d * 86400000L), v)
      }.toDF("time", name)
    val dfs = Seq(
      s("a", 0 -> 1.0, 2 -> 3.0),
      s("b", 1 -> 10.0),
      s("c", 0 -> 100.0, 3 -> 300.0),
      s("d", 2 -> 7.0),
      s("e", 4 -> 9.0))
    val wide = TimeseriesOps.alignJoinWide(dfs, blockSize = 2)
    val narrow = TimeseriesOps.alignJoin(dfs)
    assert(wide.columns.toSeq == narrow.columns.toSeq)
    assert(wide.orderBy("time").collect().map(_.toSeq).toSeq ==
      narrow.orderBy("time").collect().map(_.toSeq).toSeq)
    // at or below the block size it IS alignJoin (no checkpoint cost)
    val same = TimeseriesOps.alignJoinWide(dfs, blockSize = 5)
    assert(same.collect().map(_.toSeq).toSeq ==
      narrow.orderBy("time").collect().map(_.toSeq).toSeq)
  }

  test("endpointRow and timeBounds") {
    val df = series(
      ("2021-01-01 00:00:00", "2021-01-01 00:00:00", 1.0),
      ("2021-01-05 00:00:00", "2021-01-01 00:00:00", 5.0))
    assert(TimeseriesOps.endpointRow(df, fromTail = true).collect().head.getDouble(2) == 5.0)
    assert(TimeseriesOps.endpointRow(df, fromTail = false).collect().head.getDouble(2) == 1.0)
    val (lo, hi) = TimeseriesOps.timeBounds(df)
    assert(lo.contains(ts("2021-01-01")) && hi.contains(ts("2021-01-05")))
    assert(TimeseriesOps.timeBounds(df.filter(lit(false))) == (None, None))
  }

  test("endpointRow picks the dedupLatest winner at either end of the series") {
    val t1 = "2021-01-01 00:00:00"
    val t9 = "2021-01-09 00:00:00"
    // each end: a created_time rewrite, a created_time tie between
    // values, a NaN and a null — in both orders across the ends
    val df = Seq[(String, String, java.lang.Double, String)](
      (t1, "2021-01-01 00:00:00", 1.0, "a"),
      (t1, "2021-01-01 02:00:00", Double.NaN, "a"),
      (t1, "2021-01-01 02:00:00", null, "z"),
      ("2021-01-05 00:00:00", "2021-01-05 00:00:00", 5.0, "m"),
      (t9, "2021-01-09 01:00:00", 3.0, "b"),
      (t9, "2021-01-09 01:00:00", 7.0, "a"),
      (t9, "2021-01-09 01:00:00", null, "c"),
      (t9, "2021-01-09 00:00:00", 9.0, "d")).toDF("t", "c", "value", "tag")
      .select(col("t").cast("timestamp").as("time"),
        col("c").cast("timestamp").as("created_time"), col("value"), col("tag"))
    def str(rows: Array[Row]) = rows.map(_.toSeq.map(String.valueOf)).toSeq
    for (in <- Seq(df, df.drop("tag"), TimeseriesOps.timeTravel(df, "0s"));
         fromTail <- Seq(true, false)) {
      val sorted = TimeseriesOps.dedupLatest(in)
        .orderBy(if (fromTail) col("time").desc else col("time").asc).limit(1)
      assert(str(TimeseriesOps.endpointRow(in, fromTail).collect()) == str(sorted.collect()),
        s"fromTail=$fromTail cols=${in.columns.mkString(",")}")
    }
    assert(TimeseriesOps.endpointRow(df, fromTail = true).head().getDouble(2) == 7.0)
    assert(TimeseriesOps.endpointRow(df, fromTail = false).head().getDouble(2).isNaN)
    // the top-1 is one ordered take: no exchange in the physical plan
    val plan = TimeseriesOps.endpointRow(df, fromTail = true).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Exchange"), plan)
  }

  test("asofJoin attaches latest right value at-or-before each left row, per key") {
    val clicks = Seq((1L, "2021-01-01 10:00:00", 100L), (1L, "2021-01-01 12:00:00", 101L),
      (2L, "2021-01-01 11:00:00", 200L))
      .toDF("k", "t", "click_id")
      .select(col("k"), col("t").cast("timestamp").as("time"), col("click_id"))
    val buys = Seq((1L, "2021-01-01 09:30:00", 5.0), (1L, "2021-01-01 12:00:00", 7.0),
      (2L, "2021-01-01 11:30:00", 9.0))
      .toDF("k", "t", "buy_v")
      .select(col("k"), col("t").cast("timestamp").as("time"), col("buy_v"))
    val out = TimeseriesOps.asofJoin(clicks, buys, Seq("buy_v"), by = Seq("k"))
      .orderBy("k", "time").collect()
    // user 1 @10:00 -> 5.0 (09:30); @12:00 -> 7.0 (equal time inclusive);
    // user 2 @11:00 -> none yet (buy at 11:30 is later)
    assert(out.map(r => Option(r.get(3))).toSeq == Seq(Some(5.0), Some(7.0), None))
  }

  test("un-keyed asofJoin: bucket-parallel, consistent on duplicate right times") {
    // left rows both in-bucket (Jan) and cross-bucket (Feb) relative to
    // a duplicate right timestamp must resolve the tie the SAME way
    // (max value), regardless of bucket boundaries or physical order
    val left = Seq("2024-01-31 12:00:00", "2024-02-01 00:00:00", "2024-03-15 00:00:00")
      .toDF("t").select(col("t").cast("timestamp").as("time"))
    val right = Seq(("2024-01-31 10:00:00", 1.0), ("2024-01-31 10:00:00", 2.0))
      .toDF("t", "v")
      .select(col("t").cast("timestamp").as("time"), col("v"))
    val out = TimeseriesOps.asofJoin(left, right, Seq("v"))
      .orderBy("time").collect().map(_.getDouble(1)).toSeq
    assert(out == Seq(2.0, 2.0, 2.0))
  }

  test("keyed asofJoin resolves duplicate right timestamps like the un-keyed path") {
    // identical duplicate-(time) right rows fed through BOTH branches:
    // the keyed window fill and the un-keyed bucketed fill must resolve
    // the tie the same way (max value), so semantics don't depend on
    // which code path a `by` clause happens to select
    val left = Seq("2024-01-31 12:00:00", "2024-02-01 00:00:00")
      .toDF("t").select(col("t").cast("timestamp").as("time"))
    val right = Seq(("2024-01-31 10:00:00", 1.0), ("2024-01-31 10:00:00", 2.0))
      .toDF("t", "v")
      .select(col("t").cast("timestamp").as("time"), col("v"))
    val unkeyed = TimeseriesOps.asofJoin(left, right, Seq("v"))
      .orderBy("time").collect().map(_.getDouble(1)).toSeq
    val keyed = TimeseriesOps.asofJoin(
      left.withColumn("k", lit("x")), right.withColumn("k", lit("x")),
      Seq("v"), by = Seq("k"))
      .orderBy("time").collect().map(r => r.getDouble(r.fieldIndex("v"))).toSeq
    assert(unkeyed == Seq(2.0, 2.0))
    assert(keyed == unkeyed)
  }

  test("resample supports calendar month/year grids with end-of-month clamping") {
    val df = series(("2021-01-01 00:00:00", "2021-01-01 00:00:00", 1.0))
    val out = TimeseriesOps.resample(df,
      ts("2021-01-31"), ts("2021-04-30"), "1mo", Seq("value")).orderBy("time").collect()
    assert(out.map(_.getTimestamp(0).toString).toSeq == Seq(
      "2021-01-31 00:00:00.0", "2021-02-28 00:00:00.0",
      "2021-03-31 00:00:00.0", "2021-04-30 00:00:00.0"))
    assert(out.forall(_.getDouble(1) == 1.0))
    val yearly = TimeseriesOps.resample(df,
      ts("2021-01-01"), ts("2024-06-01"), "1y", Seq("value"))
    assert(yearly.count() == 4) // 2021..2024 starts
  }

  test("Freq parses pandas offset aliases") {
    assert(Freq.toMicros("10min") == 600000000L)
    assert(Freq.toMicros("-15min") == -900000000L)
    assert(Freq.toMicros("1d") == 86400000000L)
    assert(Freq.toMicros("h") == 3600000000L)
    assert(Freq.toMicros("2w") == 2 * 604800000000L)
    intercept[IllegalArgumentException](Freq.toMicros("3months"))
    assert(Freq.calendarMonths("3months").contains(3))
    assert(Freq.calendarMonths("M").contains(1))
    assert(Freq.calendarMonths("2y").contains(24))
    assert(Freq.calendarMonths("min").isEmpty) // minutes, not months
  }

  test("sessionize assigns 1-based gap-delimited ids per key with custom names") {
    import spark.implicits._
    val df = Seq(
      ("a", ts("2024-01-01T00:00:00"), 1L),
      ("a", ts("2024-01-01T00:10:00"), 2L),  // 10m gap: same session
      ("a", ts("2024-01-01T01:00:00"), 3L),  // 50m gap: new session
      ("b", ts("2024-01-01T00:00:00"), 4L))
      .toDF("k", "t", "seq")
    val out = TimeseriesOps.sessionize(df, gapUs = 1800000000L,
        keyCols = Seq("k"), timeCol = "t", tieBreak = Seq("seq"), sessionCol = "sid")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set(("a", 1L, 1L), ("a", 2L, 1L), ("a", 3L, 2L), ("b", 4L, 1L)))
    intercept[IllegalArgumentException](
      TimeseriesOps.sessionize(df, gapUs = 1L, keyCols = Nil, timeCol = "t"))
  }

  test("lttbDownsample keeps endpoints and picks the max-area point per bucket") {
    import spark.implicits._
    // 3 buckets x 4 points (pointSecs=1, bucketSecs=4), flat series
    // except one spike mid-bucket: first bucket must keep its FIRST
    // point, last bucket its LAST, and the middle bucket the spike
    // (largest triangle against the flat neighbor centroids)
    val df = Seq.tabulate(12) { i =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i.toLong)),
        if (i == 5) 9.0 else 1.0)
    }.toDF("time", "value")
    val out = TimeseriesOps.lttbDownsample(df, "time", "value",
        pointSecs = 1L, bucketSecs = 4L)
      .orderBy("b").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(out.map(_.getTimestamp(1).toInstant.getEpochSecond).toSeq == Seq(0L, 5L, 11L))
    assert(out.map(_.getDouble(2)).toSeq == Seq(1.0, 9.0, 1.0))
  }

  test("sessionize is deterministic on duplicate (key, time) rows without a tieBreak") {
    import spark.implicits._
    // three peers at 01:00 after a >gap jump: the RANGE frame must put
    // ALL of them in session 2 regardless of physical input order
    val rows = Seq(
      ("a", ts("2024-01-01T00:00:00"), 1L),
      ("a", ts("2024-01-01T01:00:00"), 2L),
      ("a", ts("2024-01-01T01:00:00"), 3L),
      ("a", ts("2024-01-01T01:00:00"), 4L),
      ("a", ts("2024-01-01T01:10:00"), 5L))
    val expected = Set((1L, 1L), (2L, 2L), (3L, 2L), (4L, 2L), (5L, 2L))
    for (perm <- Seq(rows, rows.reverse, rows.sortBy(_._3 % 3))) {
      val out = TimeseriesOps.sessionize(
          perm.toDF("k", "t", "seq").repartition(3),
          gapUs = 1800000000L, keyCols = Seq("k"), timeCol = "t")
        .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
      assert(out == expected)
    }
  }

  test("cusum folds the Page recurrence in order-key order, input order irrelevant") {
    import spark.implicits._
    // x = 1, 1, 9 with mu = 5, slack = 0.5:
    //   S+ : 0 -> max(0,-4.5)=0 -> 0 -> max(0, 0+9-5-0.5)=3.5
    //   S- : 0 -> max(0, 5-1-0.5)=3.5 -> 7.0 -> max(0, 7+5-9-0.5)=2.5
    val rows = Seq(("a", 1L, 1.0, 5.0), ("a", 2L, 1.0, 5.0), ("a", 3L, 9.0, 5.0))
    for (perm <- Seq(rows, rows.reverse)) {
      val out = TimeseriesOps.cusum(
          perm.toDF("k", "hx", "x", "mu").repartition(3),
          keyCol = "k", orderCol = "hx", valueCol = "x", targetCol = "mu",
          slack = 0.5)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      assert(out.toSeq == Seq(("a", 3.5, 2.5, 3L)))
    }
  }

  test("acf: perfect trend gives r=1, alternation gives r=-1, flat slices drop") {
    import spark.implicits._
    val trend = Seq(("t", 1L, 1L), ("t", 2L, 2L), ("t", 3L, 3L), ("t", 4L, 4L))
    val alt = Seq(("w", 1L, 1L), ("w", 2L, 2L), ("w", 3L, 1L), ("w", 4L, 2L))
    val flat = Seq(("f", 1L, 7L), ("f", 2L, 7L), ("f", 3L, 7L))
    val out = TimeseriesOps.acf(
        (trend ++ alt ++ flat).toDF("k", "o", "x"),
        keyCol = "k", orderCol = "o", valueCol = "x", lags = Seq(1, 2))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("t", 1)) == ((3L, 1.0)))
    assert(out(("t", 2)) == ((2L, 1.0)))
    assert(out(("w", 1)) == ((3L, -1.0)))
    assert(out(("w", 2)) == ((2L, 1.0))) // period-2 series realigns at lag 2
    assert(!out.keySet.exists(_._1 == "f")) // zero variance never divides
  }

  test("seasonalAnomalies flags the planted outlier with the exact integer decision") {
    import spark.implicits._
    // bucket 0 (hour 00): eleven 1.00s + one 10.00 across different days.
    // n=12, sx=2100, sxx=1,110,000 cents² -> for x=10.00:
    // num = (12*1000-2100)² = 98,010,000 > 9*(12*1,110,000-2100²) = 80,190,000
    // and zsq = 98.01/8.91 = 11.0 exactly.
    val rows = (1 to 11).map(d => (d.toLong, "k", ts(f"2024-01-$d%02dT00:05:00"), 1.0)) :+
      (99L, "k", ts("2024-01-12T00:05:00"), 10.0)
    val out = TimeseriesOps.seasonalAnomalies(
        rows.toDF("id", "k", "time", "value"),
        keyCol = "k", idCol = "id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
    assert(out.toSeq == Seq((99L, 0L, 11.0)))
    // a zero-variance cell divides nowhere: the strict > filter guards it
    val flat = (1 to 4).map(d => (d.toLong, "k", ts(f"2024-02-0$d%dT03:00:00"), 2.0))
    assert(TimeseriesOps.seasonalAnomalies(
      flat.toDF("id", "k", "time", "value"),
      keyCol = "k", idCol = "id").count() == 0L)
  }

  test("m4Downsample keeps exactly first/last/min/max per bucket, ties to earliest") {
    import spark.implicits._
    // bucket 0 (secs 0-86399): first(1.0)@0, spike max 9@20k, dip
    // min -3@40k, last 2.0@80k, plus interior rows that must vanish;
    // bucket 1: a CONSTANT series — first==last==min==max collapse to
    // the two endpoint rows via the distinct
    val rows = Seq(
      (0L, 1.0), (10000L, 5.0), (20000L, 9.0), (40000L, -3.0),
      (60000L, 5.0), (80000L, 2.0),
      (86400L, 7.0), (100000L, 7.0), (172700L, 7.0))
    val df = rows.map { case (s, v) =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s)), v)
    }.toDF("time", "value")
    val out = TimeseriesOps.m4Downsample(df, "time", "value")
      .orderBy("b", "time").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant.getEpochSecond, r.getDouble(2)))
    assert(out.toSeq == Seq(
      (0L, 0L, 1.0), (0L, 20000L, 9.0), (0L, 40000L, -3.0), (0L, 80000L, 2.0),
      (1L, 86400L, 7.0), (1L, 172700L, 7.0)))
    // duplicate-value ties resolve by the struct order, deterministically:
    // max(struct(v, tu)) keeps the LATEST of the two tied maxima (@20),
    // never an arbitrary one
    val tie = Seq((0L, 1.0), (10L, 9.0), (20L, 9.0), (30L, 1.0)).map { case (s, v) =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s)), v)
    }.toDF("time", "value")
    val got = TimeseriesOps.m4Downsample(tie, "time", "value")
      .collect().map(r => r.getTimestamp(1).toInstant.getEpochSecond).sorted
    assert(got.toSeq == Seq(0L, 20L, 30L))
  }

  test("holtWinters: constant series has zero trend, linear series learns the slope") {
    import spark.implicits._
    val const = (0 until 50).map(i => ("k", i.toLong, 5.0)).toDF("k", "hx", "m")
    val c = TimeseriesOps.holtWinters(const, "k", "hx", "m", alpha = 0.5, beta = 0.25)
      .collect().head
    assert(c.getDouble(1) == 5.0 && c.getDouble(2) == 0.0 && c.getDouble(3) == 5.0)
    // linear ramp x_t = 2t: level tracks, trend converges to the slope
    val lin = (0 until 200).map(i => ("k", i.toLong, 2.0 * i)).toDF("k", "hx", "m")
    val l = TimeseriesOps.holtWinters(lin, "k", "hx", "m", alpha = 0.5, beta = 0.25)
      .collect().head
    assert(math.abs(l.getDouble(2) - 2.0) < 1e-6,
      s"trend ${l.getDouble(2)} should approach the slope 2.0")
    assert(math.abs(l.getDouble(3) - (l.getDouble(1) + l.getDouble(2))) < 1e-12)
    // fold order is by hx, not input order
    val shuffled = scala.util.Random.shuffle((0 until 200).toList)
      .map(i => ("k", i.toLong, 2.0 * i)).toDF("k", "hx", "m").repartition(7)
    val l2 = TimeseriesOps.holtWinters(shuffled, "k", "hx", "m", alpha = 0.5, beta = 0.25)
      .collect().head
    assert(l2.getDouble(1) == l.getDouble(1) && l2.getDouble(2) == l.getDouble(2))
  }
}
