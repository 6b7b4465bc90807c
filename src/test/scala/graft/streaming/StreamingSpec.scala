package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

case class Ev(ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(rows: (String, Long, String, Double)*): Seq[Ev] =
    rows.map { case (t, u, e, v) => Ev(ts(t), u, e, v) }

  test("windowedStats: tumbling counts + exact sums with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.windowedStats(mem.toDF(), "5 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("ws").start()
    mem.addData(mkEvents(
      ("2024-01-01T00:01:00", 1, "click", 1.5),
      ("2024-01-01T00:02:00", 2, "click", 2.5),
      ("2024-01-01T00:07:00", 1, "view", 10.0)): _*)
    q.processAllAvailable()
    val out = spark.table("ws").orderBy("window_start", "event_type").collect()
    q.stop()
    assert(out.length == 2)
    assert(out(0).getString(2) == "click" && out(0).getLong(3) == 2 && out(0).getDouble(4) == 4.0)
    assert(out(1).getString(2) == "view" && out(1).getLong(3) == 1)
  }

  test("sessionStats: gap-separated sessions per user") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.sessionStats(mem.toDF(), "5 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("ss").start()
    mem.addData(mkEvents(
      ("2024-01-01T00:00:00", 7, "click", 1.0),
      ("2024-01-01T00:03:00", 7, "click", 2.0),  // same session (gap 3m)
      ("2024-01-01T01:00:00", 7, "click", 4.0)): _*) // new session
    q.processAllAvailable()
    val out = spark.table("ss").orderBy("session_start").collect()
    q.stop()
    assert(out.length == 2)
    assert(out(0).getLong(3) == 2 && out(0).getDouble(4) == 3.0)
    assert(out(1).getLong(3) == 1 && out(1).getDouble(4) == 4.0)
  }

  test("sessionStats boundary: an exactly-gap-sized pause still MERGES") {
    // pins the inclusive merge rule (measured, not assumed: a session
    // window spans [t, t+gap] for overlap purposes, so an event AT
    // t+gap joins it — new session only when the pause EXCEEDS the
    // gap). This is the same `>` cut as q_sessionize's batch kernel,
    // so fs_stream_session can reuse its oracle convention verbatim.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.sessionStats(mem.toDF(), "5 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("ssb").start()
    mem.addData(mkEvents(
      ("2024-01-01T00:00:00", 7, "click", 1.0),
      ("2024-01-01T00:05:00", 7, "click", 2.0)): _*) // exactly one gap later
    q.processAllAvailable()
    val out = spark.table("ssb").collect()
    q.stop()
    assert(out.length == 1, s"exact-gap events split: ${out.mkString(";")}")
  }

  test("attributionJoin matches purchases to prior clicks within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.attributionJoin(mem.toDF(), horizon = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("attr").start()
    mem.addData(mkEvents(
      ("2024-01-01T10:00:00", 1, "click", 0.0),
      ("2024-01-01T10:30:00", 1, "purchase", 42.0), // within horizon -> joins
      ("2024-01-01T13:00:00", 1, "purchase", 99.0), // 3h later -> outside
      ("2024-01-01T10:10:00", 2, "purchase", 7.0)): _*) // no click for user 2
    q.processAllAvailable()
    val out = spark.table("attr").collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    q.stop()
    assert(out.toSeq == Seq((1L, 42.0)))
  }

  test("attributionJoinOuter emits unconverted clicks with nulls after the horizon closes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.attributionJoinOuter(mem.toDF(), horizon = "1 hour", delay = "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("attro").start()
    mem.addData(mkEvents(
      ("2024-01-01T10:00:00", 1, "click", 0.0),
      ("2024-01-01T10:30:00", 1, "purchase", 42.0), // converts within horizon
      ("2024-01-01T10:05:00", 2, "click", 0.0)): _*) // never converts
    q.processAllAvailable()
    // watermark so far: 10:30 - 2h — user 2's horizon (11:05) not yet
    // provably closed, so only the match may have emitted
    val mid = spark.table("attro").collect().map(r => (r.getLong(0), r.isNullAt(2)))
    assert(mid.toSeq == Seq((1L, false)), s"premature null emission: ${mid.toSeq}")
    // later events push BOTH sides' watermarks past 11:05 + delay ->
    // the unmatched click must flush with null purchase columns. (One
    // per side: each withWatermark node only sees rows surviving its
    // own event-type filter — the sentinel discipline of the gate.)
    // The 16:00 click's own horizon stays open, so it never emits; the
    // 16:00 purchase matches no click and left-outer drops it.
    mem.addData(mkEvents(
      ("2024-01-01T16:00:00", 8, "click", 0.0),
      ("2024-01-01T16:00:00", 9, "purchase", 0.0)): _*)
    q.processAllAvailable()
    // the null row rides the NO-DATA micro-batch that runs after the
    // watermark advances; processAllAvailable may return before it
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (spark.table("attro").count() < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100); q.processAllAvailable()
    }
    val out = spark.table("attro").collect()
      .map(r => (r.getLong(0), r.isNullAt(2), if (r.isNullAt(3)) -1.0 else r.getDouble(3)))
      .sortBy(_._1)
    q.stop()
    assert(out.toSeq == Seq((1L, false, 42.0), (2L, true, -1.0)))
  }

  test("dedupStream collapses redelivered keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // key on (user_id, event_type): a redelivery with a jittered
    // timestamp must still collapse, so ts is NOT part of the key
    val q = EventStreams.dedupStream(mem.toDF(), Seq("user_id", "event_type"))
      .writeStream.outputMode("append").format("memory").queryName("dd").start()
    mem.addData(mkEvents(
      ("2024-01-01T00:00:00", 1, "click", 1.0),
      ("2024-01-01T00:00:30", 1, "click", 1.0),  // redelivery, jittered ts
      ("2024-01-01T00:01:00", 2, "click", 2.0)): _*)
    q.processAllAvailable()
    mem.addData(mkEvents(
      ("2024-01-01T00:02:00", 1, "click", 9.9)): _*) // still within horizon
    q.processAllAvailable()
    val out = spark.table("dd").collect().map(r => (r.getLong(1), r.getString(2)))
    q.stop()
    assert(out.sorted.toSeq == Seq((1L, "click"), (2L, "click")))
  }

  test("mgCandidatesStream folds the bounded summary across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.mgCandidatesStream(
        mem.toDF(), "event_type", buckets = 1, capacity = 2)
      .toDF("bucket", "epoch", "k")
      .writeStream.outputMode("append").format("memory").queryName("mgc").start()
    // batch 1: {a:2, b:1} fills the capacity-2 summary
    mem.addData(mkEvents(
      ("2024-01-01T00:00:00", 1, "a", 0.0),
      ("2024-01-01T00:00:10", 2, "a", 0.0),
      ("2024-01-01T00:00:20", 3, "b", 0.0)): _*)
    q.processAllAvailable()
    // batch 2: first c decrements the SAVED counters (a 2→1, b 1→dead
    // — only possible if batch-1 state persisted), second c takes the
    // freed slot
    mem.addData(mkEvents(
      ("2024-01-01T00:01:00", 4, "c", 0.0),
      ("2024-01-01T00:01:10", 5, "c", 0.0)): _*)
    q.processAllAvailable()
    val byEpoch = spark.table("mgc").collect()
      .map(r => (r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    q.stop()
    assert(byEpoch(1L) == Set("a", "b"), "batch-1 summary")
    assert(byEpoch(2L) == Set("a", "c"), "cross-batch MG fold")
  }

  test("lshDedupStream flags near-duplicates across micro-batches, not just within") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[String])]
    val q = EventStreams.lshDedupStream(mem.toDF().toDF("doc_id", "sh"), threshold = 0.5)
      .toDF("doc_id", "matched")
      .writeStream.outputMode("append").format("memory").queryName("lsh").start()
    val shA = Seq("aa1", "bb2", "cc3", "dd4") // base doc
    val shB = Seq("aa1", "bb2", "cc3", "ee5") // J = 3/5 = 0.6 vs A -> dup
    val shC = Seq("zz9", "yy8", "xx7", "ww6") // disjoint -> unique
    mem.addData((1L, shA), (2L, shC))
    q.processAllAvailable()
    // batch 2: doc 3 near-duplicates doc 1 FROM A PREVIOUS BATCH — the
    // cross-micro-batch state is exactly what's under test
    mem.addData((3L, shB), (4L, Seq("qq0", "pp1", "oo2", "nn3")))
    q.processAllAvailable()
    // batch 3: doc 5 duplicates doc 3 (itself a flagged dup) — the
    // state keeps dropped members too, so chains don't leak
    mem.addData((5L, shB))
    q.processAllAvailable()
    val verdict = spark.table("lsh").collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
      .groupBy(_._1).map { case (id, vs) => id -> vs.exists(_._2) }
    q.stop()
    assert(verdict == Map(1L -> false, 2L -> false, 3L -> true, 4L -> false, 5L -> true))
  }

  test("runningLatest keeps one (time,value) state per key across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.runningLatest(mem.toDF())
      .toDF("k", "last_time", "last_value")
      .writeStream.outputMode("update").format("memory").queryName("rl").start()
    mem.addData(mkEvents(
      ("2024-01-01T00:01:00", 1, "click", 1.0),
      ("2024-01-01T00:05:00", 1, "click", 5.0),
      ("2024-01-01T00:02:00", 2, "view", 2.0)): _*)
    q.processAllAvailable()
    // second batch: an OLDER click must not displace state; a newer view must
    mem.addData(mkEvents(
      ("2024-01-01T00:03:00", 3, "click", 99.0),
      ("2024-01-01T00:09:00", 3, "view", 9.0)): _*)
    q.processAllAvailable()
    val out = spark.table("rl").orderBy("k", "last_time")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    q.stop()
    // update sink appends each emitted update; the LAST update per key wins
    val latest = out.groupBy(_._1).map { case (k, v) => k -> v.last }.toMap
    assert(latest("click") == (("click", ts("2024-01-01T00:05:00"), 5.0)))
    assert(latest("view") == (("view", ts("2024-01-01T00:09:00"), 9.0)))
  }

  test("enrich joins the stream to a broadcast static dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[Ev]
    val q = EventStreams.enrich(mem.toDF(), dim, "user_id")
      .writeStream.outputMode("append").format("memory").queryName("enr").start()
    mem.addData(mkEvents(
      ("2024-01-01T00:01:00", 1, "click", 1.0),
      ("2024-01-01T00:02:00", 9, "click", 2.0)): _*) // 9 has no dim row
    q.processAllAvailable()
    val out = spark.table("enr").orderBy("user_id")
      .collect().map(r => (r.getAs[Long]("user_id"), Option(r.getAs[String]("tier"))))
    q.stop()
    assert(out.toSeq == Seq((1L, Some("gold")), (9L, None)))
  }

  test("featureSinkTx: exactly-once micro-batch commits into the txlog table") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft-stream-tx")
    val store = new graft.store.TimeseriesStore(spark, dir)
    val mem = MemoryStream[Ev]
    val series = mem.toDF().select(col("ts").as("time"), col("value"))
    val q = EventStreams.featureSinkTx(series, store, "s1", s"$dir/ckpt", "specstream").start()
    mem.addData(mkEvents(("2024-01-01T00:01:00", 1, "x", 1.0)): _*)
    q.processAllAvailable()
    mem.addData(mkEvents(("2024-01-02T00:01:00", 1, "x", 2.0)): _*)
    q.processAllAvailable()
    q.stop()
    // two micro-batches -> two commits, both rows visible via snapshot
    assert(store.read("s1").orderBy("time").collect().map(_.getDouble(2)).toSeq == Seq(1.0, 2.0))
    assert(store.tableVersion("s1") == 1L)
    // the feature-store envelope, through the batch writer's normalizer:
    // created_time defaulted, and hive partition dirs derived from event
    // time like the batch writer's
    val written = spark.read.parquet(s"$dir/feature/s1")
    assert(written.count() == 2)
    assert(written.columns.toSet == Set("time", "created_time", "value", "partition"))
    assert(written.filter(col("created_time").isNull).isEmpty)
    val parts = new java.io.File(s"$dir/feature/s1").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("partition=")).sorted
    assert(parts.toSeq == Seq("partition=2024-01-01", "partition=2024-01-02"))
    // a re-delivered batch (checkpoint recovery replays the last one)
    // re-offers its (streamId, batchId) and must be a NO-OP, not a
    // duplicate — as must any OLDER batch a zombie driver replays
    val replay = mkEvents(("2024-01-02T00:01:00", 1, "x", 2.0))
      .toDF().select(col("ts").as("time"), col("value"))
    assert(!store.writeTx("s1", store.normalizeForSave(replay, "date"), "specstream", 1L))
    assert(!store.writeTx("s1", store.normalizeForSave(replay, "date"), "specstream", 0L))
    assert(store.read("s1").count() == 2)
    // the NEXT batch id commits normally
    assert(store.writeTx("s1", store.normalizeForSave(replay, "date"), "specstream", 2L))
    assert(store.read("s1").count() == 3)
  }

  test("stream sink + incremental Delta sync: micro-batches publish continuously to the open format") {
    // the full 100 TB pipeline shape composed end-to-end: streaming
    // exactly-once commits into the txlog table, and a periodic
    // syncSnapshotDelta publishes whatever landed since the last sync
    // as ONE Delta commit — external Delta readers follow a live
    // stream without either side rewriting the table
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft-stream-delta")
    val store = new graft.store.TimeseriesStore(spark, s"$dir/wh")
    val mem = MemoryStream[Ev]
    val series = mem.toDF().select(col("ts").as("time"), col("value"))
    val q = EventStreams.featureSinkTx(series, store, "s1", s"$dir/ckpt", "dstream").start()
    mem.addData(mkEvents(("2024-01-01T00:01:00", 1, "x", 1.0)): _*)
    q.processAllAvailable()
    store.exportSnapshotDelta("s1", s"$dir/delta") // Delta v0 after batch 0
    mem.addData(mkEvents(("2024-01-02T00:01:00", 2, "x", 2.0)): _*)
    q.processAllAvailable()
    mem.addData(mkEvents(("2024-01-03T00:01:00", 3, "x", 3.0)): _*)
    q.processAllAvailable()
    q.stop()
    store.syncSnapshotDelta("s1", s"$dir/delta") // batches 1-2 -> Delta v1
    val got = graft.store.DeltaBridge.read(spark, s"$dir/delta")
      .select(col("value")).collect().map(_.getDouble(0)).toSet
    assert(got === Set(1.0, 2.0, 3.0))
    // and the pre-sync Delta version still reads as batch 0 alone
    val v0 = graft.store.DeltaBridge.readVersion(spark, s"$dir/delta", Some(0L))
      .select(col("value")).collect().map(_.getDouble(0)).toSet
    assert(v0 === Set(1.0))
  }

  test("anomalyStream scores micro-batches against the trained static profile") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{count, lit, sum}
    // train on the TimeseriesOpsSpec fixture: eleven 1.00s + one 10.00
    // in hour 0 -> only the outlier trips the integer decision (zsq=11)
    val hist = ((1 to 11).map(d => Ev(ts(f"2024-01-$d%02dT00:05:00"), d.toLong, "k", 1.0)) :+
      Ev(ts("2024-01-12T00:05:00"), 99L, "k", 10.0)).toDF()
    val prof = graft.ops.TimeseriesOps.seasonalPrep(hist,
        keyCol = "event_type", idCol = "user_id", timeCol = "ts",
        valueCol = "value", periodSecs = 3600L, seasonSecs = 86400L)
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sx"),
        sum(col("cents") * col("cents")).as("sxx"))
    val mem = MemoryStream[Ev]
    val q = EventStreams.anomalyStream(mem.toDF(), prof,
        keyCol = "event_type", idCol = "user_id")
      .writeStream.outputMode("append").format("memory").queryName("sanom").start()
    mem.addData(mkEvents(
      ("2024-01-05T00:10:00", 1, "k", 1.0),     // normal for hour 0
      ("2024-01-12T00:05:00", 99, "k", 10.0)): _*) // the trained outlier
    q.processAllAvailable()
    mem.addData(mkEvents(("2024-01-13T00:30:00", 7, "k", 9.5)): _*) // near-outlier, later batch
    q.processAllAvailable()
    val out = spark.table("sanom").collect()
      .map(r => (r.getLong(0), r.getDouble(4)))
    q.stop()
    assert(out.map(_._1).toSet == Set(99L, 7L)) // both batches flag, 1.0 stays quiet
    assert(out.toMap.apply(99L) == 11.0)
  }

  test("cusumStream carries Page's recurrence across micro-batches, folding in ts order") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.cusumStream(mem.toDF(), target = 5.0, slack = 0.5,
        keyCol = "user_id")
      .toDF("k", "n", "sp", "sn")
      .writeStream.outputMode("update").format("memory").queryName("scusum").start()
    // batch 1, deliberately unsorted: x = 1, 1 in ts order
    //   S+ = 0 ; S- = 3.5 -> 7.0
    mem.addData(mkEvents(
      ("2024-01-01T00:02:00", 1, "x", 1.0),
      ("2024-01-01T00:01:00", 1, "x", 1.0)): _*)
    q.processAllAvailable()
    // batch 2: x = 9 folds ON TOP of the carried (2, 0.0, 7.0) state:
    //   S+ = max(0, 0+9-5-0.5) = 3.5 ; S- = max(0, 7+5-9-0.5) = 2.5
    mem.addData(mkEvents(("2024-01-01T00:03:00", 1, "x", 9.0)): _*)
    q.processAllAvailable()
    val out = spark.table("scusum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    q.stop()
    assert(out.toSet == Set(("1", 2L, 0.0, 7.0), ("1", 3L, 3.5, 2.5)))
  }
}
