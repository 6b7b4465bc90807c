package graft.queries

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.{Dsir, SimilarityOps, TextOps}
import graft.ops.TimeseriesOps
import graft.plans.CosineSimilarity

/** The driver-verified query inventory: one entry per operator family of
  * SURVEY.md §2 plus the training-data extensions (dedup, similarity,
  * text analysis, multimodal plumbing). Every query is a pure
  * `(SparkSession, sfDir) => DataFrame` over the driver's parquet
  * testdata, paired (where ANSI-expressible) with DuckDB oracle SQL that
  * computes the SAME result — numeric determinism comes from doing all
  * aggregate arithmetic in decimal (exact) or integer space and casting
  * to double only at the end, and from rounding before any ranking cut.
  *
  * Feature-store semantics (dedup-latest, time travel, resample+ffill,
  * align join, last) are phrased over the `events` table: `ts` is event
  * time, `event_id`/`ts` stand in for `created_time`.
  */
object QueryLib {

  final case class Q(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.table(s, dir, name)

  private def ts(iso: String): Column = lit(iso).cast("timestamp")
  private def jts(isoDate: String): Timestamp =
    Timestamp.from(Instant.parse(isoDate + "T00:00:00Z"))

  /** Exact money arithmetic: decimal-cast before multiplying/summing so
    * Spark and DuckDB agree bit-for-bit after the final double cast.
    */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def discPrice: Column =
    dec(col("l_extendedprice")) * (lit(1).cast("decimal(4,2)") - dec(col("l_discount")).cast("decimal(4,2)"))

  private val Stopwords = Seq("the", "a", "of", "and", "is")

  /** Pin a frame that feeds multiple downstream branches (the LSH band
    * fan-out plus the verification join-backs): without this Catalyst
    * replans — and re-executes — the expensive sketch/fingerprint stage
    * once per branch (~8× measured at sf0.1: 0 ReusedExchange, 32
    * parquet scans in dedup_winnow). MEMORY_AND_DISK so an oversized
    * relation spills instead of recomputing; the pinned frames are
    * (id, small-fixed-width) rows — tiny relative to the corpus.
    */
  private def mat(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Give a CPU-dense per-row stage at least cluster parallelism
    * (guide §2.5, input skew: "repartition immediately after the
    * read"). The corpus tables are small-but-dense — documents at
    * sf0.1 is 584 KB = ONE input split at the 128 MB default, so every
    * shingle/digest/signature fold above it ran on one core while all
    * downstream branches queued behind the single task (JobProbe:
    * 8 concurrent 1.47 s jobs all blocked on the same one-partition
    * persist materialization in curate_survivors). A conditional
    * round-robin exchange of the raw rows fixes the local shape and is
    * a NO-OP at scale: any real corpus reads as more splits than
    * cores, so the branch never fires (and it must not — blanket
    * repartition(cores) would COALESCE a large scan).
    */
  private def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // partitions from the FileIndex, not df.rdd (r20): the .rdd probe
    // physically planned every spread site's scan twice — once for the
    // guard, once at action (40 sites × 4 bench runs of discarded
    // planner work); the estimate reads the cached listing instead and
    // only falls back to the exact probe on unrecognized plan shapes
    val parts = org.apache.spark.sql.graftbridge.PartitionEstimate
      .leafScanPartitions(df)
      .getOrElse(df.rdd.getNumPartitions.toLong)
    if (parts < cores) df.repartition(cores) else df
  }

  /** Scratch warehouse for the facade (write-path) queries. Bench runs
    * every query 4x (cold + 3 warm) and Verify once more — a bare
    * createTempDirectory would leak a full parquet warehouse per
    * invocation until /tmp fills. Each query owns a fixed tag and the
    * PREVIOUS invocation's tree is wiped at build time, so at most one
    * scratch warehouse per query exists at any moment.
    */
  private[graft] def scratchDir(tag: String): String = {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-scratch", tag)
    deleteTree(root)
    java.nio.file.Files.createDirectories(root)
    root.toString
  }

  /** Recursive delete, deepest-first; the walk stream is closed (it
    * holds a directory handle until GC otherwise). No-op when absent.
    */
  private def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }

  /** Memoized staged stream-source directories. Staging a finite replay
    * (writing the source table as an N-file parquet dir for the file
    * streaming source to replay) is harness scaffolding, not the
    * streaming operator under the gate — yet it re-ran for every bench
    * execution (cold + 3 warm), charging each timing a full batch write
    * job. The staged tree is deterministic per (tag, sfDir): build it
    * once per JVM and let every re-run replay the same files. Per-run
    * state — catalog, warehouse, checkpoints — stays per-invocation in
    * scratchDir, and each memory sink's view lives only inside
    * [[replayToMemory]], so exactly-once and state-merge semantics are
    * still exercised from scratch each run. Lives outside
    * scratchDir's wipe roots; a leftover tree from a KILLED run is
    * wiped before rebuild (a partial stage must never feed a gate).
    */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def stagedSrc(tag: String, sfDir: String)(build: String => Unit): String =
    stagedDirs.computeIfAbsent((tag, sfDir), { key: (String, String) =>
      // the staged path carries BOTH key parts: a tag-only path would
      // let two data dirs in one JVM (sf0.001 smoke + sf0.01 verify)
      // poison each other's memo — the second build wipes and rewrites
      // the tree the first entry still points at. md5, not the 32-bit
      // String.hashCode, keys the path: a hashCode collision between
      // two data dirs would silently recreate exactly that poisoning
      val dirKey = java.security.MessageDigest.getInstance("MD5")
        .digest(key._2.getBytes("UTF-8"))
        .take(8).map(b => f"${b & 0xff}%02x").mkString
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft-staged", s"${key._1}-$dirKey")
      deleteTree(root)
      java.nio.file.Files.createDirectories(root.getParent)
      build(root.toString)
      root.toString
    })

  /** ONE shared staged replay tree per (table, sfDir) for the
    * non-watermarked streaming gates. Before r17 each of the ~14
    * repartition(4) gates staged its OWN projection of the same table
    * — 14 staging write jobs per JVM for one table's bytes; now
    * staging is a single job per table and every gate projects/filters
    * INSIDE the stream. Gate semantics are unchanged: the same rows
    * reach each operator (projection commutes with the file replay),
    * and per-batch membership was already arbitrary under
    * repartition(4), so any gate green under the old layout is
    * batching-insensitive by construction. The watermarked gates keep
    * their own calendar-sliced trees (stageTimeOrderedReplay) — THEIR
    * batch boundaries are semantic.
    */
  private def stagedEventsWide(
      s: SparkSession, dir: String): (String, StructType) = {
    val src = T(s, dir, "events").select(
      col("ts"), col("event_id"), col("user_id"), col("event_type"), col("value"))
    // r19: TIME-RANGED slices instead of round-robin. Batch membership
    // stays arbitrary-but-deterministic (these are the non-watermarked
    // gates — the doc above pins that membership is free), but each
    // micro-batch now covers a CONTIGUOUS time slice, so a sink batch
    // writes ~(month/4) day-partitions instead of all 30 — 4× fewer
    // files per append, 4× fewer footer/rename/commit round-trips, and
    // the production shape besides (real streams arrive in time order).
    // The (ts, event_id) tie-break keeps the split total-ordered and
    // deterministic GIVEN identical job ordering (RangePartitioner's
    // sampling seeds on rdd.id, a per-context counter) — batch
    // membership is declared free for these gates, so that suffices.
    (stagedSrc("sevw", dir)(p =>
      src.repartitionByRange(4, col("ts"), col("event_id")).write.parquet(p)), src.schema)
  }

  private def stagedDocsWide(
      s: SparkSession, dir: String): (String, StructType) = {
    val src = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
    (stagedSrc("sdocw", dir)(p => src.repartition(4).write.parquet(p)), src.schema)
  }

  /** Slice ordinal of `c` against ascending `cuts`: how many cuts lie
    * at or below it. */
  private def sliceOrdinal(c: Column, cuts: Seq[Column]): Column =
    cuts.map(cut => when(c >= cut, 1).otherwise(0)).reduce(_ + _)

  /** The calendar weeks every time-ordered replay slices `ts` by:
    * before 2024-01-08, before the 15th, before the 22nd, and after. */
  private val weeklySlice: Column =
    sliceOrdinal(col("ts"), Seq("2024-01-08", "2024-01-15", "2024-01-22").map(ts))

  /** Stage `src` as ORDERED slice files plus a final sentinel batch —
    * the replay discipline that makes a finite file replay safe under a
    * watermark: slices, one per value of the `slice` ordinal, are
    * disjoint ascending (so no later batch carries rows older than an
    * earlier batch's watermark) and land with strictly ascending mtimes
    * (FileStreamSource replays oldest-first); the sentinel advances the
    * final watermark past every real window/session end so Append
    * emits ALL finalized state, while the sentinel's own window can
    * never finalize and is never emitted. Shared by the watermarked
    * and the fold-order streaming gates (on [[weeklySlice]]) and
    * fs_stream_dedup_lsh (on doc-id ranges); memoized like every staged
    * source.
    */
  private def stageTimeOrderedReplay(
      tag: String, dir: String, tmp: String,
      src: DataFrame, slice: Column, sentinel: DataFrame): String =
    stagedSrc(tag, dir) { rootStr =>
      val root = java.nio.file.Paths.get(rootStr)
      java.nio.file.Files.createDirectories(root)
      // ONE job stages every slice. The slice ordinal is a COLUMN (the
      // sentinel rides as the final ordinal), and a slice-keyed
      // repartition + partitionBy write lands exactly one part file per
      // non-empty slice — hash partitioning on the ordinal puts each
      // slice's rows in one task, and partitionBy splits a task holding
      // two colliding ordinals into one file per directory either way.
      // The r15 shape (one filter+coalesce(1) job PER slice) re-ran the
      // source scan once per slice and cost fs_stream_ewma a 3.4x
      // clean-anchor regression; this is the same bytes in one scan.
      // An EMPTY slice (e.g. the ewma/cusum limit(0) sentinel) stages
      // no file at all instead of an empty parquet — a batch that
      // carried zero rows never changed any gate's state, so the replay
      // is semantically identical with one fewer trigger.
      val staged = src.withColumn("__slice", slice)
        .unionByName(sentinel.withColumn("__slice", lit(Int.MaxValue)))
      val stage = s"$tmp/stage/$tag"
      staged.repartition(col("__slice")).write.partitionBy("__slice").parquet(stage)
      import scala.jdk.CollectionConverters._
      val stagePath = java.nio.file.Paths.get(stage)
      val sliceDirs = {
        val listing = java.nio.file.Files.list(stagePath)
        try listing.iterator().asScala.toList.filter(
          _.getFileName.toString.startsWith("__slice=")) finally listing.close()
      }
      sliceDirs.sortBy(_.getFileName.toString.stripPrefix("__slice=").toInt)
        .zipWithIndex.foreach { case (sliceDir, i) =>
          val listing = java.nio.file.Files.list(sliceDir)
          val part = try listing.iterator().asScala
            .find(p => p.getFileName.toString.startsWith("part-") &&
              p.getFileName.toString.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(s"no part file in $sliceDir"))
          finally listing.close()
          val target = root.resolve(f"slice$i%02d.parquet")
          java.nio.file.Files.move(part, target)
          // FileStreamSource orders new files by modification time;
          // stamp an explicit ascending minute per slice so replay order
          // IS slice order regardless of write timing granularity
          java.nio.file.Files.setLastModifiedTime(target,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
        }
    }

  /** The one stream replay every fs_stream_ gate runs. `src`, a staged
    * parquet directory of `schema`, is read ONE FILE PER TRIGGER until
    * all available data is processed, so each staged file is one real
    * micro-batch, oldest mtime first; `sink` turns the stream into the
    * gate's writer (its operator and sink), and the query runs to
    * completion.
    *
    * The query starts with shuffle partitions — and therefore STATE
    * STORE count — sized to the few-batch replay. Stateful execs open
    * one store per shuffle partition per stateful operator and commit
    * every one each micro-batch; at the session default (32) the
    * stream-stream join paid 32 partitions x 4 stores x 4 batches of
    * commit IO (~13 s at sf0.1) for 20k rows of actual data. A
    * foreachBatch sink has no state stores, but each micro-batch's
    * writeTx runs the ranged layout exchange — 4 partitions match the
    * tiny per-batch volume instead of 32 near-empty write tasks. A
    * started query keeps the partitioning it started with (a stateful
    * one pins it at its FIRST checkpoint), so the scope ends at start
    * and the session's own setting holds for everything after. At real
    * scale this knob is sized to data volume per trigger, not down.
    */
  private def replay(s: SparkSession, src: String, schema: StructType)(
      sink: DataFrame => DataStreamWriter[Row]): Unit = {
    val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    graft.SessionConf.scoped(s)("spark.sql.shuffle.partitions" -> "4") {
      sink(stream).trigger(Trigger.AvailableNow()).start()
    }.awaitTermination()
  }

  /** [[replay]] of `op`, the gate's operator, into a memory sink in
    * output `mode`; the result is the sink's final table. The sink
    * registers a session temp view, named uniquely per call (bench
    * re-runs a gate; a fixed name would collide). `table` resolves the
    * frame eagerly, before the view is dropped, so it still reads the
    * sink and the gate leaves no view behind.
    */
  private def replayToMemory(s: SparkSession, src: String, schema: StructType, mode: OutputMode)(
      op: DataFrame => DataFrame): DataFrame = {
    val view = "replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      replay(s, src, schema)(in => op(in).writeStream.format("memory").queryName(view).outputMode(mode))
      s.table(view)
    } finally s.catalog.dropTempView(view)
  }

  // =====================================================================
  // Feature-store core (SURVEY §2.1-2.6) over `events`
  // =====================================================================

  private val fsScanRange = Q(
    "fs_scan_range",
    (s, dir) =>
      TimeseriesOps.rangeFilter(
        T(s, dir, "events"),
        Some(jts("2024-01-05")), Some(jts("2024-01-10")), timeCol = "ts")
        .select("event_id", "ts", "value"),
    Some("""SELECT event_id, ts, value FROM events
           |WHERE ts >= TIMESTAMP '2024-01-05' AND ts <= TIMESTAMP '2024-01-10'""".stripMargin))

  private val fsDedupLatest = Q(
    "fs_dedup_latest",
    (s, dir) => {
      val e = T(s, dir, "events").select(
        col("user_id"),
        date_trunc("hour", col("ts")).as("time"),
        col("ts").as("created_time"),
        col("value"))
      TimeseriesOps.dedupLatest(e, keyCols = Seq("user_id"))
    },
    Some("""SELECT user_id, date_trunc('hour', ts) AS time,
           |       max(ts) AS created_time, arg_max(value, ts) AS value
           |FROM events GROUP BY 1, 2""".stripMargin))

  private val fsDedupSalted = Q(
    "fs_dedup_salted",
    // The hot-key path of dedup under the SAME oracle as
    // fs_dedup_latest: Scale.dedupLatestSalted splits phase one by a
    // deterministic salt so one pathological key spreads over 8
    // reducers, then merges per key — by construction the result is
    // identical to the unsalted aggregation, and this query pins that
    // equivalence to the DuckDB gate rather than a spec-only claim.
    (s, dir) => {
      val e = T(s, dir, "events").select(
        col("user_id"),
        date_trunc("hour", col("ts")).as("time"),
        col("ts").as("created_time"),
        col("value"))
      graft.ops.Scale.dedupLatestSalted(e, salts = 8, keyCols = Seq("user_id"))
    },
    Some("""SELECT user_id, date_trunc('hour', ts) AS time,
           |       max(ts) AS created_time, arg_max(value, ts) AS value
           |FROM events GROUP BY 1, 2""".stripMargin))

  private val fsOhlc = Q(
    "fs_ohlc",
    // OHLC bucket downsampling — the financial-style resample the
    // reference lacks: per (series, day) the chronologically first and
    // last values ride min_by/max_by aggregation buffers and the
    // extremes plain min/max, so the whole candle table is ONE hash-agg
    // with map-side partials — never a window over the raw series.
    // Deterministic: (user_id, ts) pairs are unique, so min_by/max_by
    // need no tie-break.
    (s, dir) =>
      T(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(
          min_by(col("value"), col("ts")).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), col("ts")).as("close"),
          count(lit(1)).as("n_ticks")),
    Some("""SELECT user_id, date_trunc('day', ts) AS day,
           |  arg_min(value, ts) AS open, max(value) AS high,
           |  min(value) AS low, arg_max(value, ts) AS close,
           |  count(*) AS n_ticks
           |FROM events GROUP BY 1, 2""".stripMargin))

  private val fsTimeTravel = Q(
    "fs_time_travel",
    (s, dir) => {
      val e = T(s, dir, "events").select(
        col("user_id"),
        date_trunc("hour", col("ts")).as("time"),
        col("ts").as("created_time"),
        col("value"))
      TimeseriesOps.dedupLatest(
        TimeseriesOps.timeTravel(e, "45min"), keyCols = Seq("user_id"))
    },
    Some("""WITH v AS (SELECT user_id, date_trunc('hour', ts) AS time,
           |                  ts AS created_time, value FROM events)
           |SELECT user_id, time, max(created_time) AS created_time,
           |       arg_max(value, created_time) AS value
           |FROM v WHERE created_time <= time + INTERVAL 45 MINUTE
           |GROUP BY 1, 2""".stripMargin))

  private val fsResample1d = Q(
    "fs_resample_1d",
    (s, dir) => {
      // per-time tie->max dedup BEFORE the fill, mirrored in the
      // oracle: without it, equal-timestamp purchases would be
      // tie-broken deterministically (max) by Spark's fill but
      // arbitrarily by DuckDB's ASOF JOIN — today's generator happens
      // to emit globally unique ts, but the contract shouldn't lean on
      // that accident (the _years/_monthly siblings already dedup)
      val data = T(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("ts").as("time")).agg(max(col("value")).as("value"))
      TimeseriesOps.resample(data, jts("2024-01-01"), jts("2024-01-30"), "1d", Seq("value"))
    },
    Some("""WITH data AS (SELECT ts AS time, max(value) AS value FROM events
           |          WHERE event_type = 'purchase' GROUP BY 1),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
           |                 TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS time)
           |SELECT g.time, d.value FROM grid g ASOF LEFT JOIN data d ON d.time <= g.time""".stripMargin))

  private val fsResampleYears = Q(
    "fs_resample_years",
    // three-year weekly grid (~1095 days): exercises the MONTH branch of
    // the adaptive fill bucketing (spans <= 120d use day buckets,
    // > ~5y use year buckets — that branch is covered by the
    // bucketed-vs-global ffill property tests)
    (s, dir) => {
      val data = TimeseriesOps.dedupLatest(
        T(s, dir, "orders").select(
          col("o_orderdate").as("time"),
          col("o_orderkey").as("created_time"),
          col("o_totalprice").as("value")))
        .select("time", "value")
      TimeseriesOps.resample(data, jts("1995-01-01"), jts("1997-12-31"), "7d", Seq("value"))
    },
    Some("""WITH data AS (
           |  SELECT o_orderdate AS time, arg_max(o_totalprice, o_orderkey) AS value
           |  FROM orders GROUP BY 1),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
           |                 TIMESTAMP '1997-12-31', INTERVAL 7 DAY)) AS time)
           |SELECT g.time, d.value FROM grid g ASOF LEFT JOIN data d ON d.time <= g.time""".stripMargin))

  private val fsResampleMonthly = Q(
    "fs_resample_monthly",
    // calendar-month grid (month-start anchored, so Spark's
    // timestampadd and DuckDB's month-interval series agree exactly)
    (s, dir) => {
      val data = TimeseriesOps.dedupLatest(
        T(s, dir, "orders").select(
          col("o_orderdate").as("time"),
          col("o_orderkey").as("created_time"),
          col("o_totalprice").as("value")))
        .select("time", "value")
      TimeseriesOps.resample(data, jts("1995-01-01"), jts("1999-12-01"), "1mo", Seq("value"))
    },
    Some("""WITH data AS (
           |  SELECT o_orderdate AS time, arg_max(o_totalprice, o_orderkey) AS value
           |  FROM orders GROUP BY 1),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
           |                 TIMESTAMP '1999-12-01', INTERVAL 1 MONTH)) AS time)
           |SELECT g.time, d.value FROM grid g ASOF LEFT JOIN data d ON d.time <= g.time""".stripMargin))

  private val fsDownsampleLttb = Q(
    "fs_downsample_lttb",
    // Visualization downsampling (TimeseriesOps.lttbDownsample): the
    // month of hourly purchase means reduced to one point per day by
    // largest-triangle selection against the neighbor buckets'
    // centroids — the parallel LTTB variant (the classic chained form
    // is sequential by construction; the centroid anchor keeps the
    // keep-extremes property with every bucket independent). The
    // oracle replays the identical selection: integer hour index,
    // decimal-exact means, one fixed IEEE cross-product rounded at 6,
    // ties to the earliest point — so a drifted anchor, a wrong
    // endpoint rule, or a float-order hazard all hash red. At 100 TB
    // this is how a dashboard reads a years-deep series: two
    // hash-aggs + centroid joins, never a collect of the raw points.
    (s, dir) => TimeseriesOps.lttbDownsample(
      T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts"), col("value")),
      timeCol = "ts", valueCol = "value"),
    Some("""WITH ev AS (SELECT (epoch_us(ts) // 1000000) // 3600 AS hx, value
           |            FROM events WHERE event_type = 'purchase'),
           |evb AS (SELECT hx, value, hx // 24 AS b FROM ev),
           |anchor AS (SELECT b, CAST(sum(hx) AS DOUBLE) / count(*) AS ax,
           |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS ay
           |           FROM evb GROUP BY b),
           |pts AS (SELECT hx, hx // 24 AS b,
           |               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS y
           |        FROM evb GROUP BY hx),
           |wa AS (SELECT p.*, pa.ax AS pax, pa.ay AS pay, na.ax AS nax, na.ay AS nay
           |       FROM pts p LEFT JOIN anchor pa ON pa.b = p.b - 1
           |                  LEFT JOIN anchor na ON na.b = p.b + 1),
           |sc AS (SELECT b, hx, y, pax, nax,
           |         CASE WHEN pax IS NOT NULL AND nax IS NOT NULL THEN
           |           round(abs((nax - pax) * (y - pay) - (CAST(hx AS DOUBLE) - pax) * (nay - pay)), 6)
           |         END AS area
           |       FROM wa),
           |rn AS (SELECT *, row_number() OVER (PARTITION BY b ORDER BY area DESC, hx) AS rn,
           |              row_number() OVER (PARTITION BY b ORDER BY hx) AS rf,
           |              row_number() OVER (PARTITION BY b ORDER BY hx DESC) AS rl
           |       FROM sc)
           |SELECT CAST(b AS BIGINT) AS b,
           |       TIMESTAMP '1970-01-01 00:00:00' + to_seconds(hx * 3600) AS ts,
           |       y AS value
           |FROM rn
           |WHERE (pax IS NULL AND rf = 1)
           |   OR (pax IS NOT NULL AND nax IS NULL AND rl = 1)
           |   OR (pax IS NOT NULL AND nax IS NOT NULL AND rn = 1)""".stripMargin))

  private val fsDownsampleM4 = Q(
    "fs_downsample_m4",
    // M4 downsampling (TimeseriesOps.m4Downsample): the month of
    // purchase events reduced to the ≤4 rows per day a pixel-exact
    // envelope rendering needs (first/last/min/max) — the lossless-
    // extremes companion to fs_downsample_lttb. One hash-agg whose
    // state is 4 fixed-width structs per bucket, one explode, one
    // distinct; no window, no sort. The oracle replays the identical
    // struct-lexicographic tie rule via four rank orders, so a drifted
    // tie-break or a lost envelope point hashes red. Values pass
    // through untouched (no arithmetic) — nothing to round.
    (s, dir) => TimeseriesOps.m4Downsample(
      T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts"), col("value")),
      timeCol = "ts", valueCol = "value"),
    Some("""WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS b, epoch_us(ts) AS tu,
           |                   value AS v
           |            FROM events WHERE event_type = 'purchase'),
           |r AS (SELECT b, tu, v,
           |    row_number() OVER (PARTITION BY b ORDER BY tu, v) AS rf,
           |    row_number() OVER (PARTITION BY b ORDER BY tu DESC, v DESC) AS rl,
           |    row_number() OVER (PARTITION BY b ORDER BY v, tu) AS rvmin,
           |    row_number() OVER (PARTITION BY b ORDER BY v DESC, tu DESC) AS rvmax
           |  FROM ev)
           |SELECT DISTINCT CAST(b AS BIGINT) AS b, make_timestamp(tu) AS ts, v AS value
           |FROM r WHERE rf = 1 OR rl = 1 OR rvmin = 1 OR rvmax = 1""".stripMargin))

  private val fsAlign2 = Q(
    "fs_align_2",
    (s, dir) => {
      // alignJoin's contract expects inputs deduplicated per time —
      // per-time tie->max here (mirrored in the oracle) keeps the
      // query honest instead of leaning on the corpus's accidental
      // global ts uniqueness; the oracle's ROWS-frame fill is only
      // deterministic once times are unique
      val e = T(s, dir, "events")
      val a = e.filter(col("event_type") === "click")
        .groupBy(col("ts").as("time")).agg(max(col("value")).as("click_v"))
      val b = e.filter(col("event_type") === "purchase")
        .groupBy(col("ts").as("time")).agg(max(col("value")).as("purchase_v"))
      TimeseriesOps.alignJoin(Seq(a, b))
    },
    Some("""WITH a AS (SELECT ts AS time, max(value) AS click_v FROM events
           |       WHERE event_type='click' GROUP BY 1),
           |b AS (SELECT ts AS time, max(value) AS purchase_v FROM events
           |      WHERE event_type='purchase' GROUP BY 1),
           |j AS (SELECT coalesce(a.time, b.time) AS time, a.click_v, b.purchase_v
           |      FROM a FULL JOIN b ON a.time = b.time)
           |SELECT time,
           |  last_value(click_v IGNORE NULLS) OVER
           |    (ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_v,
           |  last_value(purchase_v IGNORE NULLS) OVER
           |    (ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_v
           |FROM j""".stripMargin))

  private val fsFirst = Q(
    "fs_first",
    // FeatureStore.first's kernel under the oracle gate — min_by is the
    // same one-pass hash-agg as fs_last's max_by (head-partition
    // pruning does the 100 TB work in the facade; (type, ts) is
    // tie-free in this data so arg_min is well-defined cross-engine).
    (s, dir) =>
      T(s, dir, "events").groupBy(col("event_type")).agg(
        min_by(col("value"), col("ts")).as("first_value"),
        min(col("ts")).as("first_time")),
    Some("""SELECT event_type, arg_min(value, ts) AS first_value, min(ts) AS first_time
           |FROM events GROUP BY 1""".stripMargin))

  private val fsLast = Q(
    "fs_last",
    (s, dir) =>
      T(s, dir, "events").groupBy(col("event_type")).agg(
        max_by(col("value"), col("ts")).as("last_value"),
        max(col("ts")).as("last_time")),
    Some("""SELECT event_type, arg_max(value, ts) AS last_value, max(ts) AS last_time
           |FROM events GROUP BY 1""".stripMargin))

  private val fsBounds = Q(
    "fs_bounds",
    (s, dir) =>
      T(s, dir, "events").groupBy(col("event_type")).agg(
        min(col("ts")).as("first_time"),
        max(col("ts")).as("last_time"),
        count(lit(1)).as("n")),
    Some("""SELECT event_type, min(ts) AS first_time, max(ts) AS last_time, count(*) AS n
           |FROM events GROUP BY 1""".stripMargin))

  private val fsJsonProps = Q(
    "fs_json_props",
    (s, dir) =>
      T(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k")),
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           |FROM events""".stripMargin))

  private val fsAsofJoin = Q(
    "fs_asof_join",
    (s, dir) => {
      val e = T(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("value").as("purchase_v"))
      TimeseriesOps.asofJoin(clicks, purchases,
        rightValueCols = Seq("purchase_v"), by = Seq("user_id"))
    },
    Some("""WITH c AS (SELECT user_id, ts AS time, event_id FROM events
           |           WHERE event_type = 'click'),
           |p AS (SELECT user_id, ts AS time, value AS purchase_v FROM events
           |      WHERE event_type = 'purchase')
           |SELECT c.user_id, c.time, c.event_id, p.purchase_v
           |FROM c ASOF LEFT JOIN p
           |  ON p.user_id = c.user_id AND p.time <= c.time""".stripMargin))

  private val fsAsofForward = Q(
    "fs_asof_forward",
    // merge_asof direction='forward': the EARLIEST purchase at-or-after
    // each click. Same union-fill plan run under the NEGATED order key
    // (a backward fill is a forward fill under the reversed total
    // order) — one exchange, no extra machinery.
    (s, dir) => {
      val e = T(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("value").as("purchase_v"))
      TimeseriesOps.asofJoin(clicks, purchases,
        rightValueCols = Seq("purchase_v"), by = Seq("user_id"),
        direction = "forward")
    },
    Some("""WITH c AS (SELECT user_id, ts AS time, event_id FROM events
           |           WHERE event_type = 'click'),
           |p AS (SELECT user_id, ts AS time, value AS purchase_v FROM events
           |      WHERE event_type = 'purchase')
           |SELECT c.user_id, c.time, c.event_id, p.purchase_v
           |FROM c ASOF LEFT JOIN p
           |  ON p.user_id = c.user_id AND p.time >= c.time""".stripMargin))

  private val fsAsofNearest = Q(
    "fs_asof_nearest",
    // merge_asof direction='nearest': the closest purchase either side
    // of each click, equidistant resolving to the PAST (never prefer
    // the future when the past is as close). Two directional fills +
    // a distance compare; the oracle mirrors with two ASOF joins and
    // the identical tie rule. Duplicate-(user, time) purchases collapse
    // to max first, mirrored by the oracle's GROUP BY.
    (s, dir) => {
      val e = T(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("value").as("purchase_v"))
      TimeseriesOps.asofJoin(clicks, purchases,
        rightValueCols = Seq("purchase_v"), by = Seq("user_id"),
        direction = "nearest")
    },
    Some("""WITH c AS (SELECT user_id, ts AS time, event_id FROM events
           |           WHERE event_type = 'click'),
           |p AS (SELECT user_id, ts AS time, max(value) AS purchase_v FROM events
           |      WHERE event_type = 'purchase' GROUP BY user_id, ts),
           |b AS (SELECT c.user_id, c.time, c.event_id, p.time AS bt, p.purchase_v AS bv
           |      FROM c ASOF LEFT JOIN p
           |        ON p.user_id = c.user_id AND p.time <= c.time),
           |f AS (SELECT c.user_id, c.time, c.event_id, p.time AS ft, p.purchase_v AS fv
           |      FROM c ASOF LEFT JOIN p
           |        ON p.user_id = c.user_id AND p.time >= c.time)
           |SELECT b.user_id, b.time, b.event_id,
           |  CASE WHEN ft IS NULL THEN bv
           |       WHEN bt IS NULL THEN fv
           |       WHEN epoch_us(b.time) - epoch_us(bt) <= epoch_us(ft) - epoch_us(b.time)
           |         THEN bv ELSE fv END AS purchase_v
           |FROM b JOIN f ON b.user_id = f.user_id AND b.time = f.time
           |              AND b.event_id = f.event_id""".stripMargin))

  private val fsResampleBfill = Q(
    "fs_resample_bfill",
    // pandas .bfill() onto the grid (extension; the reference is
    // ffill-only): the NEXT purchase at-or-after each grid day — the
    // same bucketed fill under the negated order key. Leading grid
    // points read the first upcoming value; trailing read null.
    (s, dir) => {
      val purchases = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("value"))
      TimeseriesOps.resample(purchases,
        jts("2024-01-01"), jts("2024-01-30"), "1d", Seq("value"), backfill = true)
    },
    Some("""WITH data AS (SELECT ts AS time, max(value) AS value FROM events
           |              WHERE event_type = 'purchase' GROUP BY ts),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
           |                 TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS time)
           |SELECT g.time, d.value FROM grid g ASOF LEFT JOIN data d ON d.time >= g.time""".stripMargin))

  private val fsResampleInterp = Q(
    "fs_resample_interp",
    // time-weighted linear interpolation onto the daily grid (extension
    // — the reference is ffill-only): interior grid points lerp between
    // their neighbors, exact hits read exact, trailing points carry
    // flat, leading stay null. Two bucketed fills (prev pair ascending,
    // next pair under the negated order key) — no global sort, no range
    // join. The oracle builds the same (prev, next) pairs with two
    // ASOF joins and applies the IDENTICAL double arithmetic, so the
    // hash pins bit-exact IEEE agreement, not just shape.
    (s, dir) => {
      val purchases = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("value"))
      TimeseriesOps.resampleInterpolated(purchases,
        jts("2024-01-01"), jts("2024-01-30"), "1d", Seq("value"))
    },
    Some("""WITH data AS (SELECT ts AS time, max(value) AS value FROM events
           |              WHERE event_type = 'purchase' GROUP BY ts),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
           |                 TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS time),
           |p AS (SELECT g.time, d.time AS pt, d.value AS pv
           |      FROM grid g ASOF LEFT JOIN data d ON d.time <= g.time),
           |n AS (SELECT g.time, d.time AS nt, d.value AS nxv
           |      FROM grid g ASOF LEFT JOIN data d ON d.time >= g.time)
           |SELECT p.time,
           |  CASE WHEN pt = nt THEN pv
           |       WHEN pt IS NOT NULL AND nt IS NOT NULL THEN
           |         pv + (nxv - pv) * (CAST(epoch_us(p.time) - epoch_us(pt) AS DOUBLE)
           |                            / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE))
           |       WHEN pt IS NOT NULL THEN pv END AS value
           |FROM p JOIN n ON p.time = n.time""".stripMargin))

  private val fsAsofTolerance = Q(
    "fs_asof_tolerance",
    // the staleness-bounded as-of (pandas merge_asof tolerance): a
    // carried purchase older than 2 days reads NULL — the leakage/
    // staleness control for training frames over series that go quiet.
    // Same union-fill plan as fs_asof_join (one exchange); the matched
    // right TIME rides the fill and masks by age afterwards. The
    // oracle matches first (plain ASOF), then applies the identical
    // age mask to the matched row.
    (s, dir) => {
      val e = T(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("time"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("time"), col("value").as("purchase_v"))
      TimeseriesOps.asofJoin(clicks, purchases,
        rightValueCols = Seq("purchase_v"), by = Seq("user_id"),
        toleranceUs = Some(2L * 86400 * 1000000))
    },
    Some("""WITH c AS (SELECT user_id, ts AS time, event_id FROM events
           |           WHERE event_type = 'click'),
           |p AS (SELECT user_id, ts AS time, value AS purchase_v FROM events
           |      WHERE event_type = 'purchase')
           |SELECT c.user_id, c.time, c.event_id,
           |  CASE WHEN p.time >= c.time - INTERVAL 2 DAY THEN p.purchase_v END
           |    AS purchase_v
           |FROM c ASOF LEFT JOIN p
           |  ON p.user_id = c.user_id AND p.time <= c.time""".stripMargin))

  private val fsStoreRoundtrip = Q(
    "fs_store_roundtrip",
    // the FULL facade path under the oracle gate: catalog + normalizing
    // writer + hive-partitioned parquet + pruned scan + dedup + resample
    // must reproduce what DuckDB computes directly from the raw events
    (s, dir) => {
      val tmp = scratchDir("rt")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("rt", s"$tmp/warehouse")
      fs.createFeature("rt/purchase")
      fs.saveDataFrame(
        T(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("ts").as("time"), col("value")),
        name = Some("rt/purchase"))
      fs.loadDataFrame(Seq("rt/purchase"),
          fromDate = Some(jts("2024-01-01")), toDate = Some(jts("2024-01-30")),
          freq = Some("1d"))
        .withColumnRenamed("rt/purchase", "value")
    },
    Some("""WITH data AS (SELECT ts AS time, value FROM events WHERE event_type = 'purchase'),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
           |                 TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS time)
           |SELECT g.time, d.value FROM grid g ASOF LEFT JOIN data d ON d.time <= g.time""".stripMargin))

  private val fsStoreTxlog = Q(
    "fs_store_txlog",
    // the SAME facade path as fs_store_roundtrip (TxLog:
    // Delta-protocol-style atomic commits over the hive parquet
    // layout), with the FULL maintenance lifecycle in the middle: 2 small appends (the micro-batch
    // accumulation shape) -> OPTIMIZE (bin-pack small files, rows
    // preserved exactly) -> compact (dedup, retire + publish in one
    // commit) -> vacuum -> snapshot read with log-metadata pruning
    // must reproduce what DuckDB computes directly from raw events
    (s, dir) => {
      val tmp = scratchDir("txrt")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("rt", s"$tmp/warehouse", backend = "txlog")
      fs.createFeature("rt/purchase")
      val src = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("value"))
      (0 until 2).foreach(i => fs.saveDataFrame(
        src.filter(pmod(hash(col("time")), lit(2)) === i), name = Some("rt/purchase")))
      fs.optimizeFeature("rt/purchase")
      fs.compactFeature("rt/purchase")
      fs.vacuumFeature("rt/purchase", retentionMs = 0L) // reclaim NOW: no concurrent writers here
      fs.loadDataFrame(Seq("rt/purchase"),
          fromDate = Some(jts("2024-01-01")), toDate = Some(jts("2024-01-30")),
          freq = Some("1d"))
        .withColumnRenamed("rt/purchase", "value")
    },
    Some("""WITH data AS (SELECT ts AS time, value FROM events WHERE event_type = 'purchase'),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
           |                 TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS time)
           |SELECT g.time, d.value FROM grid g ASOF LEFT JOIN data d ON d.time <= g.time""".stripMargin))

  private val fsStoreExport = Q(
    "fs_store_export",
    // the OPEN-FORMAT bridge (Delta's "generate manifest" analogue for
    // the bespoke txlog): a two-commit table is exported PINNED AT ITS
    // FIRST VERSION as a plain hive-partitioned parquet tree +
    // manifest, then imported back as a fresh log-backed table. The
    // gate hashes BOTH bridge directions against one oracle: the
    // export read RAW (spark.read.parquet — no graft code, the "any
    // engine" contract; the driver's DuckDB recomputes the same rows
    // from raw events) and the re-import read through the log. Time
    // travel is what's actually certified: batch B landed before the
    // export, so any leakage of post-pin files into the tree or the
    // import turns up as extra rows and the hash goes red.
    (s, dir) => {
      val tmp = scratchDir("exp")
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      val src = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("value"))
      st.save("purchase", src.filter(col("time") < ts("2024-01-16")))
      val pinned = st.tableVersion("purchase")
      st.save("purchase", src.filter(col("time") >= ts("2024-01-16")))
      st.exportSnapshot("purchase", s"$tmp/export", asOfVersion = Some(pinned))
      st.importSnapshot("imported", s"$tmp/export")
      val raw = s.read.parquet(s"$tmp/export")
        .select(lit("export").as("side"), col("time"), col("value"))
      val back = st.read("imported")
        .select(lit("import").as("side"), col("time"), col("value"))
      raw.unionByName(back)
    },
    Some("""WITH d AS (SELECT ts AS time, value FROM events
           |           WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16')
           |SELECT 'export' AS side, time, value FROM d
           |UNION ALL SELECT 'import' AS side, time, value FROM d""".stripMargin))

  private val fsStoreExportDelta = Q(
    "fs_store_export_delta",
    // the OPEN-STANDARD hop past fs_store_export's plain-parquet tree:
    // the pinned snapshot is exported WITH a Delta-protocol _delta_log
    // (protocol/metaData/add actions per delta.io PROTOCOL.md), then
    // read back STRICTLY through the log — DeltaBridge.read lists only
    // the files the add actions name and takes partition values from
    // the log's partitionValues maps, never from directory inference.
    // What's certified: the log is complete (a missing add = missing
    // rows), leak-free (batch B landed after the pin; an extra add =
    // extra rows), and its partitionValues are faithful (the partition
    // column in the output comes FROM the log and must equal the
    // date_format the store derived at write time).
    (s, dir) => {
      val tmp = scratchDir("expdl")
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      val src = T(s, dir, "events").filter(col("event_type") === "click")
        .select(col("ts").as("time"), col("value"))
      st.save("clicks", src.filter(col("time") < ts("2024-01-16")))
      val pinned = st.tableVersion("clicks")
      st.save("clicks", src.filter(col("time") >= ts("2024-01-16"))) // post-pin trap
      st.exportSnapshotDelta("clicks", s"$tmp/delta", asOfVersion = Some(pinned))
      graft.store.DeltaBridge.read(s, s"$tmp/delta")
        .select(col("time"), col("value"), col("partition"))
    },
    Some("""SELECT ts AS time, value, strftime(ts, '%Y-%m-%d') AS partition
           |FROM events WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-16'""".stripMargin))

  private val fsStoreExportIceberg = Q(
    "fs_store_export_iceberg",
    // the ICEBERG leg of the open-format bridge (fs_store_export_delta's
    // twin): the pinned snapshot is exported WITH Iceberg v2 table
    // metadata (metadata.json + Avro manifest-list + Avro manifest per
    // the apache/iceberg spec), then read back STRICTLY through that
    // metadata — IcebergBridge.read lists only the files the manifests
    // name and takes partition values from the manifests' partition
    // structs, never from directory inference. What's certified: the
    // manifest set is complete (a missing data_file = missing rows),
    // leak-free (batch B landed after the pin; an extra entry = extra
    // rows — the post-pin trap), and the partition struct values are
    // faithful (the partition column comes FROM the manifests and must
    // equal the date_format the store derived at write time). A planted
    // decoy parquet in the tree proves reads are manifest-driven: a
    // directory-listing reader would ingest it.
    (s, dir) => {
      val tmp = scratchDir("expib")
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      val src = T(s, dir, "events").filter(col("event_type") === "view")
        .select(col("ts").as("time"), col("value"))
      st.save("views", src.filter(col("time") < ts("2024-01-16")))
      val pinned = st.tableVersion("views")
      st.save("views", src.filter(col("time") >= ts("2024-01-16"))) // post-pin trap
      st.exportSnapshotIceberg("views", s"$tmp/iceberg", asOfVersion = Some(pinned))
      // decoy: unreferenced parquet inside the tree — invisible to a
      // manifest-driven reader, fatal to a directory-listing one
      src.filter(col("time") >= ts("2024-01-16")).limit(7)
        .write.parquet(s"$tmp/iceberg/partition=9999-12-31")
      graft.store.IcebergBridge.read(s, s"$tmp/iceberg")
        .select(col("time"), col("value"), col("partition"))
    },
    Some("""SELECT ts AS time, value, strftime(ts, '%Y-%m-%d') AS partition
           |FROM events WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-16'""".stripMargin))

  private val fsStoreDeltaSync = Q(
    "fs_store_delta_sync",
    // the CONTINUOUS leg of the Delta bridge: after the initial
    // export, the table moves (an append AND a delete-rewrite) and
    // syncSnapshotDelta publishes the net change as ONE Delta commit —
    // new files byte-copied + add actions, rewritten-away files as
    // remove tombstones — plus a protocol parquet checkpoint
    // (checkpointEvery=1), so the read-back goes checkpoint-first.
    // What's certified: the add/remove diff is exact (a missed remove
    // = resurrected deleted rows, a missed add = lost appends), and
    // the checkpoint round-trips the full state (the reader seeds from
    // parquet, not the JSON commits). At 100 TB this is the shape that
    // matters: a daily sync moves the day's files, never the table.
    (s, dir) => {
      val tmp = scratchDir("dlsync")
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      val src = T(s, dir, "events").filter(col("event_type") === "click")
        .select(col("ts").as("time"), col("value"))
      st.save("clicks", src.filter(col("time") < ts("2024-01-16")))
      st.exportSnapshotDelta("clicks", s"$tmp/delta") // Delta commit 0
      st.save("clicks", src.filter(col("time") >= ts("2024-01-16")))
      st.deleteWhere("clicks", col("time") < ts("2024-01-08"))
      st.syncSnapshotDelta("clicks", s"$tmp/delta", checkpointEvery = 1)
      graft.store.DeltaBridge.read(s, s"$tmp/delta")
        .select(col("time"), col("value"), col("partition"))
    },
    Some("""SELECT ts AS time, value, strftime(ts, '%Y-%m-%d') AS partition
           |FROM events WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-08'""".stripMargin))

  private val fsStoreIcebergSync = Q(
    "fs_store_iceberg_sync",
    // the CONTINUOUS leg of the Iceberg bridge (fs_store_delta_sync's
    // twin): after the initial export, the table moves (an append AND
    // a delete-rewrite) and syncSnapshotIceberg publishes the net
    // change as ONE new Iceberg snapshot — new files byte-copied and
    // ADDED to a fresh single manifest, retired files dropped from
    // the new snapshot (bytes stay on disk: older snapshots keep
    // reading them, Iceberg's own time-travel contract), metadata
    // advanced to v2.metadata.json. What's certified: the add/drop
    // diff is exact (a missed drop = resurrected deleted rows, a
    // missed add = lost appends) and the reader plans from the NEW
    // current snapshot. At 100 TB a daily sync moves the day's files
    // plus one manifest + one metadata json, never the table.
    (s, dir) => {
      val tmp = scratchDir("ibsync")
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      val src = T(s, dir, "events").filter(col("event_type") === "signup")
        .select(col("ts").as("time"), col("value"))
      st.save("signups", src.filter(col("time") < ts("2024-01-16")))
      st.exportSnapshotIceberg("signups", s"$tmp/iceberg") // snapshot 1
      st.save("signups", src.filter(col("time") >= ts("2024-01-16")))
      st.deleteWhere("signups", col("time") < ts("2024-01-08"))
      st.syncSnapshotIceberg("signups", s"$tmp/iceberg") // snapshot 2
      graft.store.IcebergBridge.read(s, s"$tmp/iceberg")
        .select(col("time"), col("value"), col("partition"))
    },
    Some("""SELECT ts AS time, value, strftime(ts, '%Y-%m-%d') AS partition
           |FROM events WHERE event_type = 'signup' AND ts >= TIMESTAMP '2024-01-08'""".stripMargin))

  private val fsIcebergTransforms = Q(
    "fs_iceberg_transforms",
    // The WIDENED Iceberg read floor: real third-party Iceberg tables
    // are rarely identity-partitioned — days(ts) is the dominant
    // layout — so the bridge reads temporal/bucket/truncate partition
    // transforms instead of refusing them. A days(time)-partitioned
    // tree (FULL rows in the data files — non-identity sources are
    // never metadata-filled — with transform metadata published via
    // writeTable's spec mode) is read back STRICTLY through the
    // manifests. What's certified: the full scan returns every row
    // with `time` scanned from the files; readWhere over the
    // transform's HUMAN values ("2024-01-10".."2024-01-12") plans from
    // the manifests' epoch-day partition structs alone; and a decoy
    // parquet planted in the tree proves directory listing is never
    // consulted. At 100 TB the pruned read is the shape that matters:
    // three days of a 3-year table list three days' files.
    (s, dir) => {
      val tmp = scratchDir("ibtrans")
      val src = T(s, dir, "events").filter(col("event_type") === "click")
        .select(col("ts").as("time"), col("value"))
      // one file per day: repartition by the derived day so each
      // partitionBy directory is a single part file
      src.withColumn("ts_day", date_format(col("time"), "yyyy-MM-dd"))
        .repartition(col("ts_day"))
        .write.partitionBy("ts_day").parquet(s"$tmp/ib")
      graft.store.IcebergBridge.writeTable(s, s"$tmp/ib", "transfix",
        spec = Seq(graft.store.IcebergBridge.SpecCol("ts_day", "day", "time")))
      // decoy: unreferenced parquet inside the tree — invisible to a
      // manifest-driven reader, fatal to a directory-listing one
      src.limit(5).write.parquet(s"$tmp/ib/ts_day=9999-12-31")
      val full = graft.store.IcebergBridge.read(s, s"$tmp/ib")
        .select(lit("full").as("side"), col("time"), col("value"))
      val pruned = graft.store.IcebergBridge.readWhere(s, s"$tmp/ib",
        pv => pv("ts_day") >= "2024-01-10" && pv("ts_day") <= "2024-01-12")
        .select(lit("pruned").as("side"), col("time"), col("value"))
      full.unionByName(pruned)
    },
    Some("""WITH d AS (SELECT ts AS time, value FROM events WHERE event_type = 'click')
           |SELECT 'full' AS side, time, value FROM d
           |UNION ALL
           |SELECT 'pruned' AS side, time, value FROM d
           |WHERE CAST(time AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'""".stripMargin))

  private val fsStoreIcebergEvolve = Q(
    "fs_store_iceberg_evolve",
    // Iceberg sync ACROSS a schema-evolution boundary (fs_store_evolve's
    // open-format leg): the table gains a `quality` column after the
    // initial export, and syncSnapshotIceberg publishes the change as a
    // new snapshot pinned to a NEW schema-id (fresh field id past
    // last-column-id, name mapping updated) — Iceberg's own evolution
    // contract. What's certified: the CURRENT snapshot reads every row
    // under the evolved schema with pre-evolution files null-filling
    // the new column, while the pre-sync snapshot id still reads under
    // ITS schema epoch (no quality column at all) — both recomputed by
    // DuckDB from raw events. Type changes refuse (the verbatim parquet
    // cannot satisfy a widened read) — spec-pinned, not gated.
    (s, dir) => {
      val tmp = scratchDir("ibevo")
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      val src = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("value"))
      val d15 = ts("2024-01-15")
      st.save("ev", src.filter(col("time") < d15))
      st.exportSnapshotIceberg("ev", s"$tmp/iceberg") // snapshot 1, schema 0
      val snap1 = graft.store.IcebergBridge.currentSnapshotId(s, s"$tmp/iceberg")
      st.evolveSchema("ev", st.tableSchema("ev").get
        .add("quality", org.apache.spark.sql.types.DoubleType))
      st.save("ev", src.filter(col("time") >= d15)
        .withColumn("quality", col("value") * 0.5))
      st.syncSnapshotIceberg("ev", s"$tmp/iceberg") // snapshot 2, schema 1
      val latest = graft.store.IcebergBridge.read(s, s"$tmp/iceberg")
        .select(lit("latest").as("snap"), col("time"), col("value"), col("quality"))
      val old = graft.store.IcebergBridge.readSnapshot(s, s"$tmp/iceberg", snap1)
        .select(lit("v1").as("snap"), col("time"), col("value"),
          lit(null).cast("double").as("quality"))
      latest.unionByName(old)
    },
    Some("""WITH d AS (SELECT ts AS time, value FROM events WHERE event_type = 'purchase')
           |SELECT 'latest' AS snap, time, value,
           |       CASE WHEN time >= TIMESTAMP '2024-01-15' THEN value * 0.5 END AS quality
           |FROM d
           |UNION ALL
           |SELECT 'v1' AS snap, time, value, NULL AS quality FROM d
           |WHERE time < TIMESTAMP '2024-01-15'""".stripMargin))

  private val fsIcebergPosDelete = Q(
    "fs_iceberg_posdelete",
    // Iceberg v2 POSITION deletes — the merge-on-read row-delete shape
    // (the bridge's largest former refuse case): a delete snapshot
    // commits one sorted (file_path, pos) parquet + one DELETE
    // manifest and touches ZERO data bytes; the read drops the dead
    // ordinals via one left-anti join on (_metadata.file_path,
    // _metadata.row_index) gated by the spec's sequence-number rule.
    // The fixture tree is written with a DETERMINISTIC within-file
    // order (sorted by time, event_id per day, one file per day), so
    // "delete every 3rd position of every file" is exactly DuckDB's
    // row_number()-derived predicate — any drift in ordinal
    // accounting (row-group offsets, scan ordering, the anti-join
    // key form) hash-fails. At 100 TB this is why row deletes cost
    // O(deleted rows), not O(rewritten files).
    (s, dir) => {
      val tmp = scratchDir("ibpd")
      val src = T(s, dir, "events").filter(col("event_type") === "click")
        .select(col("ts").as("time"), col("value"), col("event_id"))
      src.withColumn("d", date_format(col("time"), "yyyy-MM-dd"))
        .repartition(col("d"))
        .sortWithinPartitions("d", "time", "event_id")
        .write.partitionBy("d").parquet(s"$tmp/ib")
      graft.store.IcebergBridge.writeTable(s, s"$tmp/ib", "pdfix")
      // every 3rd position of every file (day = file by construction)
      val counts = src.groupBy(date_format(col("time"), "yyyy-MM-dd").as("d"))
        .count().collect().map(r => r.getString(0) -> r.getLong(1))
      def relOf(day: String): String = {
        import scala.jdk.CollectionConverters._
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/ib/d=$day"))
        try s"d=$day/" + l.iterator().asScala
          .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
        finally l.close()
      }
      val dels = counts.toSeq.flatMap { case (day, n) =>
        val rel = relOf(day)
        (0L until n by 3).map(p => rel -> p)
      }
      graft.store.IcebergBridge.appendPositionDeletes(s, s"$tmp/ib", dels)
      graft.store.IcebergBridge.read(s, s"$tmp/ib")
        .select(col("time"), col("value"), col("d").as("day"))
    },
    Some("""WITH d AS (SELECT ts AS time, value, event_id,
           |                  strftime(ts, '%Y-%m-%d') AS day
           |           FROM events WHERE event_type = 'click'),
           |r AS (SELECT *, row_number() OVER (PARTITION BY day ORDER BY time, event_id) - 1 AS pos
           |      FROM d)
           |SELECT time, value, day FROM r WHERE pos % 3 <> 0""".stripMargin))

  private val fsIcebergEqDelete = Q(
    "fs_iceberg_eqdelete",
    // Iceberg v2 EQUALITY deletes — the CDC delete shape (Flink
    // writers): a delete snapshot commits one parquet of KEY VALUES +
    // one DELETE manifest carrying the equality field ids, touching
    // zero data bytes; on read every data row whose key null-safe-
    // equals a delete row dies, but only for data files with sequence
    // STRICTLY below the delete's (the spec's rule — a key re-inserted
    // after the delete survives). Here the key is event_id and the
    // kill set is every id divisible by 5 — DuckDB recomputes the
    // survivor set directly from events, so a drift in key matching,
    // null semantics or sequence gating hash-fails.
    (s, dir) => {
      val tmp = scratchDir("ibeq")
      val src = T(s, dir, "events").filter(col("event_type") === "view")
        .select(col("ts").as("time"), col("value"), col("event_id"))
      src.withColumn("d", date_format(col("time"), "yyyy-MM-dd"))
        .repartition(col("d"))
        .write.partitionBy("d").parquet(s"$tmp/ib")
      graft.store.IcebergBridge.writeTable(s, s"$tmp/ib", "eqfix")
      val dead = src.filter(col("event_id") % 5 === 0).select(col("event_id"))
      graft.store.IcebergBridge.appendEqualityDeletes(
        s, s"$tmp/ib", dead, Seq("event_id"))
      graft.store.IcebergBridge.read(s, s"$tmp/ib")
        .select(col("time"), col("value"), col("d").as("day"))
    },
    Some("""SELECT ts AS time, value, strftime(ts, '%Y-%m-%d') AS day
           |FROM events WHERE event_type = 'view' AND event_id % 5 <> 0""".stripMargin))

  private val fsIcebergCompact = Q(
    "fs_iceberg_compact",
    // COMPACTION closes the merge-on-read loop: a CDC-maintained
    // table accumulates position + equality delete files (cheap
    // commits, read-side anti-join cost), then compactDeletes
    // rewrites exactly the AFFECTED data files with the deletes
    // applied and publishes a data-only snapshot — after which the
    // sync writer (appendSnapshot) works again. The gate drives the
    // full managed-table lifecycle: deterministic day tree →
    // writeTable → position deletes (every 3rd ordinal per file) →
    // equality deletes (event_id % 7) → compact → a post-compaction
    // sync appending the later days → read. DuckDB recomputes the
    // survivor set from raw events, so any drift in the rewrite
    // (deletes half-applied, rows duplicated across the rewritten /
    // carried file split, delete manifests leaking into the new
    // snapshot) hash-fails. At 100 TB compaction moves bytes
    // proportional to the affected files once — never the table.
    (s, dir) => {
      val tmp = scratchDir("ibcmp")
      val d15 = "2024-01-15"
      val src = T(s, dir, "events").filter(col("event_type") === "view")
        .select(col("ts").as("time"), col("value"), col("event_id"))
        .withColumn("d", date_format(col("time"), "yyyy-MM-dd"))
      src.filter(col("d") < d15)
        .repartition(col("d"))
        .sortWithinPartitions("d", "time", "event_id")
        .write.partitionBy("d").parquet(s"$tmp/ib")
      graft.store.IcebergBridge.writeTable(s, s"$tmp/ib", "cmpfix")
      import scala.jdk.CollectionConverters._
      def partFileIn(dirPath: java.nio.file.Path): java.nio.file.Path = {
        val l = java.nio.file.Files.list(dirPath)
        try l.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        finally l.close()
      }
      // every 3rd ordinal of every initial day file
      val counts = src.filter(col("d") < d15).groupBy("d")
        .count().collect().map(r => r.getString(0) -> r.getLong(1))
      val dels = counts.toSeq.flatMap { case (day, n) =>
        val rel = s"d=$day/" +
          partFileIn(java.nio.file.Paths.get(s"$tmp/ib/d=$day")).getFileName
        (0L until n by 3).map(p => rel -> p)
      }
      graft.store.IcebergBridge.appendPositionDeletes(s, s"$tmp/ib", dels)
      graft.store.IcebergBridge.appendEqualityDeletes(s, s"$tmp/ib",
        src.filter(col("event_id") % 7 === 0).select("event_id"), Seq("event_id"))
      graft.store.IcebergBridge.compactDeletes(s, s"$tmp/ib")
      // post-compaction sync: the later days land as plain adds
      src.filter(col("d") >= d15)
        .repartition(col("d"))
        .write.partitionBy("d").parquet(s"$tmp/stage")
      val stage = java.nio.file.Paths.get(s"$tmp/stage")
      val ls = java.nio.file.Files.list(stage)
      val newRels = try ls.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.startsWith("d="))
        .sortBy(_.getFileName.toString).map { dayDir =>
          val day = dayDir.getFileName.toString
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(s"$tmp/ib/$day"))
          val tgt = java.nio.file.Paths.get(s"$tmp/ib/$day/sync-0.parquet")
          java.nio.file.Files.move(partFileIn(dayDir), tgt)
          s"$day/sync-0.parquet"
        }
      finally ls.close()
      graft.store.IcebergBridge.appendSnapshot(s, s"$tmp/ib", newRels, Nil)
      graft.store.IcebergBridge.read(s, s"$tmp/ib")
        .select(col("time"), col("value"), col("d").as("day"))
    },
    Some("""WITH d AS (SELECT ts AS time, value, event_id,
           |                  strftime(ts, '%Y-%m-%d') AS day
           |           FROM events WHERE event_type = 'view'),
           |r AS (SELECT *, row_number() OVER (PARTITION BY day ORDER BY time, event_id) - 1 AS pos
           |      FROM d WHERE day < '2024-01-15')
           |SELECT time, value, day FROM r WHERE pos % 3 <> 0 AND event_id % 7 <> 0
           |UNION ALL
           |SELECT time, value, day FROM d WHERE day >= '2024-01-15'""".stripMargin))

  private val fsDeltaColmap = Q(
    "fs_delta_colmap",
    // Name-mode column mapping is the DEFAULT on current Databricks
    // writers: the Delta schemaString keeps LOGICAL names while the
    // parquet columns and the log's partitionValues keys use physical
    // "col-N" names from schema field metadata — a reader ignoring the
    // mapping returns all-null columns. The gate hand-builds such a
    // log (protocol v2, mode=name) over day-partitioned files whose
    // physical columns are renamed, then reads STRICTLY through it:
    // logical names out, values scanned from the physical columns,
    // the partition column mapped back from physical-keyed
    // partitionValues, plus a readWhere prune addressed by LOGICAL
    // name — all certified against the raw events recomputation.
    (s, dir) => {
      val tmp = scratchDir("dlcm")
      val src = T(s, dir, "events").filter(col("event_type") === "view")
        .select(col("ts").as("time"), col("value"))
      src.withColumn("d", date_format(col("time"), "yyyy-MM-dd"))
        .select(col("time").as("col-1"), col("value").as("col-2"), col("d"))
        .repartition(col("d"))
        .write.partitionBy("d").parquet(s"$tmp/t")
      val hc = s.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(s"$tmp/t")
      val hfs = root.getFileSystem(hc)
      val rootUri = hfs.makeQualified(root).toUri.getPath.stripSuffix("/")
      val files = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = hfs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        if (rel.endsWith(".parquet") && !st.getPath.getName.startsWith("_"))
          files += rel
      }
      import org.apache.spark.sql.types._
      def m(id: Long, phys: String) = new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build()
      val schemaJson = StructType(Seq(
        StructField("time", TimestampType, nullable = true, m(1, "col-1")),
        StructField("value", DoubleType, nullable = true, m(2, "col-2")),
        StructField("day", StringType, nullable = true, m(3, "d"))))
        .json.replace("\\", "\\\\").replace("\"", "\\\"")
      val adds = files.sorted.map { rel =>
        val day = rel.split('/').head.stripPrefix("d=")
        s"""{"add":{"path":"$rel","partitionValues":{"d":"$day"},"size":1,"modificationTime":1,"dataChange":true}}"""
      }
      val lines = Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"cmfix","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["day"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"},"createdTime":1}}""") ++ adds
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$tmp/t/_delta_log"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/t/_delta_log/00000000000000000000.json"),
        lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val full = graft.store.DeltaBridge.read(s, s"$tmp/t")
        .select(lit("full").as("side"), col("time"), col("value"), col("day"))
      val pruned = graft.store.DeltaBridge.readWhere(s, s"$tmp/t",
        pv => pv("day") >= "2024-01-10" && pv("day") <= "2024-01-12")
        .select(lit("pruned").as("side"), col("time"), col("value"), col("day"))
      full.unionByName(pruned)
    },
    Some("""WITH d AS (SELECT ts AS time, value, strftime(ts, '%Y-%m-%d') AS day
           |           FROM events WHERE event_type = 'view')
           |SELECT 'full' AS side, time, value, day FROM d
           |UNION ALL
           |SELECT 'pruned' AS side, time, value, day FROM d
           |WHERE day BETWEEN '2024-01-10' AND '2024-01-12'""".stripMargin))

  private val fsDeltaDv = Q(
    "fs_delta_dv",
    // Delta DELETION VECTORS — default-on for new Databricks tables,
    // so the single most likely day-one refusal a real Delta user
    // hits: an `add` carries a bitmap of dead PHYSICAL row indexes
    // (inline z85 text in the log, or a sidecar .bin file), and the
    // read decodes the public z85 + portable-roaring formats on
    // EXECUTORS and drops the dead ordinals via one left-anti join on
    // (_metadata.file_path, _metadata.row_index) — the same plan
    // shape as Iceberg position deletes, O(deleted rows) at 100 TB.
    // The fixture tree has DETERMINISTIC within-file order (one file
    // per day, sorted by time, event_id); days alternate inline vs
    // on-disk vectors killing every 4th position, so the survivor set
    // is exactly DuckDB's row_number()-derived predicate — any drift
    // in bitmap decode, z85 padding, sidecar framing, ordinal
    // accounting or the anti-join key form hash-fails.
    (s, dir) => {
      val tmp = scratchDir("dldv")
      val src = T(s, dir, "events").filter(col("event_type") === "click")
        .select(col("ts").as("time"), col("value"), col("event_id"))
      src.withColumn("d", date_format(col("time"), "yyyy-MM-dd"))
        .repartition(col("d"))
        .sortWithinPartitions("d", "time", "event_id")
        .write.partitionBy("d").parquet(s"$tmp/t")
      val counts = src.groupBy(date_format(col("time"), "yyyy-MM-dd").as("d"))
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      def relOf(day: String): String = {
        import scala.jdk.CollectionConverters._
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/t/d=$day"))
        try s"d=$day/" + l.iterator().asScala
          .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
        finally l.close()
      }
      import graft.store.DeletionVectors
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/t/dv"))
      val adds = counts.zipWithIndex.map { case ((day, n), i) =>
        val rel = relOf(day)
        val dead = (0L until n by 4L).toSeq
        val data = DeletionVectors.serialize(dead)
        val dvJson =
          if (i % 2 == 0)
            s"""{"storageType":"i","pathOrInlineDv":"${DeletionVectors.z85Encode(data)}","sizeInBytes":${data.length},"cardinality":${dead.size}}"""
          else {
            val uuid = java.util.UUID.nameUUIDFromBytes(
              s"dv-$day".getBytes(java.nio.charset.StandardCharsets.UTF_8))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$tmp/t/dv/deletion_vector_$uuid.bin"),
              DeletionVectors.sidecarFileBytes(data))
            s"""{"storageType":"u","pathOrInlineDv":"dv/${DeletionVectors.encodeUuid(uuid)}","offset":1,"sizeInBytes":${data.length},"cardinality":${dead.size}}"""
          }
        s"""{"add":{"path":"$rel","partitionValues":{"d":"$day"},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":$dvJson}}"""
      }
      import org.apache.spark.sql.types._
      val schemaJson = StructType(Seq(
        StructField("time", TimestampType), StructField("value", DoubleType),
        StructField("event_id", LongType), StructField("d", StringType)))
        .json.replace("\\", "\\\\").replace("\"", "\\\"")
      val lines = Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        s"""{"metaData":{"id":"dvfix","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["d"],"configuration":{},"createdTime":1}}""") ++ adds
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$tmp/t/_delta_log"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/t/_delta_log/00000000000000000000.json"),
        lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.store.DeltaBridge.read(s, s"$tmp/t")
        .select(col("time"), col("value"), col("d").as("day"))
    },
    Some("""WITH d AS (SELECT ts AS time, value, event_id,
           |                  strftime(ts, '%Y-%m-%d') AS day
           |           FROM events WHERE event_type = 'click'),
           |r AS (SELECT *, row_number() OVER (PARTITION BY day ORDER BY time, event_id) - 1 AS pos
           |      FROM d)
           |SELECT time, value, day FROM r WHERE pos % 4 <> 0""".stripMargin))

  private val fsStreamDedupLsh = Q(
    "fs_stream_dedup_lsh",
    // Streaming NEAR-dedup (the 10th streaming hash gate): the batch
    // incremental dedup's banded-LSH formulation run as a STREAM —
    // band buckets live as flatMapGroupsWithState state, so a document
    // near-duplicating (trigram-digest Jaccard >= 0.5) ANY
    // earlier-ingested doc is flagged across micro-batches. The corpus
    // replays in doc_id order over 4 id-ranged micro-batches (ascending
    // mtimes; id order IS the batch rule's first-wins total order), and
    // the survivor set of the >= 400 "new" slice must hash-equal the
    // BATCH dedup_incremental oracle: stream/batch parity on the
    // survivor set, certified cross-engine. Buckets keep every seen
    // member (accepted AND dropped) because the batch rule flags a
    // match to any smaller id regardless of that doc's own fate.
    (s, dir) => {
      val tmp = scratchDir("slsh")
      val docs = T(s, dir, "documents").select(col("doc_id"),
        digestShingles(TextOps.wordShingles(toks, 3)).as("sh"))
      val srcDir = stageTimeOrderedReplay("slsh", dir, tmp, docs,
        sliceOrdinal(col("doc_id"), Seq(150L, 300L, 450L).map(lit)), sentinel = docs.limit(0))
      val flagged = replayToMemory(s, srcDir, docs.schema, OutputMode.Append())(
        graft.streaming.EventStreams.lshDedupStream(_, threshold = 0.5).toDF("doc_id", "matched"))
      // one verdict per (bucket, doc): a doc is a near-duplicate iff
      // ANY bucket flagged it — the stateless OR-reduce on the sink
      flagged.groupBy(col("doc_id"))
        .agg(max(col("matched")).as("dup"))
        .filter(col("doc_id") >= 400 && !col("dup"))
        .select(col("doc_id").cast("long").as("doc_id"))
    },
    // the BATCH incremental-dedup oracle, verbatim: stream/batch parity
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |base0 AS (SELECT doc_id, list_distinct(list_transform(list_transform(range(1, len(tk) - 1), i ->
           |           concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])), s -> substr(md5(s), 1, 12))) AS sh FROM toks),
           |base AS (SELECT * FROM base0 WHERE len(sh) > 0),
           |${lshOracleCtes("base", "sh", Nil, bands = 6, rowsPerBand = 2)},
           |dup AS (SELECT DISTINCT doc_b AS doc_id
           |        FROM cand JOIN base x ON x.doc_id = doc_a
           |                  JOIN base y ON y.doc_id = doc_b
           |        WHERE doc_b >= 400 AND ${lshVerifySql("sh")} >= 0.5)
           |SELECT CAST(b.doc_id AS BIGINT) AS doc_id FROM base b
           |WHERE b.doc_id >= 400
           |  AND b.doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin))

  private val fsStoreEvolve = Q(
    "fs_store_evolve",
    // Schema evolution on the txlog backend (the lakehouse ALTER TABLE
    // analogue of the reference's serialized drift): the table starts
    // with INT values (epoch 0), widens to DOUBLE, gains a `quality`
    // column, then takes a post-evolution append. The latest read
    // returns every row under the widened+extended schema (old files
    // upcast per epoch, missing column null) while the as-of read of
    // the pre-evolution version still sees the ORIGINAL int schema —
    // both snapshots dumped side by side and recomputed by DuckDB from
    // raw events (int truncation, widening, and the null fill all
    // re-derived cross-engine).
    (s, dir) => {
      import org.apache.spark.sql.types.DoubleType
      val tmp = scratchDir("evolve")
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      val src = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("ts").as("created_time"), col("value"))
      val d15 = ts("2024-01-15")
      st.save("ev", src.filter(col("time") < d15)
        .withColumn("value", col("value").cast("int")))
      val vInt = st.tableVersion("ev")
      st.evolveValueType("ev", DoubleType)
      st.evolveSchema("ev", st.tableSchema("ev").get.add("quality", DoubleType))
      st.save("ev", src.filter(col("time") >= d15)
        .withColumn("quality", col("value") * 0.5))
      val latest = st.read("ev")
      val old = st.read("ev", asOfVersion = Some(vInt))
      latest.select(lit("latest").as("snap"), col("time"),
          col("value"), col("quality"))
        .unionByName(old.select(lit("v0").as("snap"), col("time"),
          col("value").cast("double").as("value"),
          lit(null).cast("double").as("quality")))
    },
    Some("""WITH p AS (SELECT ts AS time, value FROM events WHERE event_type = 'purchase'),
           |a AS (SELECT time, CAST(CAST(trunc(value) AS INTEGER) AS DOUBLE) AS value
           |      FROM p WHERE time < TIMESTAMP '2024-01-15'),
           |b AS (SELECT time, value, value * 0.5 AS quality
           |      FROM p WHERE time >= TIMESTAMP '2024-01-15')
           |SELECT 'latest' AS snap, time, value, CAST(NULL AS DOUBLE) AS quality FROM a
           |UNION ALL SELECT 'latest', time, value, quality FROM b
           |UNION ALL SELECT 'v0', time, value, CAST(NULL AS DOUBLE) FROM a""".stripMargin))

  private val fsStoreCheck = Q(
    "fs_store_check",
    // Table CHECK constraints under the oracle gate (the Delta
    // ALTER TABLE ADD CONSTRAINT idea): a positivity constraint is
    // declared on the table, a conforming batch lands, a VIOLATING
    // batch is rejected before anything becomes visible (caught here —
    // the write-path contract), and a second conforming batch proves
    // the table stayed writable. The final read must hash-equal the
    // two accepted batches exactly: a leaked violating row, a torn
    // reject, or a wrongly-blocked good batch all hash red. NULL
    // checks count as violations (the data-pipeline reading of CHECK).
    (s, dir) => {
      val tmp = scratchDir("check")
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      val p = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("ts").as("created_time"),
          abs(col("value")).as("value"))
      st.addCheck("c", "positive_value", "value >= 0")
      st.save("c", p.filter(col("time") < ts("2024-01-15")))
      val rejected =
        try { st.save("c", p.withColumn("value", -col("value") - 1)); false }
        catch { case e: IllegalArgumentException => e.getMessage.contains("positive_value") }
      require(rejected, "the violating batch must be rejected by name")
      st.save("c", p.filter(col("time") >= ts("2024-01-15")))
      st.read("c")
    },
    Some("""SELECT ts AS time, ts AS created_time, abs(value) AS value FROM events
           |WHERE event_type = 'purchase'""".stripMargin))

  private val fsStoreRestore = Q(
    "fs_store_restore",
    // Lakehouse RESTORE under the oracle gate — the undo button: the
    // purchase series is saved, a window is transactionally DELETED
    // (a "bad" erasure), then restore() rolls the table back to the
    // pre-delete version as a NEW commit re-referencing the ORIGINAL
    // bytes (nothing rewritten, the rollback itself time-travelable).
    // The post-restore read must equal DuckDB's plain projection of
    // ALL purchases — a leftover deletion or a dangling re-add hashes
    // red. Scale: restore is pure log metadata (one commit of
    // adds/removes), O(files), zero data IO.
    (s, dir) => {
      val tmp = scratchDir("restore")
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      val p = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("ts").as("created_time"), col("value"))
      st.save("r", p)
      val vGood = st.tableVersion("r")
      st.deleteWhere("r",
        col("time") >= ts("2024-01-10") && col("time") < ts("2024-01-20"))
      st.restore("r", vGood)
      st.read("r")
    },
    Some("""SELECT ts AS time, ts AS created_time, value FROM events
           |WHERE event_type = 'purchase'""".stripMargin))

  private val fsStoreMerge = Q(
    "fs_store_merge",
    // Lakehouse MERGE INTO (physical upsert) under the oracle gate: the
    // purchase series is saved whole, then a source batch REPLACES the
    // Jan-10..20 window (values doubled) and INSERTS never-seen times
    // (+60 days), all in one retire+publish commit that rewrites only
    // the files containing matched times. The post-merge table must
    // equal DuckDB's direct recomputation: target rows whose time the
    // source never mentions, plus the source rows — every stored
    // generation of a matched time collapses to the source's.
    (s, dir) => {
      val tmp = scratchDir("merge")
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      val p = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("ts").as("created_time"), col("value"))
      st.save("m", p)
      val lo = ts("2024-01-10")
      val hi = ts("2024-01-20")
      val src = p.filter(col("time") >= lo && col("time") < hi)
        .select(col("time"), col("created_time"), (col("value") * 2).as("value"))
        .unionByName(p.filter(col("time") < ts("2024-01-05"))
          .select((col("time") + expr("INTERVAL 60 DAYS")).as("time"),
            col("created_time"), (col("value") + 1000).as("value")))
      st.mergeInto("m", src)
      st.read("m")
    },
    Some("""WITH p AS (SELECT ts AS time, ts AS created_time, value FROM events
           |           WHERE event_type = 'purchase'),
           |src AS (
           |  SELECT time, created_time, value * 2 AS value FROM p
           |  WHERE time >= TIMESTAMP '2024-01-10' AND time < TIMESTAMP '2024-01-20'
           |  UNION ALL
           |  SELECT time + INTERVAL 60 DAY, created_time, value + 1000 FROM p
           |  WHERE time < TIMESTAMP '2024-01-05')
           |SELECT time, created_time, value FROM p
           |WHERE time NOT IN (SELECT time FROM src)
           |UNION ALL
           |SELECT time, created_time, value FROM src""".stripMargin))

  private val fsStreamSink = Q(
    "fs_stream_sink",
    // §2.10 streaming under the oracle gate (previously spec-only): the
    // purchase series is staged as a 4-file parquet directory, then
    // DRIVEN AS A STREAM — the replay splits it into 4 real
    // micro-batches, each normalized by the SAME
    // normalizer as the batch writer and committed atomically through
    // TimeseriesStore.writeTx with a `<streamId>#<batchId>` txn tag
    // (the foreachBatch + SetTransaction exactly-once pattern). The
    // read-back goes through the full facade (snapshot read -> dedup ->
    // resample), and the oracle is the BATCH-equivalent SQL — identical
    // to fs_store_roundtrip's — so any stream/batch semantics drift
    // (normalization, partitioning, torn or doubled batches) hashes red.
    (s, dir) => {
      val tmp = scratchDir("ssink")
      // events.parquet is TIMESTAMP(NANOS), which the streaming parquet
      // source rejects like the batch one; stage through Tables (ns→µs)
      // into plain µs parquet and stream from that.
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("st", s"$tmp/warehouse", backend = "txlog")
      fs.createFeature("st/purchase")
      val nsObj = fs.catalog.getNamespace("st").get
      replay(s, srcDir, evSchema)(in => graft.streaming.EventStreams.featureSinkTx(
        in.filter(col("event_type") === "purchase").select(col("ts").as("time"), col("value")),
        fs.store(nsObj), "purchase", checkpointDir = s"$tmp/ckpt", streamId = "ssink"))
      fs.loadDataFrame(Seq("st/purchase"),
          fromDate = Some(jts("2024-01-01")), toDate = Some(jts("2024-01-30")),
          freq = Some("1d"))
        .withColumnRenamed("st/purchase", "value")
    },
    Some("""WITH data AS (SELECT ts AS time, value FROM events WHERE event_type = 'purchase'),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
           |                 TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS time)
           |SELECT g.time, d.value FROM grid g ASOF LEFT JOIN data d ON d.time <= g.time""".stripMargin))

  private val fsStreamDelta = Q(
    "fs_stream_delta",
    // The 22nd streaming certification closes the round's loop: a LIVE
    // stream publishes continuously to the OPEN format. Two micro-batch
    // txns land through the exactly-once sink, the snapshot exports as
    // a Delta table, the SAME stream (same checkpoint) resumes over two
    // later-arriving files, and syncSnapshotDelta publishes the new
    // txlog commits as ONE incremental Delta commit (checkpointEvery=1,
    // so the read-back seeds from the parquet checkpoint). What hashes
    // red: a torn/doubled batch at the sink (exactly-once drift), a
    // sync diff that misses or resurrects files, and any checkpoint
    // round-trip loss. This is the production shape end-to-end —
    // stream -> ACID table -> periodic open-format publication — with
    // each leg already certified alone (fs_stream_sink,
    // fs_store_export_delta, fs_store_delta_sync); this gate certifies
    // the COMPOSITION, where the failure modes live at the seams.
    (s, dir) => {
      val tmp = scratchDir("sdelta")
      val src = T(s, dir, "events").filter(col("event_type") === "click")
        .select(col("ts").as("time"), col("value"))
      val early = src.filter(col("time") < ts("2024-01-16"))
      val late = src.filter(col("time") >= ts("2024-01-16"))
      val sdir = s"$tmp/stream_src"
      // time-ranged halves (r19, the stagedEventsWide rationale): each
      // micro-batch appends a contiguous ~week instead of scattering
      // over the full half-month — fewer files per commit, same rows
      early.repartitionByRange(2, col("time")).write.parquet(sdir)
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      def drain(): Unit = replay(s, sdir, src.schema)(graft.streaming.EventStreams
        .featureSinkTx(_, st, "clicks", checkpointDir = s"$tmp/ckpt", streamId = "sdelta"))
      drain() // batches 0-1: the early files
      st.exportSnapshotDelta("clicks", s"$tmp/delta") // Delta v0
      late.repartitionByRange(2, col("time")).write.mode("append").parquet(sdir)
      drain() // the SAME checkpoint resumes over the 2 new files
      st.syncSnapshotDelta("clicks", s"$tmp/delta", checkpointEvery = 1) // Delta v1 + ckpt
      graft.store.DeltaBridge.read(s, s"$tmp/delta")
        .select(col("time"), col("value"), col("partition"))
    },
    Some("""SELECT ts AS time, value, strftime(ts, '%Y-%m-%d') AS partition
           |FROM events WHERE event_type = 'click'""".stripMargin))

  private val fsStreamIceberg = Q(
    "fs_stream_iceberg",
    // The 26th streaming certification — fs_stream_delta's Iceberg
    // twin: a LIVE stream publishes continuously to the SECOND open
    // format. Two micro-batch txns land through the exactly-once sink,
    // the snapshot exports as an Iceberg v2 table, the SAME stream
    // (same checkpoint) resumes over two later-arriving files, and
    // syncSnapshotIceberg publishes the new txlog commits as ONE new
    // Iceberg snapshot (fresh single manifest, v2 sequence
    // inheritance). What hashes red: a torn/doubled batch at the sink,
    // a sync diff that misses or resurrects files, a manifest set that
    // disagrees with the live txlog state. Both legs are certified
    // alone (fs_stream_sink, fs_store_export_iceberg,
    // fs_store_iceberg_sync); this certifies the COMPOSITION — the
    // stream -> ACID table -> Iceberg-warehouse publication pipeline a
    // Trino/Snowflake shop runs end-to-end.
    (s, dir) => {
      val tmp = scratchDir("sib")
      val src = T(s, dir, "events").filter(col("event_type") === "error")
        .select(col("ts").as("time"), col("value"))
      val early = src.filter(col("time") < ts("2024-01-16"))
      val late = src.filter(col("time") >= ts("2024-01-16"))
      val sdir = s"$tmp/stream_src"
      // time-ranged halves — see fs_stream_delta
      early.repartitionByRange(2, col("time")).write.parquet(sdir)
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      def drain(): Unit = replay(s, sdir, src.schema)(graft.streaming.EventStreams
        .featureSinkTx(_, st, "errors", checkpointDir = s"$tmp/ckpt", streamId = "sib"))
      drain() // batches 0-1: the early files
      st.exportSnapshotIceberg("errors", s"$tmp/iceberg") // snapshot 1
      late.repartitionByRange(2, col("time")).write.mode("append").parquet(sdir)
      drain() // the SAME checkpoint resumes over the 2 new files
      st.syncSnapshotIceberg("errors", s"$tmp/iceberg") // snapshot 2
      graft.store.IcebergBridge.read(s, s"$tmp/iceberg")
        .select(col("time"), col("value"), col("partition"))
    },
    Some("""SELECT ts AS time, value, strftime(ts, '%Y-%m-%d') AS partition
           |FROM events WHERE event_type = 'error'""".stripMargin))

  private val fsStreamWindow = Q(
    "fs_stream_window",
    // §2.10's stateful side under the oracle gate: the events table is
    // staged as 4 files and driven as 4 REAL micro-batches through
    // EventStreams.windowedStats (tumbling 1h windows, the watermarked
    // streaming agg) in Complete mode into a memory sink — the mode
    // where the final table must equal the batch GROUP BY exactly, so
    // the DuckDB oracle is the plain hourly aggregate. What this hashes
    // red: window boundary drift (epoch alignment vs date_trunc),
    // cross-micro-batch state merge errors, and any decimal-sum drift
    // between the streaming and batch agg paths. The memory sink is the
    // CORRECTNESS harness only — the scale sink is fs_stream_sink's
    // txlog path; Complete mode on an unbounded stream would be wrong
    // at 100 TB by construction.
    (s, dir) => {
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      replayToMemory(s, srcDir, evSchema, OutputMode.Complete())(in =>
        graft.streaming.EventStreams.windowedStats(
          in.select(col("ts"), col("event_type"), col("value")), "1 hour"))
    },
    Some("""SELECT date_trunc('hour', ts) AS window_start,
           |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           |       event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM events GROUP BY 1, 2, 3""".stripMargin))

  private val fsStreamWindowWm = Q(
    "fs_stream_window_wm",
    // The PRODUCTION windowed-aggregation configuration: watermarked
    // Append mode — windows are EMITTED ONCE when the watermark passes
    // their end and their state is evicted, the only mode that runs
    // unbounded. fs_stream_window certifies the Complete-mode final
    // table; this certifies the eviction/finalization path of the
    // tumbling-window exec (a DIFFERENT state machine than
    // session_window's merge — both production forms now gate). Same
    // replay discipline as fs_stream_session_wm (time-ordered slices +
    // a sentinel advancing the final watermark past every real
    // window's end); the sentinel's own window can never finalize and
    // is never emitted, so the Append output must equal the batch
    // hourly GROUP BY exactly — a dropped-late row, an unevicted
    // window, or a double emission all hash red.
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("swinwm")
      val src = T(s, dir, "events").select(col("ts"), col("event_type"), col("value"))
      val sentinel = Seq((
        java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")),
        "__sentinel", 0.0)).toDF("ts", "event_type", "value")
      val srcDir = stageTimeOrderedReplay("swinwm", dir, tmp, src, weeklySlice, sentinel)
      replayToMemory(s, srcDir, src.schema, OutputMode.Append())(
        graft.streaming.EventStreams.windowedStats(_, "1 hour"))
    },
    Some("""SELECT date_trunc('hour', ts) AS window_start,
           |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           |       event_type,
           |       CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM events GROUP BY 1, 2, 3""".stripMargin))

  private val fsStreamM4 = Q(
    "fs_stream_m4",
    // §2.10, 25th streaming certification: LIVE M4 envelope
    // downsampling (EventStreams.m4Stream) — the streaming twin of
    // fs_downsample_m4, per-day first/last/min/max struct extremes
    // aggregated incrementally across four time-ordered micro-batches,
    // watermarked Append so each day's envelope emits exactly once on
    // finalization (the unbounded-dashboard configuration). The oracle
    // is the batch four-rank formulation; a late-dropped row, a tie
    // resolved off the struct order, or a double-emitted window all
    // hash red.
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("sm4")
      val src = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts"), col("value"))
      val sentinel = Seq((
        java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")),
        0.0)).toDF("ts", "value")
      val srcDir = stageTimeOrderedReplay("sm4", dir, tmp, src, weeklySlice, sentinel)
      replayToMemory(s, srcDir, src.schema, OutputMode.Append())(
        graft.streaming.EventStreams.m4Stream(_,
          timeCol = "ts", valueCol = "value", windowDur = "1 day", watermarkDelay = "1 hour"))
    },
    Some("""WITH ev AS (SELECT date_trunc('day', ts) AS w, epoch_us(ts) AS tu, value AS v
           |            FROM events WHERE event_type = 'purchase'),
           |r AS (SELECT w, tu, v,
           |    row_number() OVER (PARTITION BY w ORDER BY tu, v) AS rf,
           |    row_number() OVER (PARTITION BY w ORDER BY tu DESC, v DESC) AS rl,
           |    row_number() OVER (PARTITION BY w ORDER BY v, tu) AS rmn,
           |    row_number() OVER (PARTITION BY w ORDER BY v DESC, tu DESC) AS rmx
           |  FROM ev)
           |SELECT w AS window_start, w + INTERVAL 1 DAY AS window_end,
           |  max(CASE WHEN rf = 1 THEN make_timestamp(tu) END) AS first_ts,
           |  max(CASE WHEN rf = 1 THEN v END) AS first_v,
           |  max(CASE WHEN rl = 1 THEN make_timestamp(tu) END) AS last_ts,
           |  max(CASE WHEN rl = 1 THEN v END) AS last_v,
           |  max(CASE WHEN rmn = 1 THEN v END) AS min_v,
           |  max(CASE WHEN rmx = 1 THEN v END) AS max_v
           |FROM r GROUP BY 1""".stripMargin))

  private val fsStreamSession = Q(
    "fs_stream_session",
    // §2.10's session-window path — the hardest stateful code: sessions
    // MERGE across micro-batches (an early batch's open session and a
    // later batch's events union into one window). 4 real micro-batches
    // through EventStreams.sessionStats (30-min gap) in Complete mode;
    // the oracle is the batch gap-sessionization (q_sessionize's
    // kernel) rolled up per session. Boundary doctrine measured, not
    // assumed (StreamingSpec): an exactly-gap pause still merges, so
    // the oracle cuts with the same strict `>` as the batch kernel, and
    // session_end = last event + gap. No watermark here — the staged
    // files aren't time-ordered, and the session exec (unlike plain
    // windowed aggs in Complete mode) drops rows older than the
    // watermark in every output mode, which would silently lose ~half
    // the events (measured). Complete + memory sink + unbounded state
    // is the correctness harness; production session stats keep the
    // watermark and run Append.
    (s, dir) => {
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      replayToMemory(s, srcDir, evSchema, OutputMode.Complete())(in =>
        graft.streaming.EventStreams.sessionStats(
          in.select(col("ts"), col("user_id"), col("value")), "30 minutes", watermark = None))
    },
    Some("""WITH g AS (SELECT user_id, ts, event_id, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |              OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
           |         THEN 1 ELSE 0 END AS is_new
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |s AS (SELECT user_id, ts, value,
           |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_idx
           |  FROM g)
           |SELECT min(ts) AS session_start,
           |  max(ts) + INTERVAL 30 MINUTE AS session_end,
           |  user_id,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM s GROUP BY user_id, session_idx""".stripMargin))

  private val fsStreamSessionWm = Q(
    "fs_stream_session_wm",
    // The PRODUCTION streaming-session configuration under the oracle
    // gate: watermarked state eviction + Append mode — the form a real
    // deployment runs. fs_stream_session certifies the un-watermarked
    // Complete-mode replay doctrine; this entry certifies the eviction
    // path end-to-end. Two staging rules make a finite replay safe
    // under a watermark: (1) the replay is staged in TIME ORDER — four
    // calendar slices moved into the source dir with strictly ascending
    // mod times, so FileStreamSource replays them oldest-first and the
    // 10-minute watermark never classifies a replayed row late
    // (session_window DROPS watermark-late rows in every output mode);
    // (2) a final sentinel batch (user_id -1, a month past the corpus)
    // advances the watermark beyond every real session's end, so Append
    // emits ALL finalized sessions and evicts their state. The
    // sentinel's own session (end = sentinel + gap > final watermark =
    // sentinel - 10min) can never finalize and is never emitted — the
    // result is exactly the batch sessionization, same oracle as
    // fs_stream_session, with NO filter on the output: if eviction or
    // late-drop semantics drift, rows go missing (or the sentinel
    // appears) and the hash goes red.
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("ssesswm")
      val src = T(s, dir, "events").select(col("ts"), col("user_id"), col("value"))
      val sentinel = Seq((
        java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")),
        -1L, 0.0)).toDF("ts", "user_id", "value")
      val srcDir = stageTimeOrderedReplay("ssesswm", dir, tmp, src, weeklySlice, sentinel)
      replayToMemory(s, srcDir, src.schema, OutputMode.Append())(
        graft.streaming.EventStreams.sessionStats(_, "30 minutes", watermark = Some("10 minutes")))
    },
    Some("""WITH g AS (SELECT user_id, ts, event_id, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |              OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
           |         THEN 1 ELSE 0 END AS is_new
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |s AS (SELECT user_id, ts, value,
           |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_idx
           |  FROM g)
           |SELECT min(ts) AS session_start,
           |  max(ts) + INTERVAL 30 MINUTE AS session_end,
           |  user_id,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM s GROUP BY user_id, session_idx""".stripMargin))

  private val fsStreamDedup = Q(
    "fs_stream_dedup",
    // §2.10's exactly-once-from-at-least-once path under the oracle
    // gate: `dedupStream` (withWatermark + dropDuplicatesWithinWatermark,
    // keyed on event_id) over a replay that REALLY re-delivers a batch —
    // one staged file is copied verbatim into the source dir with a
    // later mtime, so the stream sees every row of that file twice
    // across micro-batches, exactly the at-least-once duplication a
    // kafka-style source produces after a crash. The streaming result
    // must equal the plain batch projection (the oracle): a missing row
    // means dedup dropped a first delivery, a surplus row means the
    // re-delivery leaked through cross-batch state. The 90-day
    // watermark delay spans the whole corpus so no state evicts and no
    // row is watermark-late during the finite replay — the production
    // doctrine is delay >= the source's re-delivery horizon, exactly
    // what this configures; output rows are bit-identical duplicates,
    // so WHICH copy survives cannot affect the hash.
    (s, dir) => {
      // the deterministic 20% user slice keeps the gate's output
      // compact (the oracle slices identically)
      val src = T(s, dir, "events")
        .filter(col("user_id") % 5 === 0)
        .select(col("ts"), col("user_id"), col("event_id"), col("value"))
      val srcDir = stagedSrc("sdedup", dir) { p =>
        src.repartition(4).write.parquet(p)
        import scala.jdk.CollectionConverters._
        val root = java.nio.file.Paths.get(p)
        val listing = java.nio.file.Files.list(root)
        val part = try listing.iterator().asScala
          .filter(q => q.getFileName.toString.startsWith("part-") &&
            q.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString).head
        finally listing.close()
        val dup = root.resolve("redelivered.parquet")
        java.nio.file.Files.copy(part, dup)
        // FileStreamSource orders by mtime: the re-delivery must land
        // AFTER its original so the duplicate arrives against state a
        // previous micro-batch populated
        java.nio.file.Files.setLastModifiedTime(dup,
          java.nio.file.attribute.FileTime.fromMillis(
            java.nio.file.Files.getLastModifiedTime(part).toMillis + 60000L))
      }
      replayToMemory(s, srcDir, src.schema, OutputMode.Append())(
        graft.streaming.EventStreams.dedupStream(_, keyCols = Seq("event_id"), timeCol = "ts",
          watermark = "90 days"))
    },
    Some("""SELECT ts, user_id, event_id, value
           |FROM events WHERE user_id % 5 = 0""".stripMargin))

  private val fsStreamAttrib = Q(
    "fs_stream_attrib",
    // §2.10's stream-stream join path: clicks and purchases from the
    // same 4-micro-batch replay joined within a 1-hour horizon, Append
    // mode — an inner stream-stream join emits exactly the batch join
    // result once both sides arrive, so the oracle is the plain
    // time-bounded self-join. No watermark (the finite-replay doctrine
    // shared with fs_stream_session: staged files aren't time-ordered,
    // and eviction could drop one side's state before the other side's
    // late match lands); production attribution keeps it for bounded
    // buffers.
    (s, dir) => {
      // a deterministic 20% user slice keeps the gate's output compact
      // (the oracle slices identically); the exec + cross-batch state
      // semantics certified are the same as a full replay
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      replayToMemory(s, srcDir, evSchema, OutputMode.Append())(in =>
        graft.streaming.EventStreams.attributionJoin(
          in.filter(col("user_id") % 5 === 0)
            .select(col("ts"), col("user_id"), col("event_type"), col("value")),
          horizon = "1 hour", watermark = None))
    },
    Some("""SELECT c.user_id, c.ts AS click_ts, p.ts AS buy_ts, p.value
           |FROM events c JOIN events p
           |  ON p.user_id = c.user_id
           | AND c.event_type = 'click' AND p.event_type = 'purchase'
           | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
           |WHERE c.user_id % 5 = 0""".stripMargin))

  private val fsStreamAttribOuter = Q(
    "fs_stream_attrib_outer",
    // The PRODUCTION attribution configuration: LEFT-OUTER watermarked
    // stream-stream join in Append mode — unconverted clicks emit with
    // null purchase columns when the watermark proves the horizon
    // closed, the state-EVICTION path fs_stream_attrib (inner,
    // unwatermarked) never exercises. Same replay discipline as the
    // watermarked window gates: time-ordered weekly slices so no later
    // batch carries rows older than an earlier batch's watermark, plus
    // a sentinel batch (one far-future click + one far-future purchase
    // under DIFFERENT sentinel users, so they can never join) that
    // advances BOTH sides' watermarks past every real click's horizon
    // — forcing every surviving unmatched click out of state. The
    // Append output must then equal the batch LEFT JOIN exactly: a
    // dropped match, a premature null emission, a double emission, or
    // an unflushed click all hash red. delay (2h) >= horizon (1h)
    // keeps boundary clicks alive into the slice carrying their last
    // possible match.
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("sattro")
      val src = T(s, dir, "events")
        .filter(col("user_id") % 5 === 0)
        .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      val sentinel = Seq(
        (java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")),
          -999L, "click", 0.0),
        (java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")),
          -998L, "purchase", 0.0))
        .toDF("ts", "user_id", "event_type", "value")
      val srcDir = stageTimeOrderedReplay("sattro", dir, tmp, src, weeklySlice, sentinel)
      // the sentinel click's own horizon never closes (the watermark
      // lags delay behind it), so it is still buffered — not emitted —
      // when the replay ends; the guard filter is belt-and-braces
      replayToMemory(s, srcDir, src.schema, OutputMode.Append())(
        graft.streaming.EventStreams.attributionJoinOuter(_, horizon = "1 hour", delay = "2 hours"))
        .filter(col("user_id") >= 0)
    },
    Some("""SELECT c.user_id, c.ts AS click_ts, p.ts AS buy_ts, p.value
           |FROM events c LEFT JOIN events p
           |  ON p.user_id = c.user_id
           | AND p.event_type = 'purchase'
           | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
           |WHERE c.event_type = 'click' AND c.user_id % 5 = 0""".stripMargin))

  private val fsStreamEnrich = Q(
    "fs_stream_enrich",
    // Stream-static enrichment — the remaining join family §2.10 runs:
    // each micro-batch of the event stream broadcast-joins the STATIC
    // customer dimension (EventStreams.enrich), stateless by
    // construction — no watermark, no state store, the dimension is
    // re-resolved per batch (which is exactly how a slowly-changing
    // dim picks up updates between batches on a real stream). Append
    // output over the 4-file replay must therefore hash-equal the
    // plain batch left join. At 100 TB/day the dim side stays
    // broadcast-sized (customers, not events) and the stream side
    // never shuffles — the certification pins stream/batch parity for
    // the third join execution path (inner SS, outer SS, and now
    // stream-static).
    (s, dir) => {
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      val dim = T(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      replayToMemory(s, srcDir, evSchema, OutputMode.Append())(in =>
        graft.streaming.EventStreams.enrich(
          in.filter(col("event_type") === "purchase").select(col("ts"), col("user_id"), col("value")),
          dim, "user_id"))
    },
    Some("""SELECT e.ts, e.user_id, e.value, c.c_mktsegment
           |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
           |WHERE e.event_type = 'purchase'""".stripMargin))

  private val fsTransformDag = Q(
    "fs_transform_dag",
    // §2.9 virtual-feature transforms under the oracle gate (previously
    // spec-only): a two-level DAG — squared = raw^2, combined = raw +
    // squared, a transform consuming a transform — evaluated through
    // the facade's recursive loadSeries + alignJoin. The stored series
    // is a decimal-exact hourly mean m; the DAG closes over it with
    // double ops (m*m, then m + m*m) that are the same fixed IEEE
    // sequence in both engines, so the hash gate certifies transform
    // recursion, arg alignment, and expression evaluation end-to-end.
    (s, dir) => {
      val tmp = scratchDir("tx")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("t", s"$tmp/warehouse")
      fs.createFeature("t/raw")
      fs.saveDataFrame(
        T(s, dir, "events").filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("time"))
          .agg((sum(dec(col("value"))).cast("double") / count(lit(1))).as("value")),
        name = Some("t/raw"))
      fs.transformSql("t/squared", Seq("t/raw"), "f0 * f0")
      fs.transformSql("t/combined", Seq("t/raw", "t/squared"), "f0 + f1")
      fs.loadDataFrame(Seq("t/combined"))
        .withColumnRenamed("t/combined", "combined")
    },
    Some("""WITH m AS (SELECT date_trunc('hour', ts) AS time,
           |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS v
           |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
           |SELECT time, v + v * v AS combined FROM m""".stripMargin))

  private val fsTrainingFrame = Q(
    "fs_training_frame",
    // the feature-store MARQUEE op under the oracle gate: point-in-
    // time-correct training-set assembly through the FULL facade
    // (catalog + normalizing writer + loadSeries + align + un-keyed
    // bucketed as-of). Two features (hourly click/view means, decimal-
    // exact like q_stats_var) are written through saveDataFrame, then
    // trainingFrame attaches each feature's value AS OF every purchase
    // label's time — never a later observation. The oracle reassembles
    // the same frame with chained DuckDB ASOF JOINs over the same
    // hourly aggregates, so a leak of even one future value hashes red.
    (s, dir) => {
      val tmp = scratchDir("tf")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("tf", s"$tmp/warehouse")
      fs.createFeature("tf/clicks")
      fs.createFeature("tf/views")
      def hourly(tpe: String) =
        T(s, dir, "events").filter(col("event_type") === tpe)
          .groupBy(date_trunc("hour", col("ts")).as("time"))
          .agg((sum(dec(col("value"))).cast("double") / count(lit(1))).as("value"))
      fs.saveDataFrame(hourly("click"), name = Some("tf/clicks"))
      fs.saveDataFrame(hourly("view"), name = Some("tf/views"))
      val labels = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("event_id"))
      fs.trainingFrame(labels, Seq("tf/clicks", "tf/views"))
        .withColumnRenamed("tf/clicks", "f_clicks")
        .withColumnRenamed("tf/views", "f_views")
    },
    Some("""WITH c AS (SELECT date_trunc('hour', ts) AS time,
           |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS f_clicks
           |  FROM events WHERE event_type = 'click' GROUP BY 1),
           |v AS (SELECT date_trunc('hour', ts) AS time,
           |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS f_views
           |  FROM events WHERE event_type = 'view' GROUP BY 1),
           |lab AS (SELECT ts AS time, event_id FROM events WHERE event_type = 'purchase')
           |SELECT lab.time, lab.event_id, c.f_clicks, v.f_views
           |FROM lab ASOF LEFT JOIN c ON c.time <= lab.time
           |         ASOF LEFT JOIN v ON v.time <= lab.time""".stripMargin))

  private val qStatsVar = Q(
    "q_stats_var",
    // mean/variance from exact decimal moment sums: sums are exact in
    // both engines, the closing double arithmetic is identical IEEE ops
    (s, dir) => {
      val v = col("value").cast("decimal(18,2)")
      T(s, dir, "events").groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        (sum(v).cast("double") / count(lit(1))).as("mean"),
        // n > 1 guard: a single-row group makes the denominator 0.0 —
        // under this build's ANSI-on Spark that THROWS (not NULL!),
        // and DuckDB would yield NaN; both engines emit NULL instead
        when(count(lit(1)) > 1,
          (sum((v * v).cast("decimal(28,4)")).cast("double") * count(lit(1)) -
            sum(v).cast("double") * sum(v).cast("double")) /
            (count(lit(1)) * (count(lit(1)) - 1)).cast("double")).as("variance"))
    },
    Some("""SELECT event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean,
           |  CASE WHEN count(*) > 1 THEN
           |  (CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
           |            AS DECIMAL(28,4))) AS DOUBLE) * count(*) -
           |   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) *
           |   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)) /
           |  CAST(count(*) * (count(*) - 1) AS DOUBLE) END AS variance
           |FROM events GROUP BY 1""".stripMargin))

  // =====================================================================
  // Relational coverage: aggregation, joins, windows, set ops, top-k
  // =====================================================================

  private val q1Pricing = Q(
    "q1_pricing",
    (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("2001-06-30 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          sum(discPrice * (lit(1).cast("decimal(4,2)") + dec(col("l_tax")).cast("decimal(4,2)")))
            .cast("double").as("sum_charge"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")),
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           |           (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           |           (1 - CAST(l_discount AS DECIMAL(4,2))) *
           |           (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           |  count(*) AS count_order
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-30'
           |GROUP BY 1, 2""".stripMargin))

  private val q3Top10 = Q(
    "q3_top10",
    (s, dir) =>
      T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < ts("2000-01-01 00:00:00"))
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > ts("2000-01-01 00:00:00"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(discPrice).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10),
    Some("""SELECT o_orderkey, o_orderdate,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           |           (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE c_mktsegment = 'BUILDING'
           |  AND o_orderdate < TIMESTAMP '2000-01-01'
           |  AND l_shipdate > TIMESTAMP '2000-01-01'
           |GROUP BY 1, 2
           |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin))

  private val q5NationRev = Q(
    "q5_nation_rev",
    (s, dir) =>
      T(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(T(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
        .join(T(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
        .join(T(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("2000-01-01 00:00:00"))
        .join(T(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "supplier"),
          col("s_suppkey") === col("l_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(discPrice).cast("double").as("revenue")),
    Some("""SELECT n_name,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           |           (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
           |FROM region
           |JOIN nation ON n_regionkey = r_regionkey
           |JOIN customer ON c_nationkey = n_nationkey
           |JOIN orders ON o_custkey = c_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
           |WHERE r_name = 'ASIA'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01'
           |  AND o_orderdate < TIMESTAMP '2000-01-01'
           |GROUP BY 1""".stripMargin))

  private val qWindowRunning = Q(
    "q_window_running",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      T(s, dir, "events").select(
        col("user_id"), col("ts"),
        row_number().over(w).as("rn"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("running_sum"))
    },
    Some("""SELECT user_id, ts,
           |  row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
           |  CAST(sum(CAST(value AS DECIMAL(18,2)))
           |       OVER (PARTITION BY user_id ORDER BY ts) AS DOUBLE) AS running_sum
           |FROM events""".stripMargin))

  private val fsRollingWindow = Q(
    "fs_rolling_window",
    // time-bounded rolling features: per user, each event reads the
    // count/sum/min/max/avg of values over its trailing 2 days — the
    // feature-pipeline staple the cumulative q_window_running is not.
    // One exchange on user_id; exact decimal sum (order-independent)
    // cast back to double, avg = exact-sum / exact-count.
    (s, dir) => {
      TimeseriesOps.rollingStats(
        T(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"), col("value")),
        windowUs = 2L * 86400 * 1000000, valueCol = "value",
        keyCols = Seq("user_id"), timeCol = "ts")
    },
    Some("""SELECT user_id, ts, event_id, value,
           |  CAST(count(value) OVER w AS BIGINT) AS roll_cnt,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
           |  min(value) OVER w AS roll_min,
           |  max(value) OVER w AS roll_max,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
           |    / CAST(count(value) OVER w AS DOUBLE) AS roll_avg
           |FROM events
           |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           |  RANGE BETWEEN 172800000000 PRECEDING AND CURRENT ROW)""".stripMargin))

  private val qLagGap = Q(
    "q_lag_gap",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      T(s, dir, "events").select(
        col("user_id"), col("ts"),
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
    },
    Some("""SELECT user_id, ts,
           |  date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) AS gap_us
           |FROM events""".stripMargin))

  private val qAntiJoin = Q(
    "q_anti_join",
    // customers with NO order since 2000 — the date filter matters: every
    // customer in this testdata has SOME order, so the unfiltered anti-join
    // returns zero rows and a zero-row gate hash-matches any other empty
    // plan (it constrained nothing). The windowed form leaves a non-empty,
    // non-trivial remainder at every SF (14 @sf0.001 / 135 / 1355), so the
    // hash pins the actual null-rejecting anti-join semantics. The filter
    // sits on the BUILD side before the join — at 100 TB it prunes the
    // orders scan (partition/min-max pruning on the date column) before
    // any exchange.
    (s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "orders").filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
           |                  AND o_orderdate >= TIMESTAMP '2000-01-01')""".stripMargin))

  private val qSemiJoin = Q(
    "q_semi_join",
    (s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment"),
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
           |WHERE EXISTS (SELECT 1 FROM orders
           |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin))

  private val qSetopExcept = Q(
    "q_setop_except",
    (s, dir) => {
      val o = T(s, dir, "orders")
      o.filter(col("o_orderstatus") === "P").select("o_custkey").distinct()
        .except(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
    },
    Some("""SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'
           |EXCEPT
           |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin))

  private val qRollupOrders = Q(
    "q_rollup_orders",
    (s, dir) =>
      T(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin))

  private val qCubeOrders = Q(
    "q_cube_orders",
    // CUBE completes the grouping-sets family next to q_rollup_orders:
    // all four (status, priority) marginal combinations in ONE pass —
    // Spark expands the grouping sets before the partial agg, so the
    // shuffle still carries O(groups x sets) aggregate buffers, never
    // the fact rows four times.
    (s, dir) =>
      T(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin))

  private val qTopkOrders = Q(
    "q_topk_orders",
    (s, dir) =>
      T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
        .limit(15),
    Some("""SELECT o_orderkey, c_name, o_totalprice
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin))

  private val qMedian = Q(
    "q_median",
    // exact interpolated percentiles via the DISTRIBUTED two-phase rank
    // kernel (ops/Quantiles): Spark's own percentile() buffers a whole
    // group per executor — the one plan here that would not survive a
    // low-cardinality 100 TB groupBy. Quantiles.quantileCont range-
    // partitions distinct (group, value) counts and locates the k-th /
    // (k+1)-th order statistics by prefix-summed rank, exact like the
    // built-in but with per-task state bounded by a range slice.
    // Inputs are 2-decimal doubles so the interpolated medians/
    // quartiles carry <= 4 decimals — rounding at 4 absorbs any
    // last-ulp formula difference between engines.
    (s, dir) =>
      graft.ops.Quantiles.quantileCont(
          T(s, dir, "events").select("event_type", "value"),
          "value", Seq("event_type"),
          Seq(("median", 0.5), ("p25", 0.25), ("p75", 0.75)))
        .select(col("event_type"),
          round(col("median"), 4).as("median"),
          round(col("p25"), 4).as("p25"),
          round(col("p75"), 4).as("p75")),
    Some("""SELECT event_type,
           |  round(quantile_cont(value, 0.5), 4) AS median,
           |  round(quantile_cont(value, 0.25), 4) AS p25,
           |  round(quantile_cont(value, 0.75), 4) AS p75
           |FROM events GROUP BY 1""".stripMargin))

  private val qWeightedMedian = Q(
    "q_weighted_median",
    // WEIGHTED quantiles (per-lang token-count percentiles weighted by
    // character mass) — the corpus-stats primitive behind "median
    // document length by bytes, not by count": a size-weighted
    // median answers what a byte-budgeted sampler actually draws.
    // Exact-integer end-to-end: one hash-agg collapses docs to the
    // (lang, value) dictionary with summed weights, an integer
    // cumulative walk over that dictionary, and the lower weighted
    // quantile rule as pure integer comparisons (4·cum ≥ k·total) —
    // no division anywhere, nothing to round. Scale shape: the
    // Quantiles-object doctrine — the corpus collapses first, rank
    // walks run on the dictionary.
    (s, dir) => {
      val d = T(s, dir, "documents").select(col("lang"),
        size(toks).cast("long").as("v"), col("n_chars").as("w"))
      val g = d.groupBy(col("lang"), col("v")).agg(sum(col("w")).as("wsum"))
      val wn = Window.partitionBy(col("lang")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("lang"))
      val c = g.withColumn("cum", sum(col("wsum")).over(wn))
        .withColumn("tot", sum(col("wsum")).over(tot))
      c.groupBy(col("lang")).agg(
        min(when(col("cum") * 4 >= col("tot"), col("v"))).as("w_p25"),
        min(when(col("cum") * 2 >= col("tot"), col("v"))).as("w_median"),
        min(when(col("cum") * 4 >= col("tot") * 3, col("v"))).as("w_p75"),
        max(col("tot")).as("total_w"))
    },
    Some("""WITH d AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS v,
           |                  n_chars AS w FROM documents),
           |g AS (SELECT lang, v, CAST(sum(w) AS BIGINT) AS wsum FROM d GROUP BY 1, 2),
           |c AS (SELECT lang, v, wsum,
           |    sum(wsum) OVER (PARTITION BY lang ORDER BY v
           |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |    sum(wsum) OVER (PARTITION BY lang) AS tot
           |  FROM g)
           |SELECT lang,
           |  CAST(min(CASE WHEN cum * 4 >= tot THEN v END) AS BIGINT) AS w_p25,
           |  CAST(min(CASE WHEN cum * 2 >= tot THEN v END) AS BIGINT) AS w_median,
           |  CAST(min(CASE WHEN cum * 4 >= tot * 3 THEN v END) AS BIGINT) AS w_p75,
           |  CAST(max(tot) AS BIGINT) AS total_w
           |FROM c GROUP BY 1""".stripMargin))

  private val qScd2Intervals = Q(
    "q_scd2_intervals",
    // Slowly-changing-dimension type-2 build from a change stream: per
    // user, collapse consecutive equal purchase values into validity
    // intervals [valid_from, valid_to) with an is_current flag — the
    // dimension-table shape every warehouse maintains. Two windows
    // over ONE (user_id, ts, event_id) ordering: lag() marks change
    // points, lead() over the surviving change points closes each
    // interval — both satisfied by a single exchange (same partition
    // key, same sort). Order is (ts, event_id) — unique, so every
    // frame is deterministic. At 100 TB this is the standard one-
    // shuffle windowed pass; nothing widens.
    (s, dir) => {
      val e = T(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      e.withColumn("prev", lag(col("cents"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("cents"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("cents"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
    },
    Some("""WITH e AS (SELECT user_id, ts, event_id,
           |    CAST(round(value*100) AS BIGINT) AS cents
           |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
           |m AS (SELECT *, lag(cents) OVER
           |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |      FROM e),
           |c AS (SELECT * FROM m WHERE prev IS NULL OR prev <> cents)
           |SELECT user_id, cents, ts AS valid_from,
           |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           |    AS is_current
           |FROM c""".stripMargin))

  private val qHistogramEqh = Q(
    "q_histogram_eqh",
    // Equi-height histogram (the optimizer/statistics primitive every
    // engine keeps per column): 4 buckets per event_type over value
    // cents, boundaries by the exact nearest-rank rule on the value
    // DICTIONARY (4·cum ≥ k·n integer comparisons — the
    // q_weighted_median doctrine, no division), then each dictionary
    // value lands in bucket Σ_k [v > t_k] and the per-bucket exact
    // counts and min/max close the histogram. With heavy ties the
    // heights are deliberately UNEVEN — that skew surfacing is what an
    // equi-height histogram is for. All integer; scale = two
    // dictionary-sized hash-aggs and a 3-row-per-type broadcast of
    // boundaries.
    (s, dir) => {
      val e = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("v"))
      val g = e.groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = g.withColumn("cum", sum(col("c")).over(wc))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("event_type"))))
      val bounds = c.groupBy(col("event_type")).agg(
        min(when(col("cum") * 4 >= col("n"), col("v"))).as("t1"),
        min(when(col("cum") * 2 >= col("n"), col("v"))).as("t2"),
        min(when(col("cum") * 4 >= col("n") * 3, col("v"))).as("t3"))
      c.join(broadcast(bounds), Seq("event_type"))
        .withColumn("b",
          (col("v") > col("t1")).cast("long") + (col("v") > col("t2")).cast("long") +
            (col("v") > col("t3")).cast("long"))
        .groupBy(col("event_type"), col("b")).agg(
          min(col("v")).as("lo_cents"), max(col("v")).as("hi_cents"),
          sum(col("c")).as("cnt"))
    },
    Some("""WITH e AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS v
           |  FROM events WHERE value IS NOT NULL),
           |g AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
           |cw AS (SELECT event_type, v, c,
           |    sum(c) OVER (PARTITION BY event_type ORDER BY v
           |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |    sum(c) OVER (PARTITION BY event_type) AS n
           |  FROM g),
           |bd AS (SELECT event_type,
           |    min(CASE WHEN cum * 4 >= n THEN v END) AS t1,
           |    min(CASE WHEN cum * 2 >= n THEN v END) AS t2,
           |    min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS t3
           |  FROM cw GROUP BY 1)
           |SELECT cw.event_type,
           |  CAST((cw.v > bd.t1)::INT + (cw.v > bd.t2)::INT + (cw.v > bd.t3)::INT AS BIGINT) AS b,
           |  CAST(min(cw.v) AS BIGINT) AS lo_cents, CAST(max(cw.v) AS BIGINT) AS hi_cents,
           |  CAST(sum(cw.c) AS BIGINT) AS cnt
           |FROM cw JOIN bd USING (event_type)
           |GROUP BY 1, 2""".stripMargin))

  private val qSessionize = Q(
    "q_sessionize",
    // Gap-based sessionization (30-min inactivity cut), the canonical
    // clickstream operator: mark session starts with one lag() window,
    // assign session ids with a running sum over the SAME (user, ts)
    // ordering, then roll up per session. One hash shuffle total — the
    // window partitions by user_id and the (user_id, session_idx)
    // groupBy is satisfied by that partitioning (subset rule), so the
    // rollup is map-side on the already-exchanged rows. Per-user event
    // order is (ts, event_id) — unique, so the running sum's default
    // RANGE frame equals ROWS and both engines agree on every frame.
    (s, dir) =>
      TimeseriesOps.sessionize(
          T(s, dir, "events").select("user_id", "ts", "event_id", "value"),
          gapUs = 1800000000L, keyCols = Seq("user_id"),
          timeCol = "ts", tieBreak = Seq("event_id"))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value")),
    Some("""WITH g AS (SELECT user_id, ts, event_id, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |              OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
           |         THEN 1 ELSE 0 END AS is_new
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |s AS (SELECT user_id, ts, value,
           |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           |      AS session_idx
           |  FROM g)
           |SELECT user_id, session_idx, count(*) AS n_events,
           |  min(ts) AS session_start, max(ts) AS session_end,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
           |FROM s GROUP BY 1, 2""".stripMargin))

  private val qFunnel = Q(
    "q_funnel",
    // Ordered-funnel conversion (view -> click -> purchase, each step
    // strictly after the previous): three conditional min-aggregations,
    // each one stage of a per-user funnel. Every stage filters events to
    // one type BEFORE joining, so the joins carry one-row-per-user
    // frames, never the event stream; at cluster scale AQE picks
    // broadcast or shuffle-hash per stage from the shrunken sizes.
    // Deterministic: (user_id, ts) pairs are unique in this table and
    // min() needs no tie-break.
    (s, dir) => {
      val e = T(s, dir, "events")
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"))
    },
    Some("""WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
           |           WHERE event_type = 'view' GROUP BY 1),
           |c AS (SELECT e.user_id, min(e.ts) AS t_click
           |      FROM events e JOIN v ON e.user_id = v.user_id
           |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
           |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
           |      FROM events e JOIN c ON e.user_id = c.user_id
           |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
           |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
           |FROM v LEFT JOIN c ON v.user_id = c.user_id
           |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin))

  private val qRetention = Q(
    "q_retention",
    // Weekly cohort retention: cohort = integer epoch-week of a user's
    // first event; count users active at each (cohort, offset) cell.
    // Weeks are exact integer arithmetic (epoch_us div week_us) — no
    // date_trunc, whose week-start convention would have to match
    // across engines, and no double division to drift at a boundary.
    // Shape: user-keyed min-agg, join back (user-keyed shuffle that
    // AQE can broadcast once cohorts << events), then a distinct and a
    // rollup over the O(weeks^2) cohort grid — shuffles carry user and
    // grid cardinality, never raw events.
    (s, dir) => {
      val e = T(s, dir, "events").select(
        col("user_id"), expr("unix_micros(ts) div 604800000000").as("week"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      e.join(cohort, Seq("user_id"))
        .select(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"),
          col("user_id"))
        .distinct()
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
           |c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
           |g AS (SELECT DISTINCT c.cohort_week, e.week - c.cohort_week AS week_offset,
           |             e.user_id
           |      FROM e JOIN c ON e.user_id = c.user_id)
           |SELECT cohort_week, week_offset, count(*) AS n_users
           |FROM g GROUP BY 1, 2""".stripMargin))

  // =====================================================================
  // Text analysis over `documents`
  // =====================================================================

  private def toks: Column = TextOps.tokens(col("text"))

  private val txtStats = Q(
    "txt_stats",
    (s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
        (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
          length(col("text")).cast("double")).as("alpha_ratio"),
        ((length(col("text")) - (size(toks) - lit(1))).cast("double") /
          size(toks).cast("double")).as("avg_token_len")),
    Some("""SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |  CAST(len(regexp_extract_all(text,
           |    '(''s|''t|''re|''ve|''m|''ll|''d| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+)', 1))
           |    AS BIGINT) AS n_bpe_tokens,
           |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) /
           |    CAST(length(text) AS DOUBLE) AS alpha_ratio,
           |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) /
           |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
           |FROM documents""".stripMargin))

  private val txtChunks = Q(
    "txt_chunks",
    // Context-window chunking — the split a training pipeline runs so
    // documents fit a token budget: fixed 120-char windows at stride
    // 100 (20-char overlap so no boundary context is lost). Chunk
    // starts are offset-COMPUTED (sequence + substring, no UDF): the
    // explode carries only (doc_id, idx, 120-char slice), so shuffle
    // volume is ~1.2x the corpus regardless of document length — a doc
    // never travels whole, and a 100 TB corpus chunks in one narrow
    // pass pipelined with the scan. Spark `div` truncates while
    // DuckDB's `//` floors, so the length>0 guard keeps the two
    // engines' chunk counts identical on degenerate empty docs.
    (s, dir) =>
      T(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(
          col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, (length(text) - 1) div 100), " +
              "i -> substring(text, cast(i * 100 + 1 AS INT), 120))")))
        .select(
          col("doc_id"),
          col("pos").cast("long").as("chunk_idx"),
          col("col").as("chunk"),
          length(col("col")).cast("long").as("chunk_len")),
    Some("""WITH c AS (
           |  SELECT doc_id, text,
           |         unnest(range(0, (length(text) - 1) // 100 + 1)) AS i
           |  FROM documents WHERE length(text) > 0)
           |SELECT doc_id,
           |  CAST(i AS BIGINT) AS chunk_idx,
           |  substr(text, CAST(i * 100 + 1 AS INT), 120) AS chunk,
           |  CAST(length(substr(text, CAST(i * 100 + 1 AS INT), 120)) AS BIGINT) AS chunk_len
           |FROM c""".stripMargin))

  private val txtLangid = Q(
    "txt_langid",
    (s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"), col("lang"), TextOps.langId(toks).as("lang_pred")),
    Some("""WITH h AS (SELECT doc_id, lang,
           |  len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','is'))) AS en,
           |  len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que','y'))) AS es,
           |  len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist'))) AS de,
           |  len(list_filter(string_split(text,' '), x -> x IN ('le','la','de','et','est'))) AS fr,
           |  len(list_filter(string_split(text,' '), x -> x IN ('的','了','是','我','不'))) AS zh
           |FROM documents)
           |SELECT doc_id, lang,
           |  CASE WHEN en >= es AND en >= de AND en >= fr AND en >= zh THEN 'en'
           |       WHEN es >= de AND es >= fr AND es >= zh THEN 'es'
           |       WHEN de >= fr AND de >= zh THEN 'de'
           |       WHEN fr >= zh THEN 'fr'
           |       ELSE 'zh' END AS lang_pred
           |FROM h""".stripMargin))

  private val txtFingerprint = Q(
    "txt_fingerprint",
    (s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"), TextOps.fingerprint(toks).as("fp")),
    Some("""SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
           |FROM documents""".stripMargin))

  private val txtQuality = Q(
    "txt_quality",
    (s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"),
        TextOps.stopwordRatio(toks, Stopwords).as("stop_ratio"),
        TextOps.qualityScore(col("text"), toks, Stopwords).as("quality")),
    Some("""WITH t AS (SELECT doc_id,
           |  CAST(len(list_filter(string_split(text,' '),
           |       x -> x IN ('the','a','of','and','is'))) AS DOUBLE) AS hits,
           |  CAST(len(string_split(text,' ')) AS DOUBLE) AS n
           |FROM documents)
           |SELECT doc_id, hits / n AS stop_ratio,
           |  (hits / n) * 0.5 + (n / (n + 50.0)) * 0.5 AS quality
           |FROM t""".stripMargin))

  private val txtRepetition = Q(
    "txt_repetition",
    // Gopher-style repetition quality signals (Rae et al. 2021 §A1.1 /
    // RefinedWeb): duplicate-token ratio is a narrow per-row expression;
    // top-bigram fraction is the MapReduce formulation — explode
    // bigrams, hash-agg (doc, bigram) counts map-side, then one more
    // partial-agg max/sum per doc. Both shuffles carry O(distinct
    // bigrams) rows, never the corpus text.
    (s, dir) => {
      val d = spread(T(s, dir, "documents"))
      val dup = d.select(col("doc_id"),
        ((size(toks) - size(array_distinct(toks))).cast("double") /
          size(toks).cast("double")).as("dup_token_ratio"))
      val top = d.select(col("doc_id"), explode(TextOps.wordShingles(toks, 2)).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(
          (max(col("c")).cast("double") / sum(col("c")).cast("double")).as("top_bigram_frac"))
      dup.join(top, Seq("doc_id"))
    },
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |dup AS (SELECT doc_id,
           |  CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
           |    AS dup_token_ratio FROM tk),
           |bg AS (SELECT doc_id,
           |  unnest(list_transform(range(1, len(t)), i -> concat(t[i], ' ', t[i+1]))) AS bg
           |  FROM tk),
           |cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
           |top AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
           |          AS top_bigram_frac FROM cnt GROUP BY 1)
           |SELECT doc_id, dup_token_ratio, top_bigram_frac
           |FROM dup JOIN top USING (doc_id)""".stripMargin))

  private val txtGopherRules = Q(
    "txt_gopher_rules",
    // The Gopher quality-FILTER battery (Rae et al. 2021 §A1.1, the
    // rule set RefinedWeb/Dolma inherit) as an auditable per-document
    // rule table: each rule is its own boolean column plus the
    // composite keep flag, so a curation run can report WHICH rule
    // killed a document (the same explainability doctrine as
    // curate_audit) instead of a bare survivor set. Rules: word count
    // in bounds, mean word length in bounds, >=80% of words contain an
    // alphabetic character, and >=2 DISTINCT members of the common-
    // stopword set (distinct is Gopher's wording — repeats of one
    // stopword don't count). Bounds are fixture-tuned so both branches
    // of every data-dependent rule are exercised at verify scale
    // (median 56 words / mean word length ~4.5); production bounds
    // (50..100k words, 3..10 chars) are a config, not a shape change.
    // Plan shape: one narrow projection over the scan — array lambdas
    // and rational arithmetic only, no shuffle, no UDF; at 100 TB this
    // is pure map tasks inside whole-stage codegen.
    (s, dir) => {
      val d = spread(T(s, dir, "documents"))
      val n = size(toks).cast("double")
      val meanLen = TextOps.avgTokenLen(col("text"), toks)
      val alphaFrac = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / n
      val stopHits = TextOps.distinctTokenHits(
        toks, Seq("the", "a", "of", "and", "is", "to", "in", "that")).cast("long")
      d.select(
        col("doc_id"),
        n.cast("long").as("n_words"),
        meanLen.as("mean_word_len"),
        alphaFrac.as("alpha_word_frac"),
        stopHits.as("n_stop_distinct"),
        (n >= 30 && n <= 80).as("r_words"),
        (meanLen >= 3.0 && meanLen <= 4.8).as("r_meanlen"),
        (alphaFrac >= 0.8).as("r_alpha"),
        (stopHits >= 2).as("r_stop"))
        .withColumn("keep",
          col("r_words") && col("r_meanlen") && col("r_alpha") && col("r_stop"))
    },
    Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
           |m AS (SELECT doc_id,
           |    CAST(len(tk) AS DOUBLE) AS n,
           |    CAST(len(text) - (len(tk) - 1) AS DOUBLE) / CAST(len(tk) AS DOUBLE)
           |      AS mean_word_len,
           |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
           |      / CAST(len(tk) AS DOUBLE) AS alpha_word_frac,
           |    CAST(len(list_distinct(list_filter(tk,
           |      x -> x IN ('the','a','of','and','is','to','in','that')))) AS BIGINT)
           |      AS n_stop_distinct
           |  FROM t)
           |SELECT doc_id, CAST(n AS BIGINT) AS n_words, mean_word_len, alpha_word_frac,
           |  n_stop_distinct,
           |  (n >= 30 AND n <= 80) AS r_words,
           |  (mean_word_len >= 3.0 AND mean_word_len <= 4.8) AS r_meanlen,
           |  (alpha_word_frac >= 0.8) AS r_alpha,
           |  (n_stop_distinct >= 2) AS r_stop,
           |  ((n >= 30 AND n <= 80) AND (mean_word_len >= 3.0 AND mean_word_len <= 4.8)
           |    AND (alpha_word_frac >= 0.8) AND (n_stop_distinct >= 2)) AS keep
           |FROM m""".stripMargin))

  /** Shared DSIR oracle CTEs: per-(doc,bucket) hashed-n-gram counts and
    * the Laplace-smoothed per-bucket log-ratio table, mirroring
    * [[graft.functions.Dsir.weights]] term by term (target = lang='en').
    */
  private val dsirOracleCtes: String =
    """tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      |ng AS (SELECT doc_id, lang, unnest(t) AS ng FROM tk
      |       UNION ALL
      |       SELECT doc_id, lang,
      |              unnest(list_transform(range(1, len(t)), i -> concat(t[i], ' ', t[i+1])))
      |       FROM tk),
      |bk AS (SELECT doc_id, lang,
      |    ('0x' || substr(md5(concat('dsir:', ng)), 1, 8))::BIGINT % 1024 AS b FROM ng),
      |db AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
      |tot AS (SELECT b, count(*) AS r, count(*) FILTER (WHERE lang = 'en') AS t
      |        FROM bk GROUP BY 1),
      |cons AS (SELECT sum(r) AS rt, sum(t) AS tt FROM tot),
      |lr AS (SELECT b,
      |    ln(t + 1.0) - ln((SELECT tt FROM cons) + 1024.0)
      |      - ln(r + 1.0) + ln((SELECT rt FROM cons) + 1024.0) AS lr
      |  FROM tot),
      |w AS (SELECT db.doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
      |             round(sum(c * lr), 6) AS weight
      |      FROM db JOIN lr USING (b) GROUP BY 1)""".stripMargin

  private val docDsirWeights = Q(
    "doc_dsir_weights",
    // DSIR importance weights (Xie et al. 2023) — the published
    // data-selection method between blunt rule filters and expensive
    // model-based scoring: hashed-n-gram unigram LMs for the target
    // slice (lang='en' here) and the raw pool, each document scored by
    // its log importance ratio. See [[graft.functions.Dsir]] for the
    // 100 TB shape (text never shuffles; both LMs ride one 1024-row
    // broadcast). The gate certifies every per-doc weight against
    // DuckDB's arithmetic recomputation of the hash, the smoothing and
    // the log-ratio sum.
    (s, dir) =>
      Dsir.weights(spread(T(s, dir, "documents")), "doc_id", toks, col("lang") === "en"),
    Some(s"""WITH $dsirOracleCtes
           |SELECT doc_id, n_feats, weight FROM w""".stripMargin))

  private val docDsirSample = Q(
    "doc_dsir_sample",
    // The selection step of DSIR: keep the k most target-like raw
    // documents by importance weight. A distributed top-k
    // (TakeOrderedAndProject — no global sort), ordered by the ROUNDED
    // weight with doc_id as the tiebreak so the cut is deterministic
    // cross-engine even where ln() ulps differ. Joins lang back so the
    // gate also certifies the expected behavior: the en slice (whose
    // n-grams the target model was fit on) dominates the selection.
    (s, dir) => {
      val d = spread(T(s, dir, "documents"))
      Dsir.weights(d, "doc_id", toks, col("lang") === "en")
        .join(d.select("doc_id", "lang"), "doc_id")
        .orderBy(col("weight").desc, col("doc_id"))
        .limit(100)
        .select("doc_id", "lang", "weight")
    },
    Some(s"""WITH $dsirOracleCtes
           |SELECT w.doc_id, d.lang, w.weight
           |FROM w JOIN documents d ON d.doc_id = w.doc_id
           |ORDER BY w.weight DESC, w.doc_id LIMIT 100""".stripMargin))

  private val txtKeywords = Q(
    "txt_keywords",
    // top-3 TF-IDF keywords per document. Scored as tf * N / df with
    // EXACT integer tf/N/df — one float multiply+divide per term, so
    // Spark and DuckDB produce bit-identical doubles (a log-based idf
    // would hash-diverge: libm ln() is not bit-stable across engines).
    // Shape: explode -> (doc, term) hash-agg -> term-level df hash-agg
    // joined back on term -> per-doc WindowGroupLimit top-k; every
    // shuffle carries O(distinct terms), never the corpus text.
    (s, dir) => {
      val d = spread(T(s, dir, "documents"))
      val tf = d.select(col("doc_id"), explode(toks).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = d.select(count(lit(1)).as("n"))
      val scored = tf.join(df_, Seq("term")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          (col("tf").cast("double") * col("n").cast("double") /
            col("df").cast("double")).as("score"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rank"))
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM documents),
           |scored AS (SELECT doc_id, term,
           |    CAST(tf AS DOUBLE) * CAST(n AS DOUBLE) / CAST(df AS DOUBLE) AS score
           |  FROM tf JOIN df USING (term) CROSS JOIN n)
           |SELECT doc_id, term, score, rank FROM (
           |  SELECT doc_id, term, score,
           |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
           |  FROM scored) WHERE rank <= 3""".stripMargin))

  private val qSampleStratified = Q(
    "q_sample_stratified",
    // Deterministic k-per-stratum sampling — the eval-set builder that
    // complements doc_holdout's fractional split: within each language,
    // take the 10 docs with the hash-smallest salted keys. Stable under
    // reruns and corpus growth for any doc that stays in the corpus
    // top-10 of its stratum; the per-stratum window pushes rk <= 10
    // into a WindowGroupLimit partial top-k, so no stratum ever
    // materializes beyond k rows per task.
    (s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(
        md5(concat(lit("sample:"), col("doc_id").cast("string"))), col("doc_id"))
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
    },
    Some("""SELECT doc_id, lang, rk FROM (
           |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
           |    ORDER BY md5(concat('sample:', CAST(doc_id AS VARCHAR))), doc_id) AS rk
           |  FROM documents) WHERE rk <= 10""".stripMargin))

  private val qPivotSources = Q(
    "q_pivot_sources",
    // Explicit pivot (cross-tab): doc counts per source x language.
    // The pivot values are DECLARED, so Spark skips the
    // distinct-values discovery job and plans one hash-agg with five
    // conditional count buffers — same single-shuffle shape alignJoin
    // uses for wide loads. Empty cells are NULL on both engines
    // (Spark pivot-count semantics; DuckDB sum over an all-NULL CASE).
    (s, dir) =>
      T(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("en", "es", "de", "fr", "zh"))
        .agg(count(lit(1)))
        .select(col("source"), col("en").as("n_en"), col("es").as("n_es"),
          col("de").as("n_de"), col("fr").as("n_fr"), col("zh").as("n_zh")),
    Some("""SELECT source,
           |  CAST(sum(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS n_en,
           |  CAST(sum(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS n_es,
           |  CAST(sum(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS n_de,
           |  CAST(sum(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS n_fr,
           |  CAST(sum(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS n_zh
           |FROM documents GROUP BY 1""".stripMargin))

  private val dqEvents = Q(
    "dq_events",
    // Declarative data-quality gate over the ingest table: four
    // constraint families compiled into one scan (plus one two-level
    // hash-agg for uniqueness) — the validation a pipeline runs before
    // trusting a new drop. The crossJoin stitches 1-row aggregate
    // reports; bounded by construction.
    (s, dir) =>
      graft.functions.DataQuality.report(T(s, dir, "events"), Seq(
        graft.functions.DataQuality.NotNull("value"),
        graft.functions.DataQuality.InRange("value", 5.0, 95.0),
        graft.functions.DataQuality.InSet("event_type",
          Seq("click", "view", "purchase", "signup", "error")),
        graft.functions.DataQuality.Unique(Seq("event_id")))),
    Some("""WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS null_value,
           |  CAST(sum(CASE WHEN value IS NOT NULL AND (value < 5.0 OR value > 95.0)
           |           THEN 1 ELSE 0 END) AS BIGINT) AS range_value,
           |  CAST(sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
           |                ('click','view','purchase','signup','error')
           |           THEN 1 ELSE 0 END) AS BIGINT) AS domain_event_type
           |  FROM events),
           |d AS (SELECT CAST(sum(c - 1) AS BIGINT) AS dup_event_id
           |      FROM (SELECT count(*) AS c FROM events GROUP BY event_id))
           |SELECT n_rows, null_value, range_value, domain_event_type, dup_event_id
           |FROM s CROSS JOIN d""".stripMargin))

  private val qDriftHist = Q(
    "q_drift_hist",
    // Feature-drift monitor: first-half vs second-half value histograms
    // of the ingest stream, per-bin chi-square drift terms. One pass
    // for both histograms, bounded 1-row totals join.
    (s, dir) =>
      graft.functions.Drift.histogramCompare(
        T(s, dir, "events"),
        valueCol = "value",
        isReference = col("ts") < ts("2024-01-16"),
        binWidth = 50.0, nBins = 10),
    // The p_ref/p_cur CASE guards mirror Drift.histogramCompare's
    // zero-total guard: DuckDB double division by zero yields IEEE
    // Inf/NaN, while this build's ANSI-on Spark would THROW without
    // its when(total > 0) guard — both sides declare the empty-window
    // proportion NULL, and drift inherits NULL from a NULL proportion
    // in both engines.
    Some("""WITH b AS (SELECT
           |    CAST(least(greatest(floor(value / 50.0), 0), 9) AS BIGINT) AS bin,
           |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS r
           |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
           |c AS (SELECT bin, CAST(sum(r) AS BIGINT) AS n_ref,
           |             CAST(sum(1 - r) AS BIGINT) AS n_cur
           |      FROM b GROUP BY 1),
           |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
           |             CAST(sum(n_cur) AS BIGINT) AS tc FROM c),
           |p AS (SELECT bin, n_ref, n_cur,
           |        CASE WHEN tr > 0 THEN CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE) END AS p_ref,
           |        CASE WHEN tc > 0 THEN CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE) END AS p_cur
           |      FROM c CROSS JOIN t)
           |SELECT bin, n_ref, n_cur, p_ref, p_cur,
           |  CASE WHEN n_ref > 0 THEN round(
           |    (p_cur - p_ref) * (p_cur - p_ref) / p_ref, 6) END AS drift
           |FROM p""".stripMargin))

  private val txtMaskSpans = Q(
    "txt_mask_spans",
    // T5-style span corruption (Raffel et al. 2020) — the masked-LM
    // data prep that turns a clean corpus into (masked_text, targets)
    // pairs: deterministic candidate starts on a stride-10 grid, a
    // seeded multiplicative-hash coin (the doc_source_cap doctrine —
    // reproducible, engine-identical integer arithmetic, reduced mod
    // 2^31−1 BEFORE the Knuth multiply so no BIGINT overflow at any
    // doc_id), 3-token spans replaced by numbered <extra_id_k>
    // sentinels, targets carrying the removed spans under the same
    // numbering. Stride > span makes spans non-overlapping BY
    // CONSTRUCTION — no greedy left-to-right chain, so the selection
    // is a pure per-position predicate and the whole op is one narrow
    // array expression per doc: nothing shuffles, masking pipelines
    // with the scan at any corpus size.
    (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), toks.as("tk"))
      val cand = d.withColumn("starts", filter(
        sequence(lit(0), greatest(size(col("tk")) - 1, lit(0))),
        s0 => s0 % 10 === 0 && s0 + 2 < size(col("tk")) &&
          (((col("doc_id") * 1000003L + s0) % 2147483647L) * 2654435761L)
            % 2147483647L % 5 < 2))
      cand.select(col("doc_id"),
        concat_ws(" ", flatten(transform(col("tk"), (t, j) =>
          when(array_position(col("starts"), j) > 0,
            array(concat(lit("<extra_id_"),
              (array_position(col("starts"), j) - 1).cast("string"), lit(">"))))
          .when(exists(col("starts"), s0 => s0 < j && j <= s0 + 2),
            array().cast("array<string>"))
          .otherwise(array(t))))).as("masked_text"),
        concat_ws(" ", transform(col("starts"), (s0, k) =>
          concat(lit("<extra_id_"), k.cast("string"), lit("> "),
            concat_ws(" ", slice(col("tk"), s0 + 1, lit(3)))))).as("targets"),
        size(col("starts")).cast("long").as("n_spans"))
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |cand AS (SELECT doc_id, tk, list_filter(range(0, len(tk)),
           |    s -> s % 10 = 0 AND s + 2 < len(tk) AND
           |      (((doc_id * 1000003 + s) % 2147483647) * 2654435761)
           |        % 2147483647 % 5 < 2) AS starts
           |  FROM d)
           |SELECT doc_id,
           |  coalesce(array_to_string(flatten(list_transform(range(0, len(tk)), j ->
           |    CASE
           |      WHEN list_position(starts, j) > 0
           |        THEN ['<extra_id_' || CAST(list_position(starts, j) - 1 AS VARCHAR) || '>']
           |      WHEN len(list_filter(starts, s -> s < j AND j <= s + 2)) > 0 THEN []
           |      ELSE [tk[j+1]] END)), ' '), '') AS masked_text,
           |  coalesce(array_to_string(list_transform(starts, (s, k) ->
           |    '<extra_id_' || CAST(k - 1 AS VARCHAR) || '> ' ||
           |    array_to_string(tk[s+1:s+3], ' ')), ' '), '') AS targets,
           |  CAST(len(starts) AS BIGINT) AS n_spans
           |FROM cand""".stripMargin))

  private val txtPerplexity = Q(
    "txt_perplexity",
    // Perplexity filtering (the CCNet/KenLM curation signal): an
    // add-half-smoothed bigram LM TRAINS on the reference slice
    // (doc_id < 400) and scores the candidate slice (≥ 400) — a
    // candidate doc whose word pairs the reference corpus never uses
    // scores high and gets down-weighted or dropped. Distinct from
    // txt_bigram_surprisal (whole-corpus leave-one-out, integer bits):
    // this is the train/score split a production filter runs, with
    // true perplexity exp(−mean ln p). OOV needs no sentinel token —
    // unseen words/pairs simply take count 0 and the smoothing mass
    // (coalesce after the left joins). Determinism: counts and the
    // half-integer denominators are exact; one ln per bigram under the
    // round(6) transcendental doctrine; the per-doc mean folds terms
    // in POSITION order (a float SUM would be order-nondeterministic),
    // and per-doc term lists are doc-length-bounded — the context-
    // window bound every training doc already obeys. Shuffles carry
    // (w1, w2, count) and per-doc scalars, never text.
    (s, dir) => {
      val lst = spread(T(s, dir, "documents")).select(col("doc_id"),
        filter(toks, t => length(t) > 0).as("tk"))
      val trainTok = lst.filter(col("doc_id") < 400)
        .select(explode(col("tk")).as("t"))
      val c1 = trainTok.groupBy(col("t")).agg(count(lit(1)).as("c1"))
      val vv = broadcast(c1.agg(count(lit(1)).as("v")))
      val trainBg = lst.filter(col("doc_id") < 400 && size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tk) - 1), " +
            "i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c2 = trainBg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val testBg = lst.filter(col("doc_id") >= 400 && size(col("tk")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(tk) - 1), " +
            "i -> struct(i AS i, element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))")).as("b"))
        .select(col("doc_id"), col("b.i").as("i"),
          col("b.w1").as("w1"), col("b.w2").as("w2"))
      testBg
        .join(c2, Seq("w1", "w2"), "left")
        .join(c1.select(col("t").as("w1"), col("c1")), Seq("w1"), "left")
        .crossJoin(vv)
        .withColumn("term", log(
          (coalesce(col("c2"), lit(0L)).cast("double") + lit(0.5)) /
            (coalesce(col("c1"), lit(0L)).cast("double") +
              lit(0.5) * (col("v") + lit(1L)).cast("double"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(exp(-aggregate(
            transform(array_sort(collect_list(struct(col("i"), col("term")))),
              t => t.getField("term")),
            lit(0.0), (a, t) => a + t) / count(lit(1)).cast("double")), 6)
            .as("perplexity"))
    },
    Some("""WITH lst AS (SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk FROM documents),
           |c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c1
           |       FROM (SELECT unnest(tk) AS t FROM lst WHERE doc_id < 400) GROUP BY 1),
           |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
           |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM (
           |    SELECT tk[i] AS w1, tk[i+1] AS w2
           |    FROM lst, unnest(range(1, len(tk))) AS u(i)
           |    WHERE doc_id < 400 AND len(tk) >= 2) GROUP BY 1, 2),
           |tb AS (SELECT doc_id, i, tk[i] AS w1, tk[i+1] AS w2
           |       FROM lst, unnest(range(1, len(tk))) AS u(i)
           |       WHERE doc_id >= 400 AND len(tk) >= 2),
           |sc AS (SELECT tb.doc_id, tb.i,
           |    ln((CAST(coalesce(c2.c2, 0) AS DOUBLE) + 0.5) /
           |       (CAST(coalesce(c1.c1, 0) AS DOUBLE) + 0.5 * CAST(v + 1 AS DOUBLE)))
           |      AS term
           |  FROM tb LEFT JOIN c2 ON tb.w1 = c2.w1 AND tb.w2 = c2.w2
           |          LEFT JOIN c1 ON tb.w1 = c1.t
           |          CROSS JOIN vv)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  round(exp(-list_reduce(list(term ORDER BY i), (a, t) -> a + t)
           |        / CAST(count(*) AS DOUBLE)), 6) AS perplexity
           |FROM sc GROUP BY 1""".stripMargin))

  private val txtPerplexity3 = Q(
    "txt_perplexity3",
    // TRIGRAM perplexity filtering with stupid backoff (Brants et al.
    // 2007, "Large Language Models in Machine Translation") — the
    // CCNet-grade upgrade over txt_perplexity's bigram LM: the score
    // of w3 after (w1, w2) is c(w1w2w3)/c(w1w2) when the trigram was
    // seen in the reference slice, else 0.4 · c(w2w3)/c(w2), else
    // 0.4² · an add-half unigram floor — the backoff that makes
    // higher-order context usable without the held-out tuning a
    // Katz/KN model needs, which is exactly why it's the web-scale
    // choice (scores, not probabilities; fine for a filter's ranking).
    // Same doctrines as the bigram gate: train (< 400) / score (≥ 400)
    // split, OOV takes the floor mass via coalesce after left joins,
    // counts exact, one ln per trigram, per-doc fold in POSITION order,
    // round(6) only at the closing exp. Shuffles carry fixed-width
    // n-gram count rows and per-doc scalars, never text; the count
    // tables are corpus-dictionary-sized, the joins are plain
    // hash-partitioned equi-joins at any corpus size.
    (s, dir) => {
      val lst = spread(T(s, dir, "documents")).select(col("doc_id"),
        filter(toks, t => length(t) > 0).as("tk"))
      val train = lst.filter(col("doc_id") < 400)
      val c1 = train.select(explode(col("tk")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c1"))
      val nv = broadcast(c1.agg(
        sum(col("c1")).as("nn"), count(lit(1)).as("v")))
      val c2 = train.filter(size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tk) - 1), " +
            "i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))")).as("b"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("c2"))
      val c3 = train.filter(size(col("tk")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(tk) - 2), i -> struct(" +
            "element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2, " +
            "element_at(tk, i + 2) AS w3))")).as("g"))
        .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
        .agg(count(lit(1)).as("c3"))
      val testTg = lst.filter(col("doc_id") >= 400 && size(col("tk")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(tk) - 2), i -> struct(i AS i, " +
            "element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2, " +
            "element_at(tk, i + 2) AS w3))")).as("g"))
        .select(col("doc_id"), col("g.i").as("i"),
          col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
      testTg
        .join(c3, Seq("w1", "w2", "w3"), "left")
        .join(c2.select(col("w1"), col("w2"), col("c2").as("c12")), Seq("w1", "w2"), "left")
        .join(c2.select(col("w1").as("w2"), col("w2").as("w3"), col("c2").as("c23")),
          Seq("w2", "w3"), "left")
        .join(c1.select(col("t").as("w2"), col("c1").as("cw2")), Seq("w2"), "left")
        .join(c1.select(col("t").as("w3"), col("c1").as("cw3")), Seq("w3"), "left")
        .crossJoin(nv)
        .withColumn("term", log(
          when(coalesce(col("c3"), lit(0L)) > 0,
            col("c3").cast("double") / col("c12").cast("double"))
          .when(coalesce(col("c23"), lit(0L)) > 0,
            lit(0.4) * col("c23").cast("double") / col("cw2").cast("double"))
          .otherwise(lit(0.16) *
            (coalesce(col("cw3"), lit(0L)).cast("double") + lit(0.5)) /
            (col("nn").cast("double") + lit(0.5) * (col("v") + lit(1L)).cast("double")))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_trigrams"),
          round(exp(-aggregate(
            transform(array_sort(collect_list(struct(col("i"), col("term")))),
              t => t.getField("term")),
            lit(0.0), (a, t) => a + t) / count(lit(1)).cast("double")), 6)
            .as("perplexity"))
    },
    Some("""WITH lst AS (SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk FROM documents),
           |c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c1
           |       FROM (SELECT unnest(tk) AS t FROM lst WHERE doc_id < 400) GROUP BY 1),
           |nv AS (SELECT CAST(sum(c1) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS v FROM c1),
           |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM (
           |    SELECT tk[i] AS w1, tk[i+1] AS w2
           |    FROM lst, unnest(range(1, len(tk))) AS u(i)
           |    WHERE doc_id < 400 AND len(tk) >= 2) GROUP BY 1, 2),
           |c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3 FROM (
           |    SELECT tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3
           |    FROM lst, unnest(range(1, len(tk) - 1)) AS u(i)
           |    WHERE doc_id < 400 AND len(tk) >= 3) GROUP BY 1, 2, 3),
           |tg AS (SELECT doc_id, i, tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3
           |       FROM lst, unnest(range(1, len(tk) - 1)) AS u(i)
           |       WHERE doc_id >= 400 AND len(tk) >= 3),
           |sc AS (SELECT tg.doc_id, tg.i, ln(
           |    CASE WHEN coalesce(c3.c3, 0) > 0
           |           THEN CAST(c3.c3 AS DOUBLE) / CAST(b12.c2 AS DOUBLE)
           |         WHEN coalesce(b23.c2, 0) > 0
           |           THEN 0.4 * CAST(b23.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE)
           |         ELSE 0.16 * (CAST(coalesce(u3.c1, 0) AS DOUBLE) + 0.5) /
           |              (CAST(nn AS DOUBLE) + 0.5 * CAST(v + 1 AS DOUBLE))
           |    END) AS term
           |  FROM tg LEFT JOIN c3 ON tg.w1 = c3.w1 AND tg.w2 = c3.w2 AND tg.w3 = c3.w3
           |          LEFT JOIN c2 b12 ON tg.w1 = b12.w1 AND tg.w2 = b12.w2
           |          LEFT JOIN c2 b23 ON tg.w2 = b23.w1 AND tg.w3 = b23.w2
           |          LEFT JOIN c1 u2 ON tg.w2 = u2.t
           |          LEFT JOIN c1 u3 ON tg.w3 = u3.t
           |          CROSS JOIN nv)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           |  round(exp(-list_reduce(list(term ORDER BY i), (a, t) -> a + t)
           |        / CAST(count(*) AS DOUBLE)), 6) AS perplexity
           |FROM sc GROUP BY 1""".stripMargin))

  /** The best-half perplexity budget cut BOTH the probe and the spec
    * measure (tools/PerplexityProbe, PerplexityFilterSpec): rank the
    * scored slice by (perplexity, doc_id) and keep the lower half —
    * ONE definition so the probe's reported overlap is exactly what
    * the spec asserts.
    */
  private[graft] def perplexityKeptHalf(
      s: SparkSession, dir: String, gate: String): Set[Long] = {
    val df = queries(gate)(s, dir)
      .select(col("doc_id").cast("long"), col("perplexity"))
    val n = df.count().toInt
    df.orderBy(col("perplexity"), col("doc_id")).limit(n / 2)
      .collect().map(_.getLong(0)).toSet
  }

  private val txtVocab = Q(
    "txt_vocab",
    // Global vocabulary builder — the tokenizer-training pre-step
    // (word-level counts feeding BPE/WordPiece merges): corpus-wide
    // occurrence count + document frequency per term, top-50 by count.
    // Two-level hash-agg — (term, doc) partial counts collapse map-side
    // before the wire, then the term rollup; the top-k is
    // TakeOrderedAndProject (per-partition heads + driver merge), never
    // a global window. Shuffles carry O(distinct terms) rows at any
    // corpus size. The (count DESC, term) total order makes the 50-cut
    // deterministic.
    (s, dir) => {
      val tf = T(s, dir, "documents")
        .select(col("doc_id"), explode(toks).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("term"))
        .agg(sum(col("c")).as("n_occurrences"), count(lit(1)).as("doc_freq"))
        .orderBy(col("n_occurrences").desc, col("term"))
        .limit(50)
    },
    Some("""WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           |            FROM documents),
           |pc AS (SELECT term, doc_id, count(*) AS c FROM tf GROUP BY 1, 2),
           |st AS (SELECT term, CAST(sum(c) AS BIGINT) AS n_occurrences,
           |              count(*) AS doc_freq
           |       FROM pc GROUP BY 1)
           |SELECT term, n_occurrences, doc_freq FROM st
           |ORDER BY n_occurrences DESC, term LIMIT 50""".stripMargin))

  /** The split predicate both holdout queries share: a doc is `eval`
    * iff the first md5 byte of a salted key is < 0x1a (26/256 ≈ 10.2%).
    * Hash-based splits are THE reproducible train/eval selection at
    * pipeline scale — stable under reruns, re-partitioning, and corpus
    * growth (a doc's split never changes when other docs arrive),
    * unlike rand()-with-seed, which reshuffles with the partitioning.
    */
  private def splitCol: Column =
    when(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2) < "1a",
      "eval").otherwise("train")
  private val splitSql: String =
    """CASE WHEN substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 2) < '1a'
      |         THEN 'eval' ELSE 'train' END""".stripMargin

  private val docHoldout = Q(
    "doc_holdout",
    // Deterministic holdout assignment: one narrow per-row expression,
    // zero shuffles — the plan is scan -> project at any corpus size.
    (s, dir) =>
      T(s, dir, "documents").select(col("doc_id"), col("lang"), splitCol.as("split")),
    Some(s"""SELECT doc_id, lang, $splitSql AS split
           |FROM documents""".stripMargin))

  private val txtContamination = Q(
    "txt_contamination",
    // Test-set decontamination: which eval docs share a 5-gram with any
    // train doc (the n-gram-overlap contamination check every LLM eval
    // pipeline runs before trusting a benchmark). Grams are md5-hashed
    // before the join so every shuffle key is a fixed-width digest, not
    // corpus text; the train side collapses to DISTINCT gram hashes
    // with a partial agg, and the probe is a semi-join on that hash —
    // at 100 TB this is a plain hash-partitioned join whose key space
    // grows with distinct grams, never a text comparison.
    (s, dir) => {
      val d = spread(T(s, dir, "documents")).select(
        col("doc_id"), splitCol.as("split"), toks.as("tk"))
      val grams = d.select(col("doc_id"), col("split"),
          explode(array_distinct(TextOps.wordShingles(col("tk"), 5))).as("g"))
        .select(col("doc_id"), col("split"), md5(col("g")).as("gh"))
      val trainGrams = grams.filter(col("split") === "train").select("gh").distinct()
      grams.filter(col("split") === "eval")
        .join(trainGrams, Seq("gh"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_grams"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $splitSql AS split,
           |    string_split(text, ' ') AS t FROM documents),
           |g AS (SELECT doc_id, split,
           |    unnest(list_distinct(list_transform(range(1, len(t) - 3), i ->
           |      concat(t[i], ' ', t[i+1], ' ', t[i+2], ' ', t[i+3], ' ', t[i+4])))) AS g
           |  FROM tk),
           |gh AS (SELECT doc_id, split, md5(g) AS gh FROM g),
           |tr AS (SELECT DISTINCT gh FROM gh WHERE split = 'train')
           |SELECT e.doc_id, count(*) AS n_shared_grams
           |FROM gh e JOIN tr ON e.gh = tr.gh
           |WHERE e.split = 'eval'
           |GROUP BY 1""".stripMargin))

  private val txtDecontamBloom = Q(
    "txt_decontam_bloom",
    // The SAME decontamination result as txt_contamination (identical
    // oracle SQL) through the bloom-pruned physical plan — the 100 TB
    // strategy when the eval gram set is too big to broadcast raw (tens
    // of millions of digests = GBs) but its bloom is a few MB: build a
    // BloomFilter over eval gram hashes with a distributed aggregate
    // (`stat.bloomFilter`), prune the CORPUS-sized train side with the
    // native codegen probe ([[graft.plans.BloomMightContain]]) right at
    // the scan — before any exchange — then run the exact semi-join on
    // the survivors only. False positives cost shuffle bytes, never
    // correctness: the hash gate certifies bit-equality with the
    // un-pruned formulation.
    (s, dir) => {
      // NO spread here (r19): BloomProbeSpec pins the probe's clean
      // path — the bloom filter must sit directly above the scan with
      // no exchange below it; a parallelizing repartition would break
      // exactly the prune-before-shuffle shape this gate certifies
      val d = T(s, dir, "documents").select(
        col("doc_id"), splitCol.as("split"), toks.as("tk"))
      val grams = d.select(col("doc_id"), col("split"),
          explode(array_distinct(TextOps.wordShingles(col("tk"), 5))).as("g"))
        .select(col("doc_id"), col("split"), md5(col("g")).as("gh"))
      val evalGrams = mat(grams.filter(col("split") === "eval"))
      // expectedNumItems: total eval gram rows upper-bounds distinct
      // keys — an overcount only makes the filter slightly larger
      val nEval = math.max(evalGrams.count(), 1L)
      val bloom = evalGrams.stat.bloomFilter(xxhash64(col("gh")), nEval, 0.03)
      val trainHits = grams.filter(col("split") === "train")
        .filter(graft.plans.BloomMightContain.probe(xxhash64(col("gh")), bloom))
        .select("gh").distinct()
      evalGrams
        .join(trainHits, Seq("gh"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_grams"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $splitSql AS split,
           |    string_split(text, ' ') AS t FROM documents),
           |g AS (SELECT doc_id, split,
           |    unnest(list_distinct(list_transform(range(1, len(t) - 3), i ->
           |      concat(t[i], ' ', t[i+1], ' ', t[i+2], ' ', t[i+3], ' ', t[i+4])))) AS g
           |  FROM tk),
           |gh AS (SELECT doc_id, split, md5(g) AS gh FROM g),
           |tr AS (SELECT DISTINCT gh FROM gh WHERE split = 'train')
           |SELECT e.doc_id, count(*) AS n_shared_grams
           |FROM gh e JOIN tr ON e.gh = tr.gh
           |WHERE e.split = 'eval'
           |GROUP BY 1""".stripMargin))

  private val qShuffleSeeded = Q(
    "q_shuffle_seeded",
    // Deterministic global corpus shuffle — the "shuffle the data once
    // per epoch" step before training. The ordering key is
    // md5(seed:doc_id): stable under reruns and re-partitioning (unlike
    // rand(seed), whose draw depends on the physical partitioning),
    // uniformly distributed so the range sort is balanced, and
    // reproducible cross-engine. The global position comes from Pack's
    // two-phase distributed prefix sum with a unit token per row
    // (budget 1 makes shard_idx the 0-based position) — NO single-task
    // global window anywhere in the plan; the oracle is the plain
    // row_number() formulation it must equal bit-for-bit.
    (s, dir) => {
      val keyed = T(s, dir, "documents").select(
        col("doc_id"),
        md5(concat(lit("epoch0:"), col("doc_id").cast("string"))).as("ord"),
        lit(1L).as("__one"))
      graft.ops.Pack.packByBudget(keyed, tokenCol = "__one", budget = 1L,
          groupCols = Nil, orderCols = Seq("ord", "doc_id"), shardCol = "__pos0")
        .select(col("doc_id"),
          (col("__pos0") + 1).cast("long").as("pos"),
          pmod(col("__pos0"), lit(16L)).cast("long").as("shard"))
    },
    Some("""WITH k AS (SELECT doc_id,
           |    md5(concat('epoch0:', CAST(doc_id AS VARCHAR))) AS ord
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(row_number() OVER (ORDER BY ord, doc_id) AS BIGINT) AS pos,
           |  CAST((row_number() OVER (ORDER BY ord, doc_id) - 1) % 16 AS BIGINT) AS shard
           |FROM k""".stripMargin))

  private val qInterleaveSources = Q(
    "q_interleave_sources",
    // Deterministic round-robin SOURCE INTERLEAVING — the curriculum
    // layout between q_shuffle_seeded (one global stream) and
    // doc_mixture_sample (rate rebalancing): adjacent training
    // positions cycle through the sources (pos ≡ source_index mod
    // n_sources), so no batch is ever a single-domain run, without
    // changing what's in the corpus. Per-source positions come from
    // Pack's two-phase distributed prefix sum GROUPED by source — no
    // per-source single-task window anywhere; the only driver-side
    // object is the source-index table (distinct sources — metadata-
    // sized by definition of "domain"). Positions are strictly
    // increasing and unique; where sources have unequal sizes the
    // exhausted residues simply stop appearing (the tail is the
    // leftover of the biggest sources), which is the standard
    // round-robin-until-exhausted semantics.
    (s, dir) => {
      val d = T(s, dir, "documents").select(
        col("doc_id"), col("source"),
        md5(concat(lit("il:"), col("doc_id").cast("string"))).as("ord"),
        lit(1L).as("__one"))
      val ranked = graft.ops.Pack.packByBudget(
        d, tokenCol = "__one", budget = 1L,
        groupCols = Seq("source"), orderCols = Seq("ord", "doc_id"), shardCol = "__p")
      // distinct sources: driver/metadata-sized; the ordered window
      // here runs over that tiny frame, not the corpus
      val idx = d.select("source").distinct()
        .withColumn("__si", row_number().over(Window.orderBy(col("source"))).cast("long") - 1)
      val n = idx.agg(count(lit(1)).as("__ns"))
      ranked.join(broadcast(idx), "source").crossJoin(broadcast(n))
        .select(col("doc_id"), col("source"),
          (col("__p") * col("__ns") + col("__si")).cast("long").as("pos"))
    },
    Some("""WITH k AS (SELECT doc_id, source,
           |    md5(concat('il:', CAST(doc_id AS VARCHAR))) AS ord FROM documents),
           |r AS (SELECT doc_id, source,
           |    row_number() OVER (PARTITION BY source ORDER BY ord, doc_id) - 1 AS p
           |  FROM k),
           |s AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS si
           |  FROM (SELECT DISTINCT source FROM documents)),
           |n AS (SELECT count(*) AS ns FROM s)
           |SELECT r.doc_id, r.source, CAST(r.p * n.ns + s.si AS BIGINT) AS pos
           |FROM r JOIN s USING (source) CROSS JOIN n""".stripMargin))

  private val docMixtureSample = Q(
    "doc_mixture_sample",
    // Domain-mixture rebalancing — downsample every over-represented
    // source to the smallest source's size (a uniform target mixture),
    // the "fix the domain weights" step of corpus curation. Rate-based
    // Bernoulli selection via a hash threshold, NOT rank quotas: keep a
    // doc iff the 32-bit prefix of md5(mix:doc_id) falls below
    // floor(n_min * 2^32 / n_source) — a pure narrow filter against a
    // broadcast 1-row-per-source rate table, so the plan at 100 TB is
    // scan -> broadcast-join -> filter with no sort and no per-domain
    // single-task window (rank quotas would funnel each domain through
    // one task). Thresholds are exact integer arithmetic (DECIMAL here,
    // HUGEINT in the oracle) — no float rounding to drift cross-engine;
    // a source at the minimum gets threshold exactly 2^32 = keep-all.
    // The trade vs exact quotas: per-source kept counts are binomial
    // around the target, the correct trade at scale (the same doctrine
    // as doc_holdout's hash split: membership never depends on what
    // else is in the corpus, so the sample is stable under growth).
    (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), col("source"))
      val rates = d.groupBy("source").agg(count(lit(1)).as("n"))
        .crossJoin(d.groupBy("source").agg(count(lit(1)).as("n"))
          .agg(min("n").as("n_min")))
        .withColumn("thr",
          expr("CAST((CAST(n_min AS DECIMAL(38,0)) * 4294967296) DIV n AS BIGINT)"))
        .select("source", "thr")
      d.join(broadcast(rates), "source")
        .filter(conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long") < col("thr"))
        .select("doc_id", "source")
    },
    Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
           |m AS (SELECT min(n) AS n_min FROM c),
           |r AS (SELECT c.source,
           |    CAST((CAST(m.n_min AS HUGEINT) * 4294967296) // c.n AS BIGINT) AS thr
           |  FROM c, m)
           |SELECT d.doc_id, d.source
           |FROM documents d JOIN r ON d.source = r.source
           |WHERE ('0x' || substr(md5(concat('mix:', CAST(d.doc_id AS VARCHAR))), 1, 8))::BIGINT
           |      < r.thr""".stripMargin))

  private val txtPiiRedact = Q(
    "txt_pii_redact",
    // PII scrubbing — the redaction pass a pre-training pipeline runs
    // over every document. The fixture corpus is synthetic word salad
    // with no real PII, so the query PLANTS deterministic PII derived
    // from doc_id (an email, an international phone, an IPv4) in 2/3 of
    // the docs — both engines construct identical inputs, and the gate
    // certifies the full redacted TEXT plus per-kind audit counts, so a
    // pattern that over- or under-matches in either engine hashes red.
    // Patterns live in [[graft.functions.TextOps]] and are written in
    // the regex subset Java and RE2 agree on (no lookaround, no
    // backreferences) — the corpus must redact identically wherever it
    // is audited. The plan is a pure narrow regexp_replace chain: one
    // scan in, one scan out, nothing at 100 TB but map tasks.
    (s, dir) => {
      val planted = concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org or +1-555-0"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
        lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id") * 7, lit(256)).cast("string"), lit(".25"))
      val aug = T(s, dir, "documents").select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, col("text")).otherwise(planted).as("text"))
      aug.select(
        col("doc_id"),
        TextOps.piiCount(col("text"), TextOps.EmailPattern).cast("long").as("n_emails"),
        TextOps.piiCount(col("text"), TextOps.PhonePattern).cast("long").as("n_phones"),
        TextOps.piiCount(col("text"), TextOps.Ipv4Pattern).cast("long").as("n_ips"),
        TextOps.redactPii(col("text")).as("redacted"))
    },
    Some("""WITH aug AS (SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN text ELSE concat(text,
           |      ' contact user', CAST(doc_id AS VARCHAR),
           |      '@mail.example.org or +1-555-0',
           |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'),
           |      ' from 10.', CAST(doc_id % 256 AS VARCHAR),
           |      '.', CAST((doc_id * 7) % 256 AS VARCHAR), '.25') END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(text,
           |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}')) AS BIGINT) AS n_phones,
           |  CAST(len(regexp_extract_all(text,
           |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
           |  regexp_replace(regexp_replace(regexp_replace(text,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}', '<PHONE>', 'g'),
           |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS redacted
           |FROM aug""".stripMargin))

  private val txtUrlNormalize = Q(
    "txt_url_normalize",
    // URL canonicalization before exact URL dedup — the txt_pii_redact
    // doctrine applied to provenance: the corpus has no URL column, so
    // the gate PLANTS deterministic doc_id-derived URLs covering the
    // normalizer's cases (uppercase scheme+host, default :443 port,
    // tracking params around a real one, fragments, trailing slashes,
    // case-sensitive paths that must NOT fold) identically in both
    // engines, and hash-certifies the full canonical string. The chain
    // is pure narrow regexps (TextOps.normalizeUrl) — nothing but map
    // tasks at 100 TB; rule ORDER is the contract and the oracle
    // mirrors it step for step.
    (s, dir) => {
      val planted = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("HTTPS://WWW.Site"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".COM:443/Path/"), pmod(col("doc_id"), lit(5)).cast("string"),
          lit("/?utm_source=feed&id="), pmod(col("doc_id"), lit(11)).cast("string"),
          lit("&utm_campaign=x#sec"), pmod(col("doc_id"), lit(2)).cast("string")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("http://site"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(".com:80/Path"), pmod(col("doc_id"), lit(5)).cast("string"),
            lit("?id="), pmod(col("doc_id"), lit(11)).cast("string")))
        .otherwise(
          concat(lit("https://www.site"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(".com/path/"), pmod(col("doc_id"), lit(5)).cast("string"),
            lit("/?fbclid=c"), col("doc_id").cast("string")))
      T(s, dir, "documents").select(
        col("doc_id"), planted.as("url"),
        TextOps.normalizeUrl(planted).as("canon"))
    },
    Some("""WITH u AS (SELECT doc_id,
           |    CASE doc_id % 3
           |      WHEN 0 THEN concat('HTTPS://WWW.Site', CAST(doc_id % 7 AS VARCHAR),
           |        '.COM:443/Path/', CAST(doc_id % 5 AS VARCHAR),
           |        '/?utm_source=feed&id=', CAST(doc_id % 11 AS VARCHAR),
           |        '&utm_campaign=x#sec', CAST(doc_id % 2 AS VARCHAR))
           |      WHEN 1 THEN concat('http://site', CAST(doc_id % 7 AS VARCHAR),
           |        '.com:80/Path', CAST(doc_id % 5 AS VARCHAR),
           |        '?id=', CAST(doc_id % 11 AS VARCHAR))
           |      ELSE concat('https://www.site', CAST(doc_id % 7 AS VARCHAR),
           |        '.com/path/', CAST(doc_id % 5 AS VARCHAR),
           |        '/?fbclid=c', CAST(doc_id AS VARCHAR))
           |    END AS url FROM documents),
           |parts AS (SELECT doc_id, url,
           |    regexp_replace(
           |      regexp_replace(
           |        lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)),
           |        '^(https://[^/?#:]*):443$', '\1'),
           |      '^(http://[^/?#:]*):80$', '\1') AS pre,
           |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
           |  FROM u)
           |SELECT doc_id, url,
           |  concat(pre,
           |    regexp_replace(
           |      regexp_replace(
           |        regexp_replace(
           |          regexp_replace(
           |            regexp_replace(rest, '#.*$', ''),
           |            '(utm_[a-z]+|fbclid)=[^&#]*&?', '', 'g'),
           |          '[?&]+$', ''),
           |        '/+\?', '?'),
           |      '/$', '')) AS canon
           |FROM parts""".stripMargin))

  private val dedupUrl = Q(
    "dedup_url",
    // Exact dedup BY CANONICAL URL — what txt_url_normalize exists
    // for: the same page fetched under cosmetic variants (authority
    // case, default port, tracking params, fragments, trailing slash)
    // collapses to one keeper (min doc_id) with its duplicate count.
    // Both planted branches canonicalize to https://www.siteK.com/p/X
    // for equal (doc_id%7, doc_id%5), so the gate proves REAL
    // collisions across variant spellings, not just string cleanup.
    // One hash-agg on the canonical string — dedup_exact's shape with
    // the normalizer fused into the scan projection.
    (s, dir) => {
      val planted = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("HTTPS://WWW.Site"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".COM:443/p/"), pmod(col("doc_id"), lit(5)).cast("string"),
          lit("/?utm_source=feed#sec")))
        .otherwise(
          concat(lit("https://www.site"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(".com/p/"), pmod(col("doc_id"), lit(5)).cast("string"),
            lit("/?fbclid=c"), col("doc_id").cast("string")))
      T(s, dir, "documents")
        .select(col("doc_id"), TextOps.normalizeUrl(planted).as("canon"))
        .groupBy("canon")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_dups"))
    },
    Some("""WITH u AS (SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN concat('HTTPS://WWW.Site',
           |      CAST(doc_id % 7 AS VARCHAR), '.COM:443/p/',
           |      CAST(doc_id % 5 AS VARCHAR), '/?utm_source=feed#sec')
           |    ELSE concat('https://www.site', CAST(doc_id % 7 AS VARCHAR),
           |      '.com/p/', CAST(doc_id % 5 AS VARCHAR),
           |      '/?fbclid=c', CAST(doc_id AS VARCHAR)) END AS url
           |  FROM documents),
           |c AS (SELECT doc_id, concat(
           |    regexp_replace(
           |      regexp_replace(
           |        lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)),
           |        '^(https://[^/?#:]*):443$', '\1'),
           |      '^(http://[^/?#:]*):80$', '\1'),
           |    regexp_replace(
           |      regexp_replace(
           |        regexp_replace(
           |          regexp_replace(
           |            regexp_replace(
           |              regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
           |              '#.*$', ''),
           |            '(utm_[a-z]+|fbclid)=[^&#]*&?', '', 'g'),
           |          '[?&]+$', ''),
           |        '/+\?', '?'),
           |      '/$', '')) AS canon
           |  FROM u)
           |SELECT canon, min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_dups
           |FROM c GROUP BY 1""".stripMargin))

  // =====================================================================
  // Deduplication & similarity (training-data extensions)
  // =====================================================================

  private val dedupSpans = Q(
    "dedup_spans",
    // C4-style repeated-span removal — the corpus-level "remove all but
    // one occurrence of any duplicated span" pass (Raffel et al. used
    // three-sentence spans; here non-overlapping 3-token groups, the
    // same shape at fixture scale). Semantics: a span instance survives
    // iff its text's FIRST corpus occurrence (min doc_id, then min pos)
    // is this instance; docs are reassembled from surviving spans in
    // position order, and the dropped count is reported per doc.
    // Scale shape: explode to spans (narrow), one hash-agg on the span
    // digest for (frequency, keeper), then a LEFT join back in which
    // the right side carries ONLY spans with frequency > 1 — unique
    // spans (the overwhelming majority of a real corpus) never ride
    // the join. The keeper is encoded as one BIGINT (doc_id*2^31+pos)
    // rather than a struct argmin, so
    // both engines take the same universally-supported min(bigint)
    // path. Encoding bounds: pos < 2^31 holds by CONSTRUCTION (a JVM
    // string caps at 2^31 chars, so no doc can have 2^31 spans);
    // doc_id must stay below 2^32 or the product overflows int64 —
    // corpora with more documents re-key ids first (documented
    // precondition, not a silent wrap at any reachable fixture or
    // probe scale). Final reassembly is one groupBy(doc_id) with an
    // array sort-filter-join — never a window over the corpus.
    (s, dir) => {
      val d = T(s, dir, "documents").select(
        col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      val nG = ((size(col("tk")) + lit(2)) / lit(3)).cast("int")
      val spans = d.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), nG - 1),
            g => concat_ws(" ", slice(col("tk"), g * lit(3) + lit(1), lit(3))))))
        .withColumnRenamed("col", "gtext")
        .withColumn("gh", md5(col("gtext")))
      val dups = spans.groupBy("gh")
        .agg(min(col("doc_id") * lit(2147483648L) + col("pos")).as("keeper"),
          count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select("gh", "keeper")
      spans.join(dups, Seq("gh"), "left")
        .withColumn("keep", col("keeper").isNull ||
          col("doc_id") * lit(2147483648L) + col("pos") === col("keeper"))
        .groupBy("doc_id")
        .agg(
          concat_ws(" ",
            transform(
              filter(
                array_sort(collect_list(struct(col("pos"), col("keep"), col("gtext")))),
                x => x.getField("keep")),
              x => x.getField("gtext"))).as("clean_text"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
    },
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |sp AS (SELECT doc_id,
           |    unnest(list_transform(range(0, CAST(ceil(len(t) / 3.0) AS BIGINT)),
           |      g -> struct_pack(pos := g,
           |             gtext := array_to_string(t[(g*3+1):(g*3+3)], ' ')))) AS u
           |  FROM tk),
           |g2 AS (SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, u.gtext AS gtext,
           |         md5(u.gtext) AS gh FROM sp),
           |dups AS (SELECT gh, min(doc_id * 2147483648 + pos) AS keeper
           |  FROM g2 GROUP BY 1 HAVING count(*) > 1),
           |f AS (SELECT g2.doc_id, g2.pos, g2.gtext,
           |    (dups.gh IS NULL OR g2.doc_id * 2147483648 + g2.pos = dups.keeper) AS keep
           |  FROM g2 LEFT JOIN dups ON g2.gh = dups.gh)
           |SELECT doc_id,
           |  COALESCE(array_to_string(list_transform(list_filter(
           |    list_sort(list(struct_pack(pos := pos, keep := keep, gtext := gtext))),
           |    x -> x.keep), x -> x.gtext), ' '), '') AS clean_text,
           |  CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped
           |FROM f GROUP BY 1""".stripMargin))

  private val dedupExact = Q(
    "dedup_exact",
    (s, dir) =>
      T(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id")),
    Some("""SELECT md5(text) AS h, count(*) AS n_dups, min(doc_id) AS keep_id
           |FROM documents GROUP BY 1""".stripMargin))

  /** Shingle sets are hashed to fixed-width 12-hex (48-bit) digests
    * BEFORE they reach any Exchange: the banding fan-out and both
    * exact-Jaccard verify join-backs then shuffle ~13 bytes per
    * shingle instead of raw n-gram text — the txt_decontam_bloom
    * doctrine ("shuffles never carry corpus text") applied to
    * near-dedup. Jaccard is exactly preserved on digest sets modulo
    * md5-prefix collisions (~2^-48 per shingle pair — and both engines
    * collide identically, so gates still compare like with like: the
    * DuckDB oracles apply this same digest via the SQL twin below).
    */
  private def digestShingles(shingles: Column): Column =
    array_distinct(transform(shingles, s => substring(md5(s), 1, 12)))

  /** Shared DuckDB mirror of `SimilarityOps.lshCandidatePairs`: the
    * sig/bands/cand CTE chain over `src`, which must expose `doc_id`,
    * the `blockKeys`, and the set column `setCol`. Generated from one
    * place so the four LSH query oracles can never drift from each
    * other (or from the Scala formulation).
    */
  private def lshOracleCtes(src: String, setCol: String, blockKeys: Seq[String],
      bands: Int = 3, rowsPerBand: Int = 2): String = {
    val keys = ("doc_id" +: blockKeys).mkString(", ")
    // mirrors SimilarityOps.minhashSig's chunk layout exactly: chunks
    // 0-5 slice md5(s); chunks 6-11 slice the salted md5(s || '#2')
    // that widens the signature budget to 12 without r=1 banding
    val mins = (0 until bands * rowsPerBand).map { i =>
      val h = if (i < 6) "md5(s)" else "md5(concat(s, '#2'))"
      val off = if (i < 6) 1 + 5 * i else 1 + 5 * (i - 6)
      s"  list_min(list_transform($setCol, s -> substr($h, $off, 5))) AS m$i"
    }.mkString(",\n")
    // mirrors SimilarityOps.bandKey exactly: band bi hashes the '|'-joined
    // chunks [bi*r, bi*r + r); a single-chunk band reduces to md5(m_i)
    // (concat of one element is the element)
    val bandRows = (0 until bands).map { bi =>
      val parts = (0 until rowsPerBand).map(r => s"m${bi * rowsPerBand + r}")
      val key =
        if (parts.size == 1) s"md5(${parts.head})"
        else s"md5(concat(${parts.mkString(", '|', ")}))"
      if (bi == 0) s"  SELECT $keys, 0 AS band, $key AS bkey FROM sig"
      else s"  UNION ALL SELECT $keys, $bi, $key FROM sig"
    }.mkString("\n")
    val joinKeys = (Seq("band", "bkey") ++ blockKeys).map(k => s"a.$k = b.$k").mkString(" AND ")
    s"""sig AS (SELECT $keys,
       |$mins
       | FROM $src),
       |bands AS (
       |$bandRows),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON $joinKeys AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Exact-Jaccard verification fragment over candidate pairs. Alias
    * contract: the two joined set-bearing tables MUST be aliased `x`
    * (the doc_a side) and `y` (the doc_b side) — the fragment binds
    * those names directly.
    */
  private def lshVerifySql(setCol: String): String =
    s"""CAST(len(list_filter(x.$setCol, t -> list_contains(y.$setCol, t))) AS DOUBLE) /
       |  CAST(len(x.$setCol) + len(y.$setCol)
       |       - len(list_filter(x.$setCol, t -> list_contains(y.$setCol, t))) AS DOUBLE)""".stripMargin

  private val dedupNgramJaccard = Q(
    "dedup_ngram_jaccard",
    // bigram-Jaccard near-dup pairs within (lang, source). Candidates
    // come from MinHash-LSH banding — an equi-join on (band, bkey) that
    // shuffle-partitions at any corpus size — and the exact bigram
    // Jaccard verifies candidates only, never blocked all pairs.
    (s, dir) => {
      val base = mat(spread(T(s, dir, "documents")).select(
        col("doc_id"), col("lang"), col("source"),
        digestShingles(TextOps.wordShingles(toks, 2)).as("sh"))
        .filter(size(col("sh")) > 0))
      SimilarityOps.lshCandidatePairs(base, "doc_id", "sh",
          blockKeys = Seq("lang", "source"), aName = "doc_a", bName = "doc_b")
        .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
        .join(base.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          SimilarityOps.jaccard(col("sha"), col("shb")).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    },
    Some(s"""WITH t AS (SELECT doc_id, lang, source,
           |    list_distinct(list_transform(list_transform(range(1, len(string_split(text,' '))), i ->
           |      concat(string_split(text,' ')[i], ' ', string_split(text,' ')[i+1])), s -> substr(md5(s), 1, 12))) AS sh
           |  FROM documents),
           |base AS (SELECT * FROM t WHERE len(sh) > 0),
           |${lshOracleCtes("base", "sh", Seq("lang", "source"))}
           |SELECT doc_a, doc_b,
           |  ${lshVerifySql("sh")} AS jaccard
           |FROM cand JOIN base x ON x.doc_id = cand.doc_a
           |          JOIN base y ON y.doc_id = cand.doc_b
           |WHERE ${lshVerifySql("sh")} >= 0.5""".stripMargin))

  private val dedupMinhashLsh = Q(
    "dedup_minhash_lsh",
    // trigram MinHash-LSH over the whole corpus (no blocking): the
    // scale-safe template every near-dedup query reuses via
    // SimilarityOps.lshCandidatePairs
    (s, dir) => {
      // empty-shingle guard (same as dedup_ngram_jaccard): docs with
      // < 3 tokens share the sentinel minhash signature — one quadratic
      // bucket — and their 0/0 verification Jaccard THROWS under this
      // build's ANSI-on Spark while DuckDB yields NaN (> 0.5!)
      val base = mat(spread(T(s, dir, "documents")).select(
        col("doc_id"), digestShingles(TextOps.wordShingles(toks, 3)).as("sh"))
        .filter(size(col("sh")) > 0))
      SimilarityOps.lshCandidatePairs(base, "doc_id", "sh",
          aName = "doc_a", bName = "doc_b")
        .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
        .join(base.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          SimilarityOps.jaccard(col("sha"), col("shb")).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |base0 AS (SELECT doc_id, list_distinct(list_transform(list_transform(range(1, len(tk) - 1), i ->
           |           concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])), s -> substr(md5(s), 1, 12))) AS sh FROM toks),
           |base AS (SELECT * FROM base0 WHERE len(sh) > 0),
           |${lshOracleCtes("base", "sh", Nil)},
           |j AS (SELECT doc_a, doc_b,
           |        ${lshVerifySql("sh")} AS jaccard
           |      FROM cand JOIN base x ON x.doc_id = doc_a JOIN base y ON y.doc_id = doc_b)
           |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin))

  private val dedupLshRecall = Q(
    "dedup_lsh_recall",
    // The LSH recall AUDIT as a first-class gate: exact trigram-Jaccard
    // ground truth (shingle-postings co-count — an equi-join on the
    // shingle key plus a pair-count hash-agg, never an all-pairs join)
    // against the default 3×2 banded candidates, recall reported per
    // truth threshold. This pins the production banding's measured
    // recall curve as a hash gate — the number LshRecallSpec asserts
    // floors over becomes a driver-verified artifact (and a banding or
    // signature-layout drift flips it red). The truth side is the
    // audit path, not the dedup path: postings co-count costs Σ df²
    // pairs and is the EXACT tool you run on a sample to calibrate
    // banding; production candidate generation stays banded-LSH
    // (dedup_minhash_lsh) whose key space shuffle-partitions at any
    // corpus size. Arithmetic: intersection/sizes are exact integers,
    // Jaccard is one IEEE division, recall is one division rounded at
    // 6 — no transcendentals, bit-stable.
    (s, dir) => {
      val base = mat(spread(T(s, dir, "documents")).select(
        col("doc_id"), digestShingles(TextOps.wordShingles(toks, 3)).as("sh"))
        .filter(size(col("sh")) > 0))
      val post = base.select(col("doc_id"), explode(col("sh")).as("t"))
      val sizes = base.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
      val truth = post.as("a").join(post.as("b"),
          col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .withColumn("j", col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
        .filter(col("j") >= 0.5)
      val cand = SimilarityOps.lshCandidatePairs(base, "doc_id", "sh",
        aName = "doc_a", bName = "doc_b")
      truth.join(cand.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
        .select(col("j"), coalesce(col("hit"), lit(0L)).as("hit"),
          explode(array(lit(0.5), lit(0.6), lit(0.7), lit(0.8))).as("thr"))
        .filter(col("j") >= col("thr"))
        .groupBy(col("thr")).agg(
          count(lit(1)).as("truth_pairs"),
          sum(col("hit")).as("caught"))
        .select(col("thr"), col("truth_pairs"), col("caught"),
          round(col("caught").cast("double") / col("truth_pairs").cast("double"), 6)
            .as("recall"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |base0 AS (SELECT doc_id, list_distinct(list_transform(list_transform(range(1, len(tk) - 1), i ->
           |           concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])), s -> substr(md5(s), 1, 12))) AS sh FROM toks),
           |base AS (SELECT * FROM base0 WHERE len(sh) > 0),
           |post AS (SELECT doc_id, unnest(sh) AS t FROM base),
           |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM base),
           |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
           |       FROM post a JOIN post b ON a.t = b.t AND a.doc_id < b.doc_id
           |       GROUP BY 1, 2),
           |truth0 AS (SELECT doc_a, doc_b,
           |    CAST(inter AS DOUBLE) / CAST(x0.n + y0.n - inter AS DOUBLE) AS j
           |  FROM co JOIN sz x0 ON x0.doc_id = doc_a JOIN sz y0 ON y0.doc_id = doc_b),
           |truth AS (SELECT * FROM truth0 WHERE j >= 0.5),
           |${lshOracleCtes("base", "sh", Nil)},
           |m AS (SELECT t.j, CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS hit
           |      FROM truth t LEFT JOIN cand c
           |        ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
           |x AS (SELECT thr, j, hit FROM m
           |      CROSS JOIN (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8]) AS DOUBLE) AS thr) th
           |      WHERE j >= thr)
           |SELECT thr, CAST(count(*) AS BIGINT) AS truth_pairs,
           |       CAST(sum(hit) AS BIGINT) AS caught,
           |       round(CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
           |FROM x GROUP BY thr""".stripMargin))

  private val dedupSubstring = Q(
    "dedup_substring",
    // EXACT substring dedup across documents (the Lee et al. 2022
    // "Deduplicating Training Data" granularity, at 8-token windows):
    // any 8-token span whose digest occurs anywhere else in the corpus
    // — another doc OR another position of the same doc — is removed
    // except at its canonical first occurrence (min (doc_id, pos)),
    // and surviving tokens reassemble into the cleaned text. This is
    // the step BETWEEN document-level near-dedup (which misses a
    // boilerplate paragraph pasted into distinct docs) and span
    // self-repetition (dedup_spans, within-doc only). Shape at 100 TB:
    // the gram postings shuffle on the digest key (dictionary-sized,
    // shingles digested before the exchange — the shuffles-never-carry-
    // corpus-text doctrine); only digests with count > 1 join back (the
    // duplicated minority); the canonical pick is a min over an
    // integer-packed (doc, pos) — no second pass, no window; per-doc
    // span lists are bounded by doc length and the rebuild is one
    // array expression, never a shuffle of token rows.
    (s, dir) => TextOps.substringDedup(
      spread(T(s, dir, "documents")).select(col("doc_id"), toks.as("tk")),
      idCol = "doc_id", tokensCol = "tk", w = 8),
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |g AS (SELECT doc_id, i AS pos,
           |        substr(md5(array_to_string(tk[i+1:i+8], ' ')), 1, 16) AS dg
           |      FROM d, unnest(range(0, greatest(len(tk) - 7, 0))) AS t(i)),
           |dup AS (SELECT dg, count(*) AS cnt,
           |          min(doc_id * 1000000 + pos) AS canon
           |        FROM g GROUP BY 1 HAVING count(*) > 1),
           |rem AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (dg)
           |        WHERE g.doc_id * 1000000 + g.pos <> dup.canon),
           |st AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS starts
           |       FROM rem GROUP BY 1),
           |o AS (SELECT d.doc_id, d.tk, coalesce(st.starts, []) AS starts
           |      FROM d LEFT JOIN st USING (doc_id)),
           |k AS (SELECT doc_id, len(tk) AS n,
           |        list_filter(list_transform(range(0, len(tk)), j ->
           |          CASE WHEN len(list_filter(starts,
           |                 s -> s <= j AND j <= s + 7)) = 0
           |               THEN tk[j+1] END), x -> x IS NOT NULL) AS kept
           |      FROM o)
           |SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS clean_text,
           |       CAST(n - len(kept) AS BIGINT) AS n_removed
           |FROM k""".stripMargin))

  private val dedupComponents = Q(
    "dedup_components",
    // duplicate-GROUP assignment — the step between "similar pairs" and
    // "keep one canonical doc": verified trigram-Jaccard pairs (same
    // LSH template as dedup_minhash_lsh, looser 0.3 cut so transitive
    // chains a~b~c appear) are closed into connected components via
    // alternating large/small-star contraction; cluster_id is the
    // component's min doc_id, i.e. the canonical survivor. The output
    // is a TOTAL clustering: docs untouched by any duplicate pair come
    // back labelled as their own singleton cluster (totalComponents),
    // so `GROUP BY cluster_id` downstream covers the whole corpus
    // instead of silently dropping unique docs. The oracle recomputes
    // the closure INDEPENDENTLY (recursive-CTE BFS) — only the pair
    // list is shared, so a contraction bug cannot cancel out.
    (s, dir) => {
      val base = mat(spread(T(s, dir, "documents")).select(
        col("doc_id"), digestShingles(TextOps.wordShingles(toks, 3)).as("sh"))
        .filter(size(col("sh")) > 0))
      val pairs = SimilarityOps.lshCandidatePairs(base, "doc_id", "sh",
          aName = "doc_a", bName = "doc_b")
        .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
        .join(base.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
        .filter(SimilarityOps.jaccard(col("sha"), col("shb")) >= 0.3)
        .select(col("doc_a"), col("doc_b"))
      graft.functions.Components.totalComponents(base, "doc_id", pairs, "doc_a", "doc_b",
          assumeUniqueIds = true) // base is one row per doc_id — skip the distinct exchange
        .select(col("node").cast("long").as("doc_id"),
          col("component").cast("long").as("cluster_id"))
    },
    Some(s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |base0 AS (SELECT doc_id, list_distinct(list_transform(list_transform(range(1, len(tk) - 1), i ->
           |           concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])), s -> substr(md5(s), 1, 12))) AS sh FROM toks),
           |base AS (SELECT * FROM base0 WHERE len(sh) > 0),
           |${lshOracleCtes("base", "sh", Nil)},
           |pairs AS (SELECT doc_a, doc_b
           |          FROM cand JOIN base x ON x.doc_id = doc_a JOIN base y ON y.doc_id = doc_b
           |          WHERE ${lshVerifySql("sh")} >= 0.3),
           |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
           |          UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT s AS node, s AS label FROM edges
           |  UNION
           |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node),
           |cl AS (SELECT node, CAST(min(label) AS BIGINT) AS cluster_id
           |       FROM reach GROUP BY node)
           |SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
           |       coalesce(cl.cluster_id, CAST(b.doc_id AS BIGINT)) AS cluster_id
           |FROM base b LEFT JOIN cl ON cl.node = b.doc_id""".stripMargin))

  private val graphTriangles = Q(
    "graph_triangles",
    // Per-document triangle participation over the verified near-dup
    // graph — the density signal between "similar pairs" and "dup
    // groups": a component that is a loose CHAIN (a~b~c, no a~c)
    // dedups very differently from a tight clique, and triangle counts
    // are the standard clustering-coefficient numerator that tells
    // them apart. Pairs are the same J>=0.3 LSH-verified edges
    // dedup_components closes; triangles then cost two EQUI-joins —
    // wedge (e1.b = e2.a over canonical a<b edges, so x<y<z exactly
    // once) + closure against the edge set — never an all-pairs. The
    // edge frame is pinned once and fans out to all three join legs.
    // At 100 TB the edge table is candidate-sized (LSH-bounded, not
    // corpus²); the wedge join's key space is the vertex set, and the
    // canonical orientation bounds wedge volume by out-degree — the
    // production refinement is degree-ordered orientation, same plan
    // shape. The oracle recomputes triangles INDEPENDENTLY from the
    // shared pair list, so a wedge/closure bug cannot cancel out.
    (s, dir) => {
      val base = mat(spread(T(s, dir, "documents")).select(
        col("doc_id"), digestShingles(TextOps.wordShingles(toks, 3)).as("sh"))
        .filter(size(col("sh")) > 0))
      val edges = mat(SimilarityOps.lshCandidatePairs(base, "doc_id", "sh",
          aName = "a", bName = "b")
        .join(base.select(col("doc_id").as("a"), col("sh").as("sha")), Seq("a"))
        .join(base.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
        .filter(SimilarityOps.jaccard(col("sha"), col("shb")) >= 0.3)
        .select(col("a"), col("b")))
      val wedges = edges.as("e1").join(edges.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val closed = wedges.join(
        edges.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      closed.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_triangles"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |base0 AS (SELECT doc_id, list_distinct(list_transform(list_transform(range(1, len(tk) - 1), i ->
           |           concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])), s -> substr(md5(s), 1, 12))) AS sh FROM toks),
           |base AS (SELECT * FROM base0 WHERE len(sh) > 0),
           |${lshOracleCtes("base", "sh", Nil)},
           |e AS (SELECT doc_a AS a, doc_b AS b
           |      FROM cand JOIN base x ON x.doc_id = doc_a JOIN base y ON y.doc_id = doc_b
           |      WHERE ${lshVerifySql("sh")} >= 0.3),
           |w AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |      FROM e e1 JOIN e e2 ON e2.a = e1.b),
           |t AS (SELECT w.x, w.y, w.z FROM w JOIN e e3 ON e3.a = w.x AND e3.b = w.z),
           |u AS (SELECT unnest([x, y, z]) AS doc_id FROM t)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
           |FROM u GROUP BY 1""".stripMargin))

  private val graphLabelProp = Q(
    "graph_labelprop",
    // Two rounds of synchronous majority-vote label propagation
    // (Raghavan et al. 2007) over the SAME verified near-dup edge
    // graph the components/triangles gates close — the community
    // labeler of the graph family: components answers "which docs are
    // transitively connected", LP answers "what does the cluster
    // AGREE on" (here: spreading the lang tag through dup clusters —
    // the curation pattern that labels a scraped dup by its cluster's
    // consensus, and flags the minority-label members as suspect).
    // Determinized: synchronous rounds (votes always read the PREVIOUS
    // round's labels), ties broken by (count desc, label asc) in both
    // engines, isolated docs keep their own label. Scale shape: each
    // round is one edge-sized hash-agg on (node, label) + a per-node
    // rank over ≤|labels| rows — O(E) per round, the standard LP cost;
    // rounds are a fixed small constant (LP plateaus fast and each
    // round is a full shuffle — unbounded iteration is a scale bug,
    // not a feature).
    (s, dir) => {
      val d = spread(T(s, dir, "documents"))
      val base = mat(d.select(
          col("doc_id"), digestShingles(TextOps.wordShingles(toks, 3)).as("sh"))
        .filter(size(col("sh")) > 0))
      val edges = mat(SimilarityOps.lshCandidatePairs(base, "doc_id", "sh",
          aName = "a", bName = "b")
        .join(base.select(col("doc_id").as("a"), col("sh").as("sha")), Seq("a"))
        .join(base.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
        .filter(SimilarityOps.jaccard(col("sha"), col("shb")) >= 0.3)
        .select(col("a"), col("b")))
      val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      val l0 = d.select(col("doc_id"), col("lang").as("label"))
      def prop(labels: DataFrame): DataFrame = {
        val votes = sym
          .join(labels.select(col("doc_id").as("b"), col("label").as("nl")), Seq("b"))
          .groupBy(col("a"), col("nl")).agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("a")).orderBy(col("c").desc, col("nl"))
        val winner = votes.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1).select(col("a").as("doc_id"), col("nl").as("wl"))
        labels.join(winner, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("wl"), col("label")).as("label"))
      }
      prop(prop(l0))
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |base0 AS (SELECT doc_id, list_distinct(list_transform(list_transform(range(1, len(tk) - 1), i ->
           |           concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])), s -> substr(md5(s), 1, 12))) AS sh FROM toks),
           |base AS (SELECT * FROM base0 WHERE len(sh) > 0),
           |${lshOracleCtes("base", "sh", Nil)},
           |e AS (SELECT doc_a AS a, doc_b AS b
           |      FROM cand JOIN base x ON x.doc_id = doc_a JOIN base y ON y.doc_id = doc_b
           |      WHERE ${lshVerifySql("sh")} >= 0.3),
           |sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
           |l0 AS (SELECT doc_id, lang AS label FROM documents),
           |v1 AS (SELECT sym.a, l0.label AS nl, count(*) AS c
           |       FROM sym JOIN l0 ON l0.doc_id = sym.b GROUP BY 1, 2),
           |w1 AS (SELECT a, nl, row_number() OVER (PARTITION BY a ORDER BY c DESC, nl) AS rk FROM v1),
           |l1 AS (SELECT l0.doc_id, coalesce(t.nl, l0.label) AS label
           |       FROM l0 LEFT JOIN (SELECT a, nl FROM w1 WHERE rk = 1) t ON t.a = l0.doc_id),
           |v2 AS (SELECT sym.a, l1.label AS nl, count(*) AS c
           |       FROM sym JOIN l1 ON l1.doc_id = sym.b GROUP BY 1, 2),
           |w2 AS (SELECT a, nl, row_number() OVER (PARTITION BY a ORDER BY c DESC, nl) AS rk FROM v2),
           |l2 AS (SELECT l1.doc_id, coalesce(t.nl, l1.label) AS label
           |       FROM l1 LEFT JOIN (SELECT a, nl FROM w2 WHERE rk = 1) t ON t.a = l1.doc_id)
           |SELECT doc_id, label FROM l2""".stripMargin))

  private val txtReadability = Q(
    "txt_readability",
    // Flesch reading-ease as a curation quality signal, in EXACT
    // integer counts: words = non-empty tokens, sentences = terminal
    // punctuation marks (floor 1 — headline-style fragments count as
    // one), syllables = vowel-group runs per word (floor 1/word, the
    // standard heuristic). The closing 206.835 - 1.015*(w/s) -
    // 84.6*(syl/w) is a FIXED left-associated IEEE sequence over
    // exact integers, rounded once at 6 — the determinism doctrine
    // every scoring gate follows. One narrow token explode + hash-agg
    // per doc plus a metadata-narrow per-doc sentence count joined on
    // doc_id: shuffles carry (doc_id, three longs), never text.
    (s, dir) => {
      val d = spread(T(s, dir, "documents"))
      val tok = d.select(col("doc_id"), explode(toks).as("t"))
        .filter(length(col("t")) > 0)
      val per = tok.groupBy(col("doc_id")).agg(
        count(lit(1)).cast("long").as("n_words"),
        sum(greatest(size(regexp_extract_all(col("t"), lit("[aeiouy]+"), lit(0))), lit(1)))
          .cast("long").as("n_syllables"))
      val sent = d.select(col("doc_id"),
        greatest(length(regexp_replace(col("text"), "[^.!?]", "")), lit(1))
          .cast("long").as("n_sentences"))
      per.join(sent, Seq("doc_id"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")), 6)
            .as("flesch"))
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
           |tk AS (SELECT * FROM tok WHERE length(t) > 0),
           |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |    CAST(sum(greatest(len(regexp_extract_all(t, '[aeiouy]+')), 1)) AS BIGINT) AS n_syllables
           |  FROM tk GROUP BY 1),
           |sent AS (SELECT doc_id,
           |    CAST(greatest(length(regexp_replace(text, '[^.!?]', '', 'g')), 1) AS BIGINT) AS n_sentences
           |  FROM documents)
           |SELECT p.doc_id, n_words, n_sentences, n_syllables,
           |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
           |        - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6) AS flesch
           |FROM per p JOIN sent s ON s.doc_id = p.doc_id""".stripMargin))

  private val txtUnigramSurprisal = Q(
    "txt_unigram_surprisal",
    // Unigram-LM quality scoring (the KenLM-proxy every curation
    // pipeline runs, made hash-gateable): per-token surprisal
    // -log2 p(t) under the corpus's own add-one-smoothed unigram
    // model, in WHOLE BITS — floor(log2((N+V)/(cnt+1))) computed
    // entirely in integers (floor-log2 of a quotient equals floor-log2
    // of the integer division; the bit count is the binary string
    // length), so the per-doc mean is an exact integer sum with ONE
    // closing double division: order-free, engine-exact, no libm-log
    // parity hazard. High mean = rare-token-heavy (specialized or
    // noisy) documents — the up/down-weighting signal. Shuffles carry
    // (token, count) and per-doc longs; the 1-row (N, V) corpus scalar
    // broadcasts like txt_keywords'.
    (s, dir) => {
      val d = spread(T(s, dir, "documents"))
      val tok = d.select(col("doc_id"), explode(toks).as("t"))
        .filter(length(col("t")) > 0)
      val counts = tok.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum(col("cnt")).as("nn"), count(lit(1)).as("vv"))
      tok.join(counts, Seq("t"))
        .crossJoin(broadcast(tot))
        .withColumn("bits",
          // native bin-length (plans/BinLength): same whole-bits value
          // the oracle reads off bin()'s print, no string per token
          (graft.plans.BinLength.binLen(expr("(nn + vv) div (cnt + 1)")) - 1).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          round(sum(col("bits")).cast("double") / count(lit(1)).cast("double"), 6)
            .as("mean_surprisal_bits"))
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
           |tk AS (SELECT * FROM tok WHERE length(t) > 0),
           |c AS (SELECT t, count(*) AS cnt FROM tk GROUP BY 1),
           |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS vv FROM c)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |  round(CAST(sum(length(bin((nn + vv) // (cnt + 1))) - 1) AS DOUBLE)
           |        / CAST(count(*) AS DOUBLE), 6) AS mean_surprisal_bits
           |FROM tk JOIN c USING (t) CROSS JOIN tot
           |GROUP BY doc_id""".stripMargin))

  private val txtBigramSurprisal = Q(
    "txt_bigram_surprisal",
    // Bigram LM surprisal with LEAVE-ONE-OUT stupid backoff, in WHOLE
    // BITS (the txt_unigram_surprisal doctrine one order up): each
    // bigram occurrence scores against the corpus MINUS itself, so a
    // corpus-unique ("hapax") bigram really exercises the backoff
    // branch — bits = floor(log2((c1(w1)-1)/(c2-1))) when the pair
    // recurs elsewhere, else a flat 2-bit backoff penalty +
    // floor(log2((N-1+V)/c1(w2))) from the unigram model. All integer
    // arithmetic on the native bin-length (plans/BinLength), ONE
    // closing double division per doc — order-free, engine-exact.
    // High mean = documents stitched from pairs the corpus never
    // repeats (novel or noisy) — the curation up/down-weight signal.
    // Shuffles carry (w1, w2, count) rows and per-doc longs; bigram
    // extraction is a NARROW array transform (no position self-join);
    // the 1-row (N, V) scalar broadcasts like txt_keywords'.
    (s, dir) => {
      val lst = spread(T(s, dir, "documents")).select(col("doc_id"),
        filter(toks, t => length(t) > 0).as("tk"))
      val tok = lst.select(col("doc_id"), explode(col("tk")).as("t"))
      val c1 = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      val tot = c1.agg(sum(col("c")).as("nn"), count(lit(1)).as("vv"))
      val bg = lst.filter(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(tk) - 1), " +
            "i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      bg.join(c2, Seq("w1", "w2"))
        .join(c1.select(col("t").as("w1"), col("c").as("c1w1")), Seq("w1"))
        .join(c1.select(col("t").as("w2"), col("c").as("c1w2")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .withColumn("bits",
          when(col("c2") - 1 > 0,
            (graft.plans.BinLength.binLen(expr("(c1w1 - 1) div (c2 - 1)")) - 1).cast("long"))
            .otherwise(lit(2L) +
              (graft.plans.BinLength.binLen(expr("(nn - 1 + vv) div c1w2")) - 1).cast("long")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          round(sum(col("bits")).cast("double") / count(lit(1)).cast("double"), 6)
            .as("mean_bigram_bits"))
    },
    Some("""WITH lst AS (SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk FROM documents),
           |tok AS (SELECT doc_id, unnest(tk) AS t FROM lst),
           |c1 AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
           |tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS vv FROM c1),
           |bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
           |  FROM lst, unnest(range(1, len(tk))) AS u(i) WHERE len(tk) >= 2),
           |c2 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
           |scored AS (SELECT b.doc_id,
           |    CASE WHEN c2.c - 1 > 0
           |      THEN length(bin((a1.c - 1) // (c2.c - 1))) - 1
           |      ELSE 2 + length(bin((nn - 1 + vv) // a2.c)) - 1
           |    END AS bits
           |  FROM bg b
           |  JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
           |  JOIN c1 a1 ON b.w1 = a1.t
           |  JOIN c1 a2 ON b.w2 = a2.t
           |  CROSS JOIN tot)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  round(CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_bigram_bits
           |FROM scored GROUP BY doc_id""".stripMargin))

  private val docHoldoutGroups = Q(
    "doc_holdout_groups",
    // LEAKAGE-FREE holdout: split by near-duplicate GROUP, not by doc —
    // hashing doc_ids (doc_holdout) puts two near-identical documents
    // on opposite sides of the train/eval fence, and the eval score
    // silently measures memorization. Here the dedup components
    // (identical pipeline to dedup_components: banded LSH candidates,
    // 0.3 Jaccard closure, min-id canonical labels, singleton clusters
    // for untouched docs) are hashed INSTEAD, so a whole duplicate
    // family lands on one side by construction. The oracle recomputes
    // the closure independently (recursive-CTE BFS) and applies the
    // same group hash — a doc on the wrong side hashes red.
    (s, dir) => {
      val base = mat(spread(T(s, dir, "documents")).select(
        col("doc_id"), digestShingles(TextOps.wordShingles(toks, 3)).as("sh"))
        .filter(size(col("sh")) > 0))
      val pairs = SimilarityOps.lshCandidatePairs(base, "doc_id", "sh",
          aName = "doc_a", bName = "doc_b")
        .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
        .join(base.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
        .filter(SimilarityOps.jaccard(col("sha"), col("shb")) >= 0.3)
        .select(col("doc_a"), col("doc_b"))
      graft.functions.Components.totalComponents(base, "doc_id", pairs, "doc_a", "doc_b",
          assumeUniqueIds = true)
        .select(col("node").cast("long").as("doc_id"),
          col("component").cast("long").as("cluster_id"))
        .withColumn("split",
          when(substring(md5(concat(lit("grp:"), col("cluster_id").cast("string"))), 1, 2) < "1a",
            "eval").otherwise("train"))
    },
    Some(s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |base0 AS (SELECT doc_id, list_distinct(list_transform(list_transform(range(1, len(tk) - 1), i ->
           |           concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])), s -> substr(md5(s), 1, 12))) AS sh FROM toks),
           |base AS (SELECT * FROM base0 WHERE len(sh) > 0),
           |${lshOracleCtes("base", "sh", Nil)},
           |pairs AS (SELECT doc_a, doc_b
           |          FROM cand JOIN base x ON x.doc_id = doc_a JOIN base y ON y.doc_id = doc_b
           |          WHERE ${lshVerifySql("sh")} >= 0.3),
           |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
           |          UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT s AS node, s AS label FROM edges
           |  UNION
           |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node),
           |cl AS (SELECT node, CAST(min(label) AS BIGINT) AS cluster_id
           |       FROM reach GROUP BY node),
           |lab AS (SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
           |        coalesce(cl.cluster_id, CAST(b.doc_id AS BIGINT)) AS cluster_id
           |        FROM base b LEFT JOIN cl ON cl.node = b.doc_id)
           |SELECT doc_id, cluster_id,
           |  CASE WHEN substr(md5(concat('grp:', CAST(cluster_id AS VARCHAR))), 1, 2) < '1a'
           |       THEN 'eval' ELSE 'train' END AS split
           |FROM lab""".stripMargin))

  private val dedupWinnow = Q(
    "dedup_winnow",
    // winnowing-sketch near-dup pairs within (lang, source). The sketch
    // build is a NARROW per-document array pass (no Exchange — see
    // SimilarityOps.winnowSketch); pair candidates come from MinHash-LSH
    // banding over the sketch sets — no blocked all-pairs join — with
    // exact sketch Jaccard verifying candidates only.
    (s, dir) => {
      val docs = T(s, dir, "documents").filter(length(col("text")) >= 5)
      // the sketch (a k-gram hash per char position, rolled per-row)
      // is BY FAR the dominant stage — pin it so the band fan-out and
      // both verification join-backs read it once, not ~8x
      val sk = mat(SimilarityOps.winnowSketch(docs.select(col("doc_id"), col("text")),
          "doc_id", col("text"), k = 5, w = 16)
        .join(docs.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id")))
      SimilarityOps.lshCandidatePairs(sk, "doc_id", "sketch",
          blockKeys = Seq("lang", "source"), aName = "doc_a", bName = "doc_b")
        .join(sk.select(col("doc_id").as("doc_a"), col("sketch").as("ska")), Seq("doc_a"))
        .join(sk.select(col("doc_id").as("doc_b"), col("sketch").as("skb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          SimilarityOps.jaccard(col("ska"), col("skb")).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    },
    Some(s"""WITH pos AS (
           |  SELECT doc_id, lang, source, text,
           |         unnest(range(1, length(text) - 4 + 1)) AS p
           |  FROM documents WHERE length(text) >= 5),
           |hashed AS (
           |  SELECT doc_id, lang, source, p,
           |         substr(md5(substr(text, p, 5)), 1, 8) AS h FROM pos),
           |wm AS (
           |  SELECT doc_id, lang, source,
           |         min(h) OVER (PARTITION BY doc_id ORDER BY p
           |                      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wmin
           |  FROM hashed),
           |sk AS (
           |  SELECT doc_id, lang, source,
           |         list_sort(list_distinct(list(wmin))) AS sketch
           |  FROM wm GROUP BY 1, 2, 3),
           |${lshOracleCtes("sk", "sketch", Seq("lang", "source"))}
           |SELECT doc_a, doc_b,
           |  ${lshVerifySql("sketch")} AS jaccard
           |FROM cand JOIN sk x ON x.doc_id = cand.doc_a
           |          JOIN sk y ON y.doc_id = cand.doc_b
           |WHERE ${lshVerifySql("sketch")} >= 0.5""".stripMargin))

  private val simAnnIvfStored = Q(
    "sim_ann_ivf_stored",
    // The IVF index AS A TABLE ON DISK — the leg sim_ann_ivf leaves
    // hypothetical: assignments are materialized hive-partitioned BY
    // CELL, and the probe filters the read to the probed cells before
    // any join, so the scan's PartitionFilters prune the unprobed
    // directories — at 100 TB the query opens nProbe/k of the index
    // FILES, not just nProbe/k of the rows. The probed-cell set is
    // collected from the query frame (nProbe x |queries| ids —
    // metadata-sized; a streaming deployment would let dynamic
    // partition pruning derive the same filter from the broadcast
    // join). Results must hash-equal sim_ann_ivf's oracle exactly:
    // storage layout is an IO decision and may never change a result.
    (s, dir) => {
      val e = T(s, dir, "embeddings")
      val index = graft.functions.AnnIvf.buildFixed(
        e.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "c_id"),
        "embedding", idCol = "c_id", k = 16)
      val stored = scratchDir("ivfstore")
      index.assigned.write.mode("overwrite").partitionBy("cell").parquet(stored)
      val queries = e.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id")
      val probed = queries.select(explode(graft.functions.AnnIvf.probeCells(
          index, col("embedding").cast("array<double>"), nProbe = 4)).as("cell"))
        .distinct().collect().map(_.getInt(0)) // <= nProbe x |queries| ids
      val prunedIndex = index.copy(assigned =
        s.read.parquet(stored).filter(col("cell").isin(probed.toIndexedSeq: _*)))
      graft.functions.AnnIvf.query(
        prunedIndex, queries, qIdCol = "q_id", topK = 5, nProbe = 4, cIdCol = "c_id")
        .select("q_id", "c_id", "cosine", "rank")
    },
    // byte-identical semantics to sim_ann_ivf: same oracle
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v AS cv,
           |         list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) / 2 AS half
           |  FROM e WHERE vec_id >= 10 ORDER BY vec_id LIMIT 16),
           |assign AS (SELECT vec_id AS c_id, v AS cv, j AS cell FROM (
           |    SELECT e.vec_id, e.v, cent.j,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS rr
           |    FROM e CROSS JOIN cent WHERE e.vec_id >= 10)
           |  WHERE rr = 1),
           |probe AS (SELECT q_id, qv, cell FROM (
           |    SELECT e.vec_id AS q_id, e.v AS qv, cent.j AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS pr
           |    FROM e CROSS JOIN cent WHERE e.vec_id < 10)
           |  WHERE pr <= 4),
           |s AS (SELECT q_id, c_id, round(
           |    list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))), 6) AS cosine
           |  FROM assign JOIN probe USING (cell))
           |SELECT q_id, c_id, cosine, rank FROM (
           |  SELECT q_id, c_id, cosine,
           |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
           |  FROM s) WHERE rank <= 5""".stripMargin))

  /** DuckDB recomputation of the 60-bit SimHash pipeline, generated
    * bit-for-bit against `SimilarityOps.simhashAgg60`: bit j of the
    * fingerprint reads hex nibble 8 - j/4 (j < 32) or 15 - (j-32)/4 of
    * md5(token) — exactly the nibbles Spark's conv() chunks expose.
    */
  private val simhashOracleSql: String = {
    val votes = (0 until 60).map { j =>
      val (p, b) = if (j < 32) (8 - j / 4, j % 4) else (15 - (j - 32) / 4, (j - 32) % 4)
      s"  sum(CASE WHEN (((strpos('0123456789abcdef', substr(m, $p, 1)) - 1) >> $b) & 1) = 1" +
        s" THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n")
    val fpBits = (0 until 60).map(j =>
      s"(CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)").mkString(" | ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |h AS (SELECT doc_id, md5(t) AS m FROM tok),
       |votes AS (SELECT doc_id,
       |$votes
       |FROM h GROUP BY doc_id),
       |fps AS (SELECT doc_id, $fpBits AS fp FROM votes),
       |bands AS (SELECT doc_id, fp, b.band, (fp >> (b.band * 15)) & 32767 AS bkey
       |          FROM fps, (VALUES (0), (1), (2), (3)) b(band)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |                CAST(bit_count(xor(x.fp, y.fp)) AS BIGINT) AS hamming
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3""".stripMargin
  }

  private val dedupSimhash = Q(
    "dedup_simhash",
    (s, dir) => {
      // Banded candidate generation (pigeonhole: hamming <= 3 over 4
      // 15-bit bands means at least one band is identical), so the pair
      // search is 4 equi-joins on band values with 2^15 buckets each —
      // shuffle-partitionable at any corpus size — instead of an O(n^2)
      // cartesian. Fingerprints via the explode+hash-agg path: one md5
      // per token, one shuffle; deterministic across engines, so the
      // DuckDB oracle recomputes the identical fingerprints.
      // pin the fingerprint frame: the explode+md5+60-vote hash-agg is
      // the expensive stage, and the 4 band projections × 2 self-join
      // sides would otherwise rebuild it ~8x
      val t = mat(SimilarityOps.simhashAgg60(spread(T(s, dir, "documents")), "doc_id", toks))
      val bands = (0 until 4).map { bi =>
        t.select(col("doc_id"), col("fp"), lit(bi).as("band"),
          SimilarityOps.simhashBandKey(col("fp"), bi).as("bkey"))
      }.reduce(_ unionByName _)
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          SimilarityOps.hamming(col("x.fp"), col("y.fp")).cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
    },
    Some(simhashOracleSql))

  private val simCosineTopk = Q(
    "sim_cosine_topk",
    (s, dir) => {
      // scored with the native fused expression (graft.plans.
      // CosineSimilarity): one primitive loop per pair inside
      // whole-stage codegen, bit-identical to the built-in composition
      val e = T(s, dir, "embeddings").select(
        col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("v").as("cv"))
      val scored = c.crossJoin(broadcast(q)).select(
        col("q_id"), col("c_id"),
        round(CosineSimilarity.cosineSim(col("qv"), col("cv")), 6).as("cosine"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
           |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id >= 10),
           |s AS (SELECT q_id, c_id, round(
           |    list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))), 6) AS cosine
           |  FROM c, q)
           |SELECT q_id, c_id, cosine, rank FROM (
           |  SELECT q_id, c_id, cosine,
           |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
           |  FROM s) WHERE rank <= 5""".stripMargin))

  private val simHybridRrf = Q(
    "sim_hybrid_rrf",
    // Hybrid retrieval by reciprocal-rank fusion (Cormack et al., SIGIR
    // 2009): the lexical leg (BM25, the txt_bm25 kernel verbatim) and
    // the semantic leg (query-vector cosine, the sim_cosine_topk
    // kernel) each produce their own top-50, and the fused score is
    // Σ 1/(60+rank) over the legs a doc appears in — rank fusion needs
    // no score calibration between BM25's unbounded scale and cosine's
    // [-1,1], which is exactly why production RAG stacks use RRF.
    // Scale shape: each leg cuts to k DISTRIBUTEDLY first (TakeOrdered
    // for BM25, broadcast-query scoring + top-k for cosine; at corpus
    // scale the cosine leg is the ANN index, same ranks) — the rank
    // windows and the full-outer fusion join then run over ≤k rows, so
    // fusion cost is independent of corpus size. Ranks are determinized
    // by (score, id) ties; 1/(60+r) is one IEEE division per leg,
    // bit-stable cross-engine.
    (s, dir) => {
      val lexTop = bm25ThreeTerm(T(s, dir, "documents"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
      val lex = lexTop.withColumn("r_lex", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("r_lex"))

      val e = T(s, dir, "embeddings").select(
        col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val semTop = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(CosineSimilarity.cosineSim(col("qv"), col("v")), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("doc_id")).limit(50)
      val sem = semTop.withColumn("r_sem", row_number().over(
        Window.orderBy(col("cosine").desc, col("doc_id"))))
        .select(col("doc_id"), col("r_sem"))

      lex.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("r_lex"), lit(0)).as("r_lex"),
          coalesce(col("r_sem"), lit(0)).as("r_sem"),
          (coalesce(lit(1.0) / (lit(60).cast("double") + col("r_lex").cast("double")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60).cast("double") + col("r_sem").cast("double")), lit(0.0)))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |dl AS (SELECT doc_id, len(t) AS dl FROM tk),
           |corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |    CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl FROM tk),
           |tok AS (SELECT doc_id, unnest(t) AS term FROM tk),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           |  WHERE term IN ('hash', 'join', 'merge') GROUP BY 1, 2),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |sc AS (SELECT tf.doc_id, tf.term,
           |    ((corpus.n - CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
           |     (CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE))) *
           |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
           |     (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
           |      (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
           |       (CAST(dl.dl AS DOUBLE) / corpus.avgdl)))) AS s
           |  FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN corpus),
           |agg AS (SELECT doc_id,
           |    coalesce(max(CASE WHEN term = 'hash' THEN s END), CAST(0 AS DOUBLE)) +
           |    coalesce(max(CASE WHEN term = 'join' THEN s END), CAST(0 AS DOUBLE)) +
           |    coalesce(max(CASE WHEN term = 'merge' THEN s END), CAST(0 AS DOUBLE)) AS score
           |  FROM sc GROUP BY 1),
           |lex_top AS (SELECT doc_id, score FROM agg ORDER BY score DESC, doc_id LIMIT 50),
           |lex AS (SELECT doc_id,
           |    row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex FROM lex_top),
           |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
           |cos AS (SELECT vec_id AS doc_id, round(
           |    list_sum(list_transform(range(1, 65), i -> q[i] * v[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65), i -> q[i] * q[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))), 6) AS cosine
           |  FROM e, qv WHERE vec_id <> 0),
           |sem_top AS (SELECT doc_id, cosine FROM cos ORDER BY cosine DESC, doc_id LIMIT 50),
           |sem AS (SELECT doc_id,
           |    row_number() OVER (ORDER BY cosine DESC, doc_id) AS r_sem FROM sem_top)
           |SELECT doc_id,
           |  CAST(coalesce(r_lex, 0) AS BIGINT) AS r_lex,
           |  CAST(coalesce(r_sem, 0) AS BIGINT) AS r_sem,
           |  coalesce(CAST(1.0 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r_lex AS DOUBLE)), CAST(0 AS DOUBLE)) +
           |  coalesce(CAST(1.0 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r_sem AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf
           |FROM lex FULL OUTER JOIN sem USING (doc_id)
           |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin))

  private val mlNdcg = Q(
    "ml_ndcg",
    // Retrieval-quality metrics over a ranked list: for each of 10
    // query vectors, rank the corpus by cosine (the sim_cosine_topk
    // kernel, top-10), mark a hit when the candidate's label matches
    // the query's, and score the ranking with the three numbers every
    // retrieval eval reports — nDCG@10 (graded position-discounted
    // gain / ideal), MRR (1/first-hit rank), and precision@10. This is
    // the harness that grades an embedding model or an ANN index
    // against labels. Scale shape: ranking is broadcast-query scoring
    // + distributed top-k per query; the metric windows then run over
    // 10 rows/query — eval cost scales with queries × k, not corpus.
    // log(2,x) and the divisions are rounded at 6dp to absorb last-ulp
    // transcendental differences between engines.
    (s, dir) => {
      val e = T(s, dir, "embeddings").select(
        col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("label").as("q_label"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("label").as("c_label"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
      val ranked = c.crossJoin(broadcast(q)).select(
          col("q_id"), col("c_id"),
          round(CosineSimilarity.cosineSim(col("qv"), col("cv")), 6).as("cosine"),
          when(col("c_label") === col("q_label"), lit(1)).otherwise(lit(0)).as("rel"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      ranked.groupBy(col("q_id")).agg(
        round(coalesce(
          sum(col("rel").cast("double") / log(2.0, col("rank").cast("double") + lit(1.0))) /
            // ideal DCG for h hits in 10 slots: hits packed at the top —
            // Σ_{i=1..h} 1/log2(i+1), a closed form over the hit COUNT,
            // so no second ranking pass is needed
            when(sum(col("rel")) > 0,
              expr("aggregate(sequence(1, int(sum(rel))), 0.0d, (a, i) -> a + 1.0d / log2(double(i) + 1.0d))")),
          lit(0.0)), 6).as("ndcg"),
        round(coalesce(
          lit(1.0) / min(when(col("rel") === 1, col("rank"))).cast("double"),
          lit(0.0)), 6).as("mrr"),
        round(sum(col("rel")).cast("double") / lit(10.0), 6).as("p_at_10"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
           |q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label FROM e WHERE vec_id < 10),
           |c AS (SELECT vec_id AS c_id, v AS cv, label AS c_label FROM e WHERE vec_id >= 10),
           |s AS (SELECT q_id, c_id, round(
           |    list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))), 6) AS cosine,
           |    CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS rel
           |  FROM c, q),
           |ranked AS (SELECT q_id, c_id, cosine, rel,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
           |  FROM s QUALIFY rank <= 10)
           |SELECT q_id,
           |  round(coalesce(
           |    sum(CAST(rel AS DOUBLE) / log2(CAST(rank AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
           |    CASE WHEN sum(rel) > 0 THEN (
           |      SELECT sum(CAST(1.0 AS DOUBLE) / log2(CAST(i AS DOUBLE) + CAST(1.0 AS DOUBLE)))
           |      FROM range(1, 11) t(i) WHERE i <= sum(rel)) END,
           |    CAST(0 AS DOUBLE)), 6) AS ndcg,
           |  round(coalesce(
           |    CAST(1.0 AS DOUBLE) / CAST(min(CASE WHEN rel = 1 THEN rank END) AS DOUBLE),
           |    CAST(0 AS DOUBLE)), 6) AS mrr,
           |  round(CAST(sum(rel) AS DOUBLE) / CAST(10.0 AS DOUBLE), 6) AS p_at_10
           |FROM ranked GROUP BY q_id""".stripMargin))

  private val docSourceCap = Q(
    "doc_source_cap",
    // Per-source frequency cap (the RefinedWeb/C4 curation step: no
    // single domain may dominate the training mix): keep at most 10
    // docs per source, selected by a SEEDED multiplicative-hash order —
    // (doc_id * 2654435761) mod 2^31-1, Knuth's constant — so the cap
    // is reproducible, unbiased by ingestion order, and identically
    // computable in exact integer arithmetic by any engine (xxhash
    // would be Spark-only). Scale shape: ops/Scale.capByKey — per-key
    // counts pick a hash threshold, the stream is pruned to
    // ~cap x margin candidates per key BEFORE the exchange, the exact
    // rank runs on survivors, and starved keys fall back to the full
    // window (exact by construction, never probabilistic; ScaleSpec
    // pins equality incl. the fallback, ScaleProbe times the hot-key
    // case).
    (s, dir) =>
      graft.ops.Scale.capByKey(
        T(s, dir, "documents").select(col("doc_id"), col("source")),
        keyCol = "source", idCol = "doc_id", cap = 10)
        .select(col("doc_id"), col("source")),
    Some("""WITH h AS (SELECT doc_id, source,
           |    (doc_id * 2654435761) % 2147483647 AS h FROM documents),
           |r AS (SELECT doc_id, source,
           |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk FROM h)
           |SELECT doc_id, source FROM r WHERE rk <= 10""".stripMargin))

  private val qApproxTopk = Q(
    "q_approx_topk",
    // Heavy hitters WITHOUT the full key-space shuffle
    // (Scale.heavyHitters): per-partition Misra-Gries summaries
    // nominate candidates, an exact recount restores true counts, and
    // the share cut emits only provably-qualifying keys — exact output
    // (the MG pigeonhole guarantees no qualifying key can be missed
    // when minShare ≥ 1/(capacity+1)), approximate COST. The oracle is
    // the naive full groupBy + HAVING — equality IS the guarantee.
    // capacity 3 < the 5-language dictionary forces real MG evictions
    // at gate scale; ScaleSpec pins partitioning-invariance and the
    // guarantee boundary, ScaleProbe times the Zipf case where the
    // dictionary is millions and the head is three keys.
    (s, dir) =>
      graft.ops.Scale.heavyHitters(
        T(s, dir, "documents").select(col("lang")),
        keyCol = "lang", capacity = 3, minShare = 0.25),
    Some("""WITH n AS (SELECT count(*) AS n FROM documents),
           |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1)
           |SELECT lang, cnt, round(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share
           |FROM c, n WHERE CAST(cnt AS DOUBLE) > CAST(n AS DOUBLE) * 0.25""".stripMargin))

  private val mlBootstrapCi = Q(
    "ml_bootstrap_ci",
    // Bootstrap confidence interval for the mean purchase value, in the
    // ONE shape that survives 100 TB: the Poisson bootstrap (Chamandy
    // et al., Google 2012) — instead of materializing B resamples,
    // every row draws a Poisson(1) replication WEIGHT per replicate in
    // a single pass, so the whole thing is one explode(x B) + one
    // hash-agg, no per-resample shuffle and no draw-index joins.
    // Everything is determinized: the "randomness" is a multiplicative
    // hash of (event_id, b) mapped through the exact Poisson(1) CDF
    // breakpoints (both engines compare the same division against the
    // same double literals), weights and cent-values are INTEGRAL so
    // every per-replicate sum is exact, and each replicate mean is one
    // closing division. The CI is nearest-rank order stats of the 100
    // replicate means (r=3 and r=98 for 95%) — sorted picks, no
    // interpolation to drift.
    (s, dir) => {
      val e = T(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      val b = s.range(0, 100).select(col("id").as("b"))
      // the replicate index must enter MULTIPLICATIVELY (then be
      // re-multiplied mod p): a naive `+ b*K` additive term steps u by
      // only K/p per replicate, leaving every row's weight essentially
      // CONSTANT across all 100 replicates — measured: replicate-mean
      // std collapsed 13x and the CI excluded the sample mean, because
      // rows with u < e^-1 were dropped from EVERY resample. After the
      // second multiply, replicate means center on the sample mean
      // with std ~ the theoretical se (0.92 vs 1.08 at sf0.01)
      val u = ((((col("event_id") * lit(2654435761L) +
        (col("b") + lit(1)) * lit(1013904223L)) % lit(2147483647L)) *
        lit(40503L) % lit(2147483647L)).cast("double") / lit(2147483647.0))
      val w = when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L).when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238463, 3L).when(u < 0.9963401531726563, 4L)
        .when(u < 0.9994058151824183, 5L).when(u < 0.999916758850712, 6L)
        .when(u < 0.9999897508033253, 7L).otherwise(8L)
      val means = e.crossJoin(broadcast(b))
        .select(col("b"), w.as("w"), col("cents"))
        .groupBy(col("b"))
        .agg((sum(col("w") * col("cents")).cast("double") /
          (sum(col("w")) * lit(100)).cast("double")).as("m"))
      val rk = means.withColumn("rk",
        row_number().over(Window.orderBy(col("m"), col("b"))))
      val point = e.agg((sum(col("cents")).cast("double") /
        (count(lit(1)) * lit(100)).cast("double")).as("mean"))
      point.crossJoin(broadcast(
          rk.filter(col("rk") === 3).select(round(col("m"), 6).as("ci_lo"))))
        .crossJoin(broadcast(
          rk.filter(col("rk") === 98).select(round(col("m"), 6).as("ci_hi"))))
        .select(round(col("mean"), 6).as("mean"), col("ci_lo"), col("ci_hi"))
    },
    Some("""WITH e AS (
           |  SELECT event_id, CAST(round(value*100) AS BIGINT) AS cents
           |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
           |reps AS (SELECT e.event_id, e.cents, b.b,
           |    CAST(((e.event_id * 2654435761 + (b.b + 1) * 1013904223) % 2147483647)
           |      * 40503 % 2147483647 AS DOUBLE)
           |      / CAST(2147483647 AS DOUBLE) AS u
           |  FROM e CROSS JOIN (SELECT CAST(t AS BIGINT) AS b FROM range(0, 100) r(t)) b),
           |wts AS (SELECT b, cents,
           |    CASE WHEN u < 0.36787944117144233 THEN 0
           |         WHEN u < 0.7357588823428847 THEN 1
           |         WHEN u < 0.9196986029286058 THEN 2
           |         WHEN u < 0.9810118431238463 THEN 3
           |         WHEN u < 0.9963401531726563 THEN 4
           |         WHEN u < 0.9994058151824183 THEN 5
           |         WHEN u < 0.999916758850712 THEN 6
           |         WHEN u < 0.9999897508033253 THEN 7
           |         ELSE 8 END AS w
           |  FROM reps),
           |means AS (SELECT b, CAST(sum(w * cents) AS DOUBLE) /
           |    CAST(sum(w) * 100 AS DOUBLE) AS m FROM wts GROUP BY 1),
           |rk AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM means),
           |pt AS (SELECT CAST(sum(cents) AS DOUBLE) /
           |    CAST(count(*) * 100 AS DOUBLE) AS mean FROM e)
           |SELECT round(mean, 6) AS mean,
           |  (SELECT round(m, 6) FROM rk WHERE rk = 3) AS ci_lo,
           |  (SELECT round(m, 6) FROM rk WHERE rk = 98) AS ci_hi
           |FROM pt""".stripMargin))

  private val mlPrCurve = Q(
    "ml_pr_curve",
    // Precision/recall curve at 20 fixed score thresholds — the
    // model-eval companion to ml_auc for imbalanced labels (purchase
    // base rate here is ~1/6, where ROC flatters). Same dictionary
    // doctrine as ml_auc: one hash-agg collapses the corpus to ≤40k
    // cents buckets, the 20-row threshold spine broadcasts into a
    // non-equi probe over the DICTIONARY (metadata x 20, never corpus
    // x 20), and each point is integral sums + ONE closing division —
    // no float accumulation anywhere, so the curve is bit-stable
    // cross-engine without rounding tricks. Trapezoid-summing into a
    // scalar AP is deliberately left to the caller: that sum's float
    // accumulation order is engine-dependent; the curve itself is not.
    (s, dir) => {
      val dict = T(s, dir, "events").filter(col("value").isNotNull)
        .select(round(col("value") * 100).cast("long").as("v"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L)).as("pos"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"), sum(col("pos")).as("pos"))
      val spine = s.range(0, 20).select((col("id") * 2500L).as("thr"))
      val tot = dict.agg(sum(col("pos")).as("np")).select(col("np"))
      dict.join(broadcast(spine), col("v") >= col("thr"))
        .groupBy(col("thr"))
        .agg(sum(col("pos")).as("tp"), sum(col("cnt")).as("kept"))
        .crossJoin(broadcast(tot))
        .select(col("thr"),
          col("tp").cast("long").as("tp"), col("kept").cast("long").as("kept"),
          round(col("tp").cast("double") / col("kept").cast("double"), 6).as("precision"),
          round(col("tp").cast("double") / col("np").cast("double"), 6).as("recall"))
    },
    Some("""WITH e AS (
           |  SELECT CAST(round(value*100) AS BIGINT) AS v,
           |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           |  FROM events WHERE value IS NOT NULL),
           |g AS (SELECT v, count(*) AS cnt, sum(pos) AS pos FROM e GROUP BY 1),
           |tot AS (SELECT sum(pos) AS np FROM g),
           |spine AS (SELECT CAST(t * 2500 AS BIGINT) AS thr FROM range(0, 20) r(t)),
           |pts AS (SELECT thr, sum(g.pos) AS tp, sum(g.cnt) AS kept
           |  FROM spine JOIN g ON g.v >= spine.thr GROUP BY 1)
           |SELECT thr, CAST(tp AS BIGINT) AS tp, CAST(kept AS BIGINT) AS kept,
           |  round(CAST(tp AS DOUBLE) / CAST(kept AS DOUBLE), 6) AS precision,
           |  round(CAST(tp AS DOUBLE) / CAST(np AS DOUBLE), 6) AS recall
           |FROM pts CROSS JOIN tot""".stripMargin))

  private val simEmbedDedup = Q(
    "sim_embed_dedup",
    (s, dir) => {
      val e = T(s, dir, "embeddings").filter(col("vec_id") < 500)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // HARD size guard on the deliberate all-pairs demo: this query is
      // the bounded brute-force verifier (PlanContractSpec allow-lists
      // its cartesian) — lifting the shape into a pipeline at corpus
      // scale must fail loudly here, not melt a cluster on n² pairs.
      // The scale path is dedup_embed_lsh.
      val n = e.count()
      require(n <= 2048,
        s"sim_embed_dedup is a bounded all-pairs demo (n=$n > 2048); use dedup_embed_lsh at scale")
      val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
      val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
      a.join(broadcast(b), col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(CosineSimilarity.cosineSim(col("va"), col("vb")), 6).as("cosine"))
        .filter(col("cosine") >= 0.4)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 500),
           |s AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round(
           |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))), 6) AS cosine
           |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
           |SELECT vec_a, vec_b, cosine FROM s WHERE cosine >= 0.4""".stripMargin))

  private val dedupEmbedLsh = Q(
    "dedup_embed_lsh",
    // The SCALE path for embedding near-dedup (sim_embed_dedup stays
    // the bounded brute-force verifier): 3 bands x 8 sign-LSH planes —
    // candidates are same-(band, bucket) pairs, an equi-join over 2^8
    // buckets per band whose key space spreads with the corpus, never
    // an all-pairs scan (here: 1,924 candidates from 124,750 possible
    // pairs). Recall targets true near-duplicates: a pair at cosine
    // 0.95 agrees per plane w.p. ~0.9 -> ~0.43 per 8-plane band -> ~81%
    // over 3 bands (and rises with similarity); the loose 0.3 verify
    // threshold keeps the report non-trivial on this synthetic corpus,
    // which contains no true duplicates. Deterministic: md5-derived
    // hyperplanes, dot rounded to 6dp BEFORE the sign cut.
    (s, dir) => {
      // SimilarityOps.signLshCandidatePairs folds all 24 sign bits into
      // one pinned packed column and slices band keys out of it; the
      // 3 x 8-bit configuration fits this corpus size (planesPerBand
      // should grow as log2(n) — see the function's occupancy note)
      val e = mat(T(s, dir, "embeddings").select(
        col("vec_id"), col("embedding").cast("array<double>").as("v")))
      SimilarityOps.signLshCandidatePairs(e, "vec_id", "v", dim = 64,
          bands = 3, planesPerBand = 8, aName = "vec_a", bName = "vec_b")
        .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
        .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(CosineSimilarity.cosineSim(col("va"), col("vb")), 6).as("cosine"))
        .filter(col("cosine") >= 0.3)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |planes AS (SELECT j, list_transform(range(0, 64), d ->
           |    CASE WHEN substr(md5(concat(j, '_', d)), 2, 1)
           |              IN ('1','3','5','7','9','b','d','f')
           |         THEN 1.0 ELSE -1.0 END) AS w
           |  FROM range(0, 24) t(j)),
           |bits AS (SELECT e.vec_id, p.j,
           |    CASE WHEN round(list_sum(list_transform(range(1, 65), i -> e.v[i] * p.w[i])), 6) > 0
           |         THEN 1 ELSE 0 END AS bit
           |  FROM e CROSS JOIN planes p),
           |bands AS (SELECT vec_id, j // 8 AS band, sum(bit * (1 << (j % 8))) AS bkey
           |          FROM bits GROUP BY 1, 2),
           |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
           |         FROM bands x JOIN bands y
           |           ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
           |s AS (SELECT vec_a, vec_b,
           |    round(list_sum(list_transform(range(1, 65), i -> x.v[i] * y.v[i])) /
           |      (sqrt(list_sum(list_transform(range(1, 65), i -> x.v[i] * x.v[i]))) *
           |       sqrt(list_sum(list_transform(range(1, 65), i -> y.v[i] * y.v[i])))), 6) AS cosine
           |  FROM cand JOIN e x ON x.vec_id = vec_a JOIN e y ON y.vec_id = vec_b)
           |SELECT vec_a, vec_b, cosine FROM s WHERE cosine >= 0.3""".stripMargin))

  /** Generated 64-component centroid expressions for the label-purity
    * oracle: component sums in EXACT integer micro-units (each float
    * component rounds to 6dp then scales to a BIGINT), so the per-label
    * aggregation is order-independent and bit-identical across engines
    * — a naive double sum would hash-diverge with partition order.
    */
  private val labelCentroidOracleSql: String = {
    val sums = (0 until 64).map(i =>
      s"  sum(CAST(round(v[${i + 1}] * 1000000.0, 0) AS BIGINT)) AS s$i").mkString(",\n")
    val comps = (0 until 64).map(i =>
      s"CAST(s$i AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)").mkString(", ")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |sums AS (SELECT label, count(*) AS n,
       |$sums
       | FROM e GROUP BY 1),
       |cent AS (SELECT label AS clabel, [$comps] AS c FROM sums),
       |assign AS (SELECT e.vec_id, e.label, cent.clabel,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.c[i]))
       |            - list_sum(list_transform(range(1, 65), i -> cent.c[i] * cent.c[i])) / 2,
       |            6) DESC, cent.clabel) AS rr
       |  FROM e CROSS JOIN cent)
       |SELECT label, count(*) AS n,
       |  CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE) AS purity
       |FROM assign WHERE rr = 1 GROUP BY label""".stripMargin
  }

  private val simCentroidDrift = Q(
    "sim_centroid_drift",
    // Embedding-space drift monitor: per label, the cosine between the
    // centroid of cohort A and cohort B (vec_id parity split stands in
    // for yesterday/today) — the cheap continuous check that an
    // embedding model's output distribution hasn't rotated. The
    // determinism trick: float vectors DON'T sum order-independently,
    // so each coordinate is quantized to exact integer micro-units
    // FIRST (round(x·10⁶) — the monitor's own resolution, not a
    // compromise) and the per-(label, dim) sums are then exact in any
    // aggregation order at any parallelism; products cast to decimal
    // BEFORE multiplying (a per-dim sum at corpus scale squares past
    // int64), and cosine closes as one division over two
    // correctly-rounded sqrts, round(6). Scale: one narrow explode,
    // one (label × 64)-key hash-agg with map-side partials, a
    // label-sized close — the corpus never shuffles.
    (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>")))
        .select(col("label"), col("pos").as("d"),
          round(col("col") * 1000000).cast("long").as("xi"),
          (col("vec_id") % 2 === 0).as("pre"))
      val sums = e.groupBy(col("label"), col("d")).agg(
        sum(when(col("pre"), col("xi")).otherwise(0L)).as("a"),
        sum(when(!col("pre"), col("xi")).otherwise(0L)).as("b"))
      sums.groupBy(col("label")).agg(
        round(
          sum(col("a").cast("decimal(38,0)") * col("b").cast("decimal(38,0)"))
            .cast("double") /
            (sqrt(sum(col("a").cast("decimal(38,0)") * col("a").cast("decimal(38,0)"))
              .cast("double")) *
             sqrt(sum(col("b").cast("decimal(38,0)") * col("b").cast("decimal(38,0)"))
              .cast("double"))), 6).as("centroid_cosine"),
        count(lit(1)).as("dims"))
    },
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |x AS (SELECT vec_id, label, d,
           |        CAST(round(v[d] * 1000000) AS BIGINT) AS xi,
           |        (vec_id % 2 = 0) AS pre
           |      FROM e, unnest(range(1, 65)) t(d)),
           |s AS (SELECT label, d,
           |        CAST(sum(CASE WHEN pre THEN xi ELSE 0 END) AS BIGINT) AS a,
           |        CAST(sum(CASE WHEN NOT pre THEN xi ELSE 0 END) AS BIGINT) AS b
           |      FROM x GROUP BY 1, 2)
           |SELECT label, round(
           |    CAST(sum(CAST(a AS HUGEINT) * CAST(b AS HUGEINT)) AS DOUBLE) /
           |    (sqrt(CAST(sum(CAST(a AS HUGEINT) * CAST(a AS HUGEINT)) AS DOUBLE)) *
           |     sqrt(CAST(sum(CAST(b AS HUGEINT) * CAST(b AS HUGEINT)) AS DOUBLE))), 6)
           |    AS centroid_cosine,
           |  CAST(count(*) AS BIGINT) AS dims
           |FROM s GROUP BY 1""".stripMargin))

  private val simLabelCentroid = Q(
    "sim_label_centroid",
    // Embedding cluster-quality evaluation: per-label centroids from a
    // single hash-agg (64 exact integer micro-unit sums — the only
    // order-independent way to average floats across engines and
    // partitionings), then nearest-centroid assignment by the same
    // negHalfDist score AnnIvf uses, broadcast 10 centroids x corpus,
    // and per-label purity. One shuffle for the centroid agg, one for
    // the final per-label rollup; the corpus streams through the
    // broadcast assignment join unshuffled.
    (s, dir) => {
      val e = T(s, dir, "embeddings").select(
        col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      val sums = (0 until 64).map(i =>
        sum(round(element_at(col("v"), i + 1) * 1000000.0, 0).cast("long")).as(s"s$i"))
      val centroids = e.groupBy(col("label")).agg(
          count(lit(1)).as("n"), sums: _*)
        .select(col("label").as("clabel"),
          array((0 until 64).map(i =>
            col(s"s$i").cast("double") / (col("n").cast("double") * 1000000.0)): _*).as("c"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("score").desc, col("clabel"))
      val assign = e.crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("label"), col("clabel"),
          round(SimilarityOps.dot(col("v"), col("c")) -
            SimilarityOps.dot(col("c"), col("c")) / 2, 6).as("score"))
        .withColumn("rr", row_number().over(w)).filter(col("rr") === 1)
      assign.groupBy(col("label")).agg(
        count(lit(1)).as("n"),
        sum(when(col("clabel") === col("label"), 1).otherwise(0)).as("n_correct"),
        (sum(when(col("clabel") === col("label"), 1).otherwise(0)).cast("double") /
          count(lit(1)).cast("double")).as("purity"))
    },
    Some(labelCentroidOracleSql))

  private val simAnnLsh = Q(
    "sim_ann_lsh",
    (s, dir) => {
      val planes = SimilarityOps.hyperplanes(8, 64)
      val e = T(s, dir, "embeddings").select(
        col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val bucketed = e.withColumn("bucket", SimilarityOps.signBucket(col("v"), planes))
      val q = bucketed.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
      val c = bucketed.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("bucket"))
      val scored = c.join(broadcast(q), Seq("bucket")).select(
        col("q_id"), col("c_id"),
        round(CosineSimilarity.cosineSim(col("qv"), col("cv")), 6).as("cosine"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    },
    // approximate by construction, but fully deterministic: the ±1
    // hyperplanes derive from md5 parity (SimilarityOps.hyperplanes),
    // so DuckDB recomputes the identical buckets — h(0) & 1 == 1 is
    // "second hex digit of md5 is odd"
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |planes AS (SELECT j, list_transform(range(0, 64), d ->
           |    CASE WHEN substr(md5(concat(j, '_', d)), 2, 1)
           |              IN ('1','3','5','7','9','b','d','f')
           |         THEN 1.0 ELSE -1.0 END) AS w
           |  FROM range(0, 8) t(j)),
           |buckets AS (SELECT vec_id,
           |    sum(CASE WHEN round(list_sum(list_transform(range(1, 65), i -> v[i] * w[i])), 6) > 0
           |             THEN (1 << j) ELSE 0 END) AS bucket
           |  FROM e CROSS JOIN planes GROUP BY vec_id),
           |q AS (SELECT e.vec_id AS q_id, e.v AS qv, b.bucket
           |      FROM e JOIN buckets b USING (vec_id) WHERE e.vec_id < 10),
           |c AS (SELECT e.vec_id AS c_id, e.v AS cv, b.bucket
           |      FROM e JOIN buckets b USING (vec_id) WHERE e.vec_id >= 10),
           |s AS (SELECT q_id, c_id, round(
           |    list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))), 6) AS cosine
           |  FROM c JOIN q USING (bucket))
           |SELECT q_id, c_id, cosine, rank FROM (
           |  SELECT q_id, c_id, cosine,
           |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
           |  FROM s) WHERE rank <= 5""".stripMargin))

  private val simAnnIvf = Q(
    "sim_ann_ivf",
    // the deterministic-codebook IVF configuration (AnnIvf.buildFixed:
    // k lowest-id candidates as centroids, zero Lloyd iterations) so
    // the whole pipeline — codebook, nearest-centroid assignment,
    // nProbe cell probe, exact cosine re-rank — is recomputable by the
    // DuckDB oracle. The KMeans-trained variant (AnnIvf.build) is the
    // quality path, verified statistically in ScalaTest (recall
    // converges to brute force as nProbe -> k).
    (s, dir) => {
      val e = T(s, dir, "embeddings")
      val index = graft.functions.AnnIvf.buildFixed(
        e.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "c_id"),
        "embedding", idCol = "c_id", k = 16)
      graft.functions.AnnIvf.query(
        index,
        e.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        qIdCol = "q_id", topK = 5, nProbe = 4, cIdCol = "c_id")
        .select("q_id", "c_id", "cosine", "rank")
    },
    // mirrors buildFixed + probeCells exactly: centroid j = rank of its
    // id among candidates; scores are negHalfDist = dot - |c|^2/2; the
    // probe takes the 4 best cells with ties broken toward larger j
    // (probeCells reverses an ascending (s, j) sort)
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v AS cv,
           |         list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) / 2 AS half
           |  FROM e WHERE vec_id >= 10 ORDER BY vec_id LIMIT 16),
           |assign AS (SELECT vec_id AS c_id, v AS cv, j AS cell FROM (
           |    SELECT e.vec_id, e.v, cent.j,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS rr
           |    FROM e CROSS JOIN cent WHERE e.vec_id >= 10)
           |  WHERE rr = 1),
           |probe AS (SELECT q_id, qv, cell FROM (
           |    SELECT e.vec_id AS q_id, e.v AS qv, cent.j AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS pr
           |    FROM e CROSS JOIN cent WHERE e.vec_id < 10)
           |  WHERE pr <= 4),
           |s AS (SELECT q_id, c_id, round(
           |    list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))), 6) AS cosine
           |  FROM assign JOIN probe USING (cell))
           |SELECT q_id, c_id, cosine, rank FROM (
           |  SELECT q_id, c_id, cosine,
           |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
           |  FROM s) WHERE rank <= 5""".stripMargin))

  private val simAnnPq = Q(
    "sim_ann_pq",
    // Product quantization — the ANN leg that changes SCAN economics
    // (the corpus is scored from M=8 4-bit-ish codes per vector, never
    // its floats: 32-64x less IO at 100 TB; compose with IVF cells for
    // the standard IVF-PQ billion-vector layout). Deterministic
    // codebooks (AnnPq.buildFixed: the 16 lowest-id corpus vectors'
    // subvectors, zero Lloyd iterations) make every step — per-subspace
    // assignment, code storage, ADC reconstruction, top-k —
    // recomputable by the DuckDB oracle; AnnPq.buildTrained is the
    // quality path, verified statistically in AnnPqSpec. The scan uses
    // TRUE ADC: a per-query LUT of M*K subspace dots computed once,
    // then 8 table lookups per candidate; the oracle mirrors the exact
    // per-subspace summation association (NOT a flat 64-term sum, which
    // associates differently in IEEE arithmetic) before the round-6 cut.
    (s, dir) => {
      val e = T(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10)
      val cb = graft.functions.AnnPq.buildFixed(
        corpus, "embedding", idCol = "vec_id", m = 8, k = 16)
      val encoded = corpus.select(col("vec_id").as("c_id"),
        graft.functions.AnnPq.encodeExpr(
          cb, col("embedding").cast("array<double>")).as("code"))
      graft.functions.AnnPq.query(cb, encoded,
        e.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        qIdCol = "q_id", embCol = "embedding", cIdCol = "c_id", codeCol = "code",
        topK = 5)
        .select("q_id", "c_id", "adc", "rank")
    },
    // mirrors buildFixed + codeExpr + reconstructExpr exactly: centroid
    // j of every subspace = rank of its id among corpus vectors;
    // assignment ranks round(dot - |c|^2/2, 6) with ties toward larger
    // j; reconstruction concatenates the chosen centroids' subvectors
    // in subspace order
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
           |  FROM e WHERE vec_id >= 10 ORDER BY vec_id LIMIT 16),
           |codes AS (SELECT c_id, m, cv FROM (
           |    SELECT e.vec_id AS c_id, ms.m AS m, cent.cv,
           |      row_number() OVER (PARTITION BY e.vec_id, ms.m ORDER BY
           |        round(list_sum(list_transform(range(1, 9),
           |                i -> e.v[ms.m * 8 + i] * cent.cv[ms.m * 8 + i]))
           |          - list_sum(list_transform(range(1, 9),
           |                i -> cent.cv[ms.m * 8 + i] * cent.cv[ms.m * 8 + i])) / 2, 6)
           |        DESC, cent.j DESC) AS rr
           |    FROM e CROSS JOIN cent CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms
           |    WHERE e.vec_id >= 10)
           |  WHERE rr = 1),
           |rec AS (SELECT c_id,
           |    flatten(list(list_slice(cv, m * 8 + 1, m * 8 + 8) ORDER BY m)) AS rv
           |  FROM codes GROUP BY c_id),
           |s AS (SELECT q.vec_id AS q_id, rec.c_id,
           |    round(list_sum(list_transform(range(0, 8), m ->
           |      list_sum(list_transform(range(1, 9),
           |        i -> q.v[m * 8 + i] * rec.rv[m * 8 + i])))), 6) AS adc
           |  FROM e q CROSS JOIN rec WHERE q.vec_id < 10)
           |SELECT q_id, c_id, adc, rank FROM (
           |  SELECT q_id, c_id, adc,
           |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id) AS rank
           |  FROM s) WHERE rank <= 5""".stripMargin))

  private val simAnnIvfPq = Q(
    "sim_ann_ivfpq",
    // the PRODUCTION retrieval stack composed end-to-end (AnnIvfPq):
    // coarse IVF probe prunes the corpus to 4 of 16 cells, and ONLY
    // those cells' PQ codes are ADC-scored via the per-query LUT —
    // the billion-vector layout where the candidate term (nProbe/k)
    // and the IO term (codes vs floats) multiply. Both codebooks are
    // the deterministic fixed configurations their standalone gates
    // pin (sim_ann_ivf / sim_ann_pq), so the full composition —
    // assignment, probe, in-cell ADC with the exact per-subspace
    // summation nesting, top-k — is recomputable by the oracle.
    (s, dir) => {
      val e = T(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "c_id")
      val ivf = graft.functions.AnnIvf.buildFixed(corpus, "embedding", idCol = "c_id", k = 16)
      val pq = graft.functions.AnnPq.buildFixed(corpus, "embedding", idCol = "c_id", m = 8, k = 16)
      val encoded = ivf.assigned.select(col("c_id"), col("cell"),
        graft.functions.AnnPq.encodeExpr(
          pq, col("embedding").cast("array<double>")).as("code"))
      graft.functions.AnnIvfPq.query(ivf, pq, encoded,
        e.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        qIdCol = "q_id", embCol = "embedding", cIdCol = "c_id", codeCol = "code",
        topK = 5, nProbe = 4)
        .select("q_id", "c_id", "adc", "rank")
    },
    // the sim_ann_ivf oracle's cent/assign/probe CTEs + the sim_ann_pq
    // oracle's codes/rec CTEs, with the scan restricted to probed cells
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v AS cv,
           |         list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) / 2 AS half
           |  FROM e WHERE vec_id >= 10 ORDER BY vec_id LIMIT 16),
           |assign AS (SELECT vec_id AS c_id, cell FROM (
           |    SELECT e.vec_id, cent.j AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS rr
           |    FROM e CROSS JOIN cent WHERE e.vec_id >= 10)
           |  WHERE rr = 1),
           |probe AS (SELECT q_id, qv, cell FROM (
           |    SELECT e.vec_id AS q_id, e.v AS qv, cent.j AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS pr
           |    FROM e CROSS JOIN cent WHERE e.vec_id < 10)
           |  WHERE pr <= 4),
           |codes AS (SELECT c_id, m, cv FROM (
           |    SELECT e.vec_id AS c_id, ms.m AS m, cent.cv,
           |      row_number() OVER (PARTITION BY e.vec_id, ms.m ORDER BY
           |        round(list_sum(list_transform(range(1, 9),
           |                i -> e.v[ms.m * 8 + i] * cent.cv[ms.m * 8 + i]))
           |          - list_sum(list_transform(range(1, 9),
           |                i -> cent.cv[ms.m * 8 + i] * cent.cv[ms.m * 8 + i])) / 2, 6)
           |        DESC, cent.j DESC) AS rr
           |    FROM e CROSS JOIN cent CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms
           |    WHERE e.vec_id >= 10)
           |  WHERE rr = 1),
           |rec AS (SELECT c_id,
           |    flatten(list(list_slice(cv, m * 8 + 1, m * 8 + 8) ORDER BY m)) AS rv
           |  FROM codes GROUP BY c_id),
           |s AS (SELECT p.q_id, a.c_id,
           |    round(list_sum(list_transform(range(0, 8), m ->
           |      list_sum(list_transform(range(1, 9),
           |        i -> p.qv[m * 8 + i] * rec.rv[m * 8 + i])))), 6) AS adc
           |  FROM probe p JOIN assign a USING (cell) JOIN rec ON rec.c_id = a.c_id)
           |SELECT q_id, c_id, adc, rank FROM (
           |  SELECT q_id, c_id, adc,
           |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id) AS rank
           |  FROM s) WHERE rank <= 5""".stripMargin))

  private val simAnnIvfPqRerank = Q(
    "sim_ann_ivfpq_rerank",
    // the SHIPPED retrieval configuration, oracle-gated bit-for-bit:
    // sim_ann_ivfpq's composed coarse-probe + in-cell ADC keeps a
    // 20-candidate shortlist per query, and an EXACT full-vector
    // cosine re-rank (sim_prefix_rerank's stage-2 kernel, reused
    // verbatim via AnnIvfPq.queryRerank) closes top-5. The re-rank
    // makes ADC mis-ranking inside the shortlist free — only shortlist
    // MEMBERSHIP (probe + width) costs recall, which is the contract
    // the trained twin (sim_ann_recall's ivfpq_rerank leg) holds at
    // >= 0.85 recall@10. Stage 2 touches |queries| x 20 rows: the
    // shortlist and query vectors broadcast; the full-vector fetch is
    // a semi-join point read, never a corpus rescan.
    (s, dir) => {
      val e = T(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "c_id")
      val ivf = graft.functions.AnnIvf.buildFixed(corpus, "embedding", idCol = "c_id", k = 16)
      val pq = graft.functions.AnnPq.buildFixed(corpus, "embedding", idCol = "c_id", m = 8, k = 16)
      val encoded = ivf.assigned.select(col("c_id"), col("cell"),
        graft.functions.AnnPq.encodeExpr(
          pq, col("embedding").cast("array<double>")).as("code"))
      graft.functions.AnnIvfPq.queryRerank(ivf, pq, encoded,
        corpus.select(col("c_id"), col("embedding")),
        e.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        qIdCol = "q_id", embCol = "embedding", cIdCol = "c_id", codeCol = "code",
        topK = 5, shortlist = 20, nProbe = 4)
        .select("q_id", "c_id", "cosine", "rank")
    },
    // the sim_ann_ivfpq oracle with the shortlist cut widened to 20,
    // closed by an exact full-width cosine re-rank to top-5
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v AS cv,
           |         list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) / 2 AS half
           |  FROM e WHERE vec_id >= 10 ORDER BY vec_id LIMIT 16),
           |assign AS (SELECT vec_id AS c_id, cell FROM (
           |    SELECT e.vec_id, cent.j AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS rr
           |    FROM e CROSS JOIN cent WHERE e.vec_id >= 10)
           |  WHERE rr = 1),
           |probe AS (SELECT q_id, qv, cell FROM (
           |    SELECT e.vec_id AS q_id, e.v AS qv, cent.j AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS pr
           |    FROM e CROSS JOIN cent WHERE e.vec_id < 10)
           |  WHERE pr <= 4),
           |codes AS (SELECT c_id, m, cv FROM (
           |    SELECT e.vec_id AS c_id, ms.m AS m, cent.cv,
           |      row_number() OVER (PARTITION BY e.vec_id, ms.m ORDER BY
           |        round(list_sum(list_transform(range(1, 9),
           |                i -> e.v[ms.m * 8 + i] * cent.cv[ms.m * 8 + i]))
           |          - list_sum(list_transform(range(1, 9),
           |                i -> cent.cv[ms.m * 8 + i] * cent.cv[ms.m * 8 + i])) / 2, 6)
           |        DESC, cent.j DESC) AS rr
           |    FROM e CROSS JOIN cent CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms
           |    WHERE e.vec_id >= 10)
           |  WHERE rr = 1),
           |rec AS (SELECT c_id,
           |    flatten(list(list_slice(cv, m * 8 + 1, m * 8 + 8) ORDER BY m)) AS rv
           |  FROM codes GROUP BY c_id),
           |s AS (SELECT p.q_id, a.c_id, p.qv,
           |    round(list_sum(list_transform(range(0, 8), m ->
           |      list_sum(list_transform(range(1, 9),
           |        i -> p.qv[m * 8 + i] * rec.rv[m * 8 + i])))), 6) AS adc
           |  FROM probe p JOIN assign a USING (cell) JOIN rec ON rec.c_id = a.c_id),
           |short AS (SELECT q_id, c_id, qv FROM (
           |  SELECT q_id, c_id, qv,
           |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id) AS r1
           |  FROM s) WHERE r1 <= 20),
           |s2 AS (SELECT sh.q_id, sh.c_id, round(
           |    list_sum(list_transform(range(1, 65), i -> sh.qv[i] * c.v[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65), i -> sh.qv[i] * sh.qv[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i])))), 6) AS cosine
           |  FROM short sh JOIN e c ON c.vec_id = sh.c_id)
           |SELECT q_id, c_id, cosine, rank FROM (
           |  SELECT q_id, c_id, cosine,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
           |  FROM s2) WHERE rank <= 5""".stripMargin))

  private val simAnnFiltered = Q(
    "sim_ann_filtered",
    // FILTERED vector search — the metadata-constrained retrieval
    // pattern every production vector store headlines ("top-k WHERE
    // label = X"): the label is an extra EQUI-JOIN KEY next to the
    // probed cell id (AnnIvfPq matchCols), not a post-hoc cut that
    // silently starves the shortlist — at scale, with the index
    // (cell, label)-partitioned, the filter makes pruning STRONGER.
    // Composed stack otherwise identical to sim_ann_ivfpq_rerank
    // (fixed codebooks, probe 4/16, ADC shortlist 20, exact
    // full-vector re-rank to top-5), so the whole filtered pipeline is
    // recomputable bit-for-bit by the oracle. Queries whose label is
    // rare in the probed cells legitimately return fewer than 5 rows —
    // both engines must agree on exactly which.
    (s, dir) => {
      val e = T(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "c_id")
      val ivf = graft.functions.AnnIvf.buildFixed(corpus, "embedding", idCol = "c_id", k = 16)
      val pq = graft.functions.AnnPq.buildFixed(corpus, "embedding", idCol = "c_id", m = 8, k = 16)
      val encoded = ivf.assigned.select(col("c_id"), col("cell"), col("label"),
        graft.functions.AnnPq.encodeExpr(
          pq, col("embedding").cast("array<double>")).as("code"))
      graft.functions.AnnIvfPq.queryRerank(ivf, pq, encoded,
        corpus.select(col("c_id"), col("embedding")),
        e.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        qIdCol = "q_id", embCol = "embedding", cIdCol = "c_id", codeCol = "code",
        topK = 5, shortlist = 20, nProbe = 4, matchCols = Seq("label"))
        .select("q_id", "c_id", "cosine", "rank")
    },
    // sim_ann_ivfpq_rerank's oracle with the label carried through
    // assign/probe and equi-joined next to the cell
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v AS cv,
           |         list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) / 2 AS half
           |  FROM e WHERE vec_id >= 10 ORDER BY vec_id LIMIT 16),
           |assign AS (SELECT vec_id AS c_id, label, cell FROM (
           |    SELECT e.vec_id, e.label, cent.j AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS rr
           |    FROM e CROSS JOIN cent WHERE e.vec_id >= 10)
           |  WHERE rr = 1),
           |probe AS (SELECT q_id, label, qv, cell FROM (
           |    SELECT e.vec_id AS q_id, e.label, e.v AS qv, cent.j AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS pr
           |    FROM e CROSS JOIN cent WHERE e.vec_id < 10)
           |  WHERE pr <= 4),
           |codes AS (SELECT c_id, m, cv FROM (
           |    SELECT e.vec_id AS c_id, ms.m AS m, cent.cv,
           |      row_number() OVER (PARTITION BY e.vec_id, ms.m ORDER BY
           |        round(list_sum(list_transform(range(1, 9),
           |                i -> e.v[ms.m * 8 + i] * cent.cv[ms.m * 8 + i]))
           |          - list_sum(list_transform(range(1, 9),
           |                i -> cent.cv[ms.m * 8 + i] * cent.cv[ms.m * 8 + i])) / 2, 6)
           |        DESC, cent.j DESC) AS rr
           |    FROM e CROSS JOIN cent CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms
           |    WHERE e.vec_id >= 10)
           |  WHERE rr = 1),
           |rec AS (SELECT c_id,
           |    flatten(list(list_slice(cv, m * 8 + 1, m * 8 + 8) ORDER BY m)) AS rv
           |  FROM codes GROUP BY c_id),
           |s AS (SELECT p.q_id, a.c_id, p.qv,
           |    round(list_sum(list_transform(range(0, 8), m ->
           |      list_sum(list_transform(range(1, 9),
           |        i -> p.qv[m * 8 + i] * rec.rv[m * 8 + i])))), 6) AS adc
           |  FROM probe p JOIN assign a ON a.cell = p.cell AND a.label = p.label
           |       JOIN rec ON rec.c_id = a.c_id),
           |short AS (SELECT q_id, c_id, qv FROM (
           |  SELECT q_id, c_id, qv,
           |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id) AS r1
           |  FROM s) WHERE r1 <= 20),
           |s2 AS (SELECT sh.q_id, sh.c_id, round(
           |    list_sum(list_transform(range(1, 65), i -> sh.qv[i] * c.v[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65), i -> sh.qv[i] * sh.qv[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i])))), 6) AS cosine
           |  FROM short sh JOIN e c ON c.vec_id = sh.c_id)
           |SELECT q_id, c_id, cosine, rank FROM (
           |  SELECT q_id, c_id, cosine,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
           |  FROM s2) WHERE rank <= 5""".stripMargin))

  /** Measured recall of the TRAINED (KMeans) ANN paths vs exact cosine
    * top-10 — the quality configurations `sim_ann_ivf`/`sim_ann_pq`
    * cannot oracle-check bit-for-bit (Lloyd iterations are not
    * reconstructable in ANSI SQL). Shared by the `sim_ann_recall` gate
    * and AnnRecallGateSpec (which prints the raw values and asserts
    * headroom above the gate floors).
    */
  private[graft] def annTrainedRecalls(s: SparkSession, dir: String): (Double, Double, Double, Double, Long) = {
    val e = T(s, dir, "embeddings")
    val corpus = mat(e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("embedding").cast("array<double>").as("cv")))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("s").desc, col("c_id"))
    val truth = mat(corpus
      .crossJoin(broadcast(queries))
      .select(col("q_id"), col("c_id"),
        round(CosineSimilarity.cosineSim(col("qv"), col("cv")), 6).as("s"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
      .select(col("q_id"), col("c_id")))
    val total = truth.count()

    // ONE bounded deterministic sample trains BOTH codebooks with
    // driver-local Lloyd (graft.functions.Lloyd — the Faiss training
    // doctrine: quantizer fits never justify per-iteration Spark
    // jobs); the r15 shape paid 1 spark.ml k-means|| fit + 16
    // concurrent subspace fits = ~180 tiny scheduler round-trips and
    // the gate's whole 7.6 s anchor cost was that overhead
    val sample = graft.functions.Lloyd.sampleVectors(corpus, "cv", maxSample = 4096)
    // train ONCE on the driver (Lloyd is driver-local math over the
    // bounded sample); all three evaluation legs share these artifacts
    // — "train once" stays literal even with the composed leg added.
    // restarts=8: a probed sweep (restarts 1/4/8/16 x maxIter 20/50 at
    // sf0.001/0.01/0.1) plateaus recall at 0.79-0.84 from restarts=8
    // on; more iterations move nothing (SSE-optimal and recall-optimal
    // clusterings differ on this corpus — the spark.ml run's 0.91 was
    // one lucky k-means|| draw, with partitioning-dependent variance
    // this path no longer has)
    val centers = graft.functions.Lloyd.fit(
      sample, 16, seed = 42L, maxIter = 20, restarts = 8).toSeq
    // trained PQ: 16 subspaces x 64 centroids (one byte-ish code per
    // subspace — still a 32x scan-IO cut vs 64 float64 dims). k=64
    // over k=16 was the decisive ADC-quality lever in the r17 sweep
    // (tools/AnnProbe at sf0.1: rerank recall@10 0.82 -> 0.92 at the
    // same nProbe=12/shortlist=100; pure-PQ shortlist recall rose
    // comparably) at unchanged plan shape — codebooks stay driver-
    // trivial literals (16 x 64 x 4 doubles) riding the encode/LUT
    // expressions
    val pq = graft.functions.AnnPq.buildTrainedFromSample(
      sample, m = 16, k = 64, seed = 42L, maxIter = 20)
    // ONE shared index + ONE pinned (cell, code, emb) frame: the three
    // legs previously each re-executed the cell assignment and/or PQ
    // encode over the corpus (the composed leg paid both); pinning the
    // encoded assignment makes those a single corpus pass that every
    // leg reads back
    val ivfIndex0 = graft.functions.AnnIvf.withCenters(
      corpus.withColumnRenamed("cv", "emb"), "emb", centers)
    // k=64 codebooks ride the JVM KERNEL, not the expression form: the
    // 1,024-dot-subtree encodeExpr cost ~9 s of pure codegen COMPILE
    // per bench run when k moved 16→64 (the r17 quality lever), while
    // the kernel's per-row loop is the identical assignment rule at
    // negligible plan size (AnnPqSpec pins kernel ≡ expression)
    val encodedAll = mat(graft.functions.AnnPq.encodeKernel(
      ivfIndex0.assigned.select(col("c_id"), col("cell"), col("emb")),
      "c_id", "cell", "emb", pq))
    val ivfIndex = ivfIndex0.copy(assigned = encodedAll)
    // same big-k doctrine for the per-query LUTs: 10 query vectors are
    // driver-metadata; compute the m×k tables in JVM and attach them
    // as ONE array literal column instead of 1,024 dot subtrees in
    // every leg's plan
    val queriesLut = {
      import org.apache.spark.sql.types.{ArrayType, DoubleType}
      val base = queries.select(col("q_id"), col("qv"))
      val qvIdx = base.schema.fieldIndex("qv")
      val rows = base.collect().map(r => org.apache.spark.sql.Row.fromSeq(
        r.toSeq :+ (graft.functions.AnnPq.lutOf(
          pq, r.getSeq[Double](qvIdx).toArray).map(_.toSeq).toSeq: Any)))
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        base.schema.add("lut", ArrayType(ArrayType(DoubleType))))
    }
    // the evaluation legs are independent driver-coordinated pipelines
    // (recall joins); run them as concurrent job groups so the gate's
    // wall time is one branch, not the sum
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val ivfF = Future {
      // trained IVF: k=16 cells, probe half of them, direct top-10
      val ivfGot = graft.functions.AnnIvf.query(ivfIndex,
          queries.withColumnRenamed("qv", "emb"),
          qIdCol = "q_id", topK = 10, nProbe = 8, cIdCol = "c_id")
        .select(col("q_id"), col("c_id"))
      truth.join(ivfGot, Seq("q_id", "c_id"), "left_semi").count().toDouble / total
    }
    val pqF = Future {
      // shortlist recall@10-in-50 — the production use (scan codes,
      // exact-rerank the shortlist)
      val pqGot = graft.functions.AnnPq.query(pq,
          encodedAll.select(col("c_id"), col("code")),
          queriesLut.withColumnRenamed("qv", "emb"),
          qIdCol = "q_id", embCol = "emb", cIdCol = "c_id", codeCol = "code",
          topK = 50, lutCol = Some("lut"))
        .select(col("q_id"), col("c_id"))
      truth.join(pqGot, Seq("q_id", "c_id"), "left_semi").count().toDouble / total
    }
    val ivfpqF = Future {
      // the COMPOSED production stack end-to-end: both approximations
      // compound (coarse probe can drop a true neighbor's cell, ADC
      // can mis-rank inside the shortlist), so this is the number a
      // deployed retrieval index actually delivers
      val got = graft.functions.AnnIvfPq.query(ivfIndex, pq,
          encodedAll.select(col("c_id"), col("cell"), col("code")),
          queriesLut.withColumnRenamed("qv", "emb"),
          qIdCol = "q_id", embCol = "emb", cIdCol = "c_id", codeCol = "code",
          topK = 50, nProbe = 8, lutCol = Some("lut"))
        .select(col("q_id"), col("c_id"))
      truth.join(got, Seq("q_id", "c_id"), "left_semi").count().toDouble / total
    }
    val rerankF = Future {
      // the SHIPPED configuration: wider probe (12/16) + wider ADC
      // shortlist (100) closed by an exact full-vector re-rank to
      // top-10 — recall here is plain recall@10, the number a user
      // evaluating the retrieval stack reads. The re-rank kernel is
      // sim_prefix_rerank's stage 2 over the IVF+PQ shortlist; the
      // full vectors come from the same pinned encodedAll frame, so
      // this leg adds zero extra corpus passes
      val got = graft.functions.AnnIvfPq.queryRerank(ivfIndex, pq,
          encodedAll.select(col("c_id"), col("cell"), col("code")),
          encodedAll.select(col("c_id"), col("emb")),
          queriesLut.withColumnRenamed("qv", "emb"),
          qIdCol = "q_id", embCol = "emb", cIdCol = "c_id", codeCol = "code",
          topK = 10, shortlist = 100, nProbe = 12, lutCol = Some("lut"))
        .select(col("q_id"), col("c_id"))
      truth.join(got, Seq("q_id", "c_id"), "left_semi").count().toDouble / total
    }
    val (ivfRecall, pqRecall, ivfpqRecall, rerankRecall) = (
      Await.result(ivfF, scala.concurrent.duration.Duration.Inf),
      Await.result(pqF, scala.concurrent.duration.Duration.Inf),
      Await.result(ivfpqF, scala.concurrent.duration.Duration.Inf),
      Await.result(rerankF, scala.concurrent.duration.Duration.Inf))
    corpus.unpersist(); truth.unpersist(); encodedAll.unpersist()
    (ivfRecall, pqRecall, ivfpqRecall, rerankRecall, total)
  }

  private val simAnnRecall = Q(
    "sim_ann_recall",
    // The QUALITY-path ANN gate: sim_ann_ivf/sim_ann_pq pin the
    // deterministic-codebook configurations bit-for-bit; this gate
    // harness-verifies the KMeans-TRAINED paths the production index
    // would actually ship, via a deterministic recall floor (the only
    // oracle an iterative trainer admits — the floors carry wide
    // headroom over measured values so partitioning-dependent KMeans
    // init variation cannot flip the bit; AnnRecallGateSpec tracks the
    // raw numbers).
    (s, dir) => {
      val (ivfRecall, pqRecall, ivfpqRecall, rerankRecall, total) =
        annTrainedRecalls(s, dir)
      import s.implicits._
      Seq(
        ("ivf_trained", total.toInt, 0.70, if (ivfRecall >= 0.70) 1 else 0),
        ("pq_trained", total.toInt, 0.75, if (pqRecall >= 0.75) 1 else 0),
        ("ivfpq_trained", total.toInt, 0.70, if (ivfpqRecall >= 0.70) 1 else 0),
        // the shipped configuration (wide probe + shortlist + exact
        // re-rank) carries the REAL quality bar: recall@10 >= 0.85
        ("ivfpq_rerank", total.toInt, 0.85, if (rerankRecall >= 0.85) 1 else 0))
        .toDF("method", "truth_pairs", "floor", "pass")
    },
    Some("""SELECT 'ivf_trained' AS method, 100 AS truth_pairs,
           |       CAST(0.70 AS DOUBLE) AS floor, 1 AS pass
           |UNION ALL
           |SELECT 'pq_trained', 100, CAST(0.75 AS DOUBLE), 1
           |UNION ALL
           |SELECT 'ivfpq_trained', 100, CAST(0.70 AS DOUBLE), 1
           |UNION ALL
           |SELECT 'ivfpq_rerank', 100, CAST(0.85 AS DOUBLE), 1""".stripMargin))

  private val dedupIncremental = Q(
    "dedup_incremental",
    // INCREMENTAL near-dedup — the production shape in a continuously
    // ingesting pipeline: a new batch (doc_id >= 400 stands in for
    // "today's ingest") is deduped against the already-ingested corpus
    // AND within itself, while old docs are never re-judged or
    // dropped. Candidates come from the same banded-LSH equi-join over
    // old+new (at scale the index side's signatures are precomputed
    // and only new buckets pair); a new doc survives iff it has NO
    // >= 0.5 trigram match to any smaller doc_id — an older doc, or
    // an earlier doc of its own batch (first-wins). Because candidate
    // pairs are emitted with doc_a < doc_b, "duplicate new doc" is
    // exactly "appears as doc_b", and survivors fall out of one
    // anti-join.
    (s, dir) => {
      val base = mat(spread(T(s, dir, "documents")).select(
        col("doc_id"), digestShingles(TextOps.wordShingles(toks, 3)).as("sh"))
        .filter(size(col("sh")) > 0))
      // banding sized for the verify threshold (0.5 -> 6 x 2 on the
      // widened 12-chunk signature): the default 3 x 2 would recall
      // only ~58% of true J=0.5 duplicates, and the r14 6 x 1 stopgap
      // recalled ~98% but bucketed on single minhash chunks — a
      // measured 3.4x candidate-volume blow-up and a skew hazard
      val (bb, rr) = SimilarityOps.sizedBanding(0.5)
      val dupNew = SimilarityOps.lshCandidatePairs(base, "doc_id", "sh",
          aName = "doc_a", bName = "doc_b", bands = bb, rowsPerBand = rr,
          // only "is this NEW doc a duplicate?" pairs matter, so the
          // candidate join's right side is the new batch, not the
          // corpus — identical output (the predicate is a function of
          // the doc_b row alone; the oracle keeps the symmetric form)
          bSideFilter = Some(col("doc_id") >= 400))
        .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
        .join(base.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
        // the size guard is IMPLIED by jaccard >= 0.5 (exact, results
        // unchanged, oracle untouched) — it just skips the O(|a|+|b|)
        // intersection for size-mismatched candidates
        .filter(col("doc_b") >= 400 &&
          SimilarityOps.jaccardSizeGuard(col("sha"), col("shb"), 0.5) &&
          SimilarityOps.jaccard(col("sha"), col("shb")) >= 0.5)
        .select(col("doc_b").as("doc_id")).distinct()
      base.filter(col("doc_id") >= 400).select(col("doc_id"))
        .join(dupNew, Seq("doc_id"), "left_anti")
        .select(col("doc_id").cast("long").as("doc_id"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |base0 AS (SELECT doc_id, list_distinct(list_transform(list_transform(range(1, len(tk) - 1), i ->
           |           concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])), s -> substr(md5(s), 1, 12))) AS sh FROM toks),
           |base AS (SELECT * FROM base0 WHERE len(sh) > 0),
           |${lshOracleCtes("base", "sh", Nil, bands = 6, rowsPerBand = 2)},
           |dup AS (SELECT DISTINCT doc_b AS doc_id
           |        FROM cand JOIN base x ON x.doc_id = doc_a
           |                  JOIN base y ON y.doc_id = doc_b
           |        WHERE doc_b >= 400 AND ${lshVerifySql("sh")} >= 0.5)
           |SELECT CAST(b.doc_id AS BIGINT) AS doc_id FROM base b
           |WHERE b.doc_id >= 400
           |  AND b.doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin))

  private val curateDocs = Q(
    "curate_docs",
    // the end-to-end curation pipeline in one plan: quality gate ->
    // exact dedup (keep lowest id per content hash) -> near-dedup (drop
    // the higher id of every bigram-jaccard >= 0.5 candidate pair).
    // Near-dedup candidates come from MinHash-LSH banding (the same
    // formulation as dedup_minhash_lsh): candidate generation is an
    // equi-join on (band, bkey, lang, source) whose key space grows with
    // the corpus — shuffle-partitionable at any scale — and the exact
    // Jaccard verification runs on candidates only, never all pairs.
    (s, dir) => {
      val base = spread(T(s, dir, "documents")).select(
        col("doc_id"), col("lang"), col("source"), col("text"),
        size(toks).as("n_tokens"),
        (length(regexp_replace(col("text"), "[^a-zA-Z ]", "")).cast("double") /
          length(col("text")).cast("double")).as("alpha_ratio"))
      val quality = base.filter(col("n_tokens") >= 20 && col("alpha_ratio") >= 0.8)
      val exact = mat(quality
        .withColumn("h", md5(col("text")))
        .withColumn("keep", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"))))
        .filter(col("keep") === 1).drop("h", "keep"))
      // n_tokens >= 20 guarantees >= 19 bigrams, so the empty-shingle
      // guard is vacuous today — kept so a relaxed quality gate can
      // never reintroduce the sentinel-signature bucket
      val sh = mat(exact.select(col("doc_id"), col("lang"), col("source"),
        digestShingles(TextOps.wordShingles(toks, 2)).as("sh"))
        .filter(size(col("sh")) > 0))
      // banding sized for the verify threshold (0.5 -> 6 x 2 on the
      // 12-chunk signature), like dedup_incremental: production
      // curation at J=0.5 needs high recall without the r=1 stopgap's
      // candidate blow-up; not the 3 x 2 demo default either
      val (bb, rr) = SimilarityOps.sizedBanding(0.5)
      val dropIds = SimilarityOps.lshCandidatePairs(sh, "doc_id", "sh",
          blockKeys = Seq("lang", "source"), aName = "doc_a", bName = "doc_b",
          bands = bb, rowsPerBand = rr)
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
        .filter(SimilarityOps.jaccard(col("sha"), col("shb")) >= 0.5)
        .select(col("doc_b").as("doc_id")).distinct()
      exact.join(dropIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_tokens").cast("long").as("n_tokens"))
    },
    Some(s"""WITH base AS (
           |  SELECT doc_id, lang, source, text,
           |    len(string_split(text, ' ')) AS n_tokens,
           |    CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE) /
           |      CAST(length(text) AS DOUBLE) AS alpha_ratio
           |  FROM documents),
           |quality AS (SELECT * FROM base WHERE n_tokens >= 20 AND alpha_ratio >= 0.8),
           |exact AS (
           |  SELECT * FROM (SELECT *, row_number() OVER
           |      (PARTITION BY md5(text) ORDER BY doc_id) AS keep FROM quality)
           |  WHERE keep = 1),
           |sh0 AS (SELECT doc_id, lang, source,
           |    list_distinct(list_transform(list_transform(range(1, len(string_split(text,' '))), i ->
           |      concat(string_split(text,' ')[i], ' ', string_split(text,' ')[i+1])), s -> substr(md5(s), 1, 12))) AS sh
           |  FROM exact),
           |sh AS (SELECT * FROM sh0 WHERE len(sh) > 0),
           |${lshOracleCtes("sh", "sh", Seq("lang", "source"), bands = 6, rowsPerBand = 2)},
           |drops AS (
           |  SELECT DISTINCT doc_b AS doc_id
           |  FROM cand JOIN sh x ON x.doc_id = cand.doc_a
           |            JOIN sh y ON y.doc_id = cand.doc_b
           |  WHERE ${lshVerifySql("sh")} >= 0.5)
           |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens FROM exact
           |WHERE doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin))

  private val qPackShards = Q(
    "q_pack_shards",
    // token-budget shard packing under the oracle gate — the
    // "concatenate the corpus, cut into fixed-budget shards" layout
    // step: whitespace token counts per doc, concat order (lang,
    // doc_id), 5000-token shards running independently per lang. The
    // Spark side is the two-phase distributed prefix sum (range
    // repartition + metadata-sized per-slice offsets + broadcast-back;
    // PackSpec pins its bit-equality to the single-window form at any
    // partitioning); the oracle IS that single-window form, so the
    // hash gate certifies the distributed decomposition end-to-end.
    (s, dir) =>
      graft.ops.Pack.packByBudget(
        T(s, dir, "documents").select(
          col("doc_id"), col("lang"), size(toks).cast("long").as("n_tokens")),
        tokenCol = "n_tokens", budget = 5000L,
        groupCols = Seq("lang"), orderCols = Seq("doc_id")),
    // HUGEINT-vs-BIGINT: DuckDB's sum(BIGINT) is HUGEINT and fetchdf
    // would float64 it, so the shard index is CAST back to BIGINT.
    Some("""WITH t AS (SELECT doc_id, lang,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |  FROM documents)
           |SELECT doc_id, lang, n_tokens,
           |  CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
           |          ROWS UNBOUNDED PRECEDING) - n_tokens) // 5000 AS BIGINT)
           |    AS shard_idx
           |FROM t""".stripMargin))

  private val docPackContexts = Q(
    "doc_pack_contexts",
    // SEQUENCE PACKING (sample packing) under the oracle gate: the
    // corpus as one doc_id-ordered token stream cut into 512-token
    // training contexts, each doc emitted once per context it overlaps
    // with its in-doc slice bounds — the (context, doc, span) manifest
    // a packed-pretraining loader materializes; docs split across
    // context boundaries. Spark side is the two-phase distributed
    // prefix sum + a bounded explode (rows ∝ corpus tokens / 512); the
    // oracle is the single-window formulation, so the hash certifies
    // the distributed decomposition.
    (s, dir) =>
      graft.ops.Pack.packContexts(
        T(s, dir, "documents").select(
          col("doc_id"), size(toks).cast("long").as("n_tokens")),
        tokenCol = "n_tokens", contextLen = 512L, orderCols = Seq("doc_id"))
        .select(col("doc_id"), col("ctx_id"),
          col("ctx_doc_start"), col("ctx_doc_end")),
    Some("""WITH t AS (SELECT doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
           |c AS (SELECT doc_id, n,
           |    CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS s
           |  FROM t),
           |x AS (SELECT doc_id, n, s,
           |    unnest(generate_series(s // 512, (s + n - 1) // 512)) AS ctx
           |  FROM c WHERE n > 0)
           |SELECT doc_id, CAST(ctx AS BIGINT) AS ctx_id,
           |  CAST(greatest(0, ctx * 512 - s) AS BIGINT) AS ctx_doc_start,
           |  CAST(least(n, (ctx + 1) * 512 - s) AS BIGINT) AS ctx_doc_end
           |FROM x""".stripMargin))

  // =====================================================================
  // Multimodal plumbing: opaque binary payloads + typed metadata
  // =====================================================================

  private val mmBinaryMeta = Q(
    "mm_binary_meta",
    (s, dir) => {
      val payload = col("text").cast("binary")
      T(s, dir, "documents").select(
        col("doc_id"),
        length(payload).cast("long").as("n_bytes"),
        sha2(payload, 256).as("digest"),
        (pmod(length(payload).cast("long") * 7, lit(640)) + 1).as("fake_width"),
        (pmod(length(payload).cast("long") * 13, lit(480)) + 1).as("fake_height"))
    },
    Some("""SELECT doc_id,
           |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           |  sha256(text) AS digest,
           |  (octet_length(CAST(text AS BLOB)) * 7) % 640 + 1 AS fake_width,
           |  (octet_length(CAST(text AS BLOB)) * 13) % 480 + 1 AS fake_height
           |FROM documents""".stripMargin))

  private val mmImageHeaders = Q(
    "mm_image_headers",
    // REAL container parsing under the oracle gate: each document is
    // wrapped in a real PNG (even doc_id) or JPEG (odd) header whose
    // dimensions derive from doc_id, built with hex-string expressions
    // (unhex of big-endian lpad'd hex); MultimodalOps.headerDecode —
    // the default codec: pure-JVM IHDR/SOFn parsing with fixed offsets,
    // marker scanning, and big-endian reads — must recover exactly the
    // fields the oracle computes arithmetically. Construction (SQL hex
    // strings) and parser (JVM byte loops) share no code, so a
    // compensating endianness or offset bug cannot hash green. The
    // JPEG path must SKIP a realistic APP0 segment by its length field
    // before finding SOF0. Decode stays a narrow mapPartitions over
    // the scan — no shuffle (the multimodal scale contract).
    (s, dir) => {
      def be(c: Column, hexDigits: Int): Column =
        unhex(lpad(hex(c.cast("bigint")), hexDigits, "0"))
      val w = col("doc_id") % 640 + 1
      val h = col("doc_id") % 480 + 1
      val pngBytes = concat(
        unhex(lit("89504E470D0A1A0A" + "0000000D" + "49484452")),
        be(w, 8), be(h, 8),
        unhex(lit("0806000000" + "00000000")), // depth 8, RGBA, CRC
        col("text").cast("binary"))            // trailing chunk bytes
      val jpegBytes = concat(
        unhex(lit("FFD8" +
          "FFE0" + "0010" + "4A46494600" + "0101" + "00" + "00480048" + "0000" + // APP0
          "FFC0" + "0011" + "08")),            // SOF0: len 17, precision 8
        be(h, 4), be(w, 4),
        unhex(lit("03")),                      // 3 components
        col("text").cast("binary"))
      val payloads = T(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0, pngBytes).otherwise(jpegBytes).as("payload"))
      graft.functions.MultimodalOps.decodeImages(payloads, "doc_id", "payload").toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("nChannels").as("n_channels"))
    },
    Some("""SELECT doc_id,
           |  CAST(doc_id % 640 + 1 AS INTEGER) AS width,
           |  CAST(doc_id % 480 + 1 AS INTEGER) AS height,
           |  CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS INTEGER) AS n_channels
           |FROM documents""".stripMargin))

  private val fsStreamEwma = Q(
    "fs_stream_ewma",
    // §2.10: the STREAMING side of the EWMA recurrence —
    // mapGroupsWithState carries (n, smoothed) per user across four
    // real time-ordered micro-batches (the replay-staging doctrine of
    // fs_stream_session_wm, no sentinel needed: no watermark, state
    // never evicts). Within a batch rows fold in (ts, value) order on
    // top of the carried state, so the stream's final state must equal
    // the batch fold — the oracle is the SAME DuckDB list_reduce as
    // fs_ewma_last, making this a stream/batch-parity hash gate for a
    // numeric recurrence: a torn batch, doubled replay, or unsorted
    // in-batch fold all diverge in the last ulp and hash red.
    (s, dir) => {
      val tmp = scratchDir("sewma")
      val src = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("ts"), col("user_id"), col("value"))
      // tag shared with fs_stream_cusum: identical source, cuts and
      // (empty) sentinel, so the two certifications replay ONE staged
      // tree — the second gate's staging cost is a memo hit
      val srcDir = stageTimeOrderedReplay("svreplay", dir, tmp, src, weeklySlice,
        sentinel = src.limit(0)) // empty: nothing must perturb any key's state
      val updates = replayToMemory(s, srcDir, src.schema, OutputMode.Update())(
        graft.streaming.EventStreams.ewmaStream(_, alpha = 0.1, keyCol = "user_id")
          .toDF("user_id", "n", "ewma"))
      // the final state per key is the update with the largest n
      updates.groupBy(col("user_id"))
        .agg(max_by(col("ewma"), col("n")).as("ewma_last"))
        .select(col("user_id").cast("long").as("user_id"), col("ewma_last"))
    },
    Some("""SELECT user_id,
           |  list_reduce(list(value ORDER BY ts, value),
           |    (acc, x) -> 0.9 * acc + 0.1 * x) AS ewma_last
           |FROM events WHERE value IS NOT NULL
           |GROUP BY user_id""".stripMargin))

  private val fsEwmaLast = Q(
    "fs_ewma_last",
    // pandas ewm(alpha=0.1, adjust=False) per user, gated on the FINAL
    // smoothed value per key ("current smoothed state per entity").
    // The fold's IEEE order is fixed by the total (ts, value) sort, so
    // DuckDB folding the same sorted list (list_reduce) matches
    // bit-for-bit — an exact oracle for a sequential recurrence.
    (s, dir) => {
      val e = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("value"))
      TimeseriesOps.ewma(e, alpha = 0.1, keyCol = "user_id", timeCol = "ts")
        .groupBy(col("user_id"))
        .agg(max_by(col("ewma"), struct(col("ts"), col("value"))).as("ewma_last"))
        .select(col("user_id").cast("long").as("user_id"), col("ewma_last"))
    },
    Some("""SELECT user_id,
           |  list_reduce(list(value ORDER BY ts, value),
           |    (acc, x) -> 0.9 * acc + 0.1 * x) AS ewma_last
           |FROM events WHERE value IS NOT NULL
           |GROUP BY user_id""".stripMargin))

  private val qApproxDistinct = Q(
    "q_approx_distinct",
    // the cardinality sketch a 100 TB profiler actually runs:
    // approx_count_distinct (HLL++, fixed-size registers, one pass, no
    // distinct shuffle) self-checked against the exact distinct count
    // — the sketch is deterministic (register merge is commutative),
    // so the within-5%% bit is a stable gate and the oracle carries the
    // exact side plus the literal bit.
    (s, dir) => {
      // rsd 0.01 makes the 5% gate a ~5-sigma bound — the default 0.05
      // sketch measured a >5% miss at sf0.1 (1,500 distinct users/key)
      T(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.01).as("approx"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users")) <=
            col("exact_users") * 0.05).cast("int").as("within_5pct"))
    },
    Some("""SELECT event_type,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           |  1 AS within_5pct
           |FROM events GROUP BY event_type""".stripMargin))

  private val mlChi2Select = Q(
    "ml_chi2_select",
    // Chi-square feature selection — the filter-method ranking a
    // tabular-ML pipeline runs before training: independence of each
    // candidate feature (6-hour time-of-day bucket, arithmetic
    // day-of-week, 100-unit value bin) against the event_type label.
    // Determinism doctrine, three layers: buckets are pure INTEGER
    // arithmetic on epoch seconds (no engine date functions — dow
    // conventions differ across engines); each cell term is
    // (O·N − rt·ct)²/(rt·ct·N) where the numerator root is an
    // exact-integer-valued double (≤1e10 at sf0.1, inside 2^53), so
    // x·x and the division are TWO deterministic IEEE ops; and the
    // per-feature sum folds the cells in fixed (bucket, label) order —
    // the fs_ewma_last list-fold pattern, since a float SUM aggregate
    // would be order-nondeterministic. Zero cells (O=0) contribute
    // rt·ct/N like the textbook statistic, via the grid left join.
    // One explode + three hash-aggs + metadata-sized grid joins;
    // shuffles carry (feature, bucket, label, counts), never rows.
    (s, dir) => {
      val secs = unix_timestamp(col("ts"))
      val cells = T(s, dir, "events").select(
        col("event_type").as("label"),
        explode(array(
          struct(lit("hour6").as("feature"),
            ((secs % 86400L) / 21600L).cast("long").cast("string").as("bucket")),
          struct(lit("dow").as("feature"),
            ((secs / 86400L).cast("long") % 7L).cast("string").as("bucket")),
          struct(lit("val100").as("feature"),
            coalesce(least(floor(col("value") / 100), lit(4L)).cast("string"), lit("na"))
              .as("bucket")))).as("fb"))
        .select(col("fb.feature").as("feature"), col("fb.bucket").as("bucket"), col("label"))
      val obs = cells.groupBy(col("feature"), col("bucket"), col("label"))
        .agg(count(lit(1)).as("o"))
      val rt = obs.groupBy(col("feature"), col("bucket")).agg(sum(col("o")).as("rt"))
      val ct = obs.groupBy(col("feature"), col("label")).agg(sum(col("o")).as("ct"))
      val nn = obs.groupBy(col("feature")).agg(sum(col("o")).as("nn"))
      val full = rt.join(ct, Seq("feature")).join(nn, Seq("feature"))
        .join(obs, Seq("feature", "bucket", "label"), "left")
        .withColumn("x",
          (coalesce(col("o"), lit(0L)) * col("nn") - col("rt") * col("ct")).cast("double"))
        .withColumn("term",
          (col("x") * col("x")) / (col("rt") * col("ct") * col("nn")).cast("double"))
      full.groupBy(col("feature")).agg(
        ((countDistinct(col("bucket")) - 1) * (countDistinct(col("label")) - 1))
          .cast("long").as("dof"),
        round(aggregate(
          transform(
            array_sort(collect_list(struct(col("bucket"), col("label"), col("term")))),
            t => t.getField("term")),
          lit(0.0), (a, t) => a + t), 6).as("chi2"))
    },
    Some("""WITH s AS (SELECT epoch_us(ts) // 1000000 AS secs, event_type, value FROM events),
           |cells AS (
           |  SELECT 'hour6' AS feature, CAST((secs % 86400) // 21600 AS VARCHAR) AS bucket,
           |         event_type AS label FROM s
           |  UNION ALL
           |  SELECT 'dow', CAST((secs // 86400) % 7 AS VARCHAR), event_type FROM s
           |  UNION ALL
           |  SELECT 'val100',
           |         coalesce(CAST(least(CAST(floor(value / 100) AS BIGINT), 4) AS VARCHAR), 'na'),
           |         event_type FROM s),
           |obs AS (SELECT feature, bucket, label, CAST(count(*) AS BIGINT) AS o
           |        FROM cells GROUP BY 1, 2, 3),
           |rt AS (SELECT feature, bucket, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY 1, 2),
           |ct AS (SELECT feature, label, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY 1, 2),
           |nn AS (SELECT feature, CAST(sum(o) AS BIGINT) AS nn FROM obs GROUP BY 1),
           |f AS (SELECT g.feature, g.bucket, g.label,
           |        CAST(coalesce(o.o, 0) * g.nn - g.rt * g.ct AS DOUBLE) AS x,
           |        CAST(g.rt * g.ct * g.nn AS DOUBLE) AS den
           |      FROM (SELECT rt.feature, rt.bucket, ct.label, rt.rt, ct.ct, nn.nn
           |            FROM rt JOIN ct ON ct.feature = rt.feature
           |                    JOIN nn ON nn.feature = rt.feature) g
           |      LEFT JOIN obs o ON o.feature = g.feature AND o.bucket = g.bucket
           |                     AND o.label = g.label)
           |SELECT feature,
           |  CAST((count(DISTINCT bucket) - 1) * (count(DISTINCT label) - 1) AS BIGINT) AS dof,
           |  round(list_reduce(list((x * x) / den ORDER BY bucket, label), (a, t) -> a + t), 6) AS chi2
           |FROM f GROUP BY feature""".stripMargin))

  private val mlMiSelect = Q(
    "ml_mi_select",
    // Mutual-information feature selection — chi2's information-
    // theoretic sibling over the SAME (hour6, dow, val100) × label
    // cells: I(F;L) = Σ_{b,l} (o/N)·ln(o·N/(rt·ct)), observed cells
    // only (absent cells contribute exactly 0). MI ranks features for
    // classification without chi2's large-sample assumptions, and
    // unlike chi2 it is bounded by min(H(F),H(L)) — comparable across
    // features with different arities. Determinism: every operand is
    // an exact integer count cast to double (≤2^53 at any conceivable
    // corpus), the term is a fixed IEEE sequence (one division, one
    // ln, one multiply), and the per-feature sum folds cells in fixed
    // (bucket, label) order — the chi2/fs_ewma_last list-fold rule —
    // closed by round(6). Shape: identical to chi2 — one explode,
    // three hash-aggs, metadata-sized joins; shuffles carry counts.
    (s, dir) => {
      val secs = unix_timestamp(col("ts"))
      val cells = T(s, dir, "events").select(
        col("event_type").as("label"),
        explode(array(
          struct(lit("hour6").as("feature"),
            ((secs % 86400L) / 21600L).cast("long").cast("string").as("bucket")),
          struct(lit("dow").as("feature"),
            ((secs / 86400L).cast("long") % 7L).cast("string").as("bucket")),
          struct(lit("val100").as("feature"),
            coalesce(least(floor(col("value") / 100), lit(4L)).cast("string"), lit("na"))
              .as("bucket")))).as("fb"))
        .select(col("fb.feature").as("feature"), col("fb.bucket").as("bucket"), col("label"))
      val obs = cells.groupBy(col("feature"), col("bucket"), col("label"))
        .agg(count(lit(1)).as("o"))
      val rt = obs.groupBy(col("feature"), col("bucket")).agg(sum(col("o")).as("rt"))
      val ct = obs.groupBy(col("feature"), col("label")).agg(sum(col("o")).as("ct"))
      val nn = obs.groupBy(col("feature")).agg(sum(col("o")).as("nn"))
      val terms = obs.join(rt, Seq("feature", "bucket"))
        .join(ct, Seq("feature", "label")).join(nn, Seq("feature"))
        .withColumn("term",
          (col("o").cast("double") / col("nn").cast("double")) *
            log((col("o").cast("double") * col("nn").cast("double")) /
              (col("rt").cast("double") * col("ct").cast("double"))))
      terms.groupBy(col("feature")).agg(
        count(lit(1)).as("n_cells"),
        round(aggregate(
          transform(
            array_sort(collect_list(struct(col("bucket"), col("label"), col("term")))),
            t => t.getField("term")),
          lit(0.0), (a, t) => a + t), 6).as("mi"))
    },
    Some("""WITH s AS (SELECT epoch_us(ts) // 1000000 AS secs, event_type, value FROM events),
           |cells AS (
           |  SELECT 'hour6' AS feature, CAST((secs % 86400) // 21600 AS VARCHAR) AS bucket,
           |         event_type AS label FROM s
           |  UNION ALL
           |  SELECT 'dow', CAST((secs // 86400) % 7 AS VARCHAR), event_type FROM s
           |  UNION ALL
           |  SELECT 'val100',
           |         coalesce(CAST(least(CAST(floor(value / 100) AS BIGINT), 4) AS VARCHAR), 'na'),
           |         event_type FROM s),
           |obs AS (SELECT feature, bucket, label, CAST(count(*) AS BIGINT) AS o
           |        FROM cells GROUP BY 1, 2, 3),
           |rt AS (SELECT feature, bucket, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY 1, 2),
           |ct AS (SELECT feature, label, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY 1, 2),
           |nn AS (SELECT feature, CAST(sum(o) AS BIGINT) AS nn FROM obs GROUP BY 1),
           |t AS (SELECT obs.feature, obs.bucket, obs.label,
           |        (CAST(o AS DOUBLE) / CAST(nn AS DOUBLE)) *
           |          ln((CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)) /
           |             (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))) AS term
           |      FROM obs JOIN rt ON rt.feature = obs.feature AND rt.bucket = obs.bucket
           |               JOIN ct ON ct.feature = obs.feature AND ct.label = obs.label
           |               JOIN nn ON nn.feature = obs.feature)
           |SELECT feature, CAST(count(*) AS BIGINT) AS n_cells,
           |  round(list_reduce(list(term ORDER BY bucket, label), (a, t) -> a + t), 6) AS mi
           |FROM t GROUP BY feature""".stripMargin))

  private val mlFeatureHash = Q(
    "ml_feature_hash",
    // the hashing trick (Weinberger et al. 2009): vocabulary-free
    // categorical -> bucket index + unbiasing sign, pure narrow md5
    // expressions (no fit step, no dictionary broadcast at 100 TB).
    // md5, not murmur3: reproducible in any engine.
    (s, dir) => {
      val cat = concat(col("source"), lit("|"), col("lang"))
      T(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.MlPrep.featureHash(cat, buckets = 64).as("bucket"),
        graft.functions.MlPrep.featureHashSign(cat).as("sign"))
    },
    Some("""SELECT doc_id,
           |  ('0x' || substr(md5(concat('fh:', source, '|', lang)), 1, 8))::BIGINT % 64
           |    AS bucket,
           |  CAST(CASE WHEN ('0x' || substr(md5(concat('fh:', source, '|', lang)), 9, 1))::INT
           |         % 2 = 0 THEN 1 ELSE -1 END AS INT) AS sign
           |FROM documents""".stripMargin))

  private val mlTargetEncode = Q(
    "ml_target_encode",
    // leave-one-out target encoding with additive smoothing (m=10)
    // toward the global mean — all arithmetic in integer cents, one
    // double division at the end, so the oracle reproduces every
    // encoding bit-for-bit (see MlPrep.targetEncode).
    (s, dir) => {
      graft.functions.MlPrep.targetEncode(
        T(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
        catCol = "event_type", targetCol = "value", m = 10)
        .select(col("event_id"), col("event_type"), col("target_enc"))
    },
    Some("""WITH e AS (SELECT event_id, event_type,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS tc FROM events),
           |pc AS (SELECT event_type, count(tc) AS cnt, sum(tc) AS s FROM e GROUP BY 1),
           |g AS (SELECT sum(cnt) AS n, sum(s) AS gs FROM pc)
           |SELECT e.event_id, e.event_type,
           |  CAST((pc.s - e.tc) * g.n + g.gs * 10 AS DOUBLE)
           |    / CAST((pc.cnt - 1 + 10) * g.n AS DOUBLE) AS target_enc
           |FROM e JOIN pc USING (event_type) CROSS JOIN g""".stripMargin))

  private val fsCatalogLifecycle = Q(
    "fs_catalog_lifecycle",
    // DDL verbs under the oracle gate (previously ScalaTest-only):
    // BULK registration, clone-WITH-DATA, delete-with-data, namespace
    // GC, and regex listing driving which features load. The clone's
    // column must reproduce the source's bit-for-bit (clone copies
    // bytes, so v1 <> v2 anywhere hashes red), and the doomed feature's
    // delete + cleanNamespace must leave the survivors untouched.
    (s, dir) => {
      val tmp = scratchDir("ddl")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("ddl", s"$tmp/warehouse")
      fs.createFeatures(Seq("ddl/purchase", "ddl/doomed", "ddl/other"))
      val src = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("value"))
      fs.saveDataFrame(src, name = Some("ddl/purchase"))
      fs.saveDataFrame(src.limit(50), name = Some("ddl/doomed"))
      fs.cloneFeature("ddl/copied", "ddl/purchase")
      fs.deleteFeature("ddl/doomed", deleteData = true)
      fs.cleanNamespace("ddl") // GC any orphaned directories
      // the regex drives the load list: exactly the source + its clone
      val names = fs.listFeatures(Some("ddl"), regex = Some("^(purchase|copied)$"))
        .map(f => s"${f.namespace}/${f.name}").sorted
      fs.loadDataFrame(names,
          fromDate = Some(jts("2024-01-01")), toDate = Some(jts("2024-01-30")),
          freq = Some("1d"))
        .select(col("time"),
          col("`ddl/copied`").as("v_clone"),
          col("`ddl/purchase`").as("v_src"))
    },
    Some("""WITH data AS (SELECT ts AS time, value FROM events WHERE event_type = 'purchase'),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
           |                 TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS time)
           |SELECT g.time, d.value AS v_clone, d.value AS v_src
           |FROM grid g ASOF LEFT JOIN data d ON d.time <= g.time""".stripMargin))

  private val mmFrameSample = Q(
    "mm_frame_sample",
    // video-style frame fan-out under the oracle gate: sampleFrames is
    // a narrow flatMap (one task per parquet split, no exchange) whose
    // stub container index derives frame count from payload size; the
    // oracle recomputes the same index arithmetically. A real ffmpeg
    // codec rides the same seam with an identical plan shape.
    (s, dir) => {
      val payloads = T(s, dir, "documents").select(
        col("doc_id"), col("text").cast("binary").as("payload"))
      graft.functions.MultimodalOps.sampleFrames(payloads, "doc_id", "payload", stride = 3)
        .toDF()
        .select(col("id").as("doc_id"),
          col("frameIdx").cast("long").as("frame_idx"),
          col("offsetBytes").as("offset_bytes"))
    },
    Some("""SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           |       CAST(f * 64 AS BIGINT) AS offset_bytes
           |FROM (SELECT doc_id,
           |        unnest(range(0, octet_length(CAST(text AS BLOB)) // 64 + 1, 3)) AS f
           |      FROM documents)""".stripMargin))

  /** Closed-form MP4 fixture for the mm_video_index gate — the
    * mm_image_headers doctrine applied to ISO BMFF: every box length
    * and field is pure doc_id arithmetic, so the DuckDB oracle can
    * recompute the demuxer's whole output (timestamps, sizes, chunked
    * offsets) without parsing a byte. Layout: ftyp(16) + moov(180+4n)
    * { trak { mdia { mdhd v0, minf { stbl { stts 1 run, stsz
    * per-sample, stsc 2 chunk runs, stco 2 offsets }}}}} + mdat, so
    * chunk 1 starts at 204+4n and chunk 2 runs contiguous after the
    * first ceil(n/2) samples.
    */
  private def mp4Fixture(d: Long): Array[Byte] = {
    val n = (d % 6 + 2).toInt
    val delta = d % 40 + 25
    val timescale = 600 + (d % 5) * 100
    val sizes = (0 until n).map(i => (d + i * 7) % 96 + 8)
    val k1 = (n + 1) / 2
    def u32s(vs: Long*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
      vs.foreach(v => bb.putInt(v.toInt))
      bb.array()
    }
    def box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
      val len = 8 + payload.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len).put(tpe.getBytes("ISO-8859-1"))
      payload.foreach(bb.put)
      bb.array()
    }
    val chunk1 = 204L + 4 * n
    val chunk2 = chunk1 + sizes.take(k1).sum
    val stbl = box("stbl",
      box("stts", u32s(0, 1, n, delta)),
      box("stsz", u32s(Seq(0L, 0L, n.toLong) ++ sizes.map(_.toLong): _*)),
      box("stsc", u32s(0, 2, 1, k1, 1, 2, n - k1, 1)),
      box("stco", u32s(0, 2, chunk1, chunk2)))
    val mdhd = box("mdhd", u32s(0, 0, 0, timescale, n * delta, 0))
    val moov = box("moov", box("trak", box("mdia", mdhd, box("minf", stbl))))
    val mdat = box("mdat", new Array[Byte](sizes.sum.toInt))
    val ftyp = box("ftyp", "isom".getBytes("ISO-8859-1"), u32s(0))
    ftyp ++ moov ++ mdat
  }

  private val mmVideoIndex = Q(
    "mm_video_index",
    // REAL video container parsing under the oracle gate — the last
    // documented stub seam closed: each doc_id becomes a structurally
    // valid MP4 (closed-form boxes, mp4Fixture) and Mp4.sampleIndex
    // walks its actual moov/trak/mdia/minf/stbl tables — stts run
    // expansion, per-sample stsz, the stsc chunk-run walk and stco
    // bases — emitting one row per sample with DTS, size and absolute
    // offset. The oracle recomputes every value arithmetically
    // (offsets as a prefix sum over the closed-form sizes), so a
    // one-byte slip anywhere in the box walk lands on the wrong field
    // and hashes red. videoIndex is a narrow flatMap over the scan:
    // only (id, 4 longs) rows leave the stage, never payload bytes.
    (s, dir) => {
      import s.implicits._
      val vids = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(d => (d, mp4Fixture(d))).toDF("doc_id", "payload")
      graft.functions.MultimodalOps.videoIndex(vids, "doc_id", "payload").toDF()
        .select(col("id").as("doc_id"),
          col("sampleIdx").cast("long").as("sample_idx"),
          col("dts"), col("size"), col("offset"), col("timescale"))
    },
    Some("""WITH p AS (SELECT doc_id,
           |    doc_id % 6 + 2 AS n, doc_id % 40 + 25 AS delta,
           |    600 + (doc_id % 5) * 100 AS timescale FROM documents),
           |s AS (SELECT doc_id, n, delta, timescale, unnest(range(0, n)) AS i FROM p),
           |z AS (SELECT *, (doc_id + i * 7) % 96 + 8 AS sz FROM s)
           |SELECT doc_id, CAST(i AS BIGINT) AS sample_idx,
           |  CAST(i * delta AS BIGINT) AS dts, CAST(sz AS BIGINT) AS size,
           |  CAST(204 + 4 * n + COALESCE(SUM(sz) OVER (PARTITION BY doc_id ORDER BY i
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
           |  CAST(timescale AS BIGINT) AS timescale
           |FROM z""".stripMargin))

  private val mmVideoFrames = Q(
    "mm_video_frames",
    // strided frame extraction over REAL containers: sampleFrames
    // walks each fixture MP4's actual sample table (the mm_video_index
    // fixtures) and emits every 3rd sample's (index, absolute byte
    // offset) — the read plan a frame decoder executes: seek offsets
    // for exactly the samples wanted, nothing else touched. Same
    // closed-form arithmetic as mm_video_index with an i % 3 = 0 cut,
    // so the REAL-index branch of sampleFrames (not the synthetic
    // fallback mm_frame_sample certifies) is what's under the hash.
    (s, dir) => {
      import s.implicits._
      val vids = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(d => (d, mp4Fixture(d))).toDF("doc_id", "payload")
      graft.functions.MultimodalOps.sampleFrames(vids, "doc_id", "payload", stride = 3)
        .toDF()
        .select(col("id").as("doc_id"),
          col("frameIdx").cast("long").as("frame_idx"),
          col("offsetBytes").as("offset_bytes"))
    },
    // NB: offsets must prefix-sum over ALL prior samples, so the
    // stride cut lives in an outer query — a WHERE on the windowed
    // SELECT would filter BEFORE the window and sum only kept rows
    Some("""WITH p AS (SELECT doc_id,
           |    doc_id % 6 + 2 AS n FROM documents),
           |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p),
           |z AS (SELECT *, (doc_id + i * 7) % 96 + 8 AS sz FROM s),
           |o AS (SELECT doc_id, i,
           |  CAST(204 + 4 * n + COALESCE(SUM(sz) OVER (PARTITION BY doc_id ORDER BY i
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |    AS offset_bytes
           |  FROM z)
           |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, offset_bytes
           |FROM o WHERE i % 3 = 0""".stripMargin))

  /** MJPEG-in-MP4 fixture for the mm_video_decode gate: a structurally
    * valid container (single chunk this time — the 2-chunk walk is
    * already certified by mm_video_index) whose mdat carries n REAL
    * JPEG frames, each a 16x16 solid gray at luma (d*7 + i*13) % 256
    * encoded grayscale at quality 1.0 — the configuration the r17
    * JVM probe certified round-trips BIT-EXACT for all 256 levels
    * (single-band: no chroma subsampling; solid block: DC-only DCT;
    * quality 1.0: unit DC quant step), so the DuckDB oracle recomputes
    * decoded mean luma arithmetically without decoding anything.
    * stsz sizes are the actual JPEG byte lengths, so the sample byte
    * ranges the decoder slices are real.
    */
  private def mjpegFixture(d: Long): Array[Byte] = {
    val n = (d % 4 + 2).toInt
    val frames = (0 until n).map { i =>
      val v = ((d * 7 + i * 13) % 256).toInt
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) { img.getRaster.setSample(x, y, 0, v); x += 1 }
        y += 1
      }
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      val bos = new java.io.ByteArrayOutputStream()
      w.setOutput(new javax.imageio.stream.MemoryCacheImageOutputStream(bos))
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      w.dispose()
      bos.toByteArray
    }
    def u32s(vs: Long*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
      vs.foreach(v => bb.putInt(v.toInt))
      bb.array()
    }
    def box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
      val len = 8 + payload.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len).put(tpe.getBytes("ISO-8859-1"))
      payload.foreach(bb.put)
      bb.array()
    }
    // moov is built twice: once with a placeholder chunk offset to
    // measure its (offset-independent) length, then for real with the
    // true first-JPEG-byte position — no byte patching
    def moovWith(chunkOff: Long): Array[Byte] = {
      val stbl = box("stbl",
        box("stts", u32s(0, 1, n, 100)),
        box("stsz", u32s(Seq(0L, 0L, n.toLong) ++ frames.map(_.length.toLong): _*)),
        box("stsc", u32s(0, 1, 1, n, 1)),
        box("stco", u32s(0, 1, chunkOff)))
      val mdhd = box("mdhd", u32s(0, 0, 0, 600, n * 100, 0))
      box("moov", box("trak", box("mdia", mdhd, box("minf", stbl))))
    }
    val ftyp = box("ftyp", "isom".getBytes("ISO-8859-1"), u32s(0))
    val chunkOff = ftyp.length + moovWith(0L).length + 8 // + mdat header
    val mdat = box("mdat", frames: _*)
    ftyp ++ moovWith(chunkOff) ++ mdat
  }

  private val mmVideoDecode = Q(
    "mm_video_decode",
    // REAL video frame DECODE under the oracle gate — the honest codec
    // leg the r16 verdict asked for: each doc becomes an MJPEG-in-MP4
    // (mjpegFixture: real container index, real JPEG samples), and
    // MultimodalOps.decodeVideoFrames walks the ACTUAL sample table,
    // slices each 2nd sample's true byte range out of mdat, decodes
    // the JPEG through the same ImageIO seam the still-image ops use,
    // and emits dims + exact mean luma. The oracle recomputes the luma
    // arithmetically — sound because the fixture pins the one JPEG
    // configuration that round-trips bit-exact (single-band solid
    // blocks at quality 1.0; probe-certified for all 256 levels), so
    // any slip in range slicing, JPEG detection, or raster math lands
    // on a wrong level and hashes red. The "no pure-JVM codec" caveat
    // narrows to inter-frame codecs (H.264+) only.
    (s, dir) => {
      import s.implicits._
      val vids = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(d => (d, mjpegFixture(d))).toDF("doc_id", "payload")
      graft.functions.MultimodalOps.decodeVideoFrames(vids, "doc_id", "payload", stride = 2)
        .toDF()
        .select(col("id").as("doc_id"),
          col("frameIdx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("lumaMean").as("luma_mean"))
    },
    Some("""WITH p AS (SELECT doc_id, doc_id % 4 + 2 AS n FROM documents),
           |s AS (SELECT doc_id, unnest(range(0, n)) AS i FROM p)
           |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           |  CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
           |  CAST((doc_id * 7 + i * 13) % 256 AS DOUBLE) AS luma_mean
           |FROM s WHERE i % 2 = 0""".stripMargin))

  private val mmResizePlan = Q(
    "mm_resize_plan",
    // the metadata-only resize planning pass: decode-free Catalyst
    // arithmetic over the typed (width, height) struct — the cheap pass
    // a real pipeline runs BEFORE paying any pixel decode. Dimensions
    // come from the stub-decode arithmetic (mm_binary_meta's), the
    // resize is resizeMeta's least/greatest scale; int cast truncation
    // is mirrored by the oracle's floor (dims are positive).
    (s, dir) => {
      val meta = T(s, dir, "documents").select(
        col("doc_id"),
        (pmod(length(col("text").cast("binary")).cast("long") * 7, lit(640)) + 1)
          .cast("int").as("width"),
        (pmod(length(col("text").cast("binary")).cast("long") * 13, lit(480)) + 1)
          .cast("int").as("height"))
      graft.functions.MultimodalOps.resizeMeta(meta, maxSide = 128)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("out_width").cast("long").as("out_width"),
          col("out_height").cast("long").as("out_height"))
    },
    Some("""WITH m AS (SELECT doc_id,
           |  (octet_length(CAST(text AS BLOB)) * 7) % 640 + 1 AS width,
           |  (octet_length(CAST(text AS BLOB)) * 13) % 480 + 1 AS height
           |  FROM documents),
           |s AS (SELECT *, least(CAST(1 AS DOUBLE),
           |        CAST(128 AS DOUBLE) / CAST(greatest(width, height) AS DOUBLE)) AS scale FROM m)
           |SELECT doc_id, CAST(width AS BIGINT) AS width,
           |  CAST(height AS BIGINT) AS height,
           |  CAST(floor(width * scale) AS BIGINT) AS out_width,
           |  CAST(floor(height * scale) AS BIGINT) AS out_height
           |FROM s""".stripMargin))

  private val mmPixelStats = Q(
    "mm_pixel_stats",
    // REAL pixel statistics under the oracle gate — the last mm stub
    // closed: each doc_id is rendered as a REAL PNG (MultimodalOps
    // .syntheticPng: deterministic per-channel pixel formulas, encoded
    // by the JDK's ImageIO inside the task — narrow, no shuffle), then
    // MultimodalOps.decodePixels reads the raster BACK through
    // ImageIO.read and aggregates integer Rec.601 milli-luma
    // (299R+587G+114B) into exact sum/min/max plus one closing IEEE
    // division for the mean. PNG is lossless, so the decode must
    // recover the formula pixels exactly — and the oracle recomputes
    // the statistics ARITHMETICALLY from the closed form over an
    // (x, y) grid, sharing zero code with the encoder/decoder: a
    // raster-order, channel-order, or accumulation bug cannot hash
    // green. Scale shape: encode+decode ride one mapPartitions chain
    // per input split; only (id, 4 ints, 3 longs, 1 double) rows ever
    // move.
    (s, dir) => {
      import s.implicits._
      val payloads = spread(T(s, dir, "documents")).select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map(id => (id, graft.functions.MultimodalOps.syntheticPng(id))))
        .toDF("doc_id", "payload")
      graft.functions.MultimodalOps.decodePixels(payloads, "doc_id", "payload").toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("nChannels").as("n_channels"),
          col("sumLumaMilli").as("sum_luma_milli"),
          col("minLumaMilli").as("min_luma_milli"),
          col("maxLumaMilli").as("max_luma_milli"),
          col("meanLuma").as("mean_luma"))
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h
           |  FROM documents),
           |px AS (SELECT doc_id, w, h,
           |    299 * ((31 * doc_id + 7 * x + 13 * y) % 256)
           |  + 587 * ((17 * doc_id + 5 * x + 11 * y) % 256)
           |  + 114 * ((23 * doc_id + 3 * x + 19 * y) % 256) AS l
           |  FROM d, range(0, 32) tx(x), range(0, 24) ty(y)
           |  WHERE x < w AND y < h)
           |SELECT doc_id,
           |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           |  CAST(3 AS INTEGER) AS n_channels,
           |  CAST(sum(l) AS BIGINT) AS sum_luma_milli,
           |  CAST(min(l) AS BIGINT) AS min_luma_milli,
           |  CAST(max(l) AS BIGINT) AS max_luma_milli,
           |  CAST(sum(l) AS DOUBLE) / (1000 * w * h) AS mean_luma
           |FROM px GROUP BY doc_id, w, h""".stripMargin))

  private val mmResizeExec = Q(
    "mm_resize_exec",
    // EXECUTED nearest-neighbor resize under the oracle gate — the
    // step mm_resize_plan only SIZED, actually run: render each doc_id
    // as a real PNG (the mm_pixel_stats fixture), decode the raster
    // back through ImageIO, sample the 4x4 nearest-neighbor grid, and
    // emit each cell's integer milli-luma (the thumbnail fingerprint a
    // perceptual near-dedup consumes). The oracle recomputes every
    // sampled cell ARITHMETICALLY from the closed-form pixel formula
    // at (gx*w div 4, gy*h div 4) — zero code shared with the
    // encode/decode/sample chain, so a raster-order, rounding, or
    // coordinate-mapping bug cannot hash green. Narrow flatMap per
    // split; only (id, gx, gy, luma) rows move, never rasters.
    (s, dir) => {
      import s.implicits._
      val payloads = spread(T(s, dir, "documents")).select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map(id => (id, graft.functions.MultimodalOps.syntheticPng(id))))
        .toDF("doc_id", "payload")
      graft.functions.MultimodalOps
        .resizeNearestLuma(payloads, "doc_id", "payload", gridW = 4, gridH = 4)
        .toDF()
        .select(col("id").as("doc_id"), col("gx"), col("gy"),
          col("lumaMilli").as("luma_milli"))
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h
           |  FROM documents),
           |cells AS (SELECT doc_id, (gx * w) // 4 AS x, (gy * h) // 4 AS y, gx, gy
           |  FROM d, range(0, 4) tgx(gx), range(0, 4) tgy(gy))
           |SELECT doc_id, CAST(gx AS INTEGER) AS gx, CAST(gy AS INTEGER) AS gy,
           |  CAST(299 * ((31 * doc_id + 7 * x + 13 * y) % 256)
           |     + 587 * ((17 * doc_id + 5 * x + 11 * y) % 256)
           |     + 114 * ((23 * doc_id + 3 * x + 19 * y) % 256) AS BIGINT) AS luma_milli
           |FROM cells""".stripMargin))

  private val mmAudioEnergy = Q(
    "mm_audio_energy",
    // REAL audio container parsing under the oracle gate — the audio
    // leg of the multimodal story, no codec library needed: each
    // doc_id is rendered as a REAL PCM16 mono WAV (canonical RIFF
    // header + closed-form samples, encoded in-task), then
    // MultimodalOps.decodeAudio walks the chunk list back (fmt
    // validation: PCM/mono/16-bit or throw) and windows the samples
    // into 1600-sample frames with EXACT integer energy (Σ s², long)
    // and peak |s| — the loudness/clipping curation signals, no float
    // accumulation anywhere, so the hash is arithmetic-exact. The
    // oracle re-aggregates the closed form over a sample grid, sharing
    // zero code with encoder or parser. Scale: encode+parse ride one
    // narrow mapPartitions per split; only per-frame integer rows move.
    (s, dir) => {
      import s.implicits._
      val payloads = spread(T(s, dir, "documents")).select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map(id => (id, graft.functions.MultimodalOps.syntheticWav(id))))
        .toDF("doc_id", "payload")
      graft.functions.MultimodalOps.decodeAudio(payloads, "doc_id", "payload", 1600).toDF()
        .select(col("id").as("doc_id"),
          col("frameIdx").cast("long").as("frame_idx"),
          col("nSamples").cast("long").as("n_samples"),
          col("sumSq").as("sum_sq"),
          col("peakAbs").cast("long").as("peak_abs"))
    },
    Some("""WITH d AS (SELECT doc_id,
           |    (doc_id % 5 + 1) * 1600 + (doc_id % 7) * 3 AS n FROM documents),
           |s AS (SELECT doc_id, i, i // 1600 AS f,
           |    ((2654435761 * doc_id + 40503 * i) % 2003) - 1001 AS v
           |  FROM d, range(0, 8020) r(i) WHERE i < n)
           |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           |  CAST(count(*) AS BIGINT) AS n_samples,
           |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
           |  CAST(max(abs(v)) AS BIGINT) AS peak_abs
           |FROM s GROUP BY doc_id, f""".stripMargin))

  private val mmAudioDecimate = Q(
    "mm_audio_decimate",
    // The audio WRITE path (MultimodalOps.decimateAudio): decimate
    // each fixture clip 4x and REBUILD a valid RIFF/WAVE container
    // (new header, rate/4, word-aligned data), then prove the rewrite
    // by round-tripping the rebuilt bytes through the real parser
    // (decodeAudio) — a malformed header, a dropped alignment pad, or
    // an off-grid sample pick breaks the chunk walk or the exact
    // integer energies and hashes red. The oracle re-aggregates the
    // closed-form fixture at indices ≡ 0 (mod 4), sharing zero code
    // with encoder, resampler, or parser. Anti-aliasing documented
    // out-of-scope at the def site. Scale: two narrow mapPartitions
    // back-to-back, no shuffle anywhere.
    (s, dir) => {
      import s.implicits._
      val payloads = spread(T(s, dir, "documents")).select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map(id => (id, graft.functions.MultimodalOps.syntheticWav(id))))
        .toDF("doc_id", "payload")
      val dec = graft.functions.MultimodalOps
        .decimateAudio(payloads, "doc_id", "payload", factor = 4)
      graft.functions.MultimodalOps.decodeAudio(dec, "doc_id", "payload", 1600).toDF()
        .select(col("id").as("doc_id"),
          col("frameIdx").cast("long").as("frame_idx"),
          col("nSamples").cast("long").as("n_samples"),
          col("sumSq").as("sum_sq"),
          col("peakAbs").cast("long").as("peak_abs"))
    },
    Some("""WITH d AS (SELECT doc_id,
           |    (doc_id % 5 + 1) * 1600 + (doc_id % 7) * 3 AS n FROM documents),
           |s AS (SELECT doc_id, (i // 4) // 1600 AS f,
           |    ((2654435761 * doc_id + 40503 * i) % 2003) - 1001 AS v
           |  FROM d, range(0, 8020) r(i) WHERE i < n AND i % 4 = 0)
           |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           |  CAST(count(*) AS BIGINT) AS n_samples,
           |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
           |  CAST(max(abs(v)) AS BIGINT) AS peak_abs
           |FROM s GROUP BY doc_id, f""".stripMargin))

  private val qTransitions = Q(
    "q_transitions",
    // First-order Markov transition counts over each user's time-ordered
    // event stream — the behavioural-analytics primitive under funnels,
    // next-action models, and the graph_pagerank edge table. Shape: one
    // per-user window (lag) + one (prev, curr) hash-agg; the shuffle
    // carries O(events) once for the window, then O(|types|^2) rows.
    // Ties inside one user-microsecond are broken by event_id so the
    // lag sequence is deterministic under any partitioning.
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .select(col("user_id"),
          lag(col("event_type"), 1).over(w).as("prev"),
          col("event_type").as("curr"))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("curr"))
        .agg(count(lit(1)).as("n_trans"))
    },
    Some("""WITH seq AS (SELECT user_id,
           |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
           |    event_type AS curr
           |  FROM events)
           |SELECT prev, curr, CAST(count(*) AS BIGINT) AS n_trans
           |FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin))

  private val mlQuantileBin = Q(
    "ml_quantile_bin",
    // Quantile discretization (the QuantileDiscretizer/KBinsDiscretizer
    // feature transform) via exact per-key ntile: equal-count bins, ties
    // broken by event_id so the bin assignment is reproducible across
    // engines and reruns. One window shuffle keyed by event_type; at
    // 100 TB a skewed key would route through the two-phase rank kernel
    // (ops/Quantiles) instead — this gate pins the exact-ntile semantics.
    (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      T(s, dir, "events").select(
        col("event_id"), col("event_type"), col("value"),
        ntile(4).over(w).cast("long").as("bin"))
    },
    Some("""SELECT event_id, event_type, value,
           |  CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS bin
           |FROM events""".stripMargin))

  private val mlMinmaxScale = Q(
    "ml_minmax_scale",
    // Min-max feature scaling to [0,1] per key — fit (one tiny hash-agg)
    // + transform (broadcast join back, narrow arithmetic). min/max of
    // doubles are EXACT order-free aggregates and the closing subtract/
    // divide is one IEEE op chain, so no rounding is needed for the
    // cross-engine hash. Degenerate keys (max == min) pin to 0.5 in both
    // engines instead of dividing by zero (ANSI Spark would throw).
    (s, dir) => {
      val e = T(s, dir, "events")
      val mm = e.groupBy(col("event_type")).agg(
        min(col("value")).as("v_min"), max(col("value")).as("v_max"))
      e.join(broadcast(mm), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          when(col("v_max") === col("v_min"), lit(0.5))
            .otherwise((col("value") - col("v_min")) / (col("v_max") - col("v_min")))
            .as("scaled"))
    },
    Some("""WITH mm AS (SELECT event_type, min(value) AS v_min, max(value) AS v_max
           |  FROM events GROUP BY 1)
           |SELECT event_id, event_type,
           |  CASE WHEN v_max = v_min THEN 0.5
           |       ELSE (value - v_min) / (v_max - v_min) END AS scaled
           |FROM events JOIN mm USING (event_type)""".stripMargin))

  private val dqOutliers = Q(
    "dq_outliers",
    // Z-score anomaly flagging per key: |value - mean| > 2 sigma. The
    // moments ride q_stats_var's exact-decimal-sum pattern (order-free),
    // the z closes with an identical IEEE op chain — sqrt is correctly
    // rounded by IEEE 754 in both engines, unlike ln/exp, so the filter
    // boundary is bit-stable without rounding. Fit is a tiny per-key agg
    // broadcast back over the stream: one scan + one narrow pass.
    (s, dir) => {
      val e = T(s, dir, "events")
      val v = col("value").cast("decimal(18,2)")
      val stats = e.groupBy(col("event_type")).agg(
        (sum(v).cast("double") / count(lit(1))).as("mean"),
        ((sum((v * v).cast("decimal(28,4)")).cast("double") * count(lit(1)) -
          sum(v).cast("double") * sum(v).cast("double")) /
          (count(lit(1)) * (count(lit(1)) - 1)).cast("double")).as("variance"))
      // variance > 0 guard: a zero-variance (or single-row) group makes
      // z 0/0 — NULL under Spark's divide, NaN under DuckDB's IEEE
      // division (and DuckDB sorts NaN above every number, so abs(z)>2
      // would KEEP the row there while Spark drops it). Filter the
      // degenerate groups explicitly on both sides.
      e.join(broadcast(stats), Seq("event_type"))
        .filter(col("variance") > 0)
        .select(col("event_id"), col("event_type"), col("value"),
          ((v.cast("double") - col("mean")) / sqrt(col("variance"))).as("z"))
        .filter(abs(col("z")) > 2)
    },
    Some("""WITH st AS (SELECT event_type,
           |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean,
           |    (CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
           |              AS DECIMAL(28,4))) AS DOUBLE) * count(*) -
           |     CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) *
           |     CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)) /
           |    CAST(count(*) * (count(*) - 1) AS DOUBLE) AS variance
           |  FROM events GROUP BY 1),
           |z AS (SELECT event_id, event_type, value,
           |    (CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) - mean) / sqrt(variance) AS z
           |  FROM events JOIN st USING (event_type) WHERE variance > 0)
           |SELECT event_id, event_type, value, z FROM z WHERE abs(z) > 2""".stripMargin))

  private val qIntervalJoin = Q(
    "q_interval_join",
    // Keyed interval join through the binned kernel (ops/IntervalJoin):
    // every error event opens a 10-minute window on its user; count and
    // sum the user's non-error activity inside it. The kernel turns the
    // range predicate into an equi-join on (user, time-bin) with the
    // exact range as residual — no per-key all-pairs blow-up, and a hot
    // user spreads across every bin it touches instead of one shuffle
    // partition. Bin width == window span, so fan-out is ≤ 2 rows per
    // interval. The oracle states the same join as a plain inequality.
    (s, dir) => {
      val e = T(s, dir, "events")
      val err = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 10 MINUTE")).as("w_end"))
      val probe = e.filter(col("event_type") =!= "error")
        .select(col("user_id"), col("ts"), col("value"))
      graft.ops.IntervalJoin
        .binned(err, probe, "user_id", "w_start", "w_end", "ts", 600000000L)
        .groupBy(col("err_id"))
        .agg(count(lit(1)).as("n_follow"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    },
    Some("""WITH err AS (SELECT event_id AS err_id, user_id, ts AS w_start,
           |    ts + INTERVAL 10 MINUTE AS w_end FROM events WHERE event_type = 'error'),
           |p AS (SELECT user_id, ts, value FROM events WHERE event_type <> 'error')
           |SELECT err_id, CAST(count(*) AS BIGINT) AS n_follow,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM err JOIN p ON p.user_id = err.user_id
           |  AND p.ts >= err.w_start AND p.ts < err.w_end
           |GROUP BY 1""".stripMargin))

  private val graphPagerank = Q(
    "graph_pagerank",
    // Weighted PageRank (3 iterations, d=0.85) over the behavioural
    // transition graph q_transitions builds — functions/Graph's
    // join-per-iteration formulation: the O(|E|) edge table shuffles on
    // src once, only the O(|V|) rank table moves per round. Float
    // aggregate ⇒ round(6) before the gate (accumulation order); every
    // fractional literal in the oracle is CAST to DOUBLE so DuckDB's
    // decimal literals don't diverge from Scala's double literals.
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = T(s, dir, "events")
        .select(col("user_id"),
          lag(col("event_type"), 1).over(w).as("src"),
          col("event_type").as("dst"))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      graft.functions.Graph.pageRank(edges, "src", "dst", "cnt", iterations = 3)
        .select(col("node"), round(col("rank"), 6).as("rank"))
    },
    Some("""WITH seq AS (SELECT user_id,
           |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
           |    event_type AS dst FROM events),
           |edges AS (SELECT src, dst, count(*) AS cnt FROM seq WHERE src IS NOT NULL GROUP BY 1, 2),
           |nodes AS (SELECT DISTINCT node FROM
           |  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
           |outw AS (SELECT src, sum(cnt) AS out_w FROM edges GROUP BY 1),
           |e AS (SELECT src, dst, CAST(cnt AS DOUBLE) / CAST(out_w AS DOUBLE) AS p
           |  FROM edges JOIN outw USING (src)),
           |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn),
           |r1 AS (SELECT nodes.node,
           |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
           |      + CAST(0.85 AS DOUBLE) * coalesce(c.inr, CAST(0 AS DOUBLE)) AS rank
           |  FROM nodes CROSS JOIN nn LEFT JOIN
           |    (SELECT e.dst, sum(e.p * r0.rank) AS inr FROM e JOIN r0 ON e.src = r0.node GROUP BY 1) c
           |    ON nodes.node = c.dst),
           |r2 AS (SELECT nodes.node,
           |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
           |      + CAST(0.85 AS DOUBLE) * coalesce(c.inr, CAST(0 AS DOUBLE)) AS rank
           |  FROM nodes CROSS JOIN nn LEFT JOIN
           |    (SELECT e.dst, sum(e.p * r1.rank) AS inr FROM e JOIN r1 ON e.src = r1.node GROUP BY 1) c
           |    ON nodes.node = c.dst),
           |r3 AS (SELECT nodes.node,
           |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
           |      + CAST(0.85 AS DOUBLE) * coalesce(c.inr, CAST(0 AS DOUBLE)) AS rank
           |  FROM nodes CROSS JOIN nn LEFT JOIN
           |    (SELECT e.dst, sum(e.p * r2.rank) AS inr FROM e JOIN r2 ON e.src = r2.node GROUP BY 1) c
           |    ON nodes.node = c.dst)
           |SELECT node, round(rank, 6) AS rank FROM r3""".stripMargin))

  private val txtNovelty = Q(
    "txt_novelty",
    // Per-document novelty: the fraction of a doc's DISTINCT bigrams
    // that occur in no other document — the inverse of contamination
    // scoring, used to up-weight unique material in a training mix.
    // Integer counts + one closing division; the bigram df table rides
    // the same explode → hash-agg shape as txt_repetition, so every
    // shuffle carries O(distinct bigrams), never the corpus text.
    (s, dir) => {
      val d = spread(T(s, dir, "documents"))
      val bg = d.select(col("doc_id"),
        explode(array_distinct(TextOps.wordShingles(toks, 2))).as("bg"))
      val df_ = bg.groupBy(col("bg")).agg(count(lit(1)).as("df"))
      bg.join(df_, Seq("bg"))
        .groupBy(col("doc_id"))
        .agg((sum(when(col("df") === 1, lit(1L)).otherwise(lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("novelty"))
    },
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |bg AS (SELECT doc_id, unnest(list_distinct(
           |    list_transform(range(1, len(t)), i -> concat(t[i], ' ', t[i+1])))) AS bg
           |  FROM tk),
           |df AS (SELECT bg, count(*) AS df FROM bg GROUP BY 1)
           |SELECT doc_id,
           |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS novelty
           |FROM bg JOIN df USING (bg) GROUP BY 1""".stripMargin))

  /** BM25 scores (k1=1.2 b=0.75, log-free idf) for the fixed 3-term
    * query over `documents` — the shared lexical kernel of `txt_bm25`
    * and the hybrid-fusion gate, kept in ONE place so the two stay
    * bit-identical. Returns (doc_id, score) for every matching doc.
    */
  private def bm25ThreeTerm(d: DataFrame): DataFrame = {
    val dl = d.select(col("doc_id"), size(toks).cast("long").as("dl"))
    val corpus = d.agg(count(lit(1)).as("n"),
      (sum(size(toks).cast("long")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = d.select(col("doc_id"), explode(toks).as("term"))
      .filter(col("term").isin("hash", "join", "merge"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val k1 = lit(1.2); val b = lit(0.75)
    val s_ = tf.join(df_, Seq("term")).join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("term"),
        (((col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))) *
          ((col("tf").cast("double") * (k1 + lit(1.0))) /
            (col("tf").cast("double") +
              k1 * (lit(1.0) - b + b * (col("dl").cast("double") / col("avgdl"))))))
          .as("s"))
    s_.groupBy(col("doc_id")).agg(
        max(when(col("term") === "hash", col("s"))).as("s_hash"),
        max(when(col("term") === "join", col("s"))).as("s_join"),
        max(when(col("term") === "merge", col("s"))).as("s_merge"))
      .select(col("doc_id"),
        (coalesce(col("s_hash"), lit(0.0)) + coalesce(col("s_join"), lit(0.0)) +
          coalesce(col("s_merge"), lit(0.0))).as("score"))
  }

  private val txtBm25 = Q(
    "txt_bm25",
    // BM25 retrieval (Robertson-Sparck Jones, k1=1.2 b=0.75) for a fixed
    // 3-term query, log-free idf variant (N - df + 0.5)/(df + 0.5) so
    // every factor is one IEEE op chain over exact-integer-valued
    // doubles — bit-stable cross-engine without rounding (ln is not).
    // The per-doc Σ over query terms is pivoted to fixed columns and
    // added in ONE textual order: a float SUM aggregate would be
    // accumulation-order-dependent. Top-10 cut ties broken by doc_id.
    // Shape: tf/df hash-aggs carry O(matching terms); the corpus text
    // never shuffles; doc-length and corpus stats broadcast back.
    (s, dir) =>
      bm25ThreeTerm(T(s, dir, "documents"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10),
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |dl AS (SELECT doc_id, len(t) AS dl FROM tk),
           |corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |    CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl FROM tk),
           |tok AS (SELECT doc_id, unnest(t) AS term FROM tk),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           |  WHERE term IN ('hash', 'join', 'merge') GROUP BY 1, 2),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |s AS (SELECT tf.doc_id, tf.term,
           |    ((corpus.n - CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
           |     (CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE))) *
           |    ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
           |     (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
           |      (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
           |       (CAST(dl.dl AS DOUBLE) / corpus.avgdl)))) AS s
           |  FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN corpus),
           |agg AS (SELECT doc_id,
           |    max(CASE WHEN term = 'hash' THEN s END) AS s_hash,
           |    max(CASE WHEN term = 'join' THEN s END) AS s_join,
           |    max(CASE WHEN term = 'merge' THEN s END) AS s_merge
           |  FROM s GROUP BY 1)
           |SELECT doc_id,
           |  coalesce(s_hash, CAST(0 AS DOUBLE)) + coalesce(s_join, CAST(0 AS DOUBLE))
           |    + coalesce(s_merge, CAST(0 AS DOUBLE)) AS score
           |FROM agg ORDER BY score DESC, doc_id LIMIT 10""".stripMargin))

  private val mlWinsorize = Q(
    "ml_winsorize",
    // Percentile capping (winsorization) per key: clamp to [p05, p95]
    // before training so heavy-tailed features don't dominate. The cut
    // points ride the DISTRIBUTED two-phase rank kernel (ops/Quantiles
    // — q_median's scale story: per-task state bounded by a range
    // slice, no whole-group buffering), then broadcast back over the
    // stream as a narrow clamp. round(4) absorbs last-ulp interpolation
    // differences between engines, same doctrine as q_median.
    (s, dir) => {
      val e = T(s, dir, "events")
      val q = graft.ops.Quantiles.quantileCont(
        e.select("event_type", "value"), "value", Seq("event_type"),
        Seq(("p05", 0.05), ("p95", 0.95)))
      e.join(broadcast(q), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          round(least(greatest(col("value"), col("p05")), col("p95")), 4)
            .as("winsorized"))
    },
    Some("""WITH q AS (SELECT event_type,
           |    quantile_cont(value, 0.05) AS p05,
           |    quantile_cont(value, 0.95) AS p95
           |  FROM events GROUP BY 1)
           |SELECT event_id, event_type,
           |  round(least(greatest(value, p05), p95), 4) AS winsorized
           |FROM events JOIN q USING (event_type)""".stripMargin))

  private val qCorrActivity = Q(
    "q_corr_activity",
    // Pearson correlation between per-user click and purchase counts —
    // the cross-feature screening pass of a feature-selection step.
    // Fully deterministic without rounding: every moment (Sx, Sy, Sxy,
    // Sxx, Syy) is an exact integer sum, and the closing formula is
    // two correctly-rounded sqrts, one multiply, one divide. Shape:
    // one per-user hash-agg (conditional counts) + one 1-row global
    // agg — both map-side-combinable.
    (s, dir) => {
      val per = T(s, dir, "events").groupBy(col("user_id")).agg(
        sum(when(col("event_type") === "click", lit(1L)).otherwise(lit(0L))).as("x"),
        sum(when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))).as("y"))
      per.agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n"),
          // degenerate guard: zero variance on either side (one user,
          // or a count constant across users) makes the denominator 0
          // — NULL under Spark's divide vs NaN/Inf under DuckDB's IEEE
          // division. Emit an explicit NULL in BOTH engines instead.
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
               col("n") * col("syy") - col("sy") * col("sy") > 0,
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
                sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("corr_click_purchase"))
    },
    Some("""WITH per AS (SELECT user_id,
           |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
           |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
           |  FROM events GROUP BY 1),
           |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x * y) AS BIGINT) AS sxy,
           |    CAST(sum(x * x) AS BIGINT) AS sxx,
           |    CAST(sum(y * y) AS BIGINT) AS syy
           |  FROM per)
           |SELECT n, CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
           |  THEN CAST(n * sxy - sx * sy AS DOUBLE) /
           |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
           |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS corr_click_purchase
           |FROM s""".stripMargin))

  private val qJoinSalted = Q(
    "q_join_salted",
    // The structural skew-join fix under the oracle gate: events join a
    // per-type dim on a 5-value key — the exact shape where an unsalted
    // shuffle join serializes each hot key on ONE reducer. Scale
    // .saltedJoin spreads each key over 8 salts (big side salted by
    // row-id hash, dim replicated 8×, SHUFFLE_HASH-hinted so the demo
    // doesn't silently broadcast) and must equal the plain join
    // bit-for-bit — the same salted/unsalted hash-equivalence doctrine
    // as fs_dedup_salted.
    (s, dir) => {
      val e = T(s, dir, "events")
      val dim = e.groupBy(col("event_type")).agg(count(lit(1)).as("type_count"))
      graft.ops.Scale.saltedJoin(e, dim, Seq("event_type"), salts = 8, saltOn = "event_id")
        .select(col("event_id"), col("event_type"), col("type_count"))
    },
    Some("""WITH dim AS (SELECT event_type, CAST(count(*) AS BIGINT) AS type_count
           |  FROM events GROUP BY 1)
           |SELECT event_id, event_type, type_count
           |FROM events JOIN dim USING (event_type)""".stripMargin))

  private val mlPercentileRank = Q(
    "ml_percentile_rank",
    // Percentile-rank feature encoding: (rank-1)/(n-1) per key — rank
    // and n are integer-exact (ties share a rank in both engines), the
    // single closing division is deterministic at any parallelism.
    (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      T(s, dir, "events").select(
        col("event_id"), col("event_type"), col("value"),
        percent_rank().over(w).as("pct_rank"))
    },
    Some("""SELECT event_id, event_type, value,
           |  percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pct_rank
           |FROM events""".stripMargin))

  private val txtBpePairs = Q(
    "txt_bpe_pairs",
    // The BPE-trainer inner loop's corpus pass: adjacent character-pair
    // counts within whitespace tokens, top-10 merge candidates. Explode
    // → hash-agg (map-side combinable) → TakeOrdered; the shuffle
    // carries O(distinct pairs). The `length >= 2` guard matters in
    // Spark: sequence(1, 0) yields a DESCENDING [1, 0], not empty.
    (s, dir) => {
      T(s, dir, "documents")
        .select(explode(toks).as("t"))
        .filter(length(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, char_length(t) - 1), i -> substring(t, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(10)
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
           |pr AS (SELECT unnest(list_transform(range(1, length(t)), i -> t[i:i+1])) AS pair
           |  FROM tok WHERE length(t) >= 2)
           |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
           |FROM pr GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 10""".stripMargin))

  private val qSetopIntersect = Q(
    "q_setop_intersect",
    // §2.7 completion: INTERSECT plans as a left-semi hash join over
    // distinct keys — customers with BOTH an urgent and a low-priority
    // order.
    (s, dir) => {
      val o = T(s, dir, "orders")
      o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        .intersect(o.filter(col("o_orderpriority") === "5-LOW").select("o_custkey"))
    },
    Some("""SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           |INTERSECT
           |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'""".stripMargin))

  private val qUnpivot = Q(
    "q_unpivot",
    // melt/unpivot: wide measure columns to (measure, val) rows — the
    // narrow O(1)-per-row Expand the warehouse melt step needs (no
    // shuffle at all; the oracle states it as UNION ALL, which is what
    // the Expand operator computes in one pass).
    (s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
    },
    Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           |       'l_quantity' AS measure, l_quantity AS val
           |  FROM lineitem WHERE l_orderkey <= 100
           |UNION ALL
           |SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'l_extendedprice', l_extendedprice
           |  FROM lineitem WHERE l_orderkey <= 100
           |UNION ALL
           |SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'l_discount', l_discount
           |  FROM lineitem WHERE l_orderkey <= 100""".stripMargin))

  private val txtBpeTrain = Q(
    "txt_bpe_train",
    // Distributed BPE merge training (functions/Bpe), 3 merge rounds
    // under the oracle gate: ONE corpus pass reduces to the weighted
    // word-type table, then every round is a tiny vocab-only job —
    // pair explode + hash-agg + a 1-row argmax collect + a literal
    // replace rewrite. The marker-prefixed symbol-string representation
    // makes greedy leftmost merge order expressible as plain
    // left-to-right non-overlapping replace() in BOTH engines, so the
    // oracle replays the identical 3 iterations in chained CTEs.
    (s, dir) => graft.functions.Bpe.trainFromText(T(s, dir, "documents"), "text", 3),
    Some {
      // adjacent-pair counts over a vocab CTE's marker-prefixed strings
      def pc(v: String) =
        s"""(SELECT p1, p2, sum(cnt) AS pc FROM (
           |    SELECT unnest(list_transform(range(1, len(syms)),
           |             i -> {'p1': syms[i], 'p2': syms[i+1]}), recursive := true), cnt
           |    FROM (SELECT list_transform(string_split(w, ' '), x -> x[2:]) AS syms, cnt
           |          FROM $v) sy
           |    WHERE len(syms) >= 2) px
           |  GROUP BY 1, 2)""".stripMargin
      def merge(prev: String, top: String) =
        s"""(SELECT replace(w, concat(chr(1), p1, ' ', chr(1), p2),
           |                concat(chr(1), p1, p2)) AS w, cnt
           |  FROM $prev CROSS JOIN $top)""".stripMargin
      s"""WITH wc AS (SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
         |  WHERE length(word) > 0 GROUP BY 1),
         |v0 AS (SELECT concat(chr(1), array_to_string(string_split(word, ''),
         |         concat(' ', chr(1)))) AS w, cnt FROM wc),
         |t0 AS (SELECT p1, p2, pc FROM ${pc("v0")} ORDER BY pc DESC, p1, p2 LIMIT 1),
         |v1 AS ${merge("v0", "t0")},
         |t1 AS (SELECT p1, p2, pc FROM ${pc("v1")} ORDER BY pc DESC, p1, p2 LIMIT 1),
         |v2 AS ${merge("v1", "t1")},
         |t2 AS (SELECT p1, p2, pc FROM ${pc("v2")} ORDER BY pc DESC, p1, p2 LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS rank, p1, p2, CAST(pc AS BIGINT) AS pc FROM t0
         |UNION ALL SELECT CAST(2 AS BIGINT), p1, p2, CAST(pc AS BIGINT) FROM t1
         |UNION ALL SELECT CAST(3 AS BIGINT), p1, p2, CAST(pc AS BIGINT) FROM t2""".stripMargin
    })

  private val txtBpeEncode = Q(
    "txt_bpe_encode",
    // The trained tokenizer APPLIED: per-doc BPE token counts after the
    // 3 trained merges — the compression-ratio signal a pipeline uses
    // for shard budgeting and tokenizer QA. Train = txt_bpe_train's
    // vocab-only rounds; encode = ONE narrow projection (k nested
    // literal replaces, merge list constant-folded into the plan). The
    // U+0002 word separator keeps merges word-local in the whole-doc
    // string; the oracle replays train AND encode in the same CTEs.
    (s, dir) => {
      val d = spread(T(s, dir, "documents"))
      val merges = graft.functions.Bpe.trainMerges(
        graft.functions.Bpe.wordCounts(d, "text"), 3)
      d.select(col("doc_id"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_chars"),
        graft.functions.Bpe.encodeTokenCount(col("text"), merges)
          .cast("long").as("n_tokens"))
    },
    Some {
      def pc(v: String) =
        s"""(SELECT p1, p2, sum(cnt) AS pc FROM (
           |    SELECT unnest(list_transform(range(1, len(syms)),
           |             i -> {'p1': syms[i], 'p2': syms[i+1]}), recursive := true), cnt
           |    FROM (SELECT list_transform(string_split(w, ' '), x -> x[2:]) AS syms, cnt
           |          FROM $v) sy
           |    WHERE len(syms) >= 2) px
           |  GROUP BY 1, 2)""".stripMargin
      def merge(prev: String, top: String) =
        s"""(SELECT replace(w, concat(chr(1), p1, ' ', chr(1), p2),
           |                concat(chr(1), p1, p2)) AS w, cnt
           |  FROM $prev CROSS JOIN $top)""".stripMargin
      def enc(prev: String, top: String) =
        s"""(SELECT doc_id, text, replace(w, concat(chr(1), p1, ' ', chr(1), p2),
           |                concat(chr(1), p1, p2)) AS w
           |  FROM $prev CROSS JOIN $top)""".stripMargin
      s"""WITH wc AS (SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
         |  WHERE length(word) > 0 GROUP BY 1),
         |v0 AS (SELECT concat(chr(1), array_to_string(string_split(word, ''),
         |         concat(' ', chr(1)))) AS w, cnt FROM wc),
         |t0 AS (SELECT p1, p2, pc FROM ${pc("v0")} ORDER BY pc DESC, p1, p2 LIMIT 1),
         |v1 AS ${merge("v0", "t0")},
         |t1 AS (SELECT p1, p2, pc FROM ${pc("v1")} ORDER BY pc DESC, p1, p2 LIMIT 1),
         |v2 AS ${merge("v1", "t1")},
         |t2 AS (SELECT p1, p2, pc FROM ${pc("v2")} ORDER BY pc DESC, p1, p2 LIMIT 1),
         |e0 AS (SELECT doc_id, text, array_to_string(list_transform(
         |         list_filter(string_split(text, ' '), x -> length(x) > 0),
         |         x -> concat(chr(1), array_to_string(string_split(x, ''),
         |                concat(' ', chr(1))))),
         |         concat(' ', chr(2), ' ')) AS w
         |  FROM documents),
         |e1 AS ${enc("e0", "t0")},
         |e2 AS ${enc("e1", "t1")},
         |e3 AS ${enc("e2", "t2")}
         |SELECT doc_id,
         |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
         |  CAST(CASE WHEN len(list_filter(string_split(text, ' '), x -> length(x) > 0)) = 0
         |       THEN 0
         |       ELSE len(list_filter(string_split(w, ' '), s -> s <> chr(2))) END AS BIGINT)
         |    AS n_tokens
         |FROM e3""".stripMargin
    })

  private val txtBpeTrainBatched = Q(
    "txt_bpe_train_batched",
    // The BATCHED trainer (Bpe.trainMergesBatched): 6 merges land in 2
    // driver rounds of 3 instead of 6 sequential argmax collects — the
    // shape that makes a 32k-merge production vocabulary ~32k/batch
    // Spark jobs, not 32k. Within a round the greedy selection walks
    // the top-scanCap pair ordering and takes only mutually
    // NON-INTERFERING pairs ({l, r, l+r} symbol sets disjoint), under
    // which merges commute and each snapshot count is exactly what
    // sequential training would record for that pair. The oracle
    // replays the identical selection: per round, argmax then
    // argmax-over-non-interfering twice against the SAME candidate
    // window, then one 3-replace vocab rewrite between rounds.
    (s, dir) => {
      import s.implicits._
      graft.functions.Bpe.trainMergesBatched(
        graft.functions.Bpe.wordCounts(T(s, dir, "documents"), "text"), 6, 3)
        .merges.zipWithIndex
        .map { case (m, i) => (i + 1L, m.left, m.right, m.count) }
        .toDF("rank", "p1", "p2", "pc")
    },
    Some {
      def pc(v: String) =
        s"""(SELECT p1, p2, sum(cnt) AS pc FROM (
           |    SELECT unnest(list_transform(range(1, len(syms)),
           |             i -> {'p1': syms[i], 'p2': syms[i+1]}), recursive := true), cnt
           |    FROM (SELECT list_transform(string_split(w, ' '), x -> x[2:]) AS syms, cnt
           |          FROM $v) sy
           |    WHERE len(syms) >= 2) px
           |  GROUP BY 1, 2)""".stripMargin
      // non-interference: candidate c's {p1, p2, p1||p2} disjoint from
      // selected x's — the Scala trainer's `blocked` set, stated per pair
      def disj(c: String, x: String) =
        s"""$c.p1 NOT IN ($x.p1, $x.p2, $x.p1 || $x.p2) AND
           |        $c.p2 NOT IN ($x.p1, $x.p2, $x.p1 || $x.p2) AND
           |        ($c.p1 || $c.p2) NOT IN ($x.p1, $x.p2, $x.p1 || $x.p2)""".stripMargin
      def rep(inner: String, x: String) =
        s"replace($inner, concat(chr(1), $x.p1, ' ', chr(1), $x.p2), concat(chr(1), $x.p1, $x.p2))"
      s"""WITH wc AS (SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
         |  WHERE length(word) > 0 GROUP BY 1),
         |v0 AS (SELECT concat(chr(1), array_to_string(string_split(word, ''),
         |         concat(' ', chr(1)))) AS w, cnt FROM wc),
         |cand0 AS (SELECT p1, p2, pc FROM ${pc("v0")} ORDER BY pc DESC, p1, p2 LIMIT 24),
         |s01 AS (SELECT * FROM cand0 ORDER BY pc DESC, p1, p2 LIMIT 1),
         |s02 AS (SELECT c.* FROM cand0 c, s01 a WHERE ${disj("c", "a")}
         |        ORDER BY c.pc DESC, c.p1, c.p2 LIMIT 1),
         |s03 AS (SELECT c.* FROM cand0 c, s01 a, s02 b
         |        WHERE ${disj("c", "a")} AND ${disj("c", "b")}
         |        ORDER BY c.pc DESC, c.p1, c.p2 LIMIT 1),
         |v1 AS (SELECT ${rep(rep(rep("w", "a"), "b"), "c")} AS w, cnt
         |       FROM v0, s01 a, s02 b, s03 c),
         |cand1 AS (SELECT p1, p2, pc FROM ${pc("v1")} ORDER BY pc DESC, p1, p2 LIMIT 24),
         |s11 AS (SELECT * FROM cand1 ORDER BY pc DESC, p1, p2 LIMIT 1),
         |s12 AS (SELECT c.* FROM cand1 c, s11 a WHERE ${disj("c", "a")}
         |        ORDER BY c.pc DESC, c.p1, c.p2 LIMIT 1),
         |s13 AS (SELECT c.* FROM cand1 c, s11 a, s12 b
         |        WHERE ${disj("c", "a")} AND ${disj("c", "b")}
         |        ORDER BY c.pc DESC, c.p1, c.p2 LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS rank, p1, p2, CAST(pc AS BIGINT) AS pc FROM s01
         |UNION ALL SELECT CAST(2 AS BIGINT), p1, p2, CAST(pc AS BIGINT) FROM s02
         |UNION ALL SELECT CAST(3 AS BIGINT), p1, p2, CAST(pc AS BIGINT) FROM s03
         |UNION ALL SELECT CAST(4 AS BIGINT), p1, p2, CAST(pc AS BIGINT) FROM s11
         |UNION ALL SELECT CAST(5 AS BIGINT), p1, p2, CAST(pc AS BIGINT) FROM s12
         |UNION ALL SELECT CAST(6 AS BIGINT), p1, p2, CAST(pc AS BIGINT) FROM s13""".stripMargin
    })

  private val dedupEditVerify = Q(
    "dedup_edit_verify",
    // Character-level edit-distance verification over SKETCH candidates
    // — the production near-dup shape: MinHash-LSH banding proposes
    // (equi-join on (band, bkey, lang, source), never blocked
    // all-pairs; length-bucket blocking measured 10k dense pairs at
    // sf0.1 = 9.8 s of wasted DP), then the expensive O(n·m) metric
    // runs on the candidate set only. Every candidate is emitted with
    // its distance plus the 10·ed <= 4·max(len) nearness flag kept in
    // exact integer space — both engines implement unit-cost
    // Levenshtein identically, so distances hash bit-for-bit.
    (s, dir) => {
      val d = spread(T(s, dir, "documents"))
      val base = mat(d.select(
        col("doc_id"), col("lang"), col("source"),
        digestShingles(TextOps.wordShingles(toks, 2)).as("sh"))
        .filter(size(col("sh")) > 0))
      val texts = d.select(col("doc_id"), col("text"), col("n_chars"))
      SimilarityOps.lshCandidatePairs(base, "doc_id", "sh",
          blockKeys = Seq("lang", "source"), aName = "doc_a", bName = "doc_b")
        .join(texts.toDF("doc_a", "ta", "la"), Seq("doc_a"))
        .join(texts.toDF("doc_b", "tb", "lb"), Seq("doc_b"))
        .withColumn("ed", levenshtein(col("ta"), col("tb")).cast("long"))
        .select(col("doc_a"), col("doc_b"), col("ed"),
          when(lit(10L) * col("ed") <= lit(4L) * greatest(col("la"), col("lb")), lit(1L))
            .otherwise(lit(0L)).as("near"))
    },
    Some(s"""WITH t AS (SELECT doc_id, lang, source,
           |    list_distinct(list_transform(list_transform(range(1, len(string_split(text,' '))), i ->
           |      concat(string_split(text,' ')[i], ' ', string_split(text,' ')[i+1])), s -> substr(md5(s), 1, 12))) AS sh
           |  FROM documents),
           |base AS (SELECT * FROM t WHERE len(sh) > 0),
           |${lshOracleCtes("base", "sh", Seq("lang", "source"))}
           |SELECT doc_a, doc_b,
           |  CAST(levenshtein(x.text, y.text) AS BIGINT) AS ed,
           |  CAST(CASE WHEN 10 * levenshtein(x.text, y.text)
           |              <= 4 * greatest(x.n_chars, y.n_chars)
           |       THEN 1 ELSE 0 END AS BIGINT) AS near
           |FROM cand JOIN documents x ON x.doc_id = cand.doc_a
           |          JOIN documents y ON y.doc_id = cand.doc_b""".stripMargin))

  private val qRollingDistinctHll = Q(
    "q_rolling_distinct_hll",
    // Rolling 7-day distinct users per event type through the
    // deterministic mergeable HLL (functions/Hll) — the sketch shape
    // approx_count_distinct can't deliver: its buffer is opaque, ours
    // is a (key, day, idx, r) REGISTER TABLE that merges by window MAX
    // over the day range. One corpus hash-agg builds per-day registers;
    // the roll is a range-frame max over 256 rows/key/day; the raw
    // estimator is libm-free (exact decimal Σ2^(61-r), one closing IEEE
    // chain) so the approximate count itself hashes BIT-FOR-BIT against
    // the oracle — no tolerance, no within-x% crutch.
    (s, dir) => {
      val e = T(s, dir, "events").select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        concat(lit("hll:"), col("user_id").cast("string")).as("hin"))
      // dense keys × days grid (mirroring the oracle's cross product):
      // a key that skips a day still emits that day's rolling row —
      // observed-pairs-only registers would drop it
      val grid = e.select(col("event_type")).distinct()
        .crossJoin(e.select(col("day")).distinct())
      val reg = graft.functions.Hll.registers(
        e, Seq("event_type", "day"), col("hin"), grid = Some(grid))
      val w = Window.partitionBy(col("event_type"), col("idx"))
        .orderBy(col("day")).rangeBetween(-6, 0)
      reg.withColumn("r7", max(col("r")).over(w))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(graft.functions.Hll.sumTerm("r7")).as("s"))
        .select(col("event_type"), col("day"),
          graft.functions.Hll.rawEstimate(col("s")).as("approx_users_7d"))
    },
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           |    md5(concat('hll:', CAST(user_id AS VARCHAR))) AS h FROM events),
           |rh AS (SELECT event_type, day,
           |    ('0x' || substr(h, 1, 2))::BIGINT AS idx,
           |    CASE WHEN ('0x' || substr(h, 3, 15))::BIGINT = 0 THEN 61
           |         ELSE 61 - length(bin(('0x' || substr(h, 3, 15))::BIGINT)) END AS rho
           |  FROM e),
           |obs AS (SELECT event_type, day, idx, max(rho) AS r FROM rh GROUP BY 1, 2, 3),
           |grid AS (SELECT k.event_type, d.day, i.idx FROM
           |    (SELECT DISTINCT event_type FROM e) k,
           |    (SELECT DISTINCT day FROM e) d,
           |    (SELECT unnest(range(256)) AS idx) i),
           |reg AS (SELECT g.event_type, g.day, g.idx, coalesce(o.r, 0) AS r
           |  FROM grid g LEFT JOIN obs o
           |    ON g.event_type = o.event_type AND g.day = o.day AND g.idx = o.idx),
           |roll AS (SELECT event_type, day,
           |    max(r) OVER (PARTITION BY event_type, idx ORDER BY day
           |                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS r7 FROM reg),
           |agg AS (SELECT event_type, day,
           |    sum((1::BIGINT << CAST(61 - r7 AS INT))::HUGEINT) AS s FROM roll GROUP BY 1, 2)
           |SELECT event_type, day,
           |  (((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
           |      + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))) * CAST(65536.0 AS DOUBLE))
           |    * CAST(2305843009213693952 AS DOUBLE)) / CAST(s AS DOUBLE) AS approx_users_7d
           |FROM agg""".stripMargin))

  /** Shared CMS oracle (txt_cms_counts + its streaming twin): replay
    * the 4×1024 counter table and the top-10 point queries in SQL. */
  private val cmsOracleSql: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |js AS (SELECT unnest(range(4)) AS j),
      |sk AS (SELECT j, ('0x' || substr(md5(concat('cms', j, ':', term)), 1, 8))::BIGINT
      |           % 1024 AS bucket, count(*) AS c
      |  FROM tok CROSS JOIN js GROUP BY 1, 2),
      |top AS (SELECT term, count(*) AS exact_cnt FROM tok GROUP BY 1
      |  ORDER BY exact_cnt DESC, term LIMIT 10),
      |est AS (SELECT t.term, min(coalesce(s.c, 0)) AS cms_est
      |  FROM top t CROSS JOIN js
      |  LEFT JOIN sk s ON s.j = js.j AND s.bucket =
      |    ('0x' || substr(md5(concat('cms', js.j, ':', t.term)), 1, 8))::BIGINT % 1024
      |  GROUP BY 1)
      |SELECT top.term, CAST(exact_cnt AS BIGINT) AS exact_cnt,
      |  CAST(cms_est AS BIGINT) AS cms_est
      |FROM top JOIN est ON top.term = est.term""".stripMargin

  private val txtCmsCounts = Q(
    "txt_cms_counts",
    // Count-Min sketch frequency estimates for the top-10 corpus terms,
    // checked against their exact counts — and, because functions/Cms
    // is md5-bucketed integer arithmetic end-to-end, the ESTIMATES
    // themselves hash bit-for-bit against the oracle's replay of the
    // same 4×1024 counter table. The sketch build is one posexplode +
    // hash-agg pass (map-side combinable, O(d·w) output regardless of
    // corpus size); estimates join the tiny counter table on (j,
    // bucket) and take the min of d rows.
    (s, dir) => {
      val tokens = spread(T(s, dir, "documents")).select(explode(toks).as("term"))
      val sk = graft.functions.Cms.sketch(tokens, col("term"))
      val top = tokens.groupBy(col("term")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term")).limit(10)
      graft.functions.Cms.estimate(sk, top, "term")
        .join(top, Seq("term"))
        .select(col("term"), col("exact_cnt"), col("cms_est"))
    },
    Some(cmsOracleSql))

  private val fsStreamCms = Q(
    "fs_stream_cms",
    // Streaming frequency profile — the 12th streaming certification,
    // completing the sketch family's stream twins (HLL cardinality,
    // quantile distribution, CMS frequency): the counter table IS the
    // grouped running count Structured Streaming maintains, so state
    // is a FIXED 4×1024 rows forever on an unbounded token stream
    // where per-term counting state grows with the vocabulary. 4 real
    // micro-batches in Complete mode; the top-10 point queries close
    // in batch over the final counter view and must hash BIT-FOR-BIT
    // against the same oracle as the batch gate.
    (s, dir) => {
      val (srcDir, docSchema) = stagedDocsWide(s, dir)
      val sk = replayToMemory(s, srcDir, docSchema, OutputMode.Complete())(
        _.select(col("text"))
          .select(explode(TextOps.tokens(col("text"))).as("term"))
          .select(posexplode(array((0 until graft.functions.Cms.D).map(j =>
            graft.functions.Cms.bucket(j, col("term"))): _*)).as(Seq("j", "bucket")))
          .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("c")))
      val tokens = spread(T(s, dir, "documents")).select(explode(toks).as("term"))
      val top = tokens.groupBy(col("term")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term")).limit(10)
      graft.functions.Cms.estimate(sk, top, "term")
        .join(top, Seq("term"))
        .select(col("term"), col("exact_cnt"), col("cms_est"))
    },
    Some(cmsOracleSql))

  private val qGroupingSets = Q(
    "q_grouping_sets",
    // §2.4 completion beyond rollup/cube: arbitrary GROUPING SETS with
    // grouping() null-vs-total disambiguation — one Expand pass, one
    // hash-agg, no per-set rescans. SQL-expressed (the Dataset API
    // stops at rollup/cube).
    (s, dir) => {
      // UUID-suffixed view (as the streaming gates do): a fixed name
      // would let two concurrent gate executions in one SparkSession
      // clobber each other's registration
      val v = "ev_gs_" + java.util.UUID.randomUUID().toString.replace("-", "")
      T(s, dir, "events").createOrReplaceTempView(v)
      val out = s.sql(s"""SELECT event_type, cohort, CAST(count(*) AS BIGINT) AS n,
              |  CAST(grouping(event_type) AS BIGINT) AS g_type,
              |  CAST(grouping(cohort) AS BIGINT) AS g_cohort
              |FROM (SELECT event_type, user_id % 10 AS cohort FROM $v) t
              |GROUP BY GROUPING SETS ((event_type), (cohort), (event_type, cohort), ())""".stripMargin)
      // the plan is resolved eagerly at sql(); the registration can go
      out.queryExecution.analyzed
      s.catalog.dropTempView(v)
      out
    },
    Some("""SELECT event_type, cohort, CAST(count(*) AS BIGINT) AS n,
           |  CAST(grouping(event_type) AS BIGINT) AS g_type,
           |  CAST(grouping(cohort) AS BIGINT) AS g_cohort
           |FROM (SELECT event_type, user_id % 10 AS cohort FROM events) t
           |GROUP BY GROUPING SETS ((event_type), (cohort), (event_type, cohort), ())""".stripMargin))

  private val fsStreamHll = Q(
    "fs_stream_hll",
    // Streaming cardinality profile: HLL registers maintained by a
    // STATEFUL streaming max-agg — because the register merge is MAX,
    // the sketch is exactly the aggregation Structured Streaming
    // already knows how to keep per key across micro-batches; state is
    // O(keys × 256) forever, the streaming-safe way to track distincts
    // on an unbounded stream (count distinct state would grow without
    // bound). 4 real micro-batches in Complete mode; the estimate is
    // closed in batch over the final register table and must hash
    // BIT-FOR-BIT against the oracle computing the same sketch from
    // the plain events table — stream/batch parity for sketches.
    (s, dir) => {
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      val regs = replayToMemory(s, srcDir, evSchema, OutputMode.Complete())(
        _.select(col("event_type"),
            concat(lit("hll:"), col("user_id").cast("string")).as("hin"))
          .select(col("event_type"),
            graft.functions.Hll.idxCol(col("hin")).as("idx"),
            graft.functions.Hll.rhoCol(col("hin")).as("rho"))
          .groupBy(col("event_type"), col("idx")).agg(max(col("rho")).as("r")))
      // fresh output names on the observed side: the memory-sink table
      // appears on both sides of the join and Spark's resolver rejects
      // the conflicting attribute ids otherwise
      val obs = regs.select(col("event_type").as("o_et"),
        col("idx").as("o_idx"), col("r"))
      val dense = regs.select(col("event_type")).distinct()
        .crossJoin(s.range(graft.functions.Hll.M).select(col("id").as("idx")))
        .join(obs, col("event_type") === col("o_et") && col("idx") === col("o_idx"), "left")
        .withColumn("r", coalesce(col("r"), lit(0L)))
      dense.groupBy(col("event_type"))
        .agg(sum(graft.functions.Hll.sumTerm("r")).as("s"))
        .select(col("event_type"),
          graft.functions.Hll.rawEstimate(col("s")).as("approx_users"))
    },
    Some("""WITH rh AS (SELECT event_type,
           |    ('0x' || substr(md5(concat('hll:', CAST(user_id AS VARCHAR))), 1, 2))::BIGINT AS idx,
           |    CASE WHEN ('0x' || substr(md5(concat('hll:', CAST(user_id AS VARCHAR))), 3, 15))::BIGINT = 0
           |         THEN 61
           |         ELSE 61 - length(bin(('0x' || substr(md5(concat('hll:', CAST(user_id AS VARCHAR))), 3, 15))::BIGINT))
           |    END AS rho
           |  FROM events),
           |obs AS (SELECT event_type, idx, max(rho) AS r FROM rh GROUP BY 1, 2),
           |grid AS (SELECT k.event_type, i.idx FROM
           |    (SELECT DISTINCT event_type FROM events) k,
           |    (SELECT unnest(range(256)) AS idx) i),
           |reg AS (SELECT g.event_type, coalesce(o.r, 0) AS r
           |  FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.idx = o.idx),
           |agg AS (SELECT event_type,
           |    sum((1::BIGINT << CAST(61 - r AS INT))::HUGEINT) AS s FROM reg GROUP BY 1)
           |SELECT event_type,
           |  (((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
           |      + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))) * CAST(65536.0 AS DOUBLE))
           |    * CAST(2305843009213693952 AS DOUBLE)) / CAST(s AS DOUBLE) AS approx_users
           |FROM agg""".stripMargin))

  /** Shared KMV oracle (q_kmv_distinct + its streaming twin): replay
    * the bottom-512 sketch and the (k-1)·2^60/h_k estimator in SQL. */
  private val kmvOracleSql: String =
    """WITH dv AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v FROM events),
      |h AS (SELECT event_type, v,
      |    ('0x' || substr(md5(concat('kmv:', v)), 1, 15))::BIGINT AS h FROM dv),
      |rk AS (SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h, v) AS rk FROM h),
      |sk AS (SELECT event_type, h FROM rk WHERE rk <= 512),
      |agg AS (SELECT event_type, count(*) AS n_sample, max(h) AS h_k FROM sk GROUP BY 1)
      |SELECT event_type,
      |  CASE WHEN n_sample < 512 THEN CAST(n_sample AS DOUBLE)
      |       ELSE CAST(511.0 AS DOUBLE) * CAST(1152921504606846976.0 AS DOUBLE)
      |            / CAST(h_k AS DOUBLE) END AS distinct_est
      |FROM agg""".stripMargin

  private val qKmvDistinct = Q(
    "q_kmv_distinct",
    // KMV bottom-k sketch (functions/Kmv): per-type distinct-user
    // estimates that hash BIT-FOR-BIT — the md5 order is the same in
    // every engine, so the k-th smallest hash, and therefore the
    // (k-1)·2^60/h_k estimate, is reproducible exactly. At sf0.01
    // (150 users < k) the sketch degrades to the exact count — the
    // estimator's documented small-side behavior, exercised by the
    // same gate at two scales. The bottom-k runs as a WindowGroupLimit
    // partial top-k: no group materializes beyond k rows per task.
    (s, dir) => {
      val sk = graft.functions.Kmv.sketch(
        T(s, dir, "events"), Seq("event_type"), col("user_id").cast("string"), k = 512)
      graft.functions.Kmv.distinctEstimate(sk, Seq("event_type"), k = 512)
    },
    Some(kmvOracleSql))

  private val fsStreamKmv = Q(
    "fs_stream_kmv",
    // The 13th streaming certification, and the KMV leg that makes
    // "every sketch has a stream twin" TRUE: bottom-k has no built-in
    // streaming aggregation form, so this is distinct-count sketching
    // as CUSTOM mapGroupsWithState state — a TreeSet of the k smallest
    // (hash, value) pairs per key, O(k) forever, IDEMPOTENT under
    // at-least-once re-delivery (set semantics on the value's own
    // hash — where a counting state would double). 4 real
    // micro-batches; the batch-closed (k-1)·2^60/h_k estimates must
    // hash BIT-FOR-BIT against the same oracle as q_kmv_distinct.
    (s, dir) => {
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      val updates = replayToMemory(s, srcDir, evSchema, OutputMode.Update())(in =>
        graft.streaming.EventStreams
          .kmvStream(in.select(col("event_type"), col("user_id")),
            k = 512, keyCol = "event_type", valCol = "user_id")
          .toDF("k", "gen", "n_sample", "h_k"))
      // final state per key = the emission with the largest gen
      updates.groupBy(col("k"))
        .agg(max_by(struct(col("n_sample"), col("h_k")), col("gen")).as("st"))
        .select(col("k").as("event_type"),
          when(col("st.n_sample") < 512, col("st.n_sample").cast("double"))
            .otherwise(lit(511.0) * lit(graft.functions.Kmv.HashDomain.toDouble)
              / col("st.h_k").cast("double"))
            .as("distinct_est"))
    },
    Some(kmvOracleSql))

  /** Shared final SELECT for the two quantile-sketch gates: nearest-
    * rank p50/p90/p99 off the cumulated sketch, ranks in integer
    * arithmetic (floor((num*n + den-1)/den) — no 0.9*n float product).
    */
  private def qsketchOracleSelect: String =
    """SELECT event_type,
      |  CAST(min(CASE WHEN cum >= floor((1*n + 1) / 2.0) THEN okey END) AS DOUBLE) / 100.0 AS p50,
      |  CAST(min(CASE WHEN cum >= floor((9*n + 9) / 10.0) THEN okey END) AS DOUBLE) / 100.0 AS p90,
      |  CAST(min(CASE WHEN cum >= floor((99*n + 99) / 100.0) THEN okey END) AS DOUBLE) / 100.0 AS p99,
      |  CAST(max(n) AS BIGINT) AS n
      |FROM cum GROUP BY event_type""".stripMargin

  private val qQuantileSketch = Q(
    "q_quantile_sketch",
    // Mergeable quantile sketch (functions/QuantileSketch): per-type
    // p50/p90/p99 through the log-linear bucket table — DDSketch's
    // relative-error guarantee with the libm log replaced by integer
    // bit-length arithmetic, so the ESTIMATES hash bit-for-bit against
    // the oracle replaying the same shifts (no tolerance crutch; exact
    // interpolated quantiles are q_median's kernel — this is the
    // fixed-size summary that avoids its (group, value) shuffle). The
    // one corpus pass is a hash-agg on (type, okey) with map-side
    // combine: <= ~8k buckets per group ride the shuffle however many
    // rows feed them; extraction windows over the sketch table alone.
    (s, dir) => {
      val sk = graft.functions.QuantileSketch.sketch(
        T(s, dir, "events"), Seq("event_type"), col("value"), s = 7, scale = 100)
      graft.functions.QuantileSketch.quantiles(sk, Seq("event_type"),
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)), scale = 100)
    },
    Some(s"""WITH src AS (SELECT event_type, value AS v FROM events),
            |${graft.functions.QuantileSketch.oracleSketchCtes("src", "event_type", 7, 100)}
            |$qsketchOracleSelect""".stripMargin))

  private val fsStreamQuantile = Q(
    "fs_stream_quantile",
    // Streaming quantile profile: the sketch's bucket counts ARE the
    // grouped running count Structured Streaming already maintains —
    // state is O(groups × buckets) forever, the streaming-safe way to
    // track value distributions on an unbounded stream (a sorted
    // percentile would buffer every row into state). 4 real
    // micro-batches in Complete mode; extraction closes in batch over
    // the final sketch view and must hash BIT-FOR-BIT against the same
    // oracle as the batch gate — stream/batch parity for quantiles.
    (s, dir) => {
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      val scaled = round(col("value") * lit(100), 0).cast("long")
      val sk = replayToMemory(s, srcDir, evSchema, OutputMode.Complete())(
        _.select(col("event_type"), col("value"))
          .select(col("event_type"),
            graft.functions.QuantileSketch.bucketKey(scaled, 7).as("okey"))
          .groupBy(col("event_type"), col("okey")).agg(count(lit(1)).as("cnt")))
      graft.functions.QuantileSketch.quantiles(sk, Seq("event_type"),
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)), scale = 100)
    },
    Some(s"""WITH src AS (SELECT event_type, value AS v FROM events),
            |${graft.functions.QuantileSketch.oracleSketchCtes("src", "event_type", 7, 100)}
            |$qsketchOracleSelect""".stripMargin))

  private val fsStoreZorder = Q(
    "fs_store_zorder",
    // OPTIMIZE ZORDER on the txlog backend, end to end: save purchase
    // values (append layout — time-ranged files, values random inside
    // each, so a value predicate can skip nothing), z-order-rewrite on
    // the (day, value) Morton key recording per-file value bounds, and
    // read back a value slice through the stats-skipping scan. The
    // result must equal the oracle's plain WHERE over raw events —
    // skipping changes which files OPEN, never which rows return
    // (ZOrderStoreSpec asserts the file-count drop itself; this gate
    // pins the correctness half at both verify scales).
    (s, dir) => {
      val tmp = scratchDir("zord")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("z", s"$tmp/warehouse", backend = "txlog")
      fs.createFeature("z/metric")
      fs.saveDataFrame(
        T(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("ts").as("time"), col("value")),
        name = Some("z/metric"))
      fs.optimizeZorderFeature("z/metric")
      fs.loadFeatureValueRange("z/metric", 100.0, 200.0)
        .select(col("time"), col("value"))
    },
    Some("""SELECT ts AS time, value FROM events
           |WHERE event_type = 'purchase' AND value >= 100 AND value <= 200""".stripMargin))

  /** Declared landing-zone schema for the ingest round-trip gates —
    * Ingest's rule: schemas are passed, never inferred (inference is a
    * second full pass over the input at 100 TB). */
  private def ingestSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("time", TimestampType),
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
  }

  private val srcCsvRoundtrip = Q(
    "src_csv_roundtrip",
    // Raw-text landing zone, CSV leg (sources/Ingest): write purchase
    // events as headered CSV with the micro-precision timestamp
    // format, read back through the declared-schema PERMISSIVE reader,
    // quarantine split — and the clean side must hash-equal the oracle
    // over raw events: timestamps to the microsecond, doubles exact.
    // The staged write runs once per JVM (harness scaffolding); the
    // gate times the READ path, which is what a 100 TB load runs.
    (s, dir) => {
      val srcDir = stagedSrc("csvrt", dir) { p =>
        graft.sources.Ingest.writeCsv(
          T(s, dir, "events").filter(col("event_type") === "purchase")
            .select(col("ts").as("time"), col("user_id"), col("value")), p)
      }
      val (good, _) = graft.sources.Ingest.quarantine(
        graft.sources.Ingest.readCsv(s, srcDir, ingestSchema))
      good
    },
    Some("""SELECT ts AS time, user_id, value FROM events
           |WHERE event_type = 'purchase'""".stripMargin))

  private val srcJsonRoundtrip = Q(
    "src_json_roundtrip",
    // JSON-Lines leg of the same contract (one object per line —
    // splittable, so a 100 TB dump parallelizes by input split where a
    // pretty-printed array cannot).
    (s, dir) => {
      val srcDir = stagedSrc("jsonrt", dir) { p =>
        graft.sources.Ingest.writeJsonl(
          T(s, dir, "events").filter(col("event_type") === "purchase")
            .select(col("ts").as("time"), col("user_id"), col("value")), p)
      }
      val (good, _) = graft.sources.Ingest.quarantine(
        graft.sources.Ingest.readJsonl(s, srcDir, ingestSchema))
      good
    },
    Some("""SELECT ts AS time, user_id, value FROM events
           |WHERE event_type = 'purchase'""".stripMargin))

  private val srcOrcRoundtrip = Q(
    "src_orc_roundtrip",
    // Columnar-interchange leg (Ingest.writeOrc/readOrc): the same
    // purchase slice round-tripped through ORC — the footer-described
    // format Hive/Trino shops export — under the DECLARED schema, and
    // the read-back must hash-equal the oracle over raw events:
    // timestamps to the microsecond (ORC carries nanos natively),
    // doubles bit-exact. No quarantine split: a columnar file is
    // self-describing, so corruption fails the task, never a row.
    // Staged once per JVM like the text legs; the gate times the READ.
    (s, dir) => {
      val srcDir = stagedSrc("orcrt", dir) { p =>
        graft.sources.Ingest.writeOrc(
          T(s, dir, "events").filter(col("event_type") === "purchase")
            .select(col("ts").as("time"), col("user_id"), col("value")), p)
      }
      graft.sources.Ingest.readOrc(s, srcDir, ingestSchema)
    },
    Some("""SELECT ts AS time, user_id, value FROM events
           |WHERE event_type = 'purchase'""".stripMargin))

  private val fsStoreBucketed = Q(
    "fs_store_bucketed",
    // Bucketed co-located join — the layout that deletes the join
    // shuffle outright: both sides bucketBy the SAME key into the same
    // bucket count at write time, so every join on that key forever
    // after reads bucket i against bucket i with NO Exchange on either
    // side (PlanContractSpec pins the shuffle-free plan with broadcast
    // disabled). At 100 TB this is THE fact-to-fact pattern: a
    // broadcast is off the table when both sides are large, and an
    // exchange would move the full fact table per query — bucketing
    // pays one layout write, then every repeated join is free. The
    // gate writes orders and customer bucketed by custkey through the
    // session catalog, joins them, and the revenue rollup must
    // hash-equal the oracle's plain join — layout must never change
    // results.
    (s, dir) => {
      val tmp = scratchDir("buck")
      // DROP first: scratchDir just wiped the previous invocation's
      // data files, so a surviving catalog entry would point at nothing
      s.sql("DROP TABLE IF EXISTS graft_buck_orders")
      s.sql("DROP TABLE IF EXISTS graft_buck_customer")
      graft.ops.Scale.writeBucketed(
        T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), dec(col("o_totalprice")).as("price")),
        "graft_buck_orders", 8, Seq("o_custkey"), path = Some(s"$tmp/orders"))
      graft.ops.Scale.writeBucketed(
        T(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
        "graft_buck_customer", 8, Seq("c_custkey"), path = Some(s"$tmp/customer"))
      s.table("graft_buck_orders")
        .join(s.table("graft_buck_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          sum(col("price")).cast("double").as("revenue"))
    },
    Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |GROUP BY 1""".stripMargin))

  private val fsFastStats = Q(
    "fs_fast_stats",
    // Metadata-only COUNT + time bounds (facade featureTableStats):
    // the answer comes from the transaction log's per-file nrec /
    // tmin / tmax — ZERO Spark jobs, zero file opens (Delta's
    // numRecords fast path) — and must still hash-equal the oracle's
    // full count(*)/min/max over raw events. At 100 TB this is an
    // O(1) driver answer where the aggregate is a full-table scan.
    (s, dir) => {
      val tmp = scratchDir("faststats")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("fstat", s"$tmp/warehouse", backend = "txlog")
      fs.createFeature("fstat/purchase")
      fs.saveDataFrame(
        T(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("ts").as("time"), col("value")),
        name = Some("fstat/purchase"))
      fs.featureTableStats("fstat/purchase")
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n, min(ts) AS tmin, max(ts) AS tmax,
           |  min(value) AS vmin, max(value) AS vmax
           |FROM events WHERE event_type = 'purchase'""".stripMargin))

  private val fsStoreBloomSkip = Q(
    "fs_store_bloom_skip",
    // Bloom-filter point-lookup file skipping (the Delta bloom-index
    // idea): the table declares a bloom index over an evolved
    // `user_id` column, every subsequent write attaches a 1 KB
    // per-file bloom to its log entry, and the entity lookup prunes
    // files from LOG METADATA alone before the scan opens anything —
    // the skip min/max stats can't give when key values interleave
    // across every file. At 100 TB "all history for entity X" (the
    // GDPR subject-access shape) reads the handful of files whose
    // blooms admit the key instead of the table. The gate certifies
    // the full lookup pipeline (epoch-0 files without the column
    // align to null and drop out; bloomed files filter exactly);
    // FileBloomSpec certifies that pruning actually happens.
    (s, dir) => {
      import org.apache.spark.sql.types.LongType
      val tmp = scratchDir("bloomskip")
      val st = new graft.store.TimeseriesStore(s, s"$tmp/warehouse")
      val src = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("ts").as("created_time"),
          col("value"), col("user_id"))
      val d05 = ts("2024-01-05")
      st.save("bk", src.filter(col("time") < d05).drop("user_id"))
      st.evolveSchema("bk", st.tableSchema("bk").get.add("user_id", LongType))
      st.declareBloomIndex("bk", "user_id")
      st.save("bk", src.filter(col("time") >= d05))
      st.readKeyEquals("bk", "user_id", 7L)
        .select("time", "value", "user_id")
    },
    Some("""SELECT ts AS time, value, user_id FROM events
           |WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-05'
           |  AND user_id = 7""".stripMargin))

  private val fsDescribe = Q(
    "fs_describe",
    // Distributed describe(): the summary the reference computes with
    // client-side pandas after downloading the table
    // (load_dataframe().describe()), as ONE exact-decimal moment pass
    // + the mergeable quantile sketch — eight numbers reach the
    // driver, never the table. Every statistic hashes bit-for-bit:
    // decimal moment sums closed by identical IEEE ops (std = one
    // correctly-rounded sqrt), sketch quantiles are integer bucket
    // edges.
    (s, dir) => {
      val tmp = scratchDir("desc")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("d", s"$tmp/warehouse")
      fs.createFeature("d/purchase")
      fs.saveDataFrame(
        T(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("ts").as("time"), col("value")),
        name = Some("d/purchase"))
      fs.describeFeature("d/purchase")
    },
    Some(s"""WITH src AS (SELECT 1 AS grp, value AS v FROM events WHERE event_type = 'purchase'),
            |${graft.functions.QuantileSketch.oracleSketchCtes("src", "grp", 7, 100)},
            |qq AS (SELECT
            |  CAST(min(CASE WHEN cum >= floor((1*n + 3) / 4.0) THEN okey END) AS DOUBLE) / 100.0 AS p25,
            |  CAST(min(CASE WHEN cum >= floor((1*n + 1) / 2.0) THEN okey END) AS DOUBLE) / 100.0 AS p50,
            |  CAST(min(CASE WHEN cum >= floor((3*n + 3) / 4.0) THEN okey END) AS DOUBLE) / 100.0 AS p75
            |  FROM cum GROUP BY grp),
            |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean,
            |  CASE WHEN count(*) > 1 THEN sqrt(
            |    (CAST(sum(CAST(CAST(v AS DECIMAL(18,2)) * CAST(v AS DECIMAL(18,2))
            |         AS DECIMAL(28,4))) AS DOUBLE) * count(*)
            |     - CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE)
            |       * CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE))
            |    / CAST(count(*) * (count(*) - 1) AS DOUBLE)) END AS std,
            |  min(v) AS min, max(v) AS max FROM src)
            |SELECT m.n, m.mean, m.std, m.min, m.max, q.p25, q.p50, q.p75
            |FROM mom m, qq q""".stripMargin))

  private val qKmvOverlap = Q(
    "q_kmv_overlap",
    // Theta-sketch set operations (functions/Kmv.thetaSetEstimates):
    // union / intersection / Jaccard of two user cohorts (big spenders
    // by event type) estimated from two bottom-512 sketches — never a
    // join of the underlying sets. At sf0.01 both cohorts are under k
    // and the estimates are EXACT counts (the documented small-side
    // branch); at sf0.1 both exceed k and the fixed-rate-sample
    // estimator takes over — the same gate exercises both branches at
    // the driver's two scales, hash-exact in each (md5 order + integer
    // counts + two closing IEEE ops).
    (s, dir) => {
      val e = T(s, dir, "events")
        .filter(col("value") > 120 && col("event_type").isin("purchase", "click"))
      val sk = graft.functions.Kmv.sketch(
        e, Seq("event_type"), col("user_id").cast("string"), k = 512)
      graft.functions.Kmv.thetaSetEstimates(sk, "event_type", "purchase", "click", k = 512)
    },
    Some("""WITH dv AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v FROM events
           |    WHERE value > 120 AND event_type IN ('click', 'purchase')),
           |h AS (SELECT event_type, v,
           |    ('0x' || substr(md5(concat('kmv:', v)), 1, 15))::BIGINT AS h FROM dv),
           |rk AS (SELECT event_type, h,
           |    row_number() OVER (PARTITION BY event_type ORDER BY h, v) AS rk FROM h),
           |sk AS (SELECT event_type, h FROM rk WHERE rk <= 512),
           |th AS (SELECT min(CASE WHEN n < 512 THEN 1152921504606846976 ELSE hk END) AS theta
           |  FROM (SELECT event_type, count(*) AS n, max(h) AS hk FROM sk GROUP BY 1)),
           |probe AS (SELECT s.event_type, s.h, t.theta FROM sk s, th t WHERE s.h < t.theta),
           |g AS (SELECT h, theta, count(DISTINCT event_type) AS ng FROM probe GROUP BY 1, 2),
           |agg AS (SELECT theta, count(*) AS u,
           |    sum(CASE WHEN ng = 2 THEN 1 ELSE 0 END) AS i FROM g GROUP BY 1)
           |SELECT CAST(u AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
           |    / CAST(theta AS DOUBLE) AS union_est,
           |  CAST(i AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
           |    / CAST(theta AS DOUBLE) AS inter_est,
           |  CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard_est
           |FROM agg""".stripMargin))

  private val qRollingQuantile = Q(
    "q_rolling_quantile",
    // Rolling 7-day p50/p90 per event type through the MERGEABLE
    // quantile sketch — the q_rolling_distinct_hll shape for value
    // distributions: because the sketch merges by SUM, the roll is
    // pure bucket-count arithmetic over the tiny daily sketch table
    // (each daily bucket row fans out to the <= 7 extraction days it
    // serves — O(7 × buckets) rows, NEVER the event rows), where a
    // true rolling percentile would re-sort each 7-day window of raw
    // data per key per day. Extraction days are the observed days
    // (join with the day grid); ranks are the same integer rationals
    // as q_quantile_sketch — every estimate hashes bit-for-bit.
    (s, dir) => {
      val src = T(s, dir, "events").select(col("event_type").as("grp"),
        expr("unix_micros(ts) div 86400000000").as("day"), col("value").as("v"))
      val sk = graft.functions.QuantileSketch.sketch(
        src, Seq("grp", "day"), col("v"), s = 7, scale = 100)
      val sv = sk.withColumn("o", explode(sequence(lit(0), lit(6))))
        .select(col("grp"), (col("day") + col("o")).as("xday"), col("okey"), col("cnt"))
        .groupBy(col("grp"), col("xday"), col("okey")).agg(sum(col("cnt")).as("cnt"))
      val dg = src.select(col("grp"), col("day").as("xday")).distinct()
      graft.functions.QuantileSketch.quantiles(
          sv.join(dg, Seq("grp", "xday")), Seq("grp", "xday"),
          Seq(("p50_7d", 1, 2), ("p90_7d", 9, 10)), scale = 100)
        .select(col("grp").as("event_type"), col("xday").as("day"),
          col("p50_7d"), col("p90_7d"), col("n"))
    },
    Some(s"""WITH src AS (SELECT event_type AS grp, epoch_us(ts) // 86400000000 AS day,
            |    value AS v FROM events),
            |c AS (SELECT grp, day, CAST(round(v * 100) AS BIGINT) AS cents FROM src),
            |g AS (SELECT grp, day, cents, greatest(0, length(bin(abs(cents))) - 1 - 7) AS gg FROM c),
            |k AS (SELECT grp, day,
            |    CASE WHEN cents > 0 THEN 1 WHEN cents < 0 THEN -1 ELSE 0 END
            |      * ((abs(cents) >> gg) << gg) AS okey FROM g),
            |sk AS (SELECT grp, day, okey, count(*) AS cnt FROM k GROUP BY 1, 2, 3),
            |sv AS (SELECT grp, day + o AS xday, okey, sum(cnt) AS cnt
            |  FROM sk CROSS JOIN (SELECT unnest(range(7)) AS o) GROUP BY 1, 2, 3),
            |dg AS (SELECT DISTINCT grp, day AS xday FROM src),
            |wd AS (SELECT s.grp, s.xday, s.okey, s.cnt FROM sv s JOIN dg USING (grp, xday)),
            |cum AS (SELECT grp, xday, okey, cnt,
            |    sum(cnt) OVER (PARTITION BY grp, xday ORDER BY okey) AS cum,
            |    sum(cnt) OVER (PARTITION BY grp, xday) AS n FROM wd)
            |SELECT grp AS event_type, CAST(xday AS BIGINT) AS day,
            |  CAST(min(CASE WHEN cum >= floor((1*n + 1) / 2.0) THEN okey END) AS DOUBLE) / 100.0 AS p50_7d,
            |  CAST(min(CASE WHEN cum >= floor((9*n + 9) / 10.0) THEN okey END) AS DOUBLE) / 100.0 AS p90_7d,
            |  CAST(max(n) AS BIGINT) AS n
            |FROM cum GROUP BY 1, 2""".stripMargin))

  private val dqRobustOutliers = Q(
    "dq_robust_outliers",
    // Robust anomaly flags — median/MAD instead of mean/stddev
    // (dq_outliers' z-score): one extreme batch SHIFTS a mean-based
    // gate's own yardstick (masking), while the median and the median
    // absolute deviation have 50% breakdown. Both medians come from
    // the mergeable quantile sketch in INTEGER CENTS (two one-pass
    // hash-aggs; cut = dev > 5·MAD compared in pure integers — no
    // float boundary can flip cross-engine), so the whole detector is
    // two tiny sketch tables + two broadcast joins at any corpus size.
    (s, dir) => {
      val c = mat(T(s, dir, "events").select(col("event_type").as("grp"),
        round(col("value") * 100, 0).cast("long").as("cents")))
      val med = graft.functions.QuantileSketch.quantiles(
        graft.functions.QuantileSketch.sketch(
          c, Seq("grp"), col("cents").cast("double"), s = 7, scale = 1),
        Seq("grp"), Seq(("medc", 1, 2)), scale = 1)
        .select(col("grp"), col("medc").cast("long").as("medc"))
      val d = mat(c.join(broadcast(med), Seq("grp"))
        .withColumn("dev", abs(col("cents") - col("medc"))))
      val mad = graft.functions.QuantileSketch.quantiles(
        graft.functions.QuantileSketch.sketch(
          d, Seq("grp"), col("dev").cast("double"), s = 7, scale = 1),
        Seq("grp"), Seq(("madc", 1, 2)), scale = 1)
        .select(col("grp"), col("madc").cast("long").as("madc"))
      d.join(broadcast(mad), Seq("grp"))
        .groupBy(col("grp"))
        .agg(
          (max(col("medc")).cast("double") / 100.0).as("median"),
          (max(col("madc")).cast("double") / 100.0).as("mad"),
          count(lit(1)).as("n"),
          sum(when(col("dev") > lit(5L) * col("madc"), 1L).otherwise(0L)).as("n_out"))
        .select(col("grp").as("event_type"), col("median"), col("mad"),
          col("n"), col("n_out"))
    },
    Some("""WITH c AS (SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
           |k1 AS (SELECT grp, CASE WHEN cents > 0 THEN 1 WHEN cents < 0 THEN -1 ELSE 0 END
           |    * ((abs(cents) >> greatest(0, length(bin(abs(cents))) - 1 - 7))
           |       << greatest(0, length(bin(abs(cents))) - 1 - 7)) AS okey FROM c),
           |sk1 AS (SELECT grp, okey, count(*) AS cnt FROM k1 GROUP BY 1, 2),
           |cum1 AS (SELECT grp, okey, sum(cnt) OVER (PARTITION BY grp ORDER BY okey) AS cum,
           |    sum(cnt) OVER (PARTITION BY grp) AS n FROM sk1),
           |med AS (SELECT grp, min(CASE WHEN cum >= floor((1*n + 1) / 2.0) THEN okey END) AS medc
           |  FROM cum1 GROUP BY 1),
           |d AS (SELECT c.grp, c.cents, m.medc, abs(c.cents - m.medc) AS dev
           |  FROM c JOIN med m USING (grp)),
           |k2 AS (SELECT grp, ((dev >> greatest(0, length(bin(dev)) - 1 - 7))
           |    << greatest(0, length(bin(dev)) - 1 - 7)) AS okey FROM d),
           |sk2 AS (SELECT grp, okey, count(*) AS cnt FROM k2 GROUP BY 1, 2),
           |cum2 AS (SELECT grp, okey, sum(cnt) OVER (PARTITION BY grp ORDER BY okey) AS cum,
           |    sum(cnt) OVER (PARTITION BY grp) AS n FROM sk2),
           |mad AS (SELECT grp, min(CASE WHEN cum >= floor((1*n + 1) / 2.0) THEN okey END) AS madc
           |  FROM cum2 GROUP BY 1)
           |SELECT d.grp AS event_type,
           |  CAST(max(d.medc) AS DOUBLE) / 100.0 AS median,
           |  CAST(max(mad.madc) AS DOUBLE) / 100.0 AS mad,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CASE WHEN d.dev > 5 * mad.madc THEN 1 ELSE 0 END) AS BIGINT) AS n_out
           |FROM d JOIN mad USING (grp) GROUP BY 1""".stripMargin))

  private val qZorderKey = Q(
    "q_zorder_key",
    // Z-order (Morton) clustering key (ops/ZOrder) — the OPTIMIZE
    // ZORDER layout primitive: day-of-event and user_id interleaved
    // bit-by-bit into one sort key, so range-splitting files on it
    // gives BOTH dimensions locality and min/max footer stats prune on
    // either predicate (ZOrderSpec measures the pruning trade vs a
    // linear sort; this gate pins the key arithmetic itself — pure
    // integer shifts, bit-identical in any engine). At 100 TB the key
    // is a narrow scan-fused projection and the layout is ONE range
    // shuffle, the same cost as the linear sort it replaces.
    (s, dir) => {
      val day = expr("unix_micros(ts) div 86400000000")
      T(s, dir, "events").select(col("event_id"),
        graft.ops.ZOrder.interleave(
          Seq(day.bitwiseAND(lit(65535L)), col("user_id").bitwiseAND(lit(65535L))),
          bits = 16).as("zkey"))
    },
    Some(s"""WITH d AS (SELECT event_id, (epoch_us(ts) // 86400000000) & 65535 AS a,
            |    user_id & 65535 AS b FROM events)
            |SELECT event_id,
            |  CAST(${graft.ops.ZOrder.oracleInterleaveExpr(Seq("a", "b"), 16)} AS BIGINT) AS zkey
            |FROM d""".stripMargin))

  private val fsStoreDeleteRows = Q(
    "fs_store_delete_rows",
    // The lakehouse DELETE under the oracle gate — the GDPR shape: save
    // a feature on the txlog backend, transactionally erase a time
    // window's rows (only files with matches rewrite; ONE retire +
    // publish commit), vacuum the retired bytes, and the snapshot read
    // must reproduce what DuckDB computes from raw events with the
    // same rows WHERE'd out. A leaked supposedly-deleted row changes
    // the forward-filled grid and hashes red.
    (s, dir) => {
      val tmp = scratchDir("delrt")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("del", s"$tmp/warehouse", backend = "txlog")
      fs.createFeature("del/purchase")
      fs.saveDataFrame(
        T(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("ts").as("time"), col("value")),
        name = Some("del/purchase"))
      val erased = fs.deleteRows("del/purchase",
        col("time") >= lit("2024-01-10").cast("timestamp") &&
          col("time") < lit("2024-01-15").cast("timestamp"))
      require(erased > 0, "delete window matched nothing — gate would be vacuous")
      fs.vacuumFeature("del/purchase", retentionMs = 0L) // strict erasure
      fs.loadDataFrame(Seq("del/purchase"),
          fromDate = Some(jts("2024-01-01")), toDate = Some(jts("2024-01-30")),
          freq = Some("1d"))
        .withColumnRenamed("del/purchase", "value")
    },
    Some("""WITH data AS (SELECT ts AS time, value FROM events
           |  WHERE event_type = 'purchase'
           |    AND NOT (ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-15')),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
           |                 TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS time)
           |SELECT g.time, d.value FROM grid g ASOF LEFT JOIN data d ON d.time <= g.time""".stripMargin))

  private val fsStoreUpdateRows = Q(
    "fs_store_update_rows",
    // The lakehouse UPDATE: save on txlog, transactionally double a
    // time window's values (only files with matches rewrite, one
    // retire+publish commit), snapshot-read back. value*2 is one exact
    // IEEE multiply, so the oracle's CASE-mirrored grid hashes
    // bit-for-bit.
    (s, dir) => {
      val tmp = scratchDir("updrt")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("upd", s"$tmp/warehouse", backend = "txlog")
      fs.createFeature("upd/purchase")
      fs.saveDataFrame(
        T(s, dir, "events").filter(col("event_type") === "purchase")
          .select(col("ts").as("time"), col("value")),
        name = Some("upd/purchase"))
      val n = fs.updateRows("upd/purchase",
        col("time") >= lit("2024-01-10").cast("timestamp") &&
          col("time") < lit("2024-01-15").cast("timestamp"),
        col("value") * lit(2.0))
      require(n > 0, "update window matched nothing — gate would be vacuous")
      fs.loadDataFrame(Seq("upd/purchase"),
          fromDate = Some(jts("2024-01-01")), toDate = Some(jts("2024-01-30")),
          freq = Some("1d"))
        .withColumnRenamed("upd/purchase", "value")
    },
    Some("""WITH data AS (SELECT ts AS time,
           |    CASE WHEN ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-15'
           |         THEN value * 2.0 ELSE value END AS value
           |  FROM events WHERE event_type = 'purchase'),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
           |                 TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS time)
           |SELECT g.time, d.value FROM grid g ASOF LEFT JOIN data d ON d.time <= g.time""".stripMargin))

  private val fsStoreChanges = Q(
    "fs_store_changes",
    // CDC-lite incremental consumption: two appends, then read ONLY
    // what landed after the first append's version — the files the
    // later snapshot references that the earlier one doesn't. At
    // 100 TB this is how a downstream pipeline keeps up with a feature
    // table: consume new files since the last processed version, no
    // re-scan. The oracle recomputes batch 2 from raw events with the
    // same deterministic md5 batch split.
    (s, dir) => {
      val tmp = scratchDir("cdcrt")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("cdc", s"$tmp/warehouse", backend = "txlog")
      fs.createFeature("cdc/purchase")
      val src = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts").as("time"), col("value"))
      // integer batch split (epoch-micros parity): no string formatting
      // for the oracle to mis-mirror
      val batch = pmod(unix_micros(col("time")), lit(2L))
      fs.saveDataFrame(src.filter(batch === 0), name = Some("cdc/purchase"))
      val v1 = fs.featureVersion("cdc/purchase")
      fs.saveDataFrame(src.filter(batch === 1), name = Some("cdc/purchase"))
      fs.readFeatureChanges("cdc/purchase", fromVersion = v1)
        .select(col("time"), col("value"))
    },
    Some("""SELECT ts AS time, value FROM events
           |WHERE event_type = 'purchase' AND epoch_us(ts) % 2 = 1""".stripMargin))

  private val fsIncrementalAgg = Q(
    "fs_incremental_agg",
    // The change feed CONSUMED: a downstream daily (sum, count)
    // aggregate maintained incrementally from readFeatureChanges — two
    // appends, each folded into the running state by aggregating ONLY
    // that version range's adds and merging by group (sum-of-sums) —
    // and the result must hash-equal the oracle's full recompute over
    // all raw events. At 100 TB this is the materialized-view
    // maintenance shape: per refresh, touch the delta files, never
    // re-scan the table (the add-only feed supports exactly this
    // append-only case; deletes/updates need a snapshot re-read — the
    // facade's documented contract). Sums ride decimal(18,2) so the
    // merge order can't perturb an IEEE accumulation.
    (s, dir) => {
      val tmp = scratchDir("incagg")
      val fs = new graft.api.FeatureStore(s, s"$tmp/catalog.json")
      fs.createNamespace("inc", s"$tmp/warehouse", backend = "txlog")
      fs.createFeature("inc/metric")
      val src = T(s, dir, "events").filter(col("event_type") === "view")
        .select(col("ts").as("time"), col("value"))
      val day = expr("unix_micros(time) div 86400000000")
      // versions are 0-based: the pre-save anchor on a fresh log is -1
      // (latestVersion of an empty log), NOT 0 = the first commit
      val v0 = fs.featureVersion("inc/metric")
      fs.saveDataFrame(src.filter(day % 2 === 0), name = Some("inc/metric"))
      val v1 = fs.featureVersion("inc/metric")
      fs.saveDataFrame(src.filter(day % 2 === 1), name = Some("inc/metric"))
      val v2 = fs.featureVersion("inc/metric")
      def deltaAgg(from: Long, to: Long) =
        fs.readFeatureChanges("inc/metric", fromVersion = from, toVersion = Some(to))
          .groupBy(expr("unix_micros(time) div 86400000000").as("day"))
          .agg(sum(dec(col("value"))).as("s"), count(lit(1)).as("n"))
      // state after refresh 1, then refresh 2 folds its delta in
      deltaAgg(v0, v1).unionByName(deltaAgg(v1, v2))
        .groupBy(col("day"))
        .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
        .select(col("day"), col("s").cast("double").as("sum_value"),
          col("n").as("n"))
    },
    Some("""SELECT epoch_us(ts) // 86400000000 AS day,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM events WHERE event_type = 'view' GROUP BY 1""".stripMargin))

  private val qCusumShift = Q(
    "q_cusum_shift",
    // CUSUM level-shift detection (Page 1954) per event_type, closed
    // over the month: hourly decimal-exact means fold through
    // S⁺/S⁻ = max(0, S + ±(x − μ) − slack) in fixed (hour) order —
    // TimeseriesOps.cusum streams each sorted group through the
    // recurrence (flatMapSortedGroups, one exchange, no collect_list
    // materialization), and DuckDB folding the same sorted list
    // (list_reduce over a 0.0-prepended list — CUSUM starts at 0, not
    // at x₀ like EWMA) matches bit-for-bit. μ is the exact-cents
    // per-type mean closed by one IEEE division; the fold input is the
    // bounded hourly grid, never raw events — the recurrence is
    // sequential by nature, so the pre-aggregation is what makes it
    // viable at 100 TB (744 points/key/month regardless of corpus).
    (s, dir) => {
      val ev = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"),
          (unix_timestamp(col("ts")) / 3600).cast("long").as("hx"),
          round(col("value") * 100).cast("decimal(38,0)").as("cents"))
      val hr = ev.groupBy(col("event_type"), col("hx"))
        .agg((sum(col("cents")).cast("double") / (lit(100.0) * count(lit(1)))).as("m"))
      val mu = ev.groupBy(col("event_type"))
        .agg((sum(col("cents")).cast("double") / (lit(100.0) * count(lit(1)))).as("mu"))
      TimeseriesOps.cusum(hr.join(broadcast(mu), Seq("event_type")),
          keyCol = "event_type", orderCol = "hx", valueCol = "m",
          targetCol = "mu", slack = 2.0)
        .select(col("event_type"),
          round(col("cusum_pos"), 6).as("cusum_pos"),
          round(col("cusum_neg"), 6).as("cusum_neg"),
          col("n_points").as("n_hours"))
    },
    Some("""WITH ev AS (
           |  SELECT event_type, (epoch_us(ts)//1000000) // 3600 AS hx,
           |         CAST(round(value*100) AS HUGEINT) AS cents
           |  FROM events WHERE value IS NOT NULL),
           |hr AS (
           |  SELECT event_type, hx, CAST(sum(cents) AS DOUBLE) / (100.0 * count(*)) AS m
           |  FROM ev GROUP BY 1, 2),
           |mu AS (
           |  SELECT event_type, CAST(sum(cents) AS DOUBLE) / (100.0 * count(*)) AS mu
           |  FROM ev GROUP BY 1)
           |SELECT h.event_type,
           |  round(list_reduce(list_prepend(0.0, list(h.m ORDER BY h.hx)),
           |    (acc, x) -> greatest(0.0, acc + (x - any_value(u.mu) - 2.0))), 6) AS cusum_pos,
           |  round(list_reduce(list_prepend(0.0, list(h.m ORDER BY h.hx)),
           |    (acc, x) -> greatest(0.0, acc + (any_value(u.mu) - x - 2.0))), 6) AS cusum_neg,
           |  CAST(count(*) AS BIGINT) AS n_hours
           |FROM hr h JOIN mu u USING (event_type)
           |GROUP BY 1""".stripMargin))

  private val fsHoltWinters = Q(
    "fs_holt_winters",
    // Holt's double exponential smoothing per event_type
    // (TimeseriesOps.holtWinters) — the level+trend one-step
    // forecaster next to fs_ewma_last (level only) and q_cusum_shift
    // (shift detection), folded over the same bounded hourly-mean grid
    // in fixed hx order. The oracle folds the identical recurrence via
    // list_reduce over (l, b) structs seeded (x₀, 0). Smoothing
    // constants are chosen so BOTH α/β and their complements are
    // exactly-parsed literals in both engines (0.5/0.25 — `1.0 − 0.3`
    // is not the double "0.7" parses to, and a one-ulp seed difference
    // compounds through every fold step); one round(6) per output.
    (s, dir) => {
      val ev = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"),
          (unix_timestamp(col("ts")) / 3600).cast("long").as("hx"),
          round(col("value") * 100).cast("decimal(38,0)").as("cents"))
      val hr = ev.groupBy(col("event_type"), col("hx"))
        .agg((sum(col("cents")).cast("double") / (lit(100.0) * count(lit(1)))).as("m"))
      TimeseriesOps.holtWinters(hr, keyCol = "event_type", orderCol = "hx",
          valueCol = "m", alpha = 0.5, beta = 0.25)
        .select(col("event_type"),
          round(col("level"), 6).as("level"),
          round(col("trend"), 6).as("trend"),
          round(col("forecast"), 6).as("forecast"),
          col("n_points").as("n_hours"))
    },
    // NOT a list_reduce oracle like cusum: DuckDB's list_reduce
    // evaluates a struct accumulator's fields SEQUENTIALLY, so the b
    // field's expression sees the ALREADY-UPDATED acc.l (measured:
    // fold [(1,0),(5,0),(3,0)] gives b=0.40625, not the 0.4375 a
    // simultaneous update yields) — a two-state recurrence must ride a
    // recursive CTE, where each step's frame is immutable by
    // construction and the l/b expressions share one textual (hence
    // one IEEE) l′.
    Some("""WITH RECURSIVE ev AS (
           |  SELECT event_type, (epoch_us(ts)//1000000) // 3600 AS hx,
           |         CAST(round(value*100) AS HUGEINT) AS cents
           |  FROM events WHERE value IS NOT NULL),
           |hr AS (
           |  SELECT event_type, hx, CAST(sum(cents) AS DOUBLE) / (100.0 * count(*)) AS m
           |  FROM ev GROUP BY 1, 2),
           |seq AS (SELECT event_type, m,
           |          row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn
           |        FROM hr),
           |hw AS (
           |  SELECT event_type, rn, m AS l, CAST(0.0 AS DOUBLE) AS b
           |  FROM seq WHERE rn = 1
           |  UNION ALL
           |  SELECT s.event_type, s.rn,
           |         0.5*s.m + 0.5*(h.l + h.b) AS l,
           |         0.25*((0.5*s.m + 0.5*(h.l + h.b)) - h.l) + 0.75*h.b AS b
           |  FROM hw h JOIN seq s ON s.event_type = h.event_type AND s.rn = h.rn + 1),
           |f AS (SELECT event_type, l, b, rn,
           |        row_number() OVER (PARTITION BY event_type ORDER BY rn DESC) AS rk
           |      FROM hw)
           |SELECT event_type, round(l, 6) AS level, round(b, 6) AS trend,
           |       round(l + b, 6) AS forecast, CAST(rn AS BIGINT) AS n_hours
           |FROM f WHERE rk = 1""".stripMargin))

  private val fsSeasonalAnomaly = Q(
    "fs_seasonal_anomaly",
    // Seasonal anomaly detection (TimeseriesOps.seasonalAnomalies):
    // profile each event_type per hour-of-day, flag rows whose squared
    // residual exceeds 3² cell variances. The DECISION is all-integer
    // cents arithmetic — (n·x − Σx)² > 9·(n·Σx² − (Σx)²) — so no IEEE
    // op can flip a borderline row between engines; the reported zsq is
    // the one closing cast-cast-divide, rounded at 6. Shape: the
    // (type × 24) profile is metadata-sized and broadcasts back onto
    // the events — the event side never shuffles, which is the whole
    // 100 TB story: one scan + one tiny hash-agg + a broadcast join.
    (s, dir) => TimeseriesOps.seasonalAnomalies(
        T(s, dir, "events").select(col("event_id"), col("event_type"),
          col("ts"), col("value")),
        keyCol = "event_type", idCol = "event_id", timeCol = "ts")
      .select(col("event_id"), col("event_type"), col("bucket"),
        col("cents").cast("long").as("cents"), col("zsq")),
    Some("""WITH ev AS (
           |  SELECT event_id, event_type,
           |    (epoch_us(ts)//1000000) // 3600 % 24 AS bucket,
           |    CAST(round(value*100) AS HUGEINT) AS cents
           |  FROM events WHERE value IS NOT NULL),
           |prof AS (
           |  SELECT event_type, bucket, count(*) AS n, sum(cents) AS sx, sum(cents*cents) AS sxx
           |  FROM ev GROUP BY 1, 2)
           |SELECT e.event_id, e.event_type, e.bucket, CAST(e.cents AS BIGINT) AS cents,
           |  round(CAST((p.n*e.cents - p.sx)*(p.n*e.cents - p.sx) AS DOUBLE) /
           |        CAST(p.n*p.sxx - p.sx*p.sx AS DOUBLE), 6) AS zsq
           |FROM ev e JOIN prof p USING (event_type, bucket)
           |WHERE (p.n*e.cents - p.sx)*(p.n*e.cents - p.sx) > 9 * (p.n*p.sxx - p.sx*p.sx)""".stripMargin))

  private val mlCovariance = Q(
    "ml_covariance",
    // Exact population covariance matrix (MlPrep.covarianceMatrix) over
    // the four lineitem measures — the PCA/whitening precursor. ONE
    // aggregation pass computes every Σxᵢ and Σxᵢxⱼ in integer-cents
    // decimal space (k columns = one scan + a 1-row reduce, never k²
    // passes); each covariance is (n·Σxy − Σx·Σy)/(n²·10⁴) with the
    // two casts and one division as the only IEEE steps, rounded at 6.
    (s, dir) => graft.functions.MlPrep.covarianceMatrix(
      T(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    Some("""WITH s AS (SELECT count(*) AS n,
           |  sum(CAST(round(l_quantity*100) AS HUGEINT)) AS s0,
           |  sum(CAST(round(l_extendedprice*100) AS HUGEINT)) AS s1,
           |  sum(CAST(round(l_discount*100) AS HUGEINT)) AS s2,
           |  sum(CAST(round(l_tax*100) AS HUGEINT)) AS s3,
           |  sum(CAST(round(l_quantity*100) AS HUGEINT)*CAST(round(l_quantity*100) AS HUGEINT)) AS p00,
           |  sum(CAST(round(l_quantity*100) AS HUGEINT)*CAST(round(l_extendedprice*100) AS HUGEINT)) AS p01,
           |  sum(CAST(round(l_quantity*100) AS HUGEINT)*CAST(round(l_discount*100) AS HUGEINT)) AS p02,
           |  sum(CAST(round(l_quantity*100) AS HUGEINT)*CAST(round(l_tax*100) AS HUGEINT)) AS p03,
           |  sum(CAST(round(l_extendedprice*100) AS HUGEINT)*CAST(round(l_extendedprice*100) AS HUGEINT)) AS p11,
           |  sum(CAST(round(l_extendedprice*100) AS HUGEINT)*CAST(round(l_discount*100) AS HUGEINT)) AS p12,
           |  sum(CAST(round(l_extendedprice*100) AS HUGEINT)*CAST(round(l_tax*100) AS HUGEINT)) AS p13,
           |  sum(CAST(round(l_discount*100) AS HUGEINT)*CAST(round(l_discount*100) AS HUGEINT)) AS p22,
           |  sum(CAST(round(l_discount*100) AS HUGEINT)*CAST(round(l_tax*100) AS HUGEINT)) AS p23,
           |  sum(CAST(round(l_tax*100) AS HUGEINT)*CAST(round(l_tax*100) AS HUGEINT)) AS p33
           |  FROM lineitem)
           |SELECT 'l_quantity' AS x, 'l_quantity' AS y, round(CAST(n*p00 - s0*s0 AS DOUBLE) / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*10000.0), 6) AS cov FROM s
           |UNION ALL SELECT 'l_quantity', 'l_extendedprice', round(CAST(n*p01 - s0*s1 AS DOUBLE) / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*10000.0), 6) FROM s
           |UNION ALL SELECT 'l_quantity', 'l_discount', round(CAST(n*p02 - s0*s2 AS DOUBLE) / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*10000.0), 6) FROM s
           |UNION ALL SELECT 'l_quantity', 'l_tax', round(CAST(n*p03 - s0*s3 AS DOUBLE) / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*10000.0), 6) FROM s
           |UNION ALL SELECT 'l_extendedprice', 'l_extendedprice', round(CAST(n*p11 - s1*s1 AS DOUBLE) / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*10000.0), 6) FROM s
           |UNION ALL SELECT 'l_extendedprice', 'l_discount', round(CAST(n*p12 - s1*s2 AS DOUBLE) / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*10000.0), 6) FROM s
           |UNION ALL SELECT 'l_extendedprice', 'l_tax', round(CAST(n*p13 - s1*s3 AS DOUBLE) / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*10000.0), 6) FROM s
           |UNION ALL SELECT 'l_discount', 'l_discount', round(CAST(n*p22 - s2*s2 AS DOUBLE) / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*10000.0), 6) FROM s
           |UNION ALL SELECT 'l_discount', 'l_tax', round(CAST(n*p23 - s2*s3 AS DOUBLE) / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*10000.0), 6) FROM s
           |UNION ALL SELECT 'l_tax', 'l_tax', round(CAST(n*p33 - s3*s3 AS DOUBLE) / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*10000.0), 6) FROM s""".stripMargin))

  private val dqExpectations = Q(
    "dq_expectations",
    // Multi-table declarative expectation suite (DataQuality.suite) in
    // the LONG report format a pipeline persists and alerts on — and
    // the r15 constraint extensions under the gate: MatchesRegex
    // (format contract on the serialized props) and ForeignKey
    // (referential integrity as a broadcast anti-join — the dimension
    // side is a distinct 1-column projection, the fact side never
    // shuffles). Each table pays ONE scan for all its row-level checks;
    // Unique/ForeignKey add their own map-side-combined jobs; the
    // unpivot explodes the 1-row wide report — metadata-sized however
    // wide the suite gets.
    (s, dir) => {
      import graft.functions.DataQuality._
      suite(Seq(
        ("orders", T(s, dir, "orders"), Seq(
          NotNull("o_totalprice"),
          InRange("o_totalprice", 0.0, 400000.0),
          InSet("o_orderstatus", Seq("O", "F", "P")),
          Unique(Seq("o_orderkey")),
          ForeignKey("o_custkey", T(s, dir, "customer"), "c_custkey"))),
        ("events", T(s, dir, "events"), Seq(
          NotNull("value"),
          InRange("value", 0.0, 400.0),
          MatchesRegex("props", """^\{"k": [0-9]{2}\}$""")))))
        .withColumn("passed", col("passed").cast("int"))
    },
    Some("""SELECT 'orders' AS tbl, 'not_null' AS expectation, 'o_totalprice' AS column,
           |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           |  CAST(count(*) AS BIGINT) AS total,
           |  CAST(CASE WHEN sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS INT) AS passed
           |FROM orders
           |UNION ALL
           |SELECT 'orders', 'in_range', 'o_totalprice',
           |  CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND (o_totalprice < 0 OR o_totalprice > 400000) THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(count(*) AS BIGINT),
           |  CAST(CASE WHEN sum(CASE WHEN o_totalprice IS NOT NULL AND (o_totalprice < 0 OR o_totalprice > 400000) THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS INT)
           |FROM orders
           |UNION ALL
           |SELECT 'orders', 'in_set', 'o_orderstatus',
           |  CAST(sum(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(count(*) AS BIGINT),
           |  CAST(CASE WHEN sum(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS INT)
           |FROM orders
           |UNION ALL
           |SELECT 'orders', 'unique', 'o_orderkey',
           |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT), CAST(count(*) AS BIGINT),
           |  CAST(CASE WHEN count(*) = count(DISTINCT o_orderkey) THEN 1 ELSE 0 END AS INT)
           |FROM orders
           |UNION ALL
           |SELECT 'orders', 'foreign_key', 'o_custkey',
           |  (SELECT CAST(count(*) AS BIGINT) FROM orders o WHERE o.o_custkey IS NOT NULL
           |     AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
           |  CAST(count(*) AS BIGINT),
           |  CAST(CASE WHEN (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
           |     AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0 THEN 1 ELSE 0 END AS INT)
           |FROM orders
           |UNION ALL
           |SELECT 'events', 'not_null', 'value',
           |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT), CAST(count(*) AS BIGINT),
           |  CAST(CASE WHEN sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS INT)
           |FROM events
           |UNION ALL
           |SELECT 'events', 'in_range', 'value',
           |  CAST(sum(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 400) THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(count(*) AS BIGINT),
           |  CAST(CASE WHEN sum(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 400) THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS INT)
           |FROM events
           |UNION ALL
           |SELECT 'events', 'matches_regex', 'props',
           |  CAST(sum(CASE WHEN props IS NOT NULL AND NOT regexp_matches(props, '^\{"k": [0-9]{2}\}$') THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(count(*) AS BIGINT),
           |  CAST(CASE WHEN sum(CASE WHEN props IS NOT NULL AND NOT regexp_matches(props, '^\{"k": [0-9]{2}\}$') THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS INT)
           |FROM events""".stripMargin))

  private val txtTfidfPairs = Q(
    "txt_tfidf_pairs",
    // Sparse tf-idf pairwise cosine (SimilarityOps.tfidfPairs): the
    // bag-of-words twin of the embedding dedup paths — inverted index,
    // df-prune, postings self-join, integer dot products. Candidate
    // volume is Σ_t df(t)² over SURVIVING terms, so the max-df prune
    // (df·20 ≤ N: stopwords out) is what caps the join at scale
    // (Bayardo et al., WWW 2007). Membership at cos ≥ 3/5 is the
    // all-integer comparison 25·dot² ≥ 9·‖a‖²·‖b‖² — no IEEE op
    // decides it; the reported cosine is the closing cast-mul-sqrt-
    // divide, rounded at 6. Weights use the integer-log idf
    // (bit-length of N/df, the native BinLength) — `ln` is not
    // cross-engine-stable, bit-length is.
    (s, dir) => SimilarityOps.tfidfPairs(
      spread(T(s, dir, "documents")), idCol = "doc_id", textCol = "text",
      minCosNum = 3, minCosDen = 5),
    Some("""WITH tf AS (
           |  SELECT doc_id, term, count(*) AS tf
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
           |  WHERE term <> '' GROUP BY 1, 2),
           |corp AS (SELECT count(*) AS n FROM documents),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |w AS (
           |  SELECT t.doc_id, t.term,
           |         CAST(t.tf * length(bin(CAST((SELECT n FROM corp) // d.df AS BIGINT))) AS HUGEINT) AS w
           |  FROM tf t JOIN df d USING (term)
           |  WHERE d.df * 20 <= (SELECT n FROM corp) AND d.df >= 2),
           |nrm AS (SELECT doc_id, sum(w*w) AS nn FROM w GROUP BY 1),
           |dots AS (
           |  SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.w*b.w) AS dot
           |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT d1, d2, CAST(dot AS BIGINT) AS dot,
           |  round(CAST(dot AS DOUBLE) / sqrt(CAST(n1.nn AS DOUBLE) * CAST(n2.nn AS DOUBLE)), 6) AS cos
           |FROM dots JOIN nrm n1 ON n1.doc_id = d1 JOIN nrm n2 ON n2.doc_id = d2
           |WHERE 25 * dot * dot >= 9 * n1.nn * n2.nn""".stripMargin))

  private val dedupContainment = Q(
    "dedup_containment",
    // Doc-IN-doc detection (SimilarityOps.containmentPairs): containment
    // C = shared/min(|A|,|B|) over trigram shingle digests via an
    // inverted index — the near-dup class resemblance-LSH structurally
    // misses (a short doc quoted inside a long one has J ≈ |A|/|B| ≈ 0).
    // The exact shared-count falls out of the candidate join itself (no
    // second verify pass); maxDf = 50 caps candidate volume at
    // maxDf · |index| (Bayardo WWW'07). Membership is the all-integer
    // test 5·shared ≥ 4·min; the reported containment is the one
    // closing divide, rounded at 6.
    (s, dir) => SimilarityOps.containmentPairs(
      spread(T(s, dir, "documents")).select(
        col("doc_id"), digestShingles(TextOps.wordShingles(toks, 3)).as("sh"))
        .filter(size(col("sh")) > 0),
      idCol = "doc_id", setCol = "sh",
      minContainNum = 4, minContainDen = 5, maxDf = 50),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |g0 AS (SELECT doc_id, list_distinct(list_transform(list_transform(range(1, len(tk) - 1), i ->
           |         concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])), s -> substr(md5(s), 1, 12))) AS sh FROM toks),
           |g AS (SELECT doc_id, unnest(sh) AS gr FROM g0 WHERE len(sh) > 0),
           |d AS (SELECT gr, count(*) AS df FROM g GROUP BY 1),
           |surv AS (SELECT g.doc_id, g.gr FROM g JOIN d USING (gr) WHERE d.df <= 50),
           |sz AS (SELECT doc_id, count(*) AS sz FROM surv GROUP BY 1),
           |sh AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
           |       FROM surv a JOIN surv b ON a.gr = b.gr AND a.doc_id < b.doc_id
           |       GROUP BY 1, 2)
           |SELECT d1, d2, CAST(shared AS BIGINT) AS shared,
           |  CAST(s1.sz AS BIGINT) AS n1, CAST(s2.sz AS BIGINT) AS n2,
           |  round(CAST(shared AS DOUBLE) / CAST(least(s1.sz, s2.sz) AS DOUBLE), 6) AS containment
           |FROM sh JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2
           |WHERE 5 * shared >= 4 * least(s1.sz, s2.sz)""".stripMargin))

  private val qMarketBasket = Q(
    "q_market_basket",
    // Market-basket association rules (Associations.coOccurrence):
    // parts co-purchased within an order, with support ≥ 3, confidence
    // = co/count(a), lift = co·N/(count(a)·count(b)). The pair join is
    // per-order (items-per-order is bounded, so candidates are linear
    // in orders), pair counts combine map-side, item totals join back
    // dictionary-sized, and the 1-row order count broadcasts. All
    // counts are exact integers; each rate closes with one IEEE
    // division, rounded at 6.
    (s, dir) => graft.functions.Associations.coOccurrence(
      T(s, dir, "lineitem"), basketCol = "l_orderkey", itemCol = "l_partkey",
      minCo = 3L),
    Some("""WITH li AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
           |n AS (SELECT count(DISTINCT bk) AS n FROM li),
           |cnt AS (SELECT it, count(*) AS c FROM li GROUP BY 1),
           |co AS (SELECT a.it AS item_a, b.it AS item_b, count(*) AS co
           |       FROM li a JOIN li b ON a.bk = b.bk AND a.it < b.it
           |       GROUP BY 1, 2)
           |SELECT item_a, item_b, CAST(co AS BIGINT) AS co_count,
           |  CAST(c1.c AS BIGINT) AS count_a, CAST(c2.c AS BIGINT) AS count_b,
           |  round(CAST(co AS DOUBLE) / CAST(c1.c AS DOUBLE), 6) AS confidence,
           |  round(CAST(co * (SELECT n FROM n) AS DOUBLE) / CAST(c1.c * c2.c AS DOUBLE), 6) AS lift
           |FROM co JOIN cnt c1 ON c1.it = item_a JOIN cnt c2 ON c2.it = item_b
           |WHERE co >= 3""".stripMargin))

  private val qAcfHourly = Q(
    "q_acf_hourly",
    // Lag autocorrelation (TimeseriesOps.acf) of each event_type's
    // hourly cents-TOTAL series at lags 1-3 — the seasonality/
    // persistence probe. The hourly pre-aggregation is the 100 TB
    // story: the lag self-join aligns a calendar-sized grid (744
    // points/key/month), never raw events, and every Σ is exact
    // integer-cents decimal so the Pearson r is decided by one closing
    // cast-mul-sqrt-divide, rounded at 6. Zero-variance slices are
    // dropped by the exact integer test before any division.
    (s, dir) => {
      val hourly = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"),
          (unix_timestamp(col("ts")) / 3600).cast("long").as("hx"),
          round(col("value") * 100).cast("decimal(38,0)").as("cents"))
        .groupBy(col("event_type"), col("hx"))
        .agg(sum(col("cents")).as("x"))
      TimeseriesOps.acf(hourly, keyCol = "event_type", orderCol = "hx",
        valueCol = "x", lags = Seq(1, 2, 3))
    },
    Some("""WITH h AS (
           |  SELECT event_type, (epoch_us(ts)//1000000) // 3600 AS hx,
           |         sum(CAST(round(value*100) AS HUGEINT)) AS x
           |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
           |p AS (
           |  SELECT a.event_type, l.lag, a.x AS xa, b.x AS xb
           |  FROM h a
           |  JOIN (VALUES (1), (2), (3)) l(lag) ON true
           |  JOIN h b ON b.event_type = a.event_type AND b.hx = a.hx + l.lag),
           |s AS (
           |  SELECT event_type, lag, count(*) AS m,
           |         sum(xa) AS sx, sum(xb) AS sy, sum(xa*xb) AS sxy,
           |         sum(xa*xa) AS sxx, sum(xb*xb) AS syy
           |  FROM p GROUP BY 1, 2)
           |SELECT event_type, CAST(lag AS INT) AS lag, CAST(m AS BIGINT) AS n_pairs,
           |  round(CAST(m*sxy - sx*sy AS DOUBLE) /
           |        sqrt(CAST(m*sxx - sx*sx AS DOUBLE) * CAST(m*syy - sy*sy AS DOUBLE)), 6) AS acf
           |FROM s WHERE m*sxx - sx*sx > 0 AND m*syy - sy*sy > 0""".stripMargin))

  private val fsStreamCusum = Q(
    "fs_stream_cusum",
    // §2.10: streaming CUSUM against a fixed target —
    // mapGroupsWithState carries (n, S⁺, S⁻) per user across four real
    // time-ordered micro-batches (the fs_stream_ewma scaffold). Within
    // a batch rows fold in (ts, value) order on top of the carried
    // state, so the stream's final state must equal the batch fold —
    // the oracle is the same DuckDB list_reduce pair as q_cusum_shift
    // with a constant μ, making this the stream/batch-parity hash gate
    // for the Page recurrence: a torn batch, doubled replay, or
    // unsorted in-batch fold all diverge in the last ulp and hash red.
    (s, dir) => {
      val tmp = scratchDir("scusum")
      val src = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("ts"), col("user_id"), col("value"))
      // tag shared with fs_stream_ewma (same source, cuts, sentinel)
      val srcDir = stageTimeOrderedReplay("svreplay", dir, tmp, src, weeklySlice,
        sentinel = src.limit(0)) // empty: nothing must perturb any key's state
      val updates = replayToMemory(s, srcDir, src.schema, OutputMode.Update())(
        graft.streaming.EventStreams.cusumStream(_, target = 50.0, slack = 2.0, keyCol = "user_id")
          .toDF("user_id", "n", "cusum_pos", "cusum_neg"))
      // the final state per key is the update with the largest n
      updates.groupBy(col("user_id"))
        .agg(max_by(struct(col("cusum_pos"), col("cusum_neg")), col("n")).as("f"),
          max(col("n")).as("n"))
        .select(col("user_id").cast("long").as("user_id"), col("n"),
          col("f.cusum_pos").as("cusum_pos"), col("f.cusum_neg").as("cusum_neg"))
    },
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           |  list_reduce(list_prepend(0.0, list(value ORDER BY ts, value)),
           |    (acc, x) -> greatest(0.0, acc + (x - 50.0 - 2.0))) AS cusum_pos,
           |  list_reduce(list_prepend(0.0, list(value ORDER BY ts, value)),
           |    (acc, x) -> greatest(0.0, acc + (50.0 - x - 2.0))) AS cusum_neg
           |FROM events WHERE value IS NOT NULL
           |GROUP BY user_id""".stripMargin))

  private val fsStreamQuota = Q(
    "fs_stream_quota",
    // §2.10, 23rd streaming certification: per-key QUOTA enforcement —
    // flatMapGroupsWithState carrying ONE counter per user across four
    // real time-ordered micro-batches, each purchase emitted once with
    // its arrival index and admitted verdict (the streaming rate-cap in
    // front of a hot source). The oracle is the batch row_number
    // formulation over (ts, event_id) — stream/batch parity for the
    // cheapest custom state shape: a doubled replay, torn batch or
    // unsorted in-batch fold shifts every later index and hashes red.
    (s, dir) => {
      val tmp = scratchDir("squota")
      val src = T(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("ts"), col("user_id"), col("event_id"))
      val srcDir = stageTimeOrderedReplay("squota", dir, tmp, src, weeklySlice,
        sentinel = src.limit(0))
      replayToMemory(s, srcDir, src.schema, OutputMode.Append())(
        graft.streaming.EventStreams.quotaStream(_,
            keyCol = "user_id", timeCol = "ts", idCol = "event_id", cap = 3L)
          .toDF("user_id", "event_id", "seq", "admitted"))
        .select("user_id", "event_id", "seq", "admitted")
    },
    Some("""SELECT user_id, event_id,
           |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           |       AS BIGINT) AS seq,
           |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) <= 3
           |    AS admitted
           |FROM events WHERE event_type = 'purchase'""".stripMargin))

  private val fsStreamTopk = Q(
    "fs_stream_topk",
    // §2.10, 24th streaming certification: BOUNDED-STATE heavy hitters
    // on a live stream (EventStreams.mgCandidatesStream) — per-bucket
    // Misra-Gries summaries folded ACROSS four time-ordered
    // micro-batches (state ≤ capacity counters per bucket forever),
    // then the candidates' exact recount with the share cut. The
    // streaming twin of q_approx_topk: the MG superset guarantee holds
    // under ANY batching, so the recounted qualifiers must equal the
    // batch oracle's naive groupBy + HAVING bit-for-bit — a dropped
    // batch, a state round-trip loss, or a broken cross-batch fold
    // loses a candidate and hashes red. minShare 0.2 = the guarantee
    // line for capacity 4 (1/(cap+1)); at sf0.01 three of the five
    // event types sit just above the cut and two just below — the
    // boundary does real work.
    (s, dir) => {
      val tmp = scratchDir("stopk")
      val src = T(s, dir, "events").select(col("ts"), col("event_type"))
      val srcDir = stageTimeOrderedReplay("stopk", dir, tmp, src, weeklySlice,
        sentinel = src.limit(0))
      val summaries = replayToMemory(s, srcDir, src.schema, OutputMode.Append())(
        graft.streaming.EventStreams.mgCandidatesStream(_,
            keyCol = "event_type", buckets = 4, capacity = 4)
          .toDF("bucket", "epoch", "k"))
      // each bucket's FINAL summary = its last-epoch emission; the
      // recount replays the very files that streamed
      // window-rank, not a self-join: a MemoryPlan joined against an
      // aggregate of itself trips conflicting-reference resolution
      val wLast = Window.partitionBy(col("bucket")).orderBy(col("epoch").desc)
      val cands = summaries
        .withColumn("__rk", rank().over(wLast)).filter(col("__rk") === 1)
        .select(col("k").as("event_type")).distinct()
      val replayed = s.read.parquet(srcDir).select(col("event_type"))
      val total = replayed.agg(count(lit(1)).as("n"))
      replayed.join(broadcast(cands), Seq("event_type"), "left_semi")
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt").cast("double") > col("n").cast("double") * lit(0.2))
        .select(col("event_type"), col("cnt"),
          round(col("cnt").cast("double") / col("n").cast("double"), 6).as("share"))
    },
    Some("""WITH n AS (SELECT count(*) AS n FROM events),
           |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
           |      FROM events GROUP BY 1)
           |SELECT event_type, cnt,
           |       round(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share
           |FROM c, n WHERE CAST(cnt AS DOUBLE) > CAST(n AS DOUBLE) * 0.2""".stripMargin))

  private val mlAuc = Q(
    "ml_auc",
    // Exact ROC-AUC (Eval.aucExact) of "value predicts purchase" — the
    // model-eval primitive, via the rank-sum identity with average-rank
    // ties DOUBLED to stay integral: Σ_v pos_v·(2·cum_before + c + 1)
    // over the value DICTIONARY (one hash-agg collapses the corpus to
    // ≤40k cents buckets; the rank walk is metadata-sized), one closing
    // IEEE division rounded at 6. AUC ≈ 0.49: value genuinely does not
    // predict purchase in this synthetic data — the gate pins the
    // arithmetic, not the model.
    (s, dir) => graft.functions.Eval.aucExact(
      T(s, dir, "events").filter(col("value").isNotNull),
      labelCol = col("event_type") === "purchase",
      scoreCol = round(col("value") * 100)),
    Some("""WITH e AS (
           |  SELECT CAST(round(value*100) AS HUGEINT) AS v,
           |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           |  FROM events WHERE value IS NOT NULL),
           |g AS (SELECT v, count(*) AS cnt, sum(pos) AS pos FROM e GROUP BY 1),
           |w AS (SELECT v, cnt, pos,
           |        coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           |      FROM g),
           |s AS (SELECT sum(pos*(2*cb + cnt + 1)) AS s2, sum(pos) AS np, sum(cnt - pos) AS nn FROM w)
           |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           |  round(CAST(s2 - np*(np+1) AS DOUBLE) / CAST(2*np*nn AS DOUBLE), 6) AS auc
           |FROM s WHERE np > 0 AND nn > 0""".stripMargin))

  private val mlKsDrift = Q(
    "ml_ks_drift",
    // Exact two-sample Kolmogorov-Smirnov drift (Drift.ksCompare):
    // first half of the month as the reference window vs the second as
    // current, per event_type — the binning-free CDF drift alarm
    // complementing q_drift_hist's chi-square histogram. The max runs
    // over the INTEGER |cum_ref·n_cur − cum_cur·n_ref| so no per-step
    // division can drift cross-engine; one closing division, rounded
    // at 6; the cumulative walk rides the value dictionary.
    (s, dir) => graft.functions.Drift.ksCompare(
      T(s, dir, "events").filter(col("value").isNotNull),
      keyCol = "event_type",
      valueCol = round(col("value") * 100),
      isReference = col("ts") < lit("2024-01-16").cast("timestamp")),
    Some("""WITH e AS (
           |  SELECT event_type, CAST(round(value*100) AS HUGEINT) AS v,
           |         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS ref
           |  FROM events WHERE value IS NOT NULL),
           |g AS (SELECT event_type, v, sum(ref) AS c1, sum(1 - ref) AS c2 FROM e GROUP BY 1, 2),
           |w AS (SELECT event_type, v,
           |        sum(c1) OVER (PARTITION BY event_type ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
           |        sum(c2) OVER (PARTITION BY event_type ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
           |        sum(c1) OVER (PARTITION BY event_type) AS n1,
           |        sum(c2) OVER (PARTITION BY event_type) AS n2
           |      FROM g),
           |m AS (SELECT event_type, any_value(n1) AS n1, any_value(n2) AS n2,
           |        max(abs(cum1*n2 - cum2*n1)) AS d FROM w GROUP BY 1)
           |SELECT event_type, CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
           |  round(CAST(d AS DOUBLE) / CAST(n1*n2 AS DOUBLE), 6) AS ks
           |FROM m WHERE n1 > 0 AND n2 > 0""".stripMargin))

  private val qGini = Q(
    "q_gini",
    // Exact Gini concentration per event_type (Eval.gini) — "how
    // concentrated is value across events": the doubled rank-sum
    // Σ v·(2·c·cum_before + c·(c+1)) over the per-key value dictionary
    // (tie blocks contribute a closed form, so physical row order is
    // irrelevant at any parallelism), G = (num − (n+1)·Σx)/(n·Σx) with
    // one closing IEEE division rounded at 6. ~0.5 on uniform [0,400]:
    // the gate pins the rank arithmetic.
    (s, dir) => graft.functions.Eval.gini(
      T(s, dir, "events").filter(col("value").isNotNull),
      keyCol = "event_type",
      valueCol = round(col("value") * 100)),
    Some("""WITH e AS (
           |  SELECT event_type, CAST(round(value*100) AS HUGEINT) AS v
           |  FROM events WHERE value IS NOT NULL),
           |g AS (SELECT event_type, v, count(*) AS c FROM e GROUP BY 1, 2),
           |w AS (SELECT event_type, v, c,
           |        coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           |      FROM g),
           |s AS (SELECT event_type, sum(c) AS n, sum(c*v) AS sv,
           |        sum(v*(2*c*cb + c*(c+1))) AS num FROM w GROUP BY 1)
           |SELECT event_type, CAST(n AS BIGINT) AS n,
           |  round(CAST(num - (n+1)*sv AS DOUBLE) / CAST(n*sv AS DOUBLE), 6) AS gini
           |FROM s WHERE n*sv > 0""".stripMargin))

  private val mmPhash = Q(
    "mm_phash",
    // IMAGE near-dedup by perceptual hash — the multimodal twin of the
    // text LSH paths: render each doc as a real PNG (the mm_pixel_stats
    // fixture), decode + 4×4-sample through the executed-resize chain,
    // fold the thumbnail into a 16-bit aHash (bit = cell brighter than
    // the image mean, the exact integer test 16·l > Σl), then find
    // hamming ≤ 1 pairs within (lang, source) via 4×4-bit banded
    // equi-join candidates — pigeonhole-complete for hamming ≤ 3, so
    // the cut loses nothing vs all-pairs, which is exactly what the
    // oracle runs (500 docs) while Spark runs the scale path. Only
    // (id, one long) rides the candidate join — never rasters.
    (s, dir) => {
      import s.implicits._
      val payloads = spread(T(s, dir, "documents")).select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map(id => (id, graft.functions.MultimodalOps.syntheticPng(id))))
        .toDF("doc_id", "payload")
      val cells = graft.functions.MultimodalOps
        .resizeNearestLuma(payloads, "doc_id", "payload", gridW = 4, gridH = 4).toDF()
      val h = mat(graft.functions.MultimodalOps.aHash16(cells, "id")
        .select(col("id").as("doc_id"), col("ahash"))
        .join(T(s, dir, "documents").select(col("doc_id"), col("lang"), col("source")),
          Seq("doc_id")))
      SimilarityOps.hammingCandidatePairs(h, "doc_id", "ahash",
        bandBits = 4, bands = 4, maxHamming = 1,
        blockKeys = Seq("lang", "source"), aName = "doc_a", bName = "doc_b")
    },
    Some("""WITH d AS (SELECT doc_id, lang, source,
           |    doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h FROM documents),
           |cells AS (SELECT doc_id, gy*4 + gx AS pos, (gx * w) // 4 AS x, (gy * h) // 4 AS y
           |  FROM d, range(0, 4) tgx(gx), range(0, 4) tgy(gy)),
           |lum AS (SELECT doc_id, pos,
           |    299 * ((31 * doc_id + 7 * x + 13 * y) % 256)
           |  + 587 * ((17 * doc_id + 5 * x + 11 * y) % 256)
           |  + 114 * ((23 * doc_id + 3 * x + 19 * y) % 256) AS l FROM cells),
           |tot AS (SELECT doc_id, sum(l) AS tot FROM lum GROUP BY 1),
           |hsh AS (SELECT l.doc_id, sum(CASE WHEN 16 * l.l > t.tot
           |    THEN (CAST(1 AS BIGINT) << l.pos) ELSE 0 END) AS ahash
           |  FROM lum l JOIN tot t USING (doc_id) GROUP BY 1),
           |hb AS (SELECT h.doc_id, d.lang, d.source, h.ahash FROM hsh h JOIN d USING (doc_id))
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
           |FROM hb a JOIN hb b ON a.doc_id < b.doc_id
           |  AND a.lang = b.lang AND a.source = b.source
           |WHERE bit_count(xor(a.ahash, b.ahash)) <= 1""".stripMargin))

  private val fsStreamAnomaly = Q(
    "fs_stream_anomaly",
    // §2.10: streaming seasonal anomaly scoring — the 17th
    // certification, and the DEPLOYED shape of fs_seasonal_anomaly:
    // the (event_type × hour-of-day) profile is trained on the static
    // history, broadcast into every micro-batch, and arriving events
    // are flagged by the shared exact-integer decision (the stream
    // runs the SAME seasonalPrep/seasonalFlag expressions as the batch
    // kernel — shared code, not a reimplementation, so the two paths
    // cannot drift). Stateless: no watermark, no state store; Append
    // over the 4-file replay must hash-equal the batch gate's oracle,
    // certifying stream/batch parity for a broadcast-scored stream.
    (s, dir) => {
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      val prof = TimeseriesOps.seasonalPrep(T(s, dir, "events"),
          keyCol = "event_type", idCol = "event_id", timeCol = "ts",
          valueCol = "value", periodSecs = 3600L, seasonSecs = 86400L)
        .groupBy(col("event_type"), col("bucket")).agg(
          count(lit(1)).as("n"),
          sum(col("cents")).as("sx"),
          sum(col("cents") * col("cents")).as("sxx"))
      replayToMemory(s, srcDir, evSchema, OutputMode.Append())(in =>
        graft.streaming.EventStreams.anomalyStream(
          in.select(col("ts"), col("event_id"), col("event_type"), col("value")), prof,
          keyCol = "event_type", idCol = "event_id"))
        .select(col("event_id"), col("event_type"), col("bucket"),
        col("cents").cast("long").as("cents"), col("zsq"))
    },
    // the SAME oracle as fs_seasonal_anomaly: the stream must reproduce
    // the batch result exactly
    Some("""WITH ev AS (
           |  SELECT event_id, event_type,
           |    (epoch_us(ts)//1000000) // 3600 % 24 AS bucket,
           |    CAST(round(value*100) AS HUGEINT) AS cents
           |  FROM events WHERE value IS NOT NULL),
           |prof AS (
           |  SELECT event_type, bucket, count(*) AS n, sum(cents) AS sx, sum(cents*cents) AS sxx
           |  FROM ev GROUP BY 1, 2)
           |SELECT e.event_id, e.event_type, e.bucket, CAST(e.cents AS BIGINT) AS cents,
           |  round(CAST((p.n*e.cents - p.sx)*(p.n*e.cents - p.sx) AS DOUBLE) /
           |        CAST(p.n*p.sxx - p.sx*p.sx AS DOUBLE), 6) AS zsq
           |FROM ev e JOIN prof p USING (event_type, bucket)
           |WHERE (p.n*e.cents - p.sx)*(p.n*e.cents - p.sx) > 9 * (p.n*p.sxx - p.sx*p.sx)""".stripMargin))

  private val qRfmSegments = Q(
    "q_rfm_segments",
    // RFM user segmentation — the classic marketing-analytics cut:
    // recency (integer days before the fixed 2024-02-01 anchor),
    // frequency, monetary (exact cents), each quintiled into 1-5 and
    // composed into the 3-digit segment code. One hash-agg collapses
    // events to the USER table, so the three ntile windows run over a
    // user-dictionary-sized frame (the Eval rank-statistics doctrine).
    // ntile assigns by ROW POSITION — ties across a bucket boundary
    // are physical-order lottery unless the sort is total, so every
    // window orders by (metric, user_id): deterministic at any
    // parallelism, and the oracle mirrors the same total order. All
    // columns are exact integers; no IEEE op anywhere.
    (s, dir) => {
      val anchorUs = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli * 1000L
      val u = T(s, dir, "events").filter(col("value").isNotNull)
        .groupBy(col("user_id")).agg(
          ((lit(anchorUs) - max(unix_micros(col("ts")))) / 86400000000L)
            .cast("long").as("r_days"),
          count(lit(1)).as("freq"),
          sum(round(col("value") * 100).cast("decimal(38,0)")).cast("long")
            .as("monetary_cents"))
      def bin(m: String) = ntile(5).over(
        Window.orderBy(col(m), col("user_id"))).cast("int")
      u.select(col("user_id"), col("r_days"), col("freq"), col("monetary_cents"),
          bin("r_days").as("r_bin"), bin("freq").as("f_bin"),
          bin("monetary_cents").as("m_bin"))
        .withColumn("segment",
          (col("r_bin") * 100 + col("f_bin") * 10 + col("m_bin")).cast("int"))
    },
    Some("""WITH u AS (
           |  SELECT user_id,
           |    (epoch_us(TIMESTAMP '2024-02-01') - max(epoch_us(ts))) // 86400000000 AS r_days,
           |    CAST(count(*) AS BIGINT) AS freq,
           |    CAST(sum(CAST(round(value*100) AS HUGEINT)) AS BIGINT) AS monetary_cents
           |  FROM events WHERE value IS NOT NULL GROUP BY 1)
           |SELECT user_id, CAST(r_days AS BIGINT) AS r_days, freq, monetary_cents,
           |  CAST(ntile(5) OVER (ORDER BY r_days, user_id) AS INT) AS r_bin,
           |  CAST(ntile(5) OVER (ORDER BY freq, user_id) AS INT) AS f_bin,
           |  CAST(ntile(5) OVER (ORDER BY monetary_cents, user_id) AS INT) AS m_bin,
           |  CAST(ntile(5) OVER (ORDER BY r_days, user_id) * 100
           |     + ntile(5) OVER (ORDER BY freq, user_id) * 10
           |     + ntile(5) OVER (ORDER BY monetary_cents, user_id) AS INT) AS segment
           |FROM u""".stripMargin))

  private val qTimeToConvert = Q(
    "q_time_to_convert",
    // Funnel LATENCY — not whether users convert (q_funnel) but how
    // long it takes: each purchase carries the exact integer-micros
    // gap since that user's most recent at-or-before click, via the
    // SAME keyed backward as-of kernel the feature store runs
    // (one exchange on user_id, window fill, no self-join explosion;
    // duplicate click times collapse by the kernel's documented
    // max-struct tie rule, which is value-invariant here because the
    // carried value IS the click time). Purchases with no prior click
    // keep a NULL latency — the never-clicked-buyer segment is signal,
    // not noise. The oracle computes the same gap independently as a
    // grouped max over the time-bounded join.
    (s, dir) => {
      val ev = T(s, dir, "events")
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts").as("time"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("time"), col("ts").as("click_ts"))
      TimeseriesOps.asofJoin(buys, clicks, Seq("click_ts"),
          timeCol = "time", by = Seq("user_id"))
        .select(col("user_id"), col("event_id"),
          (unix_micros(col("time")) - unix_micros(col("click_ts"))).as("latency_us"))
    },
    Some("""WITH clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
           |buys AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
           |m AS (
           |  SELECT b.user_id, b.event_id, b.ts, max(c.ts) AS last_click
           |  FROM buys b LEFT JOIN clicks c
           |    ON c.user_id = b.user_id AND c.ts <= b.ts
           |  GROUP BY 1, 2, 3)
           |SELECT user_id, event_id,
           |  CAST(epoch_us(ts) - epoch_us(last_click) AS BIGINT) AS latency_us
           |FROM m""".stripMargin))

  private val fsStreamGini = Q(
    "fs_stream_gini",
    // §2.10: rank statistics as STREAMING state — the 18th
    // certification, and the streaming deployment of q_gini's
    // dictionary doctrine: the per-(key, cents) count dictionary IS
    // the grouped running count Structured Streaming maintains
    // (state bounded by the value domain — ≤40k cents buckets however
    // long the stream runs, where a naive rank statistic buffers every
    // row), and the batch-closed dictionary feeds the SAME
    // giniFromCounts rank walk as the batch gate. Complete-mode close
    // over the 4-file replay must hash-equal q_gini's oracle exactly.
    (s, dir) => {
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      val counts = replayToMemory(s, srcDir, evSchema, OutputMode.Complete())(
        _.filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast("decimal(38,0)").as("cents"))
          .groupBy(col("event_type"), col("cents"))
          .agg(count(lit(1)).as("c")))
      graft.functions.Eval.giniFromCounts(counts,
        keyCol = "event_type", valueCol = "cents", countCol = "c")
    },
    // the SAME oracle as q_gini: the stream-closed dictionary must
    // reproduce the batch statistic exactly
    Some("""WITH e AS (
           |  SELECT event_type, CAST(round(value*100) AS HUGEINT) AS v
           |  FROM events WHERE value IS NOT NULL),
           |g AS (SELECT event_type, v, count(*) AS c FROM e GROUP BY 1, 2),
           |w AS (SELECT event_type, v, c,
           |        coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           |      FROM g),
           |s AS (SELECT event_type, sum(c) AS n, sum(c*v) AS sv,
           |        sum(v*(2*c*cb + c*(c+1))) AS num FROM w GROUP BY 1)
           |SELECT event_type, CAST(n AS BIGINT) AS n,
           |  round(CAST(num - (n+1)*sv AS DOUBLE) / CAST(n*sv AS DOUBLE), 6) AS gini
           |FROM s WHERE n*sv > 0""".stripMargin))

  private val qPaths2Step = Q(
    "q_paths_2step",
    // Second-order path counts — q_transitions one step deeper: the
    // (e₁ → e₂ → e₃) trigram frequencies behavioural analytics feeds
    // into Sankey diagrams and second-order Markov models (first-order
    // chains miss "view→click→purchase vs view→click→error" splits by
    // construction). Same shape: ONE per-user window (two lags share
    // one sort) + one hash-agg to O(|types|³) rows; ties inside a
    // user-microsecond break by event_id, so the sequence is
    // deterministic at any partitioning.
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .select(col("user_id"),
          lag(col("event_type"), 2).over(w).as("e1"),
          lag(col("event_type"), 1).over(w).as("e2"),
          col("event_type").as("e3"))
        .filter(col("e1").isNotNull)
        .groupBy(col("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n_paths"))
    },
    Some("""WITH seq AS (SELECT user_id,
           |    lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
           |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
           |    event_type AS e3
           |  FROM events)
           |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
           |FROM seq WHERE e1 IS NOT NULL
           |GROUP BY 1, 2, 3""".stripMargin))

  private val qBenford = Q(
    "q_benford",
    // Benford first-digit screening — the classic fraud/fabrication
    // probe an analytics engine runs over money columns: the observed
    // first-digit distribution of non-zero cents vs Benford's
    // log10(1+1/d), with the expected frequencies as LITERAL constants
    // (identical on both engines — no libm log at query time) and the
    // divergence term (obs − exp)²/exp as one fixed IEEE sequence (the
    // q_drift_hist pattern). First digit via the value's decimal
    // STRING head — integer-exact, no log/pow arithmetic anywhere.
    (s, dir) => {
      val exp = Seq(0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
        0.066947, 0.057992, 0.051153, 0.045757)
      val expCol = element_at(array(exp.map(lit): _*), col("digit").cast("int"))
      val d = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 100).cast("decimal(38,0)").as("cents"))
        .filter(col("cents") > 0)
        .select(col("event_type"),
          substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
      d.groupBy(col("event_type"), col("digit"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(
          Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("digit"), col("n"),
          round(col("n").cast("double") / col("total").cast("double"), 6).as("obs_freq"),
          expCol.as("exp_freq"),
          round((col("n").cast("double") / col("total").cast("double") - expCol) *
            (col("n").cast("double") / col("total").cast("double") - expCol) /
            expCol, 6).as("divergence"))
    },
    Some("""WITH d AS (
           |  SELECT event_type,
           |    CAST(substr(CAST(CAST(round(value*100) AS HUGEINT) AS VARCHAR), 1, 1) AS INT) AS digit
           |  FROM events WHERE value IS NOT NULL AND round(value*100) > 0),
           |c AS (SELECT event_type, digit, count(*) AS n FROM d GROUP BY 1, 2),
           |t AS (SELECT event_type, digit, n, sum(n) OVER (PARTITION BY event_type) AS total FROM c),
           |x AS (SELECT *, (CAST([0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
           |                  0.066947, 0.057992, 0.051153, 0.045757] AS DOUBLE[]))[digit] AS exp_freq
           |      FROM t)
           |SELECT event_type, digit, CAST(n AS BIGINT) AS n,
           |  round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS obs_freq,
           |  exp_freq,
           |  round((CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - exp_freq)
           |      * (CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - exp_freq) / exp_freq, 6) AS divergence
           |FROM x""".stripMargin))

  private val qAbAssign = Q(
    "q_ab_assign",
    // Experiment readout head: deterministic salted-md5 variant
    // assignment (Experiment.assignVariant — same user → same arm on
    // any engine/rerun/partitioning, independent across experiments by
    // salt) + the per-variant topline and the sample-ratio-mismatch
    // chi-square term against the designed 50/50 split (SRM is the
    // first guardrail every experimentation platform checks before
    // trusting a readout). One hash-agg over events; assignment is a
    // pure expression so nothing shuffles twice; srm closes in a fixed
    // IEEE sequence off exact integer counts.
    (s, dir) => {
      val ev = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("user_id"),
          graft.functions.Experiment.assignVariant(col("user_id"), "exp1").as("variant"),
          round(col("value") * 100).cast("decimal(38,0)").as("cents"))
      val v = ev.groupBy(col("variant"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          sum(col("cents")).as("sum_cents"))
      val t = v.agg(sum(col("n_users")).as("total_users"))
      v.crossJoin(broadcast(t))
        .select(col("variant"),
          col("n_users").cast("long").as("n_users"),
          col("n_events").cast("long").as("n_events"),
          col("sum_cents").cast("long").as("sum_cents"),
          round(col("sum_cents").cast("double") / col("n_events").cast("double"),
            6).as("mean_cents"),
          round((col("n_users").cast("double") - col("total_users").cast("double") * 0.5) *
            (col("n_users").cast("double") - col("total_users").cast("double") * 0.5) /
            (col("total_users").cast("double") * 0.5), 6).as("srm_term"))
    },
    Some("""WITH ev AS (
           |  SELECT user_id,
           |    CASE WHEN substr(md5(concat('exp1:', CAST(user_id AS VARCHAR))), 1, 1) < '8'
           |         THEN 'control' ELSE 'treatment' END AS variant,
           |    CAST(round(value*100) AS HUGEINT) AS cents
           |  FROM events WHERE value IS NOT NULL),
           |v AS (SELECT variant, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
           |        sum(cents) AS sum_cents FROM ev GROUP BY 1),
           |t AS (SELECT sum(n_users) AS total_users FROM v)
           |SELECT variant, CAST(n_users AS BIGINT) AS n_users,
           |  CAST(n_events AS BIGINT) AS n_events, CAST(sum_cents AS BIGINT) AS sum_cents,
           |  round(CAST(sum_cents AS DOUBLE) / CAST(n_events AS DOUBLE), 6) AS mean_cents,
           |  round((CAST(n_users AS DOUBLE) - CAST(total_users AS DOUBLE)*0.5)
           |      * (CAST(n_users AS DOUBLE) - CAST(total_users AS DOUBLE)*0.5)
           |      / (CAST(total_users AS DOUBLE)*0.5), 6) AS srm_term
           |FROM v CROSS JOIN t""".stripMargin))

  private val qCuped = Q(
    "q_cuped",
    // CUPED variance-reduced experiment readout (Experiment.cuped):
    // pre-period spend (before the mid-month cutoff ml_ks_drift also
    // uses) as the covariate, post-period spend as the metric, variant
    // by the SAME salted-md5 assignment as q_ab_assign. Per-user sums
    // stay exact integers (never per-user means — a per-user division
    // would inject accumulation-order noise into the moments); θ and
    // the adjusted means close in a fixed IEEE sequence. θ here barely
    // moves the means (synthetic pre/post spend is uncorrelated,
    // θ≈0.07) — the gate pins the arithmetic, not the lift.
    (s, dir) => {
      val cutoff = lit("2024-01-16").cast("timestamp")
      val u = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("user_id"),
          round(col("value") * 100).cast("decimal(38,0)").as("cents"),
          when(col("ts") < cutoff, 1).otherwise(0).as("pre"))
        .groupBy(col("user_id"))
        .agg(sum(col("cents") * col("pre")).as("x"),
          sum(col("cents") * (lit(1) - col("pre"))).as("y"))
        .withColumn("variant",
          graft.functions.Experiment.assignVariant(col("user_id"), "exp1"))
      graft.functions.Experiment.cuped(u, "variant", "x", "y")
    },
    Some("""WITH e AS (
           |  SELECT user_id, CAST(round(value*100) AS HUGEINT) AS cents,
           |         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS pre
           |  FROM events WHERE value IS NOT NULL),
           |u AS (SELECT user_id, sum(cents*pre) AS x, sum(cents*(1-pre)) AS y FROM e GROUP BY 1),
           |a AS (SELECT user_id, x, y,
           |    CASE WHEN substr(md5(concat('exp1:', CAST(user_id AS VARCHAR))), 1, 1) < '8'
           |         THEN 'control' ELSE 'treatment' END AS variant FROM u),
           |t AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |        sum(x*y) AS sxy, sum(x*x) AS sxx FROM a),
           |th AS (SELECT n, sx,
           |    round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS theta FROM t),
           |v AS (SELECT variant, count(*) AS nv, sum(x) AS sxv, sum(y) AS syv FROM a GROUP BY 1)
           |SELECT variant, CAST(nv AS BIGINT) AS n_users, th.theta AS theta,
           |  round(CAST(syv AS DOUBLE)/CAST(nv AS DOUBLE), 6) AS raw_mean,
           |  round(CAST(syv AS DOUBLE)/CAST(nv AS DOUBLE)
           |      - th.theta*(CAST(sxv AS DOUBLE)/CAST(nv AS DOUBLE)
           |                  - CAST(th.sx AS DOUBLE)/CAST(th.n AS DOUBLE)), 6) AS cuped_mean
           |FROM v CROSS JOIN th""".stripMargin))

  private val mlLiftTable = Q(
    "ml_lift_table",
    // Gains/lift table at 5% population cuts (Eval.liftTable) — the
    // model-TARGETING readout next to ml_auc's model-RANKING one:
    // "score everything, act on the top k% — what lift over random?".
    // Same score/label as ml_auc (cents predicting purchase), so the
    // two gates certify one evaluation stack. Everything runs on the
    // score dictionary: cumulative walk + a 20-row broadcast spine
    // resolving each rational-rank cut ceil(k·n/20) to its crossing
    // block; lift cross-multiplies exact integers with one closing
    // IEEE division. Lift ≈ 1.0 everywhere: value does not predict
    // purchase in this synthetic data — the gate pins the arithmetic.
    (s, dir) => graft.functions.Eval.liftTable(
      T(s, dir, "events").filter(col("value").isNotNull),
      labelCol = col("event_type") === "purchase",
      scoreCol = round(col("value") * 100),
      buckets = 20),
    Some("""WITH e AS (
           |  SELECT CAST(round(value*100) AS HUGEINT) AS v,
           |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           |  FROM events WHERE value IS NOT NULL),
           |g AS (SELECT v, count(*) AS cnt, sum(pos) AS p FROM e GROUP BY 1),
           |w AS (SELECT v, cnt, p,
           |    sum(cnt) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
           |    sum(p)   OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p,
           |    sum(cnt) OVER () AS n, sum(p) OVER () AS np
           |  FROM g),
           |k AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(1, 21))
           |SELECT k.bucket,
           |  CAST((k.bucket*w.n + 19) // 20 AS BIGINT) AS cut,
           |  CAST(w.v AS BIGINT) AS score_cents,
           |  CAST(w.cum_n AS BIGINT) AS cum_n, CAST(w.cum_p AS BIGINT) AS cum_pos,
           |  round(CAST(w.cum_p*w.n AS DOUBLE) / CAST(w.cum_n*w.np AS DOUBLE), 6) AS lift,
           |  round(CAST(w.cum_p AS DOUBLE) / CAST(w.np AS DOUBLE), 6) AS capture
           |FROM k JOIN w ON w.cum_n - w.cnt < (k.bucket*w.n + 19) // 20
           |             AND (k.bucket*w.n + 19) // 20 <= w.cum_n""".stripMargin))

  private val qAbTtest = Q(
    "q_ab_ttest",
    // The significance line under q_cuped's point estimates: Welch's
    // unequal-variance t on per-user total spend between the md5 arms
    // (Experiment.welchT). Six integer-exact moments in ONE
    // conditional hash-agg — the arm indicator multiplies into each
    // sum, so there is no join anywhere — then division/sqrt only
    // (all correctly-rounded IEEE ops, deterministic as a chain;
    // the doctrine bans double SUMS, not double arithmetic).
    // t ≈ −0.12 on this null synthetic experiment: the gate pins the
    // moment arithmetic and the Welch–Satterthwaite df formula.
    (s, dir) => {
      val u = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("user_id"),
          round(col("value") * 100).cast("decimal(38,0)").as("cents"))
        .groupBy(col("user_id"))
        .agg(sum(col("cents")).as("y"))
        .withColumn("variant",
          graft.functions.Experiment.assignVariant(col("user_id"), "exp1"))
      graft.functions.Experiment.welchT(u, "variant", "y")
    },
    Some("""WITH e AS (
           |  SELECT user_id, CAST(round(value*100) AS HUGEINT) AS cents
           |  FROM events WHERE value IS NOT NULL),
           |u AS (SELECT user_id, sum(cents) AS y FROM e GROUP BY 1),
           |a AS (SELECT y,
           |    CASE WHEN substr(md5(concat('exp1:', CAST(user_id AS VARCHAR))), 1, 1) < '8'
           |         THEN 1 ELSE 0 END AS ctl FROM u),
           |m AS (SELECT sum(ctl) AS nc, sum(1-ctl) AS nt,
           |        sum(y*ctl) AS sc, sum(y*(1-ctl)) AS st,
           |        sum(y*y*ctl) AS qc, sum(y*y*(1-ctl)) AS qt FROM a),
           |s AS (SELECT nc, nt,
           |        CAST(sc AS DOUBLE)/CAST(nc AS DOUBLE) AS mc,
           |        CAST(st AS DOUBLE)/CAST(nt AS DOUBLE) AS mt,
           |        CAST(nc*qc - sc*sc AS DOUBLE)/CAST(nc*(nc-1) AS DOUBLE) AS vc,
           |        CAST(nt*qt - st*st AS DOUBLE)/CAST(nt*(nt-1) AS DOUBLE) AS vt
           |      FROM m),
           |f AS (SELECT nc, nt, mc, mt,
           |        vc/CAST(nc AS DOUBLE) AS ac, vt/CAST(nt AS DOUBLE) AS at FROM s)
           |SELECT CAST(nc AS BIGINT) AS n_control, CAST(nt AS BIGINT) AS n_treatment,
           |  round(mc, 6) AS mean_control, round(mt, 6) AS mean_treatment,
           |  round(mt - mc, 6) AS diff,
           |  round((mt - mc) / sqrt(ac + at), 6) AS t_stat,
           |  round((ac + at)*(ac + at)
           |      / (ac*ac/CAST(nc-1 AS DOUBLE) + at*at/CAST(nt-1 AS DOUBLE)), 6) AS df
           |FROM f""".stripMargin))

  private val fsStreamAuc = Q(
    "fs_stream_auc",
    // §2.10: live model-quality monitoring as the 19th streaming
    // certification — AUC of a deployed model over an event stream
    // WITHOUT buffering a row: the per-score (count, positives)
    // dictionary IS the grouped running aggregation Structured
    // Streaming maintains (state bounded by the score domain, ≤40k
    // cents buckets forever), and the batch-closed dictionary feeds
    // the SAME Eval.aucFromCounts rank walk as ml_auc. Complete-mode
    // close over the 4-file replay must hash-equal ml_auc's oracle.
    (s, dir) => {
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      val counts = replayToMemory(s, srcDir, evSchema, OutputMode.Complete())(
        _.filter(col("value").isNotNull)
          .select(round(col("value") * 100).cast("decimal(38,0)").as("cents"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
          .groupBy(col("cents"))
          .agg(count(lit(1)).as("c"), sum(col("pos")).as("p")))
      graft.functions.Eval.aucFromCounts(counts,
        valueCol = "cents", countCol = "c", posCol = "p")
    },
    // the SAME oracle as ml_auc: the stream-closed dictionary must
    // reproduce the batch statistic exactly
    Some("""WITH e AS (
           |  SELECT CAST(round(value*100) AS HUGEINT) AS v,
           |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           |  FROM events WHERE value IS NOT NULL),
           |g AS (SELECT v, count(*) AS cnt, sum(pos) AS pos FROM e GROUP BY 1),
           |w AS (SELECT v, cnt, pos,
           |        coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           |      FROM g),
           |s AS (SELECT sum(pos*(2*cb + cnt + 1)) AS s2, sum(pos) AS np, sum(cnt - pos) AS nn FROM w)
           |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           |  round(CAST(s2 - np*(np+1) AS DOUBLE) / CAST(2*np*nn AS DOUBLE), 6) AS auc
           |FROM s WHERE np > 0 AND nn > 0""".stripMargin))

  /** DuckDB recomputation of [[graft.functions.LogReg.train]]: the K
    * GD epochs unrolled as CTE stages, mirroring the kernel term by
    * term (same hash seed, intercept bucket, Laplace-free full-batch
    * update). `w0` seeds zero weights for exactly the buckets present
    * in the corpus — absent buckets stay 0 in both engines and never
    * influence a score.
    */
  private def logregOracleCtes(epochs: Int, lrate: Double): String = {
    val steps = (1 to epochs).map { e =>
      s"""z$e AS (SELECT f.doc_id, sum(f.c * w${e - 1}.w) AS z
         |  FROM f JOIN w${e - 1} USING (b) GROUP BY 1),
         |r$e AS (SELECT y.doc_id, y.y - 1.0/(1.0 + exp(-z$e.z)) AS r
         |  FROM y JOIN z$e USING (doc_id)),
         |g$e AS (SELECT f.b, sum(f.c * r$e.r) AS g
         |  FROM f JOIN r$e USING (doc_id) GROUP BY 1),
         |w$e AS (SELECT w${e - 1}.b, w${e - 1}.w + $lrate * g$e.g / (SELECT n FROM nn) AS w
         |  FROM w${e - 1} JOIN g$e USING (b))""".stripMargin
    }.mkString(",\n")
    s"""tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |f0 AS (SELECT doc_id,
       |    ('0x' || substr(md5(concat('lr:', t)), 1, 8))::BIGINT % 256 AS b,
       |    CAST(count(*) AS DOUBLE) AS c
       |  FROM tk GROUP BY 1, 2),
       |f AS (SELECT * FROM f0
       |      UNION ALL SELECT doc_id, 256, 1.0 FROM documents),
       |y AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |      FROM documents),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       |w0 AS (SELECT DISTINCT b, 0.0 AS w FROM f),
       |$steps""".stripMargin
  }

  private val mlLogregHash = Q(
    "ml_logreg_hash",
    // In-engine quality-classifier TRAINING (the GPT-3/CCNet-style
    // linear filter): logistic regression over hashed bag-of-words
    // features, 3 full-batch GD epochs, label = "is the curated
    // slice" (lang='en' stands in). See [[graft.functions.LogReg]]
    // for the 100 TB shape: the corpus-sized work is one persisted
    // explode+hash pass; each epoch is one agg (weights ride the plan
    // as a 257-double array literal — no weight-table join) + one
    // gradient agg collapsing to <=257 driver rows. The gate hashes
    // every trained weight against DuckDB's unrolled recomputation of
    // the full training run — optimizer trajectory as a correctness
    // surface, not just the final fit quality.
    (s, dir) => {
      val m = graft.functions.LogReg.train(
        spread(T(s, dir, "documents")), "doc_id", toks, col("lang") === "en")
      m.weightsDF.select(col("b"), round(col("w"), 6).as("w"))
    },
    Some(s"""WITH ${logregOracleCtes(3, 0.5)}
           |SELECT b, round(w, 6) AS w FROM w3""".stripMargin))

  private val mlLogregScore = Q(
    "ml_logreg_score",
    // The trained classifier's SCORING pass — per-document
    // P(curated), the number a curation pipeline thresholds. Same
    // trained weights as ml_logreg_hash (shared kernel), certified
    // end-to-end: hash -> counts -> margin -> sigmoid per doc.
    (s, dir) => {
      val m = graft.functions.LogReg.train(
        spread(T(s, dir, "documents")), "doc_id", toks, col("lang") === "en")
      m.scores.select(col("doc_id"), round(col("score"), 6).as("score"))
    },
    Some(s"""WITH ${logregOracleCtes(3, 0.5)}
           |SELECT f.doc_id, round(1.0/(1.0 + exp(-sum(f.c * w3.w))), 6) AS score
           |FROM f JOIN w3 USING (b) GROUP BY 1""".stripMargin))

  /** One ml_kmeans oracle Lloyd round: assign every feature row to its
    * nearest centroid from `prev` (fixed IEEE distance, ties to the
    * lowest cluster id), then re-center. Mirrors
    * [[graft.functions.Lloyd.fitDistributed]] exactly.
    */
  private def kmeansRoundCtes(i: Int, prev: String): String =
    s"""a$i AS (SELECT user_id, x1, x2, c FROM (
       |    SELECT f.user_id, f.x1, f.x2, i.c,
       |      row_number() OVER (PARTITION BY f.user_id ORDER BY
       |        (CAST(f.x1 AS DOUBLE) - i.m1) * (CAST(f.x1 AS DOUBLE) - i.m1) +
       |        (CAST(f.x2 AS DOUBLE) - i.m2) * (CAST(f.x2 AS DOUBLE) - i.m2), i.c) AS rk
       |    FROM f CROSS JOIN $prev i) WHERE rk = 1),
       |k$i AS (SELECT c, CAST(count(*) AS BIGINT) AS n,
       |         round(CAST(sum(x1) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS m1,
       |         round(CAST(sum(x2) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS m2
       |       FROM a$i GROUP BY 1)""".stripMargin

  private val mlKmeans = Q(
    "ml_kmeans",
    // Distributed Lloyd k-means as the USER-FACING clustering operator
    // (Lloyd.fitDistributed) — distinct from the driver-local
    // bounded-sample codebook training the ANN indexes use: here the
    // output IS the clustering (user segmentation on exact-integer
    // features: events count × total spend cents), so every row gets
    // assigned each round. Per iteration: map-side argmin against k
    // broadcast-literal centroids + one k-key hash-agg with map-side
    // partials — iters full scans, zero row shuffles, k-row driver
    // rounds. The oracle UNROLLS all three rounds in SQL (the
    // ml_logreg doctrine: an iterative trainer's only honest oracle is
    // the trajectory itself): deterministic init (k lowest user_ids),
    // fixed IEEE distances, ties to the lowest cluster id, exact
    // integer sums closed by one division and round(6) per centroid.
    (s, dir) => {
      val f = T(s, dir, "events").groupBy(col("user_id")).agg(
        count(lit(1)).as("x1"),
        coalesce(sum(expr("CAST(round(value*100) AS BIGINT)")), lit(0L)).as("x2"))
      graft.functions.Lloyd.fitDistributed(f, "user_id", Seq("x1", "x2"), k = 3, iters = 3)
        .select(col("cluster").cast("long").as("cluster"), col("n"),
          col("c_x1"), col("c_x2"))
    },
    Some(s"""WITH f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x1,
           |      CAST(coalesce(sum(CAST(round(value*100) AS BIGINT)), 0) AS BIGINT) AS x2
           |    FROM events GROUP BY 1),
           |k0 AS (SELECT CAST(row_number() OVER (ORDER BY user_id) - 1 AS INTEGER) AS c,
           |         CAST(x1 AS DOUBLE) AS m1, CAST(x2 AS DOUBLE) AS m2
           |       FROM f ORDER BY user_id LIMIT 3),
           |${kmeansRoundCtes(1, "k0")},
           |${kmeansRoundCtes(2, "k1")},
           |${kmeansRoundCtes(3, "k2")}
           |SELECT CAST(c AS BIGINT) AS cluster, n, m1 AS c_x1, m2 AS c_x2
           |FROM k3""".stripMargin))

  private val mlBestSplit = Q(
    "ml_best_split",
    // Exact greedy split finding — the kernel inside every tree
    // ensemble (XGBoost's "exact" tree method): for each feature, scan
    // the value DICTIONARY in order and score every cut by the
    // variance-reduction identity Δ = S_L²/n_L + S_R²/n_R − S²/n over
    // integer label sums. The dictionary doctrine end-to-end: one
    // hash-agg collapses users to (feature, value) with integer
    // (count, Σy) partials, cumulative walks produce every candidate
    // split's (n_L, S_L) in one window pass, and the argmax ranks on
    // the ROUNDED score with a value tie-break (round-before-rank).
    // Determinism bound stated honestly: S² and the divisions stay
    // exact-integer-valued doubles while S < 2^26.5 (~9·10⁷) — far
    // above these label sums; a corpus beyond that moves this to
    // decimal cross-multiplied comparisons. Scale: no per-row state,
    // no sort of the corpus — split search cost is the dictionary,
    // which is why the exact method survives wide data.
    (s, dir) => {
      val u = T(s, dir, "events").groupBy(col("user_id")).agg(
        count(lit(1)).as("x1"),
        coalesce(sum(expr("CAST(round(value*100) AS BIGINT)")), lit(0L)).as("x2"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val long = u.select(col("y"), explode(array(
          struct(lit("n_events").as("f"), col("x1").as("v")),
          struct(lit("cents").as("f"), col("x2").as("v")))).as("fv"))
        .select(col("fv.f").as("f"), col("fv.v").as("v"), col("y"))
      val dict = long.groupBy(col("f"), col("v"))
        .agg(count(lit(1)).as("nv"), sum(col("y")).as("sv"))
      val wv = Window.partitionBy(col("f")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy(col("f"))
      val c = dict
        .withColumn("nl", sum(col("nv")).over(wv))
        .withColumn("sl", sum(col("sv")).over(wv))
        .withColumn("n", sum(col("nv")).over(wt))
        .withColumn("s", sum(col("sv")).over(wt))
        .filter(col("nl") < col("n"))
        .withColumn("nr", col("n") - col("nl"))
        .withColumn("sr", col("s") - col("sl"))
        .withColumn("score", round(
          (col("sl") * col("sl")).cast("double") / col("nl").cast("double") +
            (col("sr") * col("sr")).cast("double") / col("nr").cast("double"), 6))
        .withColumn("gain", round(
          (col("sl") * col("sl")).cast("double") / col("nl").cast("double") +
            (col("sr") * col("sr")).cast("double") / col("nr").cast("double") -
            (col("s") * col("s")).cast("double") / col("n").cast("double"), 6))
      val wr = Window.partitionBy(col("f")).orderBy(col("score").desc, col("v"))
      c.withColumn("rk", row_number().over(wr)).filter(col("rk") === 1)
        .select(col("f").as("feature"), col("v").as("split_v"),
          col("nl").as("n_left"), col("nr").as("n_right"),
          round(col("sl").cast("double") / col("nl").cast("double"), 6).as("mean_left"),
          round(col("sr").cast("double") / col("nr").cast("double"), 6).as("mean_right"),
          col("gain"))
    },
    Some("""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x1,
           |      CAST(coalesce(sum(CAST(round(value*100) AS BIGINT)), 0) AS BIGINT) AS x2,
           |      CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
           |    FROM events GROUP BY 1),
           |l AS (SELECT 'n_events' AS f, x1 AS v, y FROM u
           |      UNION ALL SELECT 'cents', x2, y FROM u),
           |dict AS (SELECT f, v, CAST(count(*) AS BIGINT) AS nv,
           |           CAST(sum(y) AS BIGINT) AS sv FROM l GROUP BY 1, 2),
           |c AS (SELECT f, v, nv, sv,
           |    sum(nv) OVER (PARTITION BY f ORDER BY v
           |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
           |    sum(sv) OVER (PARTITION BY f ORDER BY v
           |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl,
           |    sum(nv) OVER (PARTITION BY f) AS n,
           |    sum(sv) OVER (PARTITION BY f) AS s
           |  FROM dict),
           |sc AS (SELECT f, v, nl, n - nl AS nr, sl, s - sl AS sr,
           |    round(CAST(sl * sl AS DOUBLE) / CAST(nl AS DOUBLE) +
           |          CAST((s - sl) * (s - sl) AS DOUBLE) / CAST(n - nl AS DOUBLE), 6) AS score,
           |    round(CAST(sl * sl AS DOUBLE) / CAST(nl AS DOUBLE) +
           |          CAST((s - sl) * (s - sl) AS DOUBLE) / CAST(n - nl AS DOUBLE) -
           |          CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gain
           |  FROM c WHERE nl < n),
           |r AS (SELECT *, row_number() OVER (PARTITION BY f ORDER BY score DESC, v) AS rk
           |      FROM sc)
           |SELECT f AS feature, v AS split_v,
           |  CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           |  round(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE), 6) AS mean_left,
           |  round(CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE), 6) AS mean_right,
           |  gain
           |FROM r WHERE rk = 1""".stripMargin))

  private val mlNaiveBayes = Q(
    "ml_naive_bayes",
    // Multinomial Naive Bayes language classifier in WHOLE BITS
    // (functions/NbClassifier) — the fastText-shaped corpus classifier
    // every curation pipeline runs, with zero libm-log hazard: token
    // costs are floor-log2 integer surprisals (bin-length arithmetic,
    // the txt_unigram_surprisal doctrine lifted to classification),
    // scores are exact integer sums, prediction is the min-bits class
    // with ties to the smallest label. Training is ONE (class, token)
    // hash-agg; inference joins token occurrences on the vocabulary
    // key fanned by a |classes|-row broadcast — both ends distributed,
    // nothing driver-side. Self-classification of `documents` by lang.
    (s, dir) => graft.functions.NbClassifier.classify(
      spread(T(s, dir, "documents")), idCol = "doc_id", labelCol = "lang", toksCol = toks),
    Some("""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
           |            FROM documents),
           |tk AS (SELECT * FROM tok WHERE length(t) > 0),
           |cnt AS (SELECT lang AS c, t, count(*) AS cnt FROM tk GROUP BY 1, 2),
           |nc AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS nc FROM cnt GROUP BY 1),
           |dc AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS dc FROM documents GROUP BY 1),
           |vv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vv FROM tk),
           |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |cls AS (SELECT c, nc, dc, vv, n FROM nc JOIN dc USING (c) CROSS JOIN vv CROSS JOIN nd),
           |b AS (SELECT tk.doc_id, tk.lang, cls.c,
           |        CAST(sum(length(bin((cls.nc + cls.vv) // (coalesce(cnt.cnt, 0) + 1))) - 1) AS BIGINT) AS tokbits
           |      FROM tk CROSS JOIN cls
           |      LEFT JOIN cnt ON cnt.c = cls.c AND cnt.t = tk.t
           |      GROUP BY 1, 2, 3),
           |s AS (SELECT b.doc_id, b.lang, b.c,
           |        b.tokbits + length(bin(cls.n // cls.dc)) - 1 AS bits
           |      FROM b JOIN cls USING (c))
           |SELECT doc_id, lang, c AS pred, CAST(bits AS BIGINT) AS bits FROM (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY bits, c) AS rn
           |  FROM s) WHERE rn = 1""".stripMargin))

  private val dedupSemantic = Q(
    "dedup_semantic",
    // SemDeDup (Abbas et al. 2023): cluster-then-local-cosine semantic
    // pruning — the quadratic pair search confined to coarse-quantizer
    // cells, so candidates are a self-equi-join ON THE CELL ID (k grows
    // with the corpus; per-cell work stays bounded), never all-pairs.
    // The deterministic-codebook configuration (AnnIvf.buildFixed: 16
    // lowest-id vectors, zero Lloyd iterations; round-6 before every
    // argmax/threshold) makes codebook -> assignment -> within-cell
    // cosine -> min-id survivor chain recomputable in ANSI SQL; the
    // trained-KMeans path is the quality variant, spec-verified like
    // sim_ann_recall. tau = 0.3: this synthetic corpus has no true
    // duplicates (within-cell max cosine ~0.49), so the loose cut keeps
    // the survivor set non-trivial, as dedup_embed_lsh's verify does.
    (s, dir) => {
      val e = T(s, dir, "embeddings")
      val index = graft.functions.AnnIvf.buildFixed(e, "embedding", idCol = "vec_id", k = 16)
      graft.functions.SemDedup.prune(index, "vec_id", tau = 0.3)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v AS cv,
           |         list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) / 2 AS half
           |  FROM e ORDER BY vec_id LIMIT 16),
           |assign AS (SELECT vec_id, v, cell FROM (
           |    SELECT e.vec_id, e.v, cent.j AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS rr
           |    FROM e CROSS JOIN cent) WHERE rr = 1),
           |dropped AS (SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
           |    ON a.cell = b.cell AND a.vec_id < b.vec_id
           |   AND round(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
           |       (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
           |        sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))), 6) >= 0.3)
           |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, (d.vec_id IS NULL) AS kept
           |FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id""".stripMargin))

  private val fsStreamDrift = Q(
    "fs_stream_drift",
    // §2.10: live drift monitoring as the 20th streaming certification
    // — the ml_ks_drift alarm maintained over a stream WITHOUT
    // buffering a row: the per-(key, value) (ref, cur) count dictionary
    // IS the grouped running aggregation (state bounded by the value
    // domain), and the batch-closed dictionary feeds Drift.ksFromCounts
    // — the same integer-exact CDF walk. Complete-mode close over the
    // 4-file replay must hash-equal the batch gate's oracle.
    (s, dir) => {
      val (srcDir, evSchema) = stagedEventsWide(s, dir)
      val counts = replayToMemory(s, srcDir, evSchema, OutputMode.Complete())(
        _.filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast("decimal(38,0)").as("cents"),
            when(col("ts") < ts("2024-01-16"), 1L).otherwise(0L).as("ref"))
          .groupBy(col("event_type"), col("cents"))
          .agg(sum(col("ref")).as("c_ref"), sum(lit(1L) - col("ref")).as("c_cur")))
      graft.functions.Drift.ksFromCounts(counts,
        keyCol = "event_type", valueCol = "cents",
        refCountCol = "c_ref", curCountCol = "c_cur")
    },
    // the SAME oracle as ml_ks_drift: the stream-closed dictionary must
    // reproduce the batch statistic exactly
    Some("""WITH e AS (
           |  SELECT event_type, CAST(round(value*100) AS HUGEINT) AS v,
           |         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS ref
           |  FROM events WHERE value IS NOT NULL),
           |g AS (SELECT event_type, v, sum(ref) AS c1, sum(1 - ref) AS c2 FROM e GROUP BY 1, 2),
           |w AS (SELECT event_type, v,
           |        sum(c1) OVER (PARTITION BY event_type ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
           |        sum(c2) OVER (PARTITION BY event_type ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
           |        sum(c1) OVER (PARTITION BY event_type) AS n1,
           |        sum(c2) OVER (PARTITION BY event_type) AS n2
           |      FROM g),
           |m AS (SELECT event_type, any_value(n1) AS n1, any_value(n2) AS n2,
           |        max(abs(cum1*n2 - cum2*n1)) AS d FROM w GROUP BY 1)
           |SELECT event_type, CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
           |  round(CAST(d AS DOUBLE) / CAST(n1*n2 AS DOUBLE), 6) AS ks
           |FROM m WHERE n1 > 0 AND n2 > 0""".stripMargin))

  private val mlCalibration = Q(
    "ml_calibration",
    // Reliability diagram — the calibration readout closing the
    // evaluation stack next to ml_auc (ranking) and ml_lift_table
    // (targeting): fixed-width score bins (2500-cent buckets; fixed
    // widths, not quantiles, so bin identity is corpus-independent and
    // mergeable across shards/days), per-bin empirical positive rate vs
    // mean score. Exact integer counts and decimal cent sums, TWO
    // closing IEEE divisions rounded at 6 — no per-row float math.
    (s, dir) => T(s, dir, "events").filter(col("value").isNotNull)
      .select(round(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(expr("cents div 2500").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("cents").cast("decimal(38,0)")).as("__sc"))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6).as("frac_pos"),
        round(col("__sc").cast("double") / (lit(100L) * col("n")).cast("double"), 6)
          .as("mean_value")),
    Some("""WITH e AS (
           |  SELECT CAST(round(value*100) AS BIGINT) AS cents,
           |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           |  FROM events WHERE value IS NOT NULL)
           |SELECT cents // 2500 AS bucket, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(pos) AS BIGINT) AS n_pos,
           |  round(CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS frac_pos,
           |  round(CAST(sum(cents) AS DOUBLE) / CAST(100*count(*) AS DOUBLE), 6) AS mean_value
           |FROM e GROUP BY 1""".stripMargin))

  private val mlEce = Q(
    "ml_ece",
    // Expected calibration error — the one-number summary of the
    // reliability diagram (ml_calibration's bins reduced to the metric
    // model cards report): ECE = Σ_b (n_b/N)·|acc_b − conf_b|, plus
    // the max per-bin gap. Confidence is the deterministic [0,1)
    // sub-unit of the cent score (pmod 100 — corpus-independent bin
    // identity like the 2500-cent buckets). Exact integer/decimal
    // sums, rational closing arithmetic, round(6) — one hash-agg, one
    // 1-row fold; nothing at scale but map-side partials.
    (s, dir) => {
      val e = T(s, dir, "events").filter(col("value").isNotNull)
        .select(round(col("value") * 100).cast("long").as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        .select(expr("cents div 2500").as("bucket"),
          pmod(col("cents"), lit(100L)).as("ic"), // conf·100, exact int
          col("pos"))
      val bins = e.groupBy("bucket").agg(
        count(lit(1)).as("n"), sum("pos").as("n_pos"), sum("ic").as("__ic"))
      bins.agg(
        sum("n").cast("long").as("n"),
        round(
          sum(abs(col("n_pos") * lit(100L) - col("__ic")).cast("double")) /
            (lit(100.0) * sum("n").cast("double")), 6).as("ece"),
        round(max(abs(col("n_pos") * lit(100L) - col("__ic")).cast("double") /
          (lit(100.0) * col("n").cast("double"))), 6).as("max_ce"))
    },
    Some("""WITH e AS (SELECT CAST(round(value*100) AS BIGINT) AS cents,
           |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           |  FROM events WHERE value IS NOT NULL),
           |b AS (SELECT cents // 2500 AS bucket, count(*) AS n, sum(pos) AS n_pos,
           |    sum(cents % 100) AS ic
           |  FROM e GROUP BY 1)
           |SELECT CAST(sum(n) AS BIGINT) AS n,
           |  round(sum(CAST(abs(n_pos * 100 - ic) AS DOUBLE)) / (100.0 * sum(n)), 6) AS ece,
           |  round(max(CAST(abs(n_pos * 100 - ic) AS DOUBLE) / (100.0 * n)), 6) AS max_ce
           |FROM b""".stripMargin))

  private val mlBrier = Q(
    "ml_brier",
    // Brier score — the proper scoring rule closing the eval set
    // (AUC ranks, ECE calibrates, Brier does both at once):
    // mean (conf − y)². With conf = ic/100 on exact integer cents,
    // the sum expands to (Σic² − 200·Σ ic·y + 10000·Σy) / (10000·N) —
    // three EXACT integer sums (ic² ≤ 9801, no overflow at any corpus
    // size under decimal(38)) and ONE closing division rounded at 6.
    // The refinement/uncertainty decomposition's base rate rides
    // along for free. Pure map-side partials; a 2-row driver answer.
    (s, dir) => {
      val e = T(s, dir, "events").filter(col("value").isNotNull)
        .select(
          pmod(round(col("value") * 100).cast("long"), lit(100L)).as("ic"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      e.agg(
        count(lit(1)).as("n"),
        round(
          (sum((col("ic") * col("ic")).cast("decimal(38,0)")).cast("double")
            - lit(200.0) * sum((col("ic") * col("y")).cast("decimal(38,0)")).cast("double")
            + lit(10000.0) * sum(col("y").cast("decimal(38,0)")).cast("double"))
            / (lit(10000.0) * count(lit(1)).cast("double")), 6).as("brier"),
        round(sum("y").cast("double") / count(lit(1)).cast("double"), 6).as("base_rate"))
    },
    Some("""WITH e AS (SELECT CAST(round(value*100) AS BIGINT) % 100 AS ic,
           |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           |  FROM events WHERE value IS NOT NULL)
           |SELECT CAST(count(*) AS BIGINT) AS n,
           |  round((CAST(sum(ic*ic) AS DOUBLE) - 200.0 * CAST(sum(ic*y) AS DOUBLE)
           |         + 10000.0 * CAST(sum(y) AS DOUBLE)) / (10000.0 * count(*)), 6) AS brier,
           |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS base_rate
           |FROM e""".stripMargin))

  private val mlSurvivalKm = Q(
    "ml_survival_km",
    // Kaplan-Meier survival (Eval.kaplanMeier) — time from each user's
    // first event to their first 'error', right-censored at a fixed
    // 48-hour administrative horizon (the censoring EVERY production
    // time-to-event readout needs: open-ended subjects must enter the
    // risk sets without ever counting as failures). Durations are
    // exact integer hours (epoch-micros div — the calendar-math
    // doctrine); the subject table collapses to the duration
    // dictionary in one hash-agg; risk sets are reverse-cumulative
    // integers; each step factor is one IEEE division and the running
    // product is exp∘Σ∘ln in ascending-t order under the round(6)
    // transcendental doctrine. d=0 steps are dropped BEFORE the
    // product in both engines (their factor is exactly 1 — ln 1 = 0 —
    // so the estimator is unchanged and the fold orders agree).
    (s, dir) => {
      val u = T(s, dir, "events").groupBy(col("user_id")).agg(
        min(col("ts")).as("f"),
        min(when(col("event_type") === "error", col("ts"))).as("fe"))
      val subj = u
        .select(expr("(unix_micros(fe) - unix_micros(f)) div 3600000000").as("h"))
        .select(
          when(col("h").isNotNull && col("h") < 48, col("h")).otherwise(lit(48L)).as("t"),
          (col("h").isNotNull && col("h") < 48).as("obs"))
      graft.functions.Eval.kaplanMeier(subj, col("t"), col("obs"))
    },
    Some("""WITH u AS (SELECT user_id, min(ts) AS f,
           |             min(CASE WHEN event_type = 'error' THEN ts END) AS fe
           |           FROM events GROUP BY 1),
           |s AS (SELECT h FROM (SELECT (epoch_us(fe) - epoch_us(f)) // 3600000000 AS h FROM u)),
           |subj AS (SELECT CASE WHEN h IS NOT NULL AND h < 48 THEN h ELSE 48 END AS t,
           |                (h IS NOT NULL AND h < 48) AS obs FROM s),
           |st AS (SELECT t, CAST(count(*) AS BIGINT) AS c,
           |              CAST(count(*) FILTER (WHERE obs) AS BIGINT) AS d
           |       FROM subj GROUP BY 1),
           |r AS (SELECT t, c, d, sum(c) OVER
           |        (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
           |      FROM st),
           |f AS (SELECT * FROM r WHERE d > 0)
           |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d AS n_event,
           |  round(exp(sum(ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)))
           |        OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6) AS survival
           |FROM f""".stripMargin))

  private val mlPsi = Q(
    "ml_psi",
    // Population stability index — the industry drift number next to
    // ml_ks_drift (exact ranks) and q_drift_hist (per-bin counts):
    // PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) between the pre- and
    // post-2024-01-15 value distributions, per event_type, over the
    // fixed 2500-cent bins (corpus-independent identity, mergeable
    // partials). Laplace-0.5 smoothing keeps absent bins finite and is
    // applied over the bin set each TYPE observed — both engines
    // derive it from the same counts. ln under the round(6) doctrine.
    // Shape: one (type, bucket) hash-agg with conditional count
    // partials, a per-type totals fold, one narrow term projection —
    // the whole metric is metadata-sized after the first agg.
    (s, dir) => {
      val d15 = ts("2024-01-15")
      val e = T(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"),
          expr("CAST(round(value*100) AS BIGINT) div 2500").as("bucket"),
          (col("ts") < d15).as("pre"))
      val counts = e.groupBy("event_type", "bucket").agg(
        sum(when(col("pre"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("pre"), 1L).otherwise(0L)).as("b"))
      val tot = counts.groupBy("event_type").agg(
        sum("a").as("na"), sum("b").as("nb"), count(lit(1)).as("nbins"))
      counts.join(tot, "event_type")
        .select(col("event_type"),
          ((col("a") + lit(0.5)) / (col("na") + lit(0.5) * col("nbins"))).as("p"),
          ((col("b") + lit(0.5)) / (col("nb") + lit(0.5) * col("nbins"))).as("q"))
        .groupBy("event_type")
        .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"))
    },
    Some("""WITH e AS (SELECT event_type,
           |    CAST(round(value*100) AS BIGINT) // 2500 AS bucket,
           |    (ts < TIMESTAMP '2024-01-15') AS pre
           |  FROM events WHERE value IS NOT NULL),
           |c AS (SELECT event_type, bucket,
           |    count(*) FILTER (WHERE pre) AS a,
           |    count(*) FILTER (WHERE NOT pre) AS b
           |  FROM e GROUP BY 1, 2),
           |t AS (SELECT event_type, sum(a) AS na, sum(b) AS nb, count(*) AS nbins
           |  FROM c GROUP BY 1),
           |terms AS (SELECT c.event_type,
           |    (c.a + 0.5) / (t.na + 0.5 * t.nbins) AS p,
           |    (c.b + 0.5) / (t.nb + 0.5 * t.nbins) AS q
           |  FROM c JOIN t USING (event_type))
           |SELECT event_type, round(sum((p - q) * ln(p / q)), 6) AS psi
           |FROM terms GROUP BY 1""".stripMargin))

  private val qDauWau = Q(
    "q_dau_wau",
    // DAU/WAU stickiness — the engagement ratio every product pipeline
    // reports: per-day exact distinct users over the enclosing 7-day
    // block's distinct users. Integer day/week keys from epoch-micros
    // division (TZ-free — the calendar-math doctrine), two distinct
    // aggs joined on the week key, one closing division. At 100 TB
    // both distincts are standard two-phase hash-aggs on (period,
    // user); the week agg's key space is 1/7th the day one's.
    (s, dir) => {
      val e = T(s, dir, "events")
        .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      val dau = e.groupBy(col("day")).agg(count_distinct(col("user_id")).as("dau"))
      val wau = e.groupBy(expr("day div 7").as("week"))
        .agg(count_distinct(col("user_id")).as("wau"))
      dau.join(wau, expr("day div 7") === col("week"))
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau").cast("double"), 6)
            .as("stickiness"))
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
           |d AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM e GROUP BY 1),
           |w AS (SELECT day // 7 AS week, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
           |      FROM e GROUP BY 1)
           |SELECT d.day, dau, wau,
           |  round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
           |FROM d JOIN w ON d.day // 7 = w.week""".stripMargin))

  /** Shared oracle CTE: the txt_langid heuristic's predictions as
    * (doc_id, actual, pred) — the "deployed model" the confusion/kappa
    * readouts evaluate against gold labels.
    */
  private val langidPredCtes: String =
    """h AS (SELECT doc_id, lang,
      |  len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','is'))) AS en,
      |  len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que','y'))) AS es,
      |  len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist'))) AS de,
      |  len(list_filter(string_split(text,' '), x -> x IN ('le','la','de','et','est'))) AS fr,
      |  len(list_filter(string_split(text,' '), x -> x IN ('的','了','是','我','不'))) AS zh
      |FROM documents),
      |p AS (SELECT doc_id, lang AS actual,
      |  CASE WHEN en >= es AND en >= de AND en >= fr AND en >= zh THEN 'en'
      |       WHEN es >= de AND es >= fr AND es >= zh THEN 'es'
      |       WHEN de >= fr AND de >= zh THEN 'de'
      |       WHEN fr >= zh THEN 'fr'
      |       ELSE 'zh' END AS pred
      |FROM h)""".stripMargin

  private val mlConfusion = Q(
    "ml_confusion",
    // Multiclass confusion matrix of the deployed langid heuristic vs
    // gold labels (Eval.confusion) — the error-ANATOMY readout next to
    // the scalar metrics: per observed (actual, pred) cell, count +
    // per-class recall/precision fractions. One corpus hash-agg to the
    // |classes|^2 dictionary; the row/column rollups and join-backs are
    // dictionary-sized broadcasts. The zh row is the interesting one:
    // space-tokenized zh text rarely hits the marker set, so its mass
    // leaks wherever the tie-break CASE sends empty scores.
    (s, dir) => graft.functions.Eval.confusion(
      T(s, dir, "documents").select(col("lang"), TextOps.langId(toks).as("pred")),
      actualCol = col("lang"), predCol = col("pred")),
    Some(s"""WITH $langidPredCtes,
           |cells AS (SELECT actual, pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
           |r AS (SELECT actual, CAST(sum(n) AS BIGINT) AS n_actual FROM cells GROUP BY 1),
           |c AS (SELECT pred, CAST(sum(n) AS BIGINT) AS n_pred FROM cells GROUP BY 1)
           |SELECT cells.actual, cells.pred, n, n_actual, n_pred,
           |  round(CAST(n AS DOUBLE) / CAST(n_actual AS DOUBLE), 6) AS recall_frac,
           |  round(CAST(n AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) AS precision_frac
           |FROM cells JOIN r USING (actual) JOIN c USING (pred)""".stripMargin))

  private val mlCohenKappa = Q(
    "ml_cohen_kappa",
    // Cohen's kappa between the langid heuristic and gold labels
    // (Eval.cohenKappa) — chance-corrected agreement, the one scalar a
    // labeling pipeline reports when raw accuracy flatters an
    // imbalanced corpus. All-integer identity (N·Σdiag − Σ row·col) /
    // (N² − Σ row·col) with ONE closing division; everything after the
    // corpus hash-agg is |classes|-dictionary-sized.
    (s, dir) => graft.functions.Eval.cohenKappa(
      T(s, dir, "documents").select(col("lang"), TextOps.langId(toks).as("pred")),
      actualCol = col("lang"), predCol = col("pred")),
    Some(s"""WITH $langidPredCtes,
           |cells AS (SELECT actual, pred, count(*) AS n FROM p GROUP BY 1, 2),
           |r AS (SELECT actual, sum(n) AS rn FROM cells GROUP BY 1),
           |c AS (SELECT pred, sum(n) AS cn FROM cells GROUP BY 1),
           |e AS (SELECT coalesce(sum(rn*cn), 0) AS e
           |      FROM r JOIN c ON r.actual = c.pred),
           |d AS (SELECT sum(n) AS nn,
           |        sum(CASE WHEN actual = pred THEN n ELSE 0 END) AS diag FROM cells)
           |SELECT CAST(nn AS BIGINT) AS n, CAST(diag AS BIGINT) AS n_agree,
           |  round(CAST(nn*diag - e AS DOUBLE) / CAST(nn*nn - e AS DOUBLE), 6) AS kappa
           |FROM d CROSS JOIN e WHERE nn*nn <> e""".stripMargin))

  private val dqKAnonymity = Q(
    "dq_k_anonymity",
    // k-anonymity screening (Sweeney 2002) — the privacy gate a
    // training-data release runs: any quasi-identifier combination
    // shared by FEWER than k records is a re-identification handle.
    // Quasi-ids here: (lang, source, 100-char length band). ONE
    // hash-agg to the quasi-id dictionary, then the < k filter — at
    // 100 TB this is exactly a group-by-count whose key space is the
    // quasi-id product, and the violating-group report (not the row
    // list) is what travels back. Integer length bands, no floats.
    (s, dir) => T(s, dir, "documents")
      .groupBy(col("lang"), col("source"),
        expr("n_chars div 100").as("chars_band"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < 5),
    Some("""SELECT lang, source, n_chars // 100 AS chars_band,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM documents GROUP BY 1, 2, 3 HAVING count(*) < 5""".stripMargin))

  private val docMixtureTemperature = Q(
    "doc_mixture_temperature",
    // Temperature-balanced mixture sampling (the multilingual α = 0.5
    // rebalance of XLM-R / mT5: target share ∝ p^α, so tail domains
    // keep MORE mass than the uniform-target downsample of
    // doc_mixture_sample, head domains still shrink): keep-rate per
    // source = sqrt(n_min / n_source) — the α = 0.5 rate normalized so
    // the smallest source keeps everything. Same scan → broadcast-rate
    // → hash-threshold filter plan as doc_mixture_sample (no sorts, no
    // per-domain single-task quota windows; membership is per-doc
    // stable under corpus growth). Determinism: the rate chain is
    // BIGINT→double divide, sqrt, ×2^32, floor — every step correctly
    // rounded IEEE, identical cross-engine (the repo doctrine bans
    // libm ln/pow, NOT division/sqrt chains).
    (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), col("source"))
      val rates = d.groupBy("source").agg(count(lit(1)).as("n"))
        .crossJoin(d.groupBy("source").agg(count(lit(1)).as("n"))
          .agg(min("n").as("n_min")))
        .withColumn("thr",
          floor(sqrt(col("n_min").cast("double") / col("n").cast("double")) *
            lit(4294967296.0)).cast("long"))
        .select("source", "thr")
      d.join(broadcast(rates), "source")
        .filter(conv(substring(md5(concat(lit("mixt:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long") < col("thr"))
        .select("doc_id", "source")
    },
    Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
           |m AS (SELECT min(n) AS n_min FROM c),
           |r AS (SELECT c.source,
           |    CAST(floor(sqrt(CAST(m.n_min AS DOUBLE) / CAST(c.n AS DOUBLE))
           |               * 4294967296.0) AS BIGINT) AS thr
           |  FROM c, m)
           |SELECT d.doc_id, d.source
           |FROM documents d JOIN r ON d.source = r.source
           |WHERE ('0x' || substr(md5(concat('mixt:', CAST(d.doc_id AS VARCHAR))), 1, 8))::BIGINT
           |      < r.thr""".stripMargin))

  private val docMixtureTokens = Q(
    "doc_mixture_tokens",
    // TOKEN-weighted mixture rebalancing — the form production
    // pretraining mixtures actually use (Pile/LLaMA weights are token
    // shares, not document counts): each source's keep-rate targets
    // the smallest source's TOKEN mass, so a source of few huge docs
    // and a source of many small docs equalize on what the training
    // run consumes. Rates = exact integer token sums (whitespace
    // tokens, matching txt_stats) through the same DECIMAL/HUGEINT
    // 2^32 threshold arithmetic as doc_mixture_sample; the plan is
    // identical — one token-count agg (the only corpus-sized work),
    // broadcast rate table, narrow hash-threshold filter. Selection
    // stays per-doc Bernoulli: kept TOKEN mass is binomial around the
    // target, the stable-under-growth trade every mixture gate makes.
    (s, dir) => {
      val d = T(s, dir, "documents").select(
        col("doc_id"), col("source"), size(toks).cast("long").as("tok"))
      val rates = d.groupBy("source").agg(sum("tok").as("t"))
        .crossJoin(d.groupBy("source").agg(sum("tok").as("t"))
          .agg(min("t").as("t_min")))
        .withColumn("thr",
          expr("CAST((CAST(t_min AS DECIMAL(38,0)) * 4294967296) DIV t AS BIGINT)"))
        .select("source", "thr")
      d.join(broadcast(rates), "source")
        .filter(conv(substring(md5(concat(lit("mixtok:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long") < col("thr"))
        .select("doc_id", "source", "tok")
    },
    Some("""WITH d AS (SELECT doc_id, source,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
           |c AS (SELECT source, sum(tok) AS t FROM d GROUP BY 1),
           |m AS (SELECT min(t) AS t_min FROM c),
           |r AS (SELECT c.source,
           |    CAST((CAST(m.t_min AS HUGEINT) * 4294967296) // c.t AS BIGINT) AS thr
           |  FROM c, m)
           |SELECT d.doc_id, d.source, d.tok
           |FROM d JOIN r ON d.source = r.source
           |WHERE ('0x' || substr(md5(concat('mixtok:', CAST(d.doc_id AS VARCHAR))), 1, 8))::BIGINT
           |      < r.thr""".stripMargin))

  private val simPrefixRerank = Q(
    "sim_prefix_rerank",
    // Two-stage prefix retrieval — the Matryoshka-embedding pattern
    // (Kusupati et al. 2022): stage 1 ranks the corpus by cosine over
    // the FIRST 16 of 64 dimensions (4x less arithmetic and, with
    // prefix-truncated storage, 4x less scan IO) and keeps top-20 per
    // query; stage 2 re-ranks only those 20 by full-width cosine and
    // emits top-5. At scale stage 1 is the ANN-index sweep and stage 2
    // touches a constant candidate set per query — the gate certifies
    // the STAGING contract: cut by rounded prefix score with id
    // tiebreaks (deterministic cross-engine), re-rank exact. Both
    // stages are broadcast-query scoring joins + windowed top-k; no
    // corpus-sized shuffle anywhere.
    (s, dir) => {
      val e = T(s, dir, "embeddings")
      val c = e.filter(col("vec_id") >= 10).select(
        col("vec_id").as("c_id"),
        col("embedding").cast("array<double>").as("cv"))
      val q = e.filter(col("vec_id") < 10).select(
        col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qv"))
      val stage1 = c.crossJoin(broadcast(q)) // 10 broadcast queries: the sim_cosine_topk shape
        .select(col("q_id"), col("c_id"), col("qv"), col("cv"),
          round(CosineSimilarity.cosineSim(slice(col("qv"), 1, 16), slice(col("cv"), 1, 16)), 6)
            .as("pcos"))
      val w1 = Window.partitionBy(col("q_id")).orderBy(col("pcos").desc, col("c_id"))
      val shortlist = stage1.withColumn("r1", row_number().over(w1)).filter(col("r1") <= 20)
      val w2 = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
      shortlist
        .select(col("q_id"), col("c_id"),
          round(CosineSimilarity.cosineSim(col("qv"), col("cv")), 6).as("cosine"))
        .withColumn("rank", row_number().over(w2)).filter(col("rank") <= 5)
        .select("q_id", "c_id", "cosine", "rank")
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |s1 AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.v AS qv, c.v AS cv,
           |    round(
           |      list_sum(list_transform(range(1, 17), i -> q.v[i] * c.v[i])) /
           |      (sqrt(list_sum(list_transform(range(1, 17), i -> q.v[i] * q.v[i]))) *
           |       sqrt(list_sum(list_transform(range(1, 17), i -> c.v[i] * c.v[i])))), 6)
           |      AS pcos
           |  FROM e q CROSS JOIN e c WHERE q.vec_id < 10 AND c.vec_id >= 10),
           |short AS (SELECT q_id, c_id, qv, cv FROM (
           |    SELECT q_id, c_id, qv, cv,
           |      row_number() OVER (PARTITION BY q_id ORDER BY pcos DESC, c_id) AS r1
           |    FROM s1) WHERE r1 <= 20),
           |s2 AS (SELECT q_id, c_id, round(
           |    list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))), 6) AS cosine
           |  FROM short)
           |SELECT q_id, c_id, cosine, rank FROM (
           |  SELECT q_id, c_id, cosine,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
           |  FROM s2) WHERE rank <= 5""".stripMargin))

  private val curateSurvivors = Q(
    "curate_survivors",
    // Quality-aware survivor selection — the step AFTER dedup_components'
    // clustering: instead of "keep the min id", keep the HIGHEST-QUALITY
    // doc of each duplicate group (round-6 quality, doc_id tie-break —
    // a total order, so the choice is deterministic at any parallelism).
    // Pipeline: LSH pairs → connected components → per-cluster argmax
    // via one min-struct hash-agg over (−quality rank) ... expressed as
    // max(struct(quality, doc_id)) — cluster-dictionary-sized, never a
    // window over the corpus. The oracle recomputes the closure
    // INDEPENDENTLY (recursive-CTE BFS) like dedup_components, so a
    // contraction bug cannot cancel out.
    (s, dir) => {
      val d = spread(T(s, dir, "documents"))
      val base = mat(d.select(
        col("doc_id"), digestShingles(TextOps.wordShingles(toks, 3)).as("sh"))
        .filter(size(col("sh")) > 0))
      val pairs = SimilarityOps.lshCandidatePairs(base, "doc_id", "sh",
          aName = "doc_a", bName = "doc_b")
        .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
        .join(base.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
        .filter(SimilarityOps.jaccard(col("sha"), col("shb")) >= 0.3)
        .select(col("doc_a"), col("doc_b"))
      val clusters = graft.functions.Components.totalComponents(
          base, "doc_id", pairs, "doc_a", "doc_b", assumeUniqueIds = true)
        .select(col("node").cast("long").as("doc_id"),
          col("component").cast("long").as("cluster_id"))
      val quality = d.select(col("doc_id"),
        round(TextOps.qualityScore(col("text"), toks, Stopwords), 6).as("q"))
      val scored = clusters.join(quality, Seq("doc_id"))
      val winners = scored.groupBy(col("cluster_id"))
        .agg(max(struct(col("q"), col("doc_id"))).as("__w"))
        .select(col("cluster_id"), col("__w.doc_id").as("survivor_id"))
      scored.join(winners, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("survivor_id"),
          col("q").as("quality"),
          (col("doc_id") === col("survivor_id")).as("kept"))
    },
    Some(s"""WITH RECURSIVE toksq AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |base0 AS (SELECT doc_id, list_distinct(list_transform(list_transform(range(1, len(tk) - 1), i ->
           |           concat(tk[i], ' ', tk[i+1], ' ', tk[i+2])), s -> substr(md5(s), 1, 12))) AS sh FROM toksq),
           |base AS (SELECT * FROM base0 WHERE len(sh) > 0),
           |${lshOracleCtes("base", "sh", Nil)},
           |pairs AS (SELECT doc_a, doc_b
           |          FROM cand JOIN base x ON x.doc_id = doc_a JOIN base y ON y.doc_id = doc_b
           |          WHERE ${lshVerifySql("sh")} >= 0.3),
           |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
           |          UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT s AS node, s AS label FROM edges
           |  UNION
           |  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node),
           |cl AS (SELECT node, CAST(min(label) AS BIGINT) AS cluster_id
           |       FROM reach GROUP BY node),
           |clusters AS (SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
           |       coalesce(cl.cluster_id, CAST(b.doc_id AS BIGINT)) AS cluster_id
           |  FROM base b LEFT JOIN cl ON cl.node = b.doc_id),
           |qual AS (SELECT doc_id,
           |    round((CAST(len(list_filter(string_split(text,' '),
           |           x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
           |           / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.5
           |        + (CAST(len(string_split(text,' ')) AS DOUBLE)
           |           / (CAST(len(string_split(text,' ')) AS DOUBLE) + 50.0)) * 0.5, 6) AS q
           |  FROM documents),
           |scored AS (SELECT c.doc_id, c.cluster_id, q FROM clusters c JOIN qual USING (doc_id)),
           |winners AS (SELECT cluster_id, doc_id AS survivor_id FROM (
           |    SELECT cluster_id, doc_id,
           |      row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id DESC) AS rn
           |    FROM scored) WHERE rn = 1)
           |SELECT s.doc_id, s.cluster_id, w.survivor_id, s.q AS quality,
           |  (s.doc_id = w.survivor_id) AS kept
           |FROM scored s JOIN winners w USING (cluster_id)""".stripMargin))

  private val fsRollingCorr = Q(
    "fs_rolling_corr",
    // Rolling 24-hour Pearson correlation between two series (purchase
    // vs view hourly cent totals) — the co-movement monitor next to
    // q_corr_activity's single global coefficient. The corpus
    // pre-aggregates to ONE bounded hourly grid (the cusum doctrine:
    // recurrences and windows run on the grid, never raw events; 744
    // points/month however big the corpus), both series land in one
    // conditional hash-agg pass, and the rolling moments are decimal-
    // exact ROWS-frame sums — n·Σxy − ΣxΣy cross-multiplied in integer
    // space, ONE closing double sqrt/division rounded at 6, NULL where
    // either window variance is 0 (guarded, not 0/0).
    (s, dir) => {
      val hr = T(s, dir, "events").filter(col("value").isNotNull)
        .select((unix_timestamp(col("ts")) / 3600).cast("long").as("hx"),
          col("event_type"),
          round(col("value") * 100).cast("decimal(38,0)").as("cents"))
        .groupBy(col("hx"))
        .agg(
          sum(when(col("event_type") === "purchase", col("cents"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("x"),
          sum(when(col("event_type") === "view", col("cents"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("y"))
      val w = Window.orderBy(col("hx")).rowsBetween(-23, 0)
      hr.select(col("hx"),
          count(lit(1)).over(w).as("n"),
          sum(col("x")).over(w).as("sx"), sum(col("y")).over(w).as("sy"),
          sum(col("x") * col("y")).over(w).as("sxy"),
          sum(col("x") * col("x")).over(w).as("sxx"),
          sum(col("y") * col("y")).over(w).as("syy"))
        .select(col("hx"), col("n"),
          when(
            (col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
              (col("n") * col("syy") - col("sy") * col("sy")) > 0,
            round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6))
            .as("corr24"))
    },
    Some("""WITH e AS (
           |  SELECT (epoch_us(ts)//1000000) // 3600 AS hx, event_type,
           |         CAST(round(value*100) AS HUGEINT) AS cents
           |  FROM events WHERE value IS NOT NULL),
           |hr AS (SELECT hx,
           |    sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS x,
           |    sum(CASE WHEN event_type = 'view' THEN cents ELSE 0 END) AS y
           |  FROM e GROUP BY 1),
           |m AS (SELECT hx,
           |    count(*) OVER w AS n,
           |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
           |    sum(x*y) OVER w AS sxy, sum(x*x) OVER w AS sxx, sum(y*y) OVER w AS syy
           |  FROM hr WINDOW w AS (ORDER BY hx ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
           |SELECT hx, CAST(n AS BIGINT) AS n,
           |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
           |    round(CAST(n*sxy - sx*sy AS DOUBLE) /
           |      sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6)
           |  END AS corr24
           |FROM m""".stripMargin))

  private val qDedupWindow = Q(
    "q_dedup_window",
    // Windowed event dedup — the "ignore repeats within N minutes"
    // rule every event pipeline runs (double-clicks, retry storms):
    // keep an event iff the PREVIOUS same-(user, type) event is at
    // least 10 minutes older. One lag() over the per-key sort with the
    // (ts, event_id) total order pinning ties — a same-timestamp
    // repeat is deterministically dropped on both engines. One
    // exchange on the key, no self-join; at 100 TB the per-key window
    // is the standard sessionize shuffle shape.
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        .filter(col("__prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("__prev")) >= 600000000L)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    },
    Some("""WITH w AS (SELECT event_id, user_id, event_type, ts,
           |    lag(ts) OVER (PARTITION BY user_id, event_type
           |                  ORDER BY ts, event_id) AS prev
           |  FROM events)
           |SELECT event_id, user_id, event_type, ts
           |FROM w WHERE prev IS NULL OR epoch_us(ts) - epoch_us(prev) >= 600000000""".stripMargin))

  private val dqJoinFanout = Q(
    "dq_join_fanout",
    // Pre-join cardinality estimation — the guard a pipeline runs
    // BEFORE a key-join melts a cluster: for a self-join on
    // (user_id, day), the output volume per day is Σ_u n_u² (exact,
    // from the same count dictionary a salting decision reads). Emits
    // per-day exact pair volume, the heaviest key, and the blow-up
    // ratio vs a perfectly uniform key distribution (Σn² ⁄ (N²/k) —
    // 1.0 means no skew; integer cross-multiplication, one closing
    // division). The corpus is touched ONCE (hash-agg to the key
    // dictionary); everything downstream is dictionary-sized.
    (s, dir) => {
      // n² and the ratio cross-products in decimal: one 3e9-row hot key
      // wraps a LongType n² negative — the guard must not overflow at
      // exactly the blow-up scale it exists to detect (the oracle's
      // HUGEINT arithmetic is exact)
      val c = T(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"))
      c.groupBy(col("day"))
        .agg(sum(col("n")).as("__nn"),
          count(lit(1)).as("n_keys"),
          sum(col("n") * col("n")).as("__p2"),
          max(col("n")).as("__mx"))
        .select(col("day"), col("n_keys"),
          col("__p2").cast("long").as("est_pairs"),
          col("__mx").cast("long").as("max_key_rows"),
          round((col("__p2") * col("n_keys")).cast("double") /
            (col("__nn") * col("__nn")).cast("double"), 6).as("skew_ratio"))
    },
    Some("""WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id,
           |             count(*) AS n
           |           FROM events GROUP BY 1, 2)
           |SELECT day, CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(n*n) AS BIGINT) AS est_pairs,
           |  CAST(max(n) AS BIGINT) AS max_key_rows,
           |  round(CAST(sum(n*n)*count(*) AS DOUBLE) /
           |        CAST(sum(n)*sum(n) AS DOUBLE), 6) AS skew_ratio
           |FROM c GROUP BY 1""".stripMargin))

  private val dedupSemanticIncremental = Q(
    "dedup_semantic_incremental",
    // Incremental SemDeDup — the production shape (dedup_incremental's
    // asymmetry applied to the embedding path): vectors with
    // vec_id >= 375 are "today's batch", judged against corpus + batch,
    // and ONLY batch rows can be dropped — prune's dropSide filters the
    // pair join's b side from the whole corpus to the batch, so the
    // historical cells never re-pair against themselves. Output is the
    // batch's verdicts; corpus rows are not re-judged.
    (s, dir) => {
      val e = T(s, dir, "embeddings")
      val index = graft.functions.AnnIvf.buildFixed(e, "embedding", idCol = "vec_id", k = 16)
      graft.functions.SemDedup.prune(index, "vec_id", tau = 0.3,
          dropSide = Some(col("vec_id") >= 375))
        .filter(col("vec_id") >= 375)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v AS cv,
           |         list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) / 2 AS half
           |  FROM e ORDER BY vec_id LIMIT 16),
           |assign AS (SELECT vec_id, v, cell FROM (
           |    SELECT e.vec_id, e.v, cent.j AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_sum(list_transform(range(1, 65), i -> e.v[i] * cent.cv[i]))
           |              - cent.half, 6) DESC, cent.j DESC) AS rr
           |    FROM e CROSS JOIN cent) WHERE rr = 1),
           |dropped AS (SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
           |    ON a.cell = b.cell AND a.vec_id < b.vec_id AND b.vec_id >= 375
           |   AND round(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
           |       (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
           |        sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))), 6) >= 0.3)
           |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, (d.vec_id IS NULL) AS kept
           |FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
           |WHERE a.vec_id >= 375""".stripMargin))

  private val fsResampleFfillLimit = Q(
    "fs_resample_ffill_limit",
    // Gap-LIMITED forward fill — pandas resample().ffill(limit=N), the
    // staleness control fs_resample_1d's unbounded carry lacks: a grid
    // point more than 3 days past the last observation reads NULL
    // instead of a stale value (series that go quiet must not haunt a
    // training frame forever). Composed from the existing kernels:
    // daily spine × staleness-bounded as-of (asofJoin toleranceUs) —
    // the same one-exchange union-fill plan as fs_asof_tolerance, with
    // the grid side generated, not scanned.
    (s, dir) => {
      val grid = s.range(1).select(explode(expr(
        "sequence(timestamp'2024-01-01 00:00:00', timestamp'2024-01-30 00:00:00', interval 1 day)"))
        .as("time"))
      // equal-timestamp ties resolved to max(value) BEFORE the as-of
      // (the fs_resample_1d convention): DuckDB's ASOF picks an
      // arbitrary row among same-time matches, so the contract must
      // not lean on the generator's ts uniqueness
      val purchases = T(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("ts").as("time")).agg(max(col("value")).as("value"))
      TimeseriesOps.asofJoin(grid, purchases,
        rightValueCols = Seq("value"), by = Seq(),
        toleranceUs = Some(3L * 86400 * 1000000))
    },
    Some("""WITH p AS (SELECT ts AS time, max(value) AS value FROM events
           |           WHERE event_type = 'purchase' GROUP BY 1),
           |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
           |                 TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS time)
           |SELECT g.time,
           |  CASE WHEN p.time >= g.time - INTERVAL 3 DAY THEN p.value END AS value
           |FROM grid g ASOF LEFT JOIN p ON p.time <= g.time""".stripMargin))

  private val mlQuantizeInt8 = Q(
    "ml_quantize_int8",
    // Int8 embedding quantization — the storage-economics op of a
    // 100 TB vector corpus (float32 → int8 = 4× less scan IO, the PQ
    // gate's cousin with exact per-vector reconstruction): max-abs
    // symmetric scale, q = round(x·127/scale) ties-away-from-zero
    // (Spark round == DuckDB round on identical doubles), checksums in
    // exact integers, reconstruction MSE as one fixed IEEE chain
    // rounded at 6. Pure narrow per-row expressions — no shuffle, no
    // UDF; zero vectors are guarded out (q undefined at scale 0).
    (s, dir) => T(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("m", array_max(transform(col("v"), x => abs(x))))
      .filter(col("m") > 0)
      .withColumn("qv", transform(col("v"),
        x => round(x * lit(127.0) / col("m")).cast("long")))
      .select(col("vec_id"), round(col("m"), 6).as("scale"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + abs(x)).as("q_l1"),
        round(
          aggregate(
            zip_with(col("v"), col("qv"), (x, q) =>
              (x - q.cast("double") * col("m") / lit(127.0)) *
                (x - q.cast("double") * col("m") / lit(127.0))),
            lit(0.0), (acc, x) => acc + x) / lit(64.0), 6).as("mse")),
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM e),
           |q AS (SELECT vec_id, m, v,
           |        list_transform(v, x -> CAST(round(x * 127 / m) AS BIGINT)) AS qv
           |      FROM s WHERE m > 0)
           |SELECT vec_id, round(m, 6) AS scale,
           |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
           |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
           |  round(list_sum(list_transform(range(1, 65), i ->
           |    (v[i] - qv[i]*m/127) * (v[i] - qv[i]*m/127))) / 64.0, 6) AS mse
           |FROM q""".stripMargin))

  private val simHardNegatives = Q(
    "sim_hard_negatives",
    // Hard-negative mining for contrastive training — the step after
    // top-k retrieval: per anchor, the candidates ranked JUST BELOW
    // the positives (ranks 6..15 by exact cosine) are the negatives
    // that teach a bi-encoder the decision boundary; uniform-random
    // negatives are too easy to carry gradient. Identical plan shape
    // to sim_cosine_topk (broadcast the 10 anchors into the fused
    // codegen'd scoring join, windowed rank pushdown) — only the rank
    // window differs, so the mining step costs exactly one retrieval.
    (s, dir) => {
      val e = T(s, dir, "embeddings").select(
        col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("v").as("cv"))
      val scored = c.crossJoin(broadcast(q)).select(
        col("q_id"), col("c_id"),
        round(CosineSimilarity.cosineSim(col("qv"), col("cv")), 6).as("cosine"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") >= 6 && col("rank") <= 15)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
           |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id >= 10),
           |s AS (SELECT q_id, c_id, round(
           |    list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))), 6) AS cosine
           |  FROM c, q)
           |SELECT q_id, c_id, cosine, rank FROM (
           |  SELECT q_id, c_id, cosine,
           |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
           |  FROM s) WHERE rank BETWEEN 6 AND 15""".stripMargin))

  private val curateAudit = Q(
    "curate_audit",
    // Explainable curation — curate_docs' pipeline re-expressed as an
    // AUDIT: one row PER INPUT DOC with the flag of every stage that
    // judged it (quality gate, exact-dup, near-dup) and the final
    // verdict, so a data owner can answer "why did my document
    // disappear?" without re-running anything. Same stage logic and
    // banding as curate_docs (its survivor set must equal this gate's
    // kept=true set); the flags ride three dictionary/drop-list-sized
    // left joins back onto the corpus — the report costs one extra
    // broadcast-join pass over the pipeline it explains.
    (s, dir) => {
      val base = spread(T(s, dir, "documents")).select(
        col("doc_id"), col("lang"), col("source"), col("text"),
        size(toks).as("n_tokens"),
        (length(regexp_replace(col("text"), "[^a-zA-Z ]", "")).cast("double") /
          length(col("text")).cast("double")).as("alpha_ratio"))
        .withColumn("passed_quality",
          col("n_tokens") >= 20 && col("alpha_ratio") >= 0.8)
      val quality = base.filter(col("passed_quality"))
      val exactRn = quality
        .withColumn("h", md5(col("text")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"))))
        .select(col("doc_id"), (col("rn") > 1).as("is_exact_dup"))
      val exact = mat(quality.join(exactRn, Seq("doc_id"))
        .filter(!col("is_exact_dup")))
      val sh = mat(exact.select(col("doc_id"), col("lang"), col("source"),
        digestShingles(TextOps.wordShingles(toks, 2)).as("sh"))
        .filter(size(col("sh")) > 0))
      val (bb, rr) = SimilarityOps.sizedBanding(0.5)
      val nearDrops = SimilarityOps.lshCandidatePairs(sh, "doc_id", "sh",
          blockKeys = Seq("lang", "source"), aName = "doc_a", bName = "doc_b",
          bands = bb, rowsPerBand = rr)
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
        .filter(SimilarityOps.jaccard(col("sha"), col("shb")) >= 0.5)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("near", lit(true))
      base.select(col("doc_id"), col("lang"), col("passed_quality"))
        .join(exactRn, Seq("doc_id"), "left")
        .join(nearDrops, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("passed_quality"),
          coalesce(col("is_exact_dup"), lit(false)).as("is_exact_dup"),
          coalesce(col("near"), lit(false)).as("is_near_dup"))
        .withColumn("kept",
          col("passed_quality") && !col("is_exact_dup") && !col("is_near_dup"))
    },
    Some(s"""WITH base AS (
           |  SELECT doc_id, lang, source, text,
           |    len(string_split(text, ' ')) AS n_tokens,
           |    CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE) /
           |      CAST(length(text) AS DOUBLE) AS alpha_ratio
           |  FROM documents),
           |flagged AS (SELECT *, (n_tokens >= 20 AND alpha_ratio >= 0.8) AS passed_quality
           |  FROM base),
           |quality AS (SELECT * FROM flagged WHERE passed_quality),
           |exactrn AS (
           |  SELECT doc_id, (row_number() OVER
           |      (PARTITION BY md5(text) ORDER BY doc_id)) > 1 AS is_exact_dup
           |  FROM quality),
           |exact AS (SELECT q.* FROM quality q JOIN exactrn e USING (doc_id)
           |          WHERE NOT e.is_exact_dup),
           |sh0 AS (SELECT doc_id, lang, source,
           |    list_distinct(list_transform(list_transform(range(1, len(string_split(text,' '))), i ->
           |      concat(string_split(text,' ')[i], ' ', string_split(text,' ')[i+1])), s -> substr(md5(s), 1, 12))) AS sh
           |  FROM exact),
           |sh AS (SELECT * FROM sh0 WHERE len(sh) > 0),
           |${lshOracleCtes("sh", "sh", Seq("lang", "source"), bands = 6, rowsPerBand = 2)},
           |drops AS (
           |  SELECT DISTINCT doc_b AS doc_id
           |  FROM cand JOIN sh x ON x.doc_id = cand.doc_a
           |            JOIN sh y ON y.doc_id = cand.doc_b
           |  WHERE ${lshVerifySql("sh")} >= 0.5)
           |SELECT f.doc_id, f.lang, f.passed_quality,
           |  coalesce(e.is_exact_dup, FALSE) AS is_exact_dup,
           |  (d.doc_id IS NOT NULL) AS is_near_dup,
           |  (f.passed_quality AND NOT coalesce(e.is_exact_dup, FALSE)
           |     AND d.doc_id IS NULL) AS kept
           |FROM flagged f
           |LEFT JOIN exactrn e USING (doc_id)
           |LEFT JOIN drops d USING (doc_id)""".stripMargin))

  private val fsStreamConfusion = Q(
    "fs_stream_confusion",
    // §2.10: live classifier monitoring as the 21st streaming
    // certification — the confusion matrix of a deployed model
    // maintained over a document stream WITHOUT buffering a row: the
    // langid prediction is a stateless projection INSIDE the stream
    // (the deployed-model shape), the (actual, pred) cell counts ARE
    // the grouped running aggregation (state bounded by |classes|²
    // forever), and the batch-closed cells feed the SAME
    // Eval.confusionFromCounts rollup as ml_confusion. Completes the
    // live-eval suite: AUC (ranking), Gini (concentration), KS
    // (drift), confusion (error anatomy). Complete-mode close over
    // the 4-file replay must hash-equal the batch gate's oracle.
    (s, dir) => {
      val (srcDir, docSchema) = stagedDocsWide(s, dir)
      val cells = replayToMemory(s, srcDir, docSchema, OutputMode.Complete())(
        _.select(col("lang").as("actual"), TextOps.langId(toks).as("pred"))
          .groupBy(col("actual"), col("pred"))
          .agg(count(lit(1)).as("n")))
      graft.functions.Eval.confusionFromCounts(cells, "actual", "pred", "n")
    },
    // the SAME oracle as ml_confusion: the stream-closed cell
    // dictionary must reproduce the batch matrix exactly
    Some(s"""WITH $langidPredCtes,
           |cells AS (SELECT actual, pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
           |r AS (SELECT actual, CAST(sum(n) AS BIGINT) AS n_actual FROM cells GROUP BY 1),
           |c AS (SELECT pred, CAST(sum(n) AS BIGINT) AS n_pred FROM cells GROUP BY 1)
           |SELECT cells.actual, cells.pred, n, n_actual, n_pred,
           |  round(CAST(n AS DOUBLE) / CAST(n_actual AS DOUBLE), 6) AS recall_frac,
           |  round(CAST(n AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) AS precision_frac
           |FROM cells JOIN r USING (actual) JOIN c USING (pred)""".stripMargin))

  // =====================================================================

  val all: Seq[Q] = Seq(
    fsScanRange, fsDedupLatest, fsDedupSalted, fsOhlc, fsTimeTravel, fsResample1d,
    fsResampleYears,
    fsResampleMonthly, fsResampleInterp, fsResampleBfill, fsAlign2, fsDownsampleLttb,
    fsDownsampleM4, mlSurvivalKm,
    fsFirst, fsLast, fsBounds, fsJsonProps, fsAsofJoin, fsAsofTolerance, fsAsofForward, fsAsofNearest,
    fsStoreRoundtrip, fsStoreTxlog,
    fsStreamSink, fsStreamDelta, fsStreamIceberg, fsStreamWindow, fsStreamWindowWm, fsStreamM4, fsStreamSession, fsStreamSessionWm, fsStreamDedup, fsStreamEwma,
    fsStreamAttrib, fsStreamAttribOuter, fsStreamEnrich, fsStreamDedupLsh,
    fsTrainingFrame, fsTransformDag,
    q1Pricing, q3Top10, q5NationRev, qWindowRunning, fsRollingWindow, qLagGap,
    qAntiJoin, qSemiJoin, qSetopExcept, qRollupOrders, qCubeOrders, qTopkOrders,
    qStatsVar, qMedian, qWeightedMedian, qHistogramEqh, qScd2Intervals, qSessionize, qFunnel, qRetention,
    txtStats, txtChunks, txtLangid, txtFingerprint, txtQuality, txtRepetition, txtKeywords,
    txtGopherRules, docDsirWeights, docDsirSample,
    dqEvents, qDriftHist, qSampleStratified, qPivotSources, txtVocab, docHoldout,
    txtContamination, txtDecontamBloom, txtMaskSpans, txtPerplexity, txtPerplexity3,
    qShuffleSeeded, qInterleaveSources,
    docMixtureSample, txtPiiRedact, txtUrlNormalize, dedupUrl,
    dedupSpans, dedupExact, dedupNgramJaccard, dedupMinhashLsh, dedupLshRecall, dedupSubstring, dedupSimhash, dedupWinnow,
    dedupComponents, dedupIncremental, curateDocs, qPackShards, docPackContexts,
    docHoldoutGroups,
    simCosineTopk, simEmbedDedup, dedupEmbedLsh, simAnnLsh, simAnnIvf, simAnnIvfStored,
    simAnnPq, simAnnIvfPq, simAnnIvfPqRerank, simAnnFiltered,
    simAnnRecall, simLabelCentroid, simCentroidDrift,
    fsCatalogLifecycle, fsEwmaLast, qApproxDistinct, mlFeatureHash, mlChi2Select, mlMiSelect, mlTargetEncode,
    qTransitions, mlQuantileBin, mlMinmaxScale, dqOutliers,
    qIntervalJoin, graphPagerank, graphTriangles, graphLabelProp, txtNovelty, txtBm25, txtUnigramSurprisal,
    txtBigramSurprisal, txtReadability,
    mlWinsorize, qCorrActivity, qJoinSalted, mlPercentileRank, txtBpePairs,
    qSetopIntersect, qUnpivot, txtBpeTrain, txtBpeTrainBatched, txtBpeEncode, dedupEditVerify,
    qRollingDistinctHll, txtCmsCounts, qGroupingSets, fsStreamHll, qKmvDistinct,
    qQuantileSketch, fsStreamQuantile, qRollingQuantile, qZorderKey, qKmvOverlap, fsDescribe,
    dqRobustOutliers, fsStreamCms, fsStreamKmv,
    fsStoreZorder, fsFastStats, srcCsvRoundtrip, srcJsonRoundtrip, srcOrcRoundtrip,
    fsStoreBucketed,
    fsStoreDeleteRows, fsStoreUpdateRows, fsStoreChanges, fsStoreEvolve, fsStoreMerge,
    fsStoreRestore, fsStoreCheck, fsStoreExport, fsStoreExportDelta, fsStoreDeltaSync,
    fsStoreExportIceberg, fsStoreIcebergSync, fsIcebergTransforms, fsDeltaColmap,
    fsStoreIcebergEvolve, fsIcebergPosDelete, fsIcebergEqDelete, fsDeltaDv,
    fsIcebergCompact,
    fsStoreBloomSkip,
    fsIncrementalAgg,
    mmBinaryMeta, mmImageHeaders, mmFrameSample, mmVideoIndex, mmVideoFrames, mmVideoDecode,
    mmResizePlan,
    mmPixelStats, mmResizeExec, mmAudioEnergy, mmAudioDecimate,
    qCusumShift, fsHoltWinters, fsSeasonalAnomaly, mlCovariance, dqExpectations, txtTfidfPairs,
    dedupContainment, qMarketBasket, qAcfHourly, fsStreamCusum,
    mlAuc, mlKsDrift, qGini, mmPhash, fsStreamAnomaly, qRfmSegments,
    qTimeToConvert, fsStreamGini, qPaths2Step, qBenford,
    qAbAssign, qCuped, mlLiftTable, qAbTtest, fsStreamAuc,
    mlNaiveBayes, dedupSemantic, fsStreamDrift, mlCalibration, mlEce, mlPsi, mlBrier,
    qDauWau,
    mlConfusion, mlCohenKappa, dqKAnonymity, docMixtureTemperature, curateSurvivors,
    fsRollingCorr, qDedupWindow, dqJoinFanout, dedupSemanticIncremental,
    docMixtureTokens, simPrefixRerank,
    fsResampleFfillLimit, mlQuantizeInt8, simHardNegatives, curateAudit,
    fsStreamConfusion, simHybridRrf, mlNdcg, docSourceCap, qApproxTopk, mlPrCurve, mlBootstrapCi,
    mlLogregHash, mlLogregScore, fsStreamQuota, fsStreamTopk, mlKmeans, mlBestSplit)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
