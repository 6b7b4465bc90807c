package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Streaming extension (SURVEY §2.10: the reference has no streaming —
  * this is additive scope mapping the `events` table onto Structured
  * Streaming). All functions take an unbounded DataFrame with the
  * events schema (`ts timestamp, user_id long, event_type string,
  * value double, ...`) and return transformed streaming frames; the
  * caller picks the sink. Watermarks bound state so a 100 TB/day
  * stream's window state stays proportional to (watermark / slide),
  * not to history.
  */
object EventStreams {

  /** Tumbling (or sliding, when `slide` is given) windowed aggregates
    * per event type: count + exact decimal sum.
    */
  def windowedStats(
      events: DataFrame,
      windowDur: String,
      slide: Option[String] = None,
      watermark: String = "10 minutes"): DataFrame = {
    val w = slide match {
      case Some(s) => window(col("ts"), windowDur, s)
      case None    => window(col("ts"), windowDur)
    }
    events
      .withWatermark("ts", watermark)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("win.start").as("window_start"), col("win.end").as("window_end"),
        col("event_type"), col("n"), col("total"))
  }

  /** Session windows per user: a pause exceeding `gap` starts a new
    * session (exactly-gap pauses still merge — the inclusive boundary
    * StreamingSpec pins, matching the batch kernel's strict-> cut).
    *
    * `watermark = None` runs UNBOUNDED: unlike plain windowed aggs —
    * where Complete mode ignores the watermark entirely — the session
    * exec drops rows older than the watermark in EVERY output mode, so
    * an out-of-order backfill (files replayed in non-time order) would
    * silently lose events. None is for finite, possibly-disordered
    * replays judged in Complete mode; production streams keep the
    * watermark, which bounds state AND defines the late-data contract.
    */
  def sessionStats(
      events: DataFrame,
      gap: String,
      watermark: Option[String] = Some("10 minutes")): DataFrame =
    watermark.map(w => events.withWatermark("ts", w)).getOrElse(events)
      .groupBy(session_window(col("ts"), gap).as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("win.start").as("session_start"), col("win.end").as("session_end"),
        col("user_id"), col("n_events"), col("total"))

  /** Stream-stream attribution join: each click joined to the same
    * user's purchases within `horizon` after it. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can expire buffered state — the state-bounded form of a
    * stream-stream join (unconstrained joins buffer forever).
    *
    * `watermark = None` buffers both sides indefinitely — the same
    * replay trade as [[sessionStats]]: an out-of-order finite replay
    * under a watermark can evict one side's state before the other
    * side's late match arrives; None is for Complete/append gates over
    * finite disordered input, never for an unbounded stream.
    */
  def attributionJoin(
      events: DataFrame,
      horizon: String = "1 hour",
      watermark: Option[String] = Some("10 minutes")): DataFrame = {
    def wm(df: DataFrame, c: String) =
      watermark.map(w => df.withWatermark(c, w)).getOrElse(df)
    val clicks = wm(events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts")), "click_ts")
    val buys = wm(events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buyer_id"), col("ts").as("buy_ts"), col("value")), "buy_ts")
    clicks.join(buys,
      col("user_id") === col("buyer_id") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("click_ts"), col("buy_ts"), col("value"))
  }

  /** LEFT-OUTER stream-stream attribution: every click emits exactly
    * once — joined to each purchase landing within `horizon` after it,
    * or with null purchase columns once the watermark PROVES no match
    * can still arrive. The null row rides state eviction (Spark emits
    * the unmatched left row when the watermark passes
    * `click_ts + horizon`), which is why outer stream-stream joins
    * REQUIRE watermarks on both sides plus a time-range condition —
    * unbounded buffering could never rule a future match out. Over a
    * time-ordered finite replay whose final watermark passes every
    * real click's horizon, the Append output equals the batch LEFT
    * JOIN exactly (the fs_stream_attrib_outer certification).
    *
    * `delay` must be >= `horizon`: time-ordered slices put a boundary
    * click's last possible match in the very next slice, and the
    * watermark — lagging `delay` behind max seen time — must not evict
    * the click's buffered state before that slice lands. State is
    * O(rows within `horizon + delay` of the watermark) per side — the
    * bounded-buffer contract that holds on an unbounded stream.
    */
  def attributionJoinOuter(
      events: DataFrame,
      horizon: String = "1 hour",
      delay: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buyer_id"), col("ts").as("buy_ts"), col("value"))
      .withWatermark("buy_ts", delay)
    clicks.join(buys,
      col("user_id") === col("buyer_id") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"),
      "left_outer")
      .select(col("user_id"), col("click_ts"), col("buy_ts"), col("value"))
  }

  /** Streaming last-writer-wins: the continuous analogue of
    * `TimeseriesOps.dedupLatest` — per key, emit the newest (time,
    * value) seen so far whenever it changes. Custom state via
    * `mapGroupsWithState`: state per key is one (time, value) pair, so
    * memory is O(keys) regardless of stream length. Run with
    * OutputMode.Update.
    */
  /** Stateful streaming EWMA per key (pandas ewm(adjust=False) kept
    * live across micro-batches): `mapGroupsWithState` carries
    * (rows-folded, smoothed-value); each batch's rows fold in
    * (ts, value) order on top of the carried state, so over a
    * TIME-ORDERED replay the stream's final state equals the batch
    * [[graft.ops.TimeseriesOps.ewma]] — and the certification gate
    * hashes exactly that parity. Emits (key, n, ewma) per key per
    * batch (Update mode); `n` is monotone, so a sink that keeps every
    * update recovers the final state as arg-max n. State is two
    * numbers per key — a 100 TB/day stream carries O(#keys), no
    * windows, no history.
    */
  def ewmaStream(
      events: DataFrame, // ts timestamp, <keyCol>, value double
      alpha: Double,
      keyCol: String = "user_id"): Dataset[(String, Long, Double)] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr(s"CAST($keyCol AS STRING) AS k", "ts", "CAST(value AS DOUBLE) AS value")
      .as[(String, Timestamp, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String,
         rows: Iterator[(String, Timestamp, Double)],
         state: GroupState[(Long, Double)]) =>
          // within-batch order is (ts, value) — the same total sort the
          // batch kernel and the DuckDB list_reduce oracle use
          val sorted = rows.toArray.sortBy(r => (r._2.getTime, r._3))
          var (n, acc) = state.getOption.getOrElse((0L, 0.0))
          sorted.foreach { case (_, _, x) =>
            acc = if (n == 0) x else (1 - alpha) * acc + alpha * x
            n += 1
          }
          state.update((n, acc))
          (key, n, acc)
      }
  }

  /** Streaming seasonal anomaly scoring against a TRAINED static
    * profile — the production monitoring deployment of
    * [[graft.ops.TimeseriesOps.seasonalAnomalies]]: the (key, bucket,
    * n, Σx, Σx²) profile is fit offline on history, broadcast into
    * every micro-batch, and each arriving event is flagged by the
    * exact integer decision (n·x − Σx)² > z²·(n·Σx² − (Σx)²).
    * Stateless by construction (no watermark, no state store — the
    * profile is resolved per batch, so a nightly re-fit is picked up
    * between batches), and bucket/cents prep plus the decision are the
    * SAME shared expressions the batch path runs
    * ([[graft.ops.TimeseriesOps.seasonalPrep]]/`seasonalFlag`), so
    * Append output over a full replay must hash-equal the batch gate —
    * stream/batch parity certified by `fs_stream_anomaly`.
    */
  def anomalyStream(
      events: DataFrame, // streaming: ts, <keyCol>, <idCol>, value
      profile: DataFrame, // static: (<keyCol>, bucket, n, sx, sxx)
      keyCol: String,
      idCol: String,
      zThreshold: Int = 3,
      periodSecs: Long = 3600L,
      seasonSecs: Long = 86400L): DataFrame = {
    val ev = graft.ops.TimeseriesOps.seasonalPrep(
      events, keyCol, idCol, "ts", "value", periodSecs, seasonSecs)
    graft.ops.TimeseriesOps.seasonalFlag(ev, profile, keyCol, idCol, zThreshold)
  }

  /** Stateful streaming CUSUM per key — Page's two-sided recurrence
    * kept live across micro-batches against a FIXED target level (the
    * production monitoring shape: μ comes from a trained baseline, not
    * from the stream): S⁺ = max(0, S⁺ + (x − target − slack)),
    * S⁻ = max(0, S⁻ + (target − x − slack)). `mapGroupsWithState`
    * carries (n, S⁺, S⁻) per key; within a batch rows fold in
    * (ts, value) order on top of the carried state, so over a
    * time-ordered replay the stream's final state equals the batch
    * [[graft.ops.TimeseriesOps.cusum]] fold — the ewmaStream parity
    * doctrine, certified by the fs_stream_cusum hash gate. State is
    * three numbers per key: O(#keys) however long the stream runs.
    * Emits (key, n, S⁺, S⁻) per key per batch (Update mode); `n` is
    * monotone, so the final state is arg-max n.
    */
  def cusumStream(
      events: DataFrame, // ts timestamp, <keyCol>, value double
      target: Double,
      slack: Double,
      keyCol: String = "user_id"): Dataset[(String, Long, Double, Double)] = {
    require(slack >= 0, s"slack must be >= 0, got $slack")
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr(s"CAST($keyCol AS STRING) AS k", "ts", "CAST(value AS DOUBLE) AS value")
      .as[(String, Timestamp, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String,
         rows: Iterator[(String, Timestamp, Double)],
         state: GroupState[(Long, Double, Double)]) =>
          // within-batch order is (ts, value) — the same total sort the
          // batch kernel and the DuckDB list_reduce oracle use
          val sorted = rows.toArray.sortBy(r => (r._2.getTime, r._3))
          var (n, sp, sn) = state.getOption.getOrElse((0L, 0.0, 0.0))
          sorted.foreach { case (_, _, x) =>
            sp = math.max(0.0, sp + (x - target - slack))
            sn = math.max(0.0, sn + (target - x - slack))
            n += 1
          }
          state.update((n, sp, sn))
          (key, n, sp, sn)
      }
  }

  /** Exact JVM twin of `Kmv.hash` (conv(substring(md5('kmv:' || v),
    * 1, 15), 16, 10)): first 15 hex chars of the md5 as a long — the
    * streaming state must land in the SAME hash order as the batch
    * sketch or the bottom-k sets diverge. */
  private def kmvHashJvm(v: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = md.digest(("kmv:" + v).getBytes("UTF-8"))
    val hex = dig.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** Streaming bottom-k KMV sketch per key — distinct-count sketching
    * as CUSTOM state rather than an aggregation (the HLL/CMS/quantile
    * twins are plain streaming aggs; bottom-k has no built-in
    * streaming form, so the state is a mapGroupsWithState TreeSet of
    * the k smallest (hash, value) pairs — O(k) forever). Insertion is
    * IDEMPOTENT (set semantics on the value's own hash), so an
    * at-least-once source re-delivering a file cannot perturb the
    * sketch — the KMV property that makes it safe under replay where
    * a counting sketch would double-count. Emits (key, gen, n_sample,
    * h_k) per micro-batch; `gen` increments per invocation so the
    * batch close picks each key's final state with one max_by.
    */
  def kmvStream(
      events: DataFrame, // <keyCol>, <valCol>
      k: Int,
      keyCol: String,
      valCol: String): Dataset[(String, Long, Long, Long)] = {
    require(k > 1, s"k must be > 1, got $k")
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr(s"CAST($keyCol AS STRING) AS gk", s"CAST($valCol AS STRING) AS v")
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String,
         rows: Iterator[(String, String)],
         state: GroupState[(Long, List[(Long, String)])]) =>
          val (gen0, cur) = state.getOption.getOrElse((0L, List.empty[(Long, String)]))
          val set = scala.collection.mutable.TreeSet.empty[(Long, String)]
          set ++= cur
          rows.foreach { case (_, v) =>
            set += ((kmvHashJvm(v), v))
            if (set.size > k) set -= set.last // each add grows by <= 1
          }
          val items = set.toList
          state.update((gen0 + 1, items))
          (key, gen0 + 1, items.size.toLong, if (items.isEmpty) 0L else items.last._1)
      }
  }

  def runningLatest(
      events: DataFrame, // ts timestamp, event_type string, value double
      keyCol: String = "event_type"): Dataset[(String, Timestamp, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr(s"$keyCol AS k", "ts", "value")
      .as[(String, Timestamp, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String,
         rows: Iterator[(String, Timestamp, Double)],
         state: GroupState[(Timestamp, Double)]) =>
          // tie semantics match dedupLatest's default tie-break: equal
          // timestamps resolve by MAX VALUE (deterministic) — a same-
          // timestamp correction only displaces state when it orders
          // higher, exactly like the batch dedup of two equal
          // created_time rows. Timestamps compare via compareTo (full
          // nanosecond precision), NOT getTime() — millisecond
          // truncation would make two sub-ms-apart events look tied
          // and resolve by value where the batch dedup keeps the later.
          val newest = (rows.map(r => (r._2, r._3)) ++ state.getOption.iterator)
            .reduceLeft { (a, b) =>
              val c = b._1.compareTo(a._1)
              if (c > 0 || (c == 0 && b._2 > a._2)) b else a
            }
          state.update(newest)
          (key, newest._1, newest._2)
      }
  }

  /** Stream-static enrichment: join the unbounded event stream with a
    * static dimension frame (broadcast every micro-batch) — no state,
    * no watermark needed; the standard pattern for attaching reference
    * data to a firehose.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming per-key QUOTA enforcement — the rate-cap a continuous
    * ingestion pipeline puts in front of a hot key (the streaming
    * analogue of the batch per-source frequency cap): every event is
    * emitted with its 1-based per-key arrival index and an `admitted`
    * verdict (index <= cap). State per key is ONE counter — O(#keys)
    * forever, the cheapest custom state in the suite, and the verdict
    * for an admitted event never changes later (Append-mode-safe by
    * construction). Within a micro-batch rows fold in (event time, id)
    * order on top of the carried count, so under time-ordered replay
    * the admitted set equals the batch row_number formulation EXACTLY
    * — a doubled replay or unsorted in-batch fold shifts indexes and
    * hashes red at the gate.
    */
  def quotaStream(
      events: DataFrame, // keyCol long, timeCol timestamp, idCol long
      keyCol: String,
      timeCol: String,
      idCol: String,
      cap: Long): Dataset[(Long, Long, Long, Boolean)] = {
    require(cap >= 1, s"quota cap must be >= 1, got $cap")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(keyCol).cast("long"), unix_micros(col(timeCol)), col(idCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long,
         rows: Iterator[(Long, Long, Long)],
         state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = rows.toArray.sortBy(r => (r._2, r._3)).map { case (_, _, id) =>
            n += 1
            (key, id, n, n <= cap)
          }
          state.update(n)
          out.iterator
      }
  }

  /** Streaming M4 envelope downsampling — the live-dashboard twin of
    * `TimeseriesOps.m4Downsample`: per watermarked tumbling window,
    * the four struct-lexicographic extremes (first/last by time,
    * min/max by value) aggregate incrementally (each is an ordinary
    * min/max over a struct — mergeable agg state of 4 fixed-width
    * structs per window, evicted when the watermark passes). Append
    * mode emits each window's finalized envelope exactly once: the
    * unbounded-stream configuration a monitoring pipeline runs. Tie
    * rule identical to the batch kernel (struct order), so the batch
    * oracle must match bit-for-bit under time-ordered replay.
    */
  def m4Stream(
      events: DataFrame,
      timeCol: String,
      valueCol: String,
      windowDur: String,
      watermarkDelay: String): DataFrame = {
    val tu = unix_micros(col(timeCol))
    val v = col(valueCol).cast("double")
    events
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowDur))
      .agg(
        min(struct(tu.as("tu"), v.as("v"))).as("first"),
        max(struct(tu.as("tu"), v.as("v"))).as("last"),
        min(struct(v.as("v"), tu.as("tu"))).as("vmin"),
        max(struct(v.as("v"), tu.as("tu"))).as("vmax"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        timestamp_micros(col("first.tu")).as("first_ts"),
        col("first.v").as("first_v"),
        timestamp_micros(col("last.tu")).as("last_ts"),
        col("last.v").as("last_v"),
        col("vmin.v").as("min_v"),
        col("vmax.v").as("max_v"))
  }

  /** Streaming Misra-Gries heavy-hitter CANDIDATES — the bounded-state
    * continuous analogue of `Scale.heavyHitters`: keys hash to
    * `buckets` state groups, each group folds its rows through one
    * capacity-bounded MG summary that persists across micro-batches
    * (MG is sequential-foldable, so batch-by-batch folding equals one
    * pass over the concatenated stream). State per group is ≤ capacity
    * counters FOREVER — the property that lets a heavy-hitter monitor
    * run on an unbounded stream. Each invocation emits the group's
    * refreshed candidate set tagged with a per-group epoch; the caller
    * keeps each group's LAST epoch and exactly recounts those
    * candidates (the superset guarantee — any key with global count
    * > n·minShare, minShare ≥ 1/(capacity+1) — holds for EVERY arrival
    * order and batching, because a key lives in exactly one group and
    * the per-group threshold only tightens). The recount, not the
    * summary, is the output: candidate sets are order-sensitive,
    * qualified keys never are.
    */
  def mgCandidatesStream(
      events: DataFrame,
      keyCol: String,
      buckets: Int,
      capacity: Int): Dataset[(Int, Long, String)] = {
    require(buckets >= 1 && capacity >= 1,
      s"need buckets >= 1 and capacity >= 1, got $buckets/$capacity")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(keyCol).cast("string")).as[String]
      .groupByKey { k =>
        // loud rejection, matching ops.Scale.heavyHitters: a null key
        // would NPE inside the stream (k.hashCode) and kill the query
        // with an opaque error — fail with the actionable message
        require(k != null,
          s"mgCandidatesStream: null key in '$keyCol' — filter or " +
            "coalesce nulls upstream (consistent with heavyHitters)")
        math.floorMod(k.hashCode, buckets)
      }
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (bucket: Int,
         rows: Iterator[String],
         state: GroupState[(Long, Map[String, Long])]) =>
          val (epoch0, saved) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
          val counters = scala.collection.mutable.HashMap.empty[String, Long]
          counters ++= saved
          rows.foreach { k =>
            counters.get(k) match {
              case Some(c) => counters.update(k, c + 1)
              case None =>
                if (counters.size < capacity) counters.update(k, 1L)
                else {
                  val dead = List.newBuilder[String]
                  counters.foreach { case (key, c) =>
                    if (c == 1L) dead += key else counters.update(key, c - 1)
                  }
                  dead.result().foreach(counters.remove)
                }
            }
          }
          val epoch = epoch0 + 1
          state.update((epoch, counters.toMap))
          counters.keysIterator.map(k => (bucket, epoch, k)).toList.iterator
      }
  }

  /** Streaming exact dedup — the continuous analogue of `dedup_exact`
    * for at-least-once sources (Kafka redeliveries, retried producers):
    * drop repeats of the same key seen within the watermark horizon.
    * `dropDuplicatesWithinWatermark` keeps state per key only until the
    * watermark passes it, so state is O(keys per horizon) rather than
    * O(all keys ever) — the form of streaming dedup that survives an
    * unbounded stream. `timeCol` must be the watermarked event-time
    * column; dedup keys deliberately EXCLUDE it, so a redelivery with a
    * jittered timestamp still collapses.
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      timeCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming MinHash-LSH NEAR-dedup — the continuous analogue of the
    * batch incremental dedup (`dedup_incremental`): band buckets live
    * as `flatMapGroupsWithState` state, so a document that is a
    * near-duplicate (digest-shingle Jaccard >= `threshold`) of ANY
    * earlier-ingested document is flagged across micro-batches, not
    * just within one.
    *
    * Shape: each doc's 12-chunk minhash signature is banded with
    * `sizedBanding(threshold)`; the stream is keyed by (band, bucket)
    * and each bucket's state holds the (doc_id, digest set) of every
    * member ever seen — accepted AND dropped, because the batch rule
    * flags a doc that matches any SMALLER id whether or not that doc
    * itself survived (near-duplication is not transitive; keeping only
    * survivors would leak chains). One verdict row (doc_id, matched)
    * is emitted per (bucket, member-arrival); a doc is a duplicate iff
    * ANY of its buckets flags it — the batch LSH candidate rule
    * restated per bucket, so the OR-reduce over verdicts (one
    * stateless aggregation on the sink) reproduces the batch survivor
    * set EXACTLY when docs arrive in id order.
    *
    * Scale: state is O(corpus) total but sharded by (band, bucket) —
    * the same key space the batch candidate join shuffles on, growing
    * with the corpus, so no single state store holds more than a
    * bucket's membership; the per-row signature/banding work is
    * narrow. Digest shingles (12-hex, from the batch pipeline's
    * `digestShingles`) keep state rows fixed-width — corpus text never
    * enters the state store.
    */
  def lshDedupStream(
      docs: DataFrame, // doc_id long, sh array<string> (digest shingles)
      threshold: Double = 0.5): Dataset[(Long, Boolean)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.SimilarityOps
    val (bands, rpb) = SimilarityOps.sizedBanding(threshold)
    val sig = docs.filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        SimilarityOps.minhashSig(col("sh"), bands * rpb).as("__sig"))
    // bucket = "<band>:<bandKey>"; explode fans each doc into its
    // `bands` buckets in ONE narrow projection (the signature fold is
    // inlined per band key — acceptable: it is per-row work, and a
    // streaming plan cannot pin an intermediate relation)
    val banded = sig.select(col("doc_id"), col("sh"),
      explode(array((0 until bands).map { bi =>
        concat(lit(s"$bi:"),
          SimilarityOps.bandKey(col("__sig"), rpb * bi + 1, rpb * (bi + 1)))
      }: _*)).as("bucket"))
    banded.select(col("bucket"), col("doc_id"), col("sh"))
      .as[(String, Long, Seq[String])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String,
         rows: Iterator[(String, Long, Seq[String])],
         state: GroupState[List[(Long, Seq[String])]]) =>
          var members = state.getOption.getOrElse(Nil)
          // id order within the batch = the batch formulation's
          // first-wins total order (cross-batch order is the caller's
          // ingestion order)
          val out = rows.toArray.sortBy(_._2).map { case (_, id, sh) =>
            val shSet = sh.toSet
            val matched = members.exists { case (mid, msh) =>
              mid < id && {
                val ms = msh.toSet
                val inter = shSet.count(ms)
                inter.toDouble / (shSet.size + ms.size - inter) >= threshold
              }
            }
            members = (id, sh) :: members
            (id, matched)
          }
          state.update(members)
          out.iterator
      }
  }

  /** Streaming ingest into a stored feature with exactly-once
    * table semantics: each micro-batch is normalized like the batch
    * writer and committed atomically via `TimeseriesStore.writeTx`
    * under the structured `(streamId, batchId)` transaction. Structured
    * Streaming re-delivers the in-flight batch after a checkpoint
    * recovery (at-least-once at the sink boundary); the log's per-stream
    * high-water mark makes any batch at-or-below it a no-op, so the
    * TABLE sees each batch exactly once — the foreachBatch +
    * SetTransaction pattern from the Delta paper, at its full
    * appId/version fidelity: transaction state in the log stays
    * O(#streams) however long the job runs. Readers never see a torn
    * batch: the files land invisibly and one commit publishes them.
    */
  def featureSinkTx(
      series: DataFrame, // time, value (+ optional created_time)
      store: graft.store.TimeseriesStore,
      featureName: String,
      checkpointDir: String,
      streamId: String,
      partitionStyle: String = "date"): DataStreamWriter[Row] =
    series.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // no isEmpty pre-check: it cost an extra job recomputing the
        // micro-batch source, and writeTx already no-ops (without
        // committing) when staging produces no files. Structured
        // (streamId, batchId) txn: the log keeps ONE high-water mark
        // per stream, so a year-long sink's checkpoint state stays
        // O(#streams), not O(#batches)
        store.writeTx(featureName,
          store.normalizeForSave(batch, partitionStyle),
          streamId, batchId)
        ()
      }
}
