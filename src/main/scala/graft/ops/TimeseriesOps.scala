package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.LocalRows
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** The engine's dataflow kernel: every nontrivial semantic of the reference
  * feature store (`/root/reference/bytehub/_storage/dask.py`,
  * `_timeseries.py`) re-expressed as a pure `DataFrame => DataFrame`
  * function on Catalyst built-ins — no RDDs, no UDFs, fully
  * whole-stage-codegen-able and shuffle-aware.
  *
  * Scale notes (100 TB design):
  *  - dedupLatest is a hash aggregation with map-side partial aggregation
  *    (one shuffle on `time`), not a window sort.
  *  - forward-fill has two forms: a global-window form (exact, single
  *    task — fine for a single feature load) and a two-phase bucketed
  *    form (`ffillBucketed`) that parallelizes across time buckets and
  *    propagates per-bucket boundary values through a tiny broadcast —
  *    the distributed generalization of the reference's carry-over trick
  *    (dask.py:142-148).
  *  - resample builds its spine with `spark.range` (O(1) driver memory,
  *    arbitrarily long grids) instead of materializing a date_range.
  */
object TimeseriesOps {

  val TimeCol = "time"
  val CreatedCol = "created_time"
  val ValueCol = "value"

  /** Whether Spark can ORDER BY this type (maps cannot be compared). */
  private[graft] def isOrderable(dt: DataType): Boolean = dt match {
    case _: MapType    => false
    case s: StructType => s.fields.forall(f => isOrderable(f.dataType))
    case a: ArrayType  => isOrderable(a.elementType)
    case _             => true
  }

  /** THE fill expression, single-sourced: "latest non-null value" as a
    * max over (orderKey, value) structs restricted to non-null values.
    * Used as a running window expression (in-bucket fill, keyed as-of)
    * and as a plain aggregate (per-bucket seed) — all three sites MUST
    * resolve an orderKey tie identically (to the max value), or a
    * bucket boundary / the keyed-vs-bucketed route could disagree on
    * the same input. Callers read `.getField("v")`.
    */
  private def runningLastNonNull(ord: Column, c: Column): Column =
    max(when(c.isNotNull, struct(ord.as("o"), c.as("v"))))

  // ---------------------------------------------------------------------
  // A1: last-writer-wins dedup — per `time`, keep the row with the max
  // `created_time` (dask.py:156-165). Hash-agg via max_by: one shuffle,
  // partial aggregation on the map side, no global sort.
  // Determinism: rows tied on `created_time` resolve by the remaining
  // orderable columns (value first), so repeated runs agree — the moral
  // equivalent of the reference's stable sort + groupby.last.
  // ---------------------------------------------------------------------
  def dedupLatest(
      df: DataFrame,
      timeCol: String = TimeCol,
      createdCol: String = CreatedCol,
      tieBreak: Seq[String] = Nil,
      keyCols: Seq[String] = Nil): DataFrame = {
    val groupCols = keyCols :+ timeCol
    val others = df.columns.filterNot(groupCols.contains).toSeq
    val tie =
      if (tieBreak.nonEmpty) tieBreak
      else others.filterNot(_ == createdCol)
        .filter(c => isOrderable(df.schema(c).dataType))
    if (tieBreak.isEmpty && others.forall(c => isOrderable(df.schema(c).dataType))) {
      // Fast path (the common shape — all payload columns orderable):
      // the default tie key (createdCol, then every other column) covers
      // the WHOLE row, so the comparator struct IS the row — one
      // max(struct) with a single struct allocation per input row,
      // instead of max_by's two (payload struct + key struct). Same
      // winner by construction: max_by ties beyond its key are the only
      // divergence, and here the key is total over the row.
      val ordered = (createdCol +: tie).distinct
      df.groupBy(groupCols.map(col): _*)
        .agg(max(struct(ordered.map(col): _*)).as("__r"))
        .select(groupCols.map(col) ++ others.map(c => col(s"__r.`$c`").as(c)): _*)
    } else {
      val ordKey = struct((createdCol +: tie).distinct.map(col): _*)
      df.groupBy(groupCols.map(col): _*)
        .agg(max_by(struct(others.map(col): _*), ordKey).as("__r"))
        .select(groupCols.map(col) ++ others.map(c => col(s"__r.`$c`").as(c)): _*)
    }
  }

  // ---------------------------------------------------------------------
  // A3/O3: endpoint row (point lookup for inference, dask.py:196-221, and
  // Store.first, _storage/_base.py:33-39) — the dedupLatest winner at the
  // newest (`fromTail`) or oldest time, WITHOUT the dedup shuffle: top-k
  // with k=1, which Spark plans as one TakeOrderedAndProject pass.
  // Same tie rule as dedupLatest: among rows at the endpoint time, max
  // `created_time`, then the remaining orderable columns descending in
  // column order. Descending sorts put nulls last and NaN first — the
  // order max() uses — so the result equals dedupLatest followed by a
  // time sort. Apply time travel BEFORE this, as before dedup.
  // ---------------------------------------------------------------------
  def endpointRow(
      df: DataFrame,
      fromTail: Boolean,
      timeCol: String = TimeCol,
      createdCol: String = CreatedCol): DataFrame =
    df.orderBy(endpointOrder(df, fromTail, timeCol, createdCol): _*).limit(1)

  /** [[endpointRow]]'s sort keys: the first row under this order is the
    * endpoint. Exposed so a driver-side top-1 ranks rows by the very
    * same order. */
  def endpointOrder(
      df: DataFrame,
      fromTail: Boolean,
      timeCol: String = TimeCol,
      createdCol: String = CreatedCol): Seq[Column] = {
    val tie = (createdCol +: df.columns.toSeq).distinct
      .filter(c => c != timeCol && df.columns.contains(c) && isOrderable(df.schema(c).dataType))
    val byTime = if (fromTail) col(timeCol).desc else col(timeCol).asc
    byTime +: tie.map(col(_).desc)
  }

  // ---------------------------------------------------------------------
  // P3: time travel — "as known at time + delta" (dask.py:119-122).
  // delta is a pandas-style alias, e.g. "-15min". Applied BEFORE dedup.
  // ---------------------------------------------------------------------
  def timeTravel(
      df: DataFrame,
      delta: String,
      timeCol: String = TimeCol,
      createdCol: String = CreatedCol): DataFrame =
    df.filter(col(createdCol) <= col(timeCol) + Freq.toInterval(delta))

  // ---------------------------------------------------------------------
  // P1/P4: inclusive time-range predicate; pushed to parquet by Catalyst.
  // ---------------------------------------------------------------------
  def rangeFilter(
      df: DataFrame,
      from: Option[Timestamp],
      to: Option[Timestamp],
      timeCol: String = TimeCol): DataFrame = {
    val lo = from.map(f => col(timeCol) >= lit(f))
    val hi = to.map(t => col(timeCol) <= lit(t))
    (lo ++ hi).reduceOption(_ && _).map(df.filter).getOrElse(df)
  }

  // ---------------------------------------------------------------------
  // §2.5: forward fill — analytic window `last(ignoreNulls)` over a
  // running frame. Global ordering ⇒ single task; exact semantics for
  // per-feature loads (matches pandas .ffill()).
  // ---------------------------------------------------------------------
  def ffill(
      df: DataFrame,
      valueCols: Seq[String],
      orderCols: Seq[String] = Seq(TimeCol),
      partitionCols: Seq[String] = Nil): DataFrame = {
    val base =
      if (partitionCols.isEmpty) Window.orderBy(orderCols.map(col): _*)
      else Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)
    val w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one Project for ALL columns (withColumns), never a per-column
    // withColumn fold: the fold nests one Project per value column and
    // a 1,000-feature frame sends the analyzer's recursion 1,000 plan
    // nodes deep — the wide-align ScaleProbe died in
    // DeduplicateRelations exactly there (same rule below and in every
    // other multi-column rewrite in this file)
    df.withColumns(valueCols.map(c => c -> last(col(c), ignoreNulls = true).over(w)).toMap)
  }

  /** Distributed forward fill: phase 1 fills within each time bucket in
    * parallel; phase 2 computes each bucket's last non-null value (a tiny
    * one-row-per-bucket aggregate), forward-fills THAT with a driver-size
    * window, and broadcasts the per-bucket seed back. Equivalent to the
    * global ffill for any bucketing that is monotone in the order column.
    */
  def ffillBucketed(
      df: DataFrame,
      valueCols: Seq[String],
      bucket: Column,
      orderCols: Seq[String] = Seq(TimeCol),
      tieFree: Boolean = false): DataFrame = {
    val B = "__ffill_bucket"
    val withB = df.withColumn(B, bucket)
    val ordStruct = struct(orderCols.map(col): _*)
    // Default (tieFree=false): RANGE frame, not ROWS — at duplicate
    // orderKey values a ROWS frame gives each peer a different prefix
    // (physically earlier peers excluded from later ones' frames), so
    // peers could fill to DIFFERENT values depending on physical row
    // order; the RANGE frame extends through the whole peer group, so
    // every peer reads the same (tie -> max value) resolution. Same
    // peer-pinning device as sessionize's running sum.
    //
    // tieFree=true is the caller's PROMISE that no two rows with a
    // NON-NULL value column share an orderKey (readers — rows whose
    // value columns are all null, like a resample spine or an as-of
    // left side — may tie freely: they contribute nothing to the fill,
    // so every peer still reads the same last contributor). Under that
    // promise the cheap ROWS frame + last(ignoreNulls) is
    // order-insensitive, and skips the per-row struct allocation +
    // struct-max comparison the RANGE form pays (~2.4x on the fill
    // kernels at sf0.1, the round-9 give-back). Callers earn the flag
    // by collapsing contributor ties with one hash-agg (max per value
    // column — the SAME tie rule), which Catalyst runs without a new
    // exchange when the input is already partitioned by the order key.
    val filled =
      if (tieFree) {
        val wRows = Window.partitionBy(col(B)).orderBy(orderCols.map(col): _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        withB.withColumns(valueCols.map(c =>
          c -> last(col(c), ignoreNulls = true).over(wRows)).toMap)
      } else {
        val wIn = Window.partitionBy(col(B)).orderBy(orderCols.map(col): _*)
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        // in-bucket fill as a running max over (orderKey, value) — NOT
        // last(ignoreNulls), which at duplicate orderKey values picks
        // the physically-last row (nondeterministic, and resolved
        // differently from the cross-bucket seed below). The running
        // max resolves an orderKey tie to the max value, exactly like
        // the seed aggregate, so the fill is deterministic and
        // bucket-boundary-consistent even with duplicate timestamps.
        //
        // Non-orderable (map-typed) values can't ride a struct max:
        // max_by keyed on the ORDER key alone ("latest non-null",
        // null-keyed rows ignored) needs only the order columns
        // orderable, so map values stay on the bucket-parallel path
        // instead of one global-window task. The residual caveat —
        // a duplicate-orderKey tie between two DIFFERENT map values
        // picks an arbitrary winner — is inherent (no ordering exists
        // to break the tie) and matches the global-window fallback,
        // which reads the physically-last peer.
        withB.withColumns(valueCols.map(c =>
          if (isOrderable(withB.schema(c).dataType))
            c -> runningLastNonNull(ordStruct, col(c)).over(wIn).getField("v")
          else
            c -> max_by(col(c), when(col(c).isNotNull, ordStruct)).over(wIn)).toMap)
      }
    // last non-null value per bucket: max over (orderKey, value) restricted
    // to non-null values — deterministic, partial-agg friendly. Map-typed
    // values use the same max_by form as the in-bucket fill.
    val bucketAggs = valueCols.map(c =>
      if (isOrderable(withB.schema(c).dataType))
        runningLastNonNull(ordStruct, col(c)).getField("v").as(c)
      else
        max_by(col(c), when(col(c).isNotNull, ordStruct)).as(c))
    val perBucket = withB.groupBy(col(B)).agg(bucketAggs.head, bucketAggs.tail: _*)
    // seed for bucket b = last non-null among all earlier buckets.
    // Partitioned by a constant: the frame IS one-row-per-bucket
    // (driver-size by construction), and the explicit partition keeps
    // WindowExec's "No Partition Defined" WARN reserved for real
    // global-window regressions instead of firing on this benign seed.
    // The constant must be optimizer-opaque: a bare literal is folded
    // out of the partition spec, and an equal-branch CASE collapses to
    // one (SimplifyConditionals) and then folds too. pmod(hash(B), 1)
    // is 0 on every row (hash never returns null), references a
    // column so no rewrite rule folds it, and — unlike the previous
    // year(B)*0 form — is TYPE-AGNOSTIC, honoring the "any bucketing
    // monotone in the order column" contract (an integer hour bucket
    // would fail analysis under year()).
    val wSeed = Window.partitionBy(pmod(hash(col(B)), lit(1)))
      .orderBy(col(B)).rowsBetween(Window.unboundedPreceding, -1)
    val seeds = perBucket.withColumns(valueCols.map(c =>
      s"__seed_$c" -> last(col(c), ignoreNulls = true).over(wSeed)).toMap)
      .select(col(B) +: valueCols.map(c => col(s"__seed_$c")): _*)
    filled
      .join(broadcast(seeds), Seq(B), "left")
      .select(filled.columns.filterNot(_ == B).map { c =>
        if (valueCols.contains(c)) coalesce(col(c), col(s"__seed_$c")).as(c) else col(c)
      }.toSeq: _*)
  }

  /** Default fill bucket: calendar month of the order column — coarse
    * enough that the per-bucket seed table stays tiny, fine enough that a
    * year of data fans out across 12+ tasks (and a decade across 120).
    */
  def monthBucket(timeCol: String = TimeCol): Column = date_trunc("month", col(timeCol))

  /** Forward fill, always distributed: routes through `ffillBucketed`
    * (parallel across time buckets). Since the per-bucket "last
    * non-null" runs as max_by keyed on the ORDER columns when a value
    * column is non-orderable, map-typed values no longer force the
    * single-task global-window form — only the order columns must be
    * orderable (they are: time and small marker ints everywhere).
    */
  def ffillAuto(
      df: DataFrame,
      valueCols: Seq[String],
      orderCols: Seq[String] = Seq(TimeCol),
      bucket: Option[Column] = None,
      tieFree: Boolean = false): DataFrame =
    ffillBucketed(df, valueCols, bucket.getOrElse(monthBucket(orderCols.head)), orderCols,
      tieFree)

  // ---------------------------------------------------------------------
  // J2: resample onto a regular grid [from, to] step `freq`, forward-
  // filling from the data (dask.py:169-188). Rows before `from` act as
  // the carry-in seed (J3, dask.py:142-148): no two-phase trick needed —
  // they participate in the fill and are dropped with the non-grid rows.
  // Spine via spark.range: no driver-side materialization, no sequence()
  // element-count cap.
  // ---------------------------------------------------------------------
  /** The resample grid as a DataFrame of `timeCol` points, plus its
    * [startUs, endUs] span. Shared by [[resample]] (ffill semantics)
    * and [[resampleInterpolated]] (linear).
    */
  private def spineFor(
      spark: org.apache.spark.sql.SparkSession,
      from: Timestamp,
      to: Timestamp,
      freq: String,
      timeCol: String): (DataFrame, Long, Long) = {
    val startUs = from.getTime * 1000L + (from.getNanos / 1000L) % 1000L
    val endUs = to.getTime * 1000L + (to.getNanos / 1000L) % 1000L
    // calendar-stepped grids (months/years) need calendar arithmetic;
    // fixed-duration aliases use pure micros math. Both spines come
    // from spark.range: O(1) driver memory at any grid length.
    val spine = Freq.calendarMonths(freq) match {
      case Some(stepMonths) =>
        require(stepMonths > 0, s"resample freq must be positive, got '$freq'")
        // count clamped additions (Jan 31 + 1mo = Feb 28): MONTHS.between
        // undercounts whenever clamping shortens the day-of-month, so
        // walk the (tiny) grid driver-side instead. The walk MUST use
        // the SESSION time zone, not UTC: the executor-side
        // timestampadd(MONTH, ...) below does its calendar arithmetic
        // in the session zone, and with a non-UTC session the two
        // disagree near month boundaries by one grid point (a point the
        // engine would place inside [from, to] never emitted, or one
        // emitted past `to`).
        val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
        val fromZdt = from.toInstant.atZone(zone)
        val toZdt = to.toInstant.atZone(zone)
        var n = 1L // the `from` point itself (to < from clamps to it)
        while (!fromZdt.plusMonths(n * stepMonths).isAfter(toZdt)) n += 1
        spark.range(n).select(
          expr(s"timestampadd(MONTH, cast(id * $stepMonths AS INT), " +
            s"timestamp_micros(${startUs}L))").as(timeCol))
      case None =>
        val stepUs = Freq.toMicros(freq)
        require(stepUs > 0, s"resample freq must be positive, got '$freq'")
        // reference clamps to_date < from_date up to from_date (dask.py:154-155)
        val n = math.max((endUs - startUs) / stepUs, 0L) + 1L
        spark.range(n).select(
          timestamp_micros(lit(startUs) + col("id") * lit(stepUs)).as(timeCol))
    }
    (spine, startUs, endUs)
  }

  def resample(
      df: DataFrame,
      from: Timestamp,
      to: Timestamp,
      freq: String,
      valueCols: Seq[String],
      timeCol: String = TimeCol,
      backfill: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val (spine, startUs, endUs) = spineFor(spark, from, to, freq, timeCol)
    val S = "__spine"
    val raw = df.select(col(timeCol) +: valueCols.map(col): _*)
    // Collapse duplicate-time data rows to one per time (max per value
    // column — the kernel's documented tie rule) so the union below is
    // tie-free among CONTRIBUTORS and the fill can take the cheap ROWS
    // path: spine rows are pure readers (all-null values) and (time, S)
    // ordering puts the collapsed data row first at its own grid point.
    // Every facade load feeds resample a dedupLatest'd series — already
    // partitioned by time — so this agg adds no exchange there (Catalyst
    // reuses the hash partitioning); on raw duplicate-time input it IS
    // the determinism guarantee, not an optimization. Non-orderable
    // (map-typed) values can't collapse via max; they keep the raw rows
    // and take ffillBucketed's max_by route (arbitrary winner at a
    // duplicate-time tie between different maps — no ordering exists to
    // break it).
    val collapsible = valueCols.forall(c => isOrderable(raw.schema(c).dataType))
    val data =
      (if (collapsible)
        raw.groupBy(col(timeCol))
          .agg(max(col(valueCols.head)).as(valueCols.head),
            valueCols.tail.map(c => max(col(c)).as(c)): _*)
      else raw).withColumn(S, lit(0))
    val union = spine
      .select(col(timeCol) +: valueCols.map(c => lit(null).cast(data.schema(c).dataType).as(c)): _*)
      .withColumn(S, lit(1))
      .unionByName(data)
    // at equal timestamps the data row must precede the spine row so the
    // fill picks up the exact-time value; fill is bucket-parallel with a
    // granularity chosen from the known grid span (a one-month grid in
    // month buckets would collapse to a single fill task)
    val spanDays = (endUs - startUs) / 86400000000L
    val bucketUnit = if (spanDays <= 120) "day" else if (spanDays <= 1830) "month" else "year"
    if (backfill) {
      // pandas .bfill(): the NEXT value at-or-after the grid point —
      // the same bucketed fill under the NEGATED order key (a backward
      // fill is a forward fill under the reversed total order); data
      // rows still sort before spine readers at a shared timestamp, so
      // exact hits stay exact
      val NEG = "__neg_t"
      ffillAuto(union.withColumn(NEG, -unix_micros(col(timeCol))),
        valueCols, orderCols = Seq(NEG, S),
        bucket = Some(-unix_micros(date_trunc(bucketUnit, col(timeCol)))),
        tieFree = collapsible)
        .filter(col(S) === 1)
        .drop(S, NEG)
    } else
      ffillAuto(union, valueCols, orderCols = Seq(timeCol, S),
        bucket = Some(date_trunc(bucketUnit, col(timeCol))), tieFree = collapsible)
        .filter(col(S) === 1)
        .drop(S)
  }

  /** Resample onto the grid with time-weighted LINEAR interpolation
    * (pandas `interpolate(method="time")` — an extension; the reference
    * is ffill-only, dask.py:183): a grid point between two data points
    * reads `pv + (nv - pv) * (t - pt) / (nt - pt)`; an exact hit reads
    * the exact value; trailing points carry the last value flat (the
    * feature-store staleness convention, same as ffill); leading points
    * (before any data) stay null — no backward extrapolation.
    *
    * Scale shape: the SAME two-phase bucketed fill as [[resample]], run
    * twice — once ascending for the (prev value, prev time) pair, once
    * under the NEGATED order key for (next value, next time). A
    * backward fill IS a forward fill under the reversed total order,
    * so both passes are bucket-parallel with tiny broadcast seeds; no
    * global sort task, no range join. Numeric value columns only
    * (interpolation needs arithmetic); ties collapse to max first,
    * like resample.
    */
  def resampleInterpolated(
      df: DataFrame,
      from: Timestamp,
      to: Timestamp,
      freq: String,
      valueCols: Seq[String],
      timeCol: String = TimeCol): DataFrame = {
    val spark = df.sparkSession
    valueCols.foreach { c =>
      require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"resampleInterpolated needs numeric value columns; '$c' is ${df.schema(c).dataType}")
    }
    val (spine, startUs, endUs) = spineFor(spark, from, to, freq, timeCol)
    val S = "__spine"
    val PT = "__prev_t"
    val NT = "__next_t"
    def nv(c: String) = s"__next_$c"
    val raw = df.select(col(timeCol) +: valueCols.map(c => col(c).cast("double").as(c)): _*)
    val data = raw.groupBy(col(timeCol))
      .agg(max(col(valueCols.head)).as(valueCols.head),
        valueCols.tail.map(c => max(col(c)).as(c)): _*)
      .withColumn(S, lit(0))
    val union = spine
      .select(col(timeCol) +: valueCols.map(c => lit(null).cast("double").as(c)): _*)
      .withColumn(S, lit(1))
      .unionByName(data)
      // carry companions: the data row's own time (for the lerp) and a
      // copy of each value for the backward pass (the forward pass
      // overwrites the originals in place)
      .withColumn(PT, when(col(S) === 0, col(timeCol)))
      .withColumn(NT, when(col(S) === 0, col(timeCol)))
    val withCopies = union.withColumns(valueCols.map(c => nv(c) -> col(c)).toMap)
    val spanDays = (endUs - startUs) / 86400000000L
    val bucketUnit = if (spanDays <= 120) "day" else if (spanDays <= 1830) "month" else "year"
    // pass 1 (ascending): prev value per value col + shared prev time
    val fwd = ffillAuto(withCopies, valueCols :+ PT, orderCols = Seq(timeCol, S),
      bucket = Some(date_trunc(bucketUnit, col(timeCol))), tieFree = true)
    // pass 2 (descending-as-ascending): negate the order key and the
    // bucket; data rows keep sorting before spine readers at a shared
    // timestamp, so an exact grid hit reads its own point from BOTH
    // directions (pt == nt == t, resolved below)
    val NEG = "__neg_t"
    val bwd = ffillAuto(fwd.withColumn(NEG, -unix_micros(col(timeCol))),
      valueCols.map(nv) :+ NT, orderCols = Seq(NEG, S),
      bucket = Some(-unix_micros(date_trunc(bucketUnit, col(timeCol)))), tieFree = true)
    val tUs = unix_micros(col(timeCol))
    val ptUs = unix_micros(col(PT))
    val ntUs = unix_micros(col(NT))
    val lerped = bwd.withColumns(valueCols.map(c =>
      c -> (
        when(col(PT) === col(NT), col(c)) // exact hit (or single point)
          .when(col(PT).isNotNull && col(NT).isNotNull,
            col(c) + (col(nv(c)) - col(c)) *
              ((tUs - ptUs).cast("double") / (ntUs - ptUs).cast("double")))
          .when(col(PT).isNotNull, col(c)) // trailing: flat carry
        )).toMap)
    lerped.filter(col(S) === 1)
      .select(col(timeCol) +: valueCols.map(col): _*)
  }

  // ---------------------------------------------------------------------
  // J1: multi-feature alignment — N-way full outer join on time, then
  // forward-fill every value column (_timeseries.py:11-26).
  // ---------------------------------------------------------------------
  /** Union a same-schema family as a BALANCED pairwise tree — O(log N)
    * plan depth. A left-deep `reduce(_ union _)` is O(N) deep and
    * Catalyst's recursive analysis rules walk (and for relation dedup,
    * recurse into) every level: past a few hundred inputs the driver
    * dies in the analyzer, not the cluster. */
  private[graft] def unionBalanced(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionBalanced needs at least one input")
    var level = dfs
    while (level.size > 1)
      level = level.grouped(2).map {
        case Seq(a, b) => a.unionByName(b)
        case Seq(a)    => a
      }.toSeq
    level.head
  }

  /** Collapse a MANY-TINY-SERIES union's task storm (guide §2.2: fewer,
    * larger map tasks). A wide feature load unions one frame per
    * series; each series typically reads as ONE partition, so the
    * union stage schedules one near-empty task per series — at 10k
    * series the r18 ScaleProbe measured the 10k×100 wide-align wall
    * DOMINATED by that scheduling (~709 s), not by data. When the
    * union's partition count tracks the input count (single-partition
    * leaves) and far exceeds the cluster's parallelism, a shuffle-free
    * coalesce merges adjacent leaves so each task computes many small
    * series. A union of BIG series (partitions >> inputs) keeps its
    * scan parallelism — the branch must not fire there, and at 4×cores
    * the merged shape still saturates the cluster.
    */
  private def compactUnion(u: DataFrame, nInputs: Int): DataFrame = {
    val cores = u.sparkSession.sparkContext.defaultParallelism
    if (nInputs <= 2 * cores) return u
    // estimate from the analyzed plan, not u.rdd (r20): the .rdd probe
    // physically planned the whole N-leaf union subtree and discarded
    // it — on the wide-align shapes this guard protects, that DOUBLED
    // union planning cost whenever it fired (ADVICE r19)
    val parts = org.apache.spark.sql.graftbridge.PartitionEstimate
      .leafScanPartitions(u)
      .getOrElse(u.rdd.getNumPartitions.toLong)
    if (parts <= 2L * nInputs && parts > 4L * cores) u.coalesce(4 * cores) else u
  }

  /** alignJoin's input guard, shared with [[alignLocal]]: series names
    * must be distinct across the inputs. It guards BOTH Spark paths —
    * the join chain would otherwise fail much later with a cryptic
    * AMBIGUOUS_REFERENCE deep inside the fill. */
  private def requireDistinctNames(schemas: Seq[StructType], timeCol: String): Unit = {
    require(schemas.nonEmpty, "alignJoin needs at least one input")
    val allNames = schemas.flatMap(_.fieldNames.filterNot(_ == timeCol))
    require(allNames.distinct.size == allNames.size,
      s"duplicate series names across alignJoin inputs: $allNames")
  }

  /** Whether [[alignJoin]] aligns `dfs` with the pivot rather than the
    * join chain. Wide loads of same-typed series align with ONE
    * shuffle: tag each series, union, and pivot on the tag — versus a
    * chain of N-1 full outer joins (N-1 shuffles) that dominates a
    * 100-feature load. Mixed value types (or multi-column inputs) keep
    * the join chain, since a union would coerce them. Inputs are
    * expected deduplicated per time (every loadDataFrame series is);
    * the pivot collapses any residual duplicate deterministically via
    * max, where the join chain would instead multiply rows. */
  private def pivotable(schemas: Seq[StructType], timeCol: String): Boolean = {
    val valueTypes = schemas.map(_.fields.filterNot(_.name == timeCol).map(_.dataType).toSeq)
    schemas.length > 2 && schemas.forall(_.length == 2) &&
      valueTypes.distinct.size == 1 && valueTypes.head.forall(isOrderable)
  }

  def alignJoin(dfs: Seq[DataFrame], timeCol: String = TimeCol): DataFrame = {
    requireDistinctNames(dfs.map(_.schema), timeCol)
    val pivotable = this.pivotable(dfs.map(_.schema), timeCol)
    val joined =
      if (pivotable) {
        val names = dfs.map(_.columns.filterNot(_ == timeCol).head)
        val tagged = dfs.zip(names).map { case (df, n) =>
          df.select(col(timeCol), lit(n).as("__series"),
            col(s"`$n`").as("__value"))
        }
        // BALANCED union tree, not reduce's left-deep chain: at 1,000
        // series a 999-deep nested Union sends the analyzer's
        // relation-dedup recursion (and several other tree walks)
        // 1,000 frames deep — the ScaleProbe wide-align run died in
        // DeduplicateRelations before ever shuffling a row. Pairwise
        // levels keep plan depth at log2(N) (~10 at width 1,000) with
        // the identical flattened physical union.
        compactUnion(unionBalanced(tagged), tagged.size)
          .groupBy(col(timeCol))
          .pivot("__series", names)
          .agg(max(col("__value")))
      } else dfs.reduce((a, b) => a.join(b, Seq(timeCol), "full_outer"))
    val valueCols = joined.columns.filterNot(_ == timeCol).toSeq
    // the pivot path groups by time, so its output is tie-free by
    // construction and earns the cheap ROWS fill; the join chain only
    // is when inputs honor the unique-per-time contract, so it keeps
    // the order-insensitive RANGE form
    ffillAuto(joined, valueCols, orderCols = Seq(timeCol), tieFree = pivotable)
      .orderBy(col(timeCol))
  }

  /** [[alignJoin]]'s driver twin, for small inputs the driver holds as
    * rows (like [[graft.store.TimeseriesStore.latestOnDriver]]'s): the
    * same wide frame, row for row and schema for schema, built as one
    * LocalRelation without a Spark job or any other plan. Each input's
    * rows must be sorted by time, a null time first, and unique per
    * time, as every deduped series is.
    *
    * The fill is alignJoin's, evaluated by a merge: over the sorted
    * distinct times of all inputs (a null time first, as the sort puts
    * it), each input's cursor advances past its row at that time, and
    * each value column carries its last non-null value — a null at a
    * time (a deduped null) does not clear the carry, exactly like the
    * window's `last(ignoreNulls)`. Times are compared as primitive
    * micros. Columns keep each input's own type, in input order, all
    * nullable; the time column is nullable as alignJoin's is (an
    * input's own, the pivot's union of them, or always after the join
    * chain's outer joins). Duplicate names fail with alignJoin's
    * message.
    */
  def alignLocal(spark: SparkSession, inputs: Seq[LocalRows], timeCol: String = TimeCol): DataFrame = {
    val schemas = inputs.map(_.schema)
    requireDistinctNames(schemas, timeCol)
    val timeNullable = schemas.exists(_(timeCol).nullable) ||
      (schemas.size > 1 && !pivotable(schemas, timeCol))
    val schema = StructType(
      StructField(timeCol, schemas.head(timeCol).dataType, timeNullable) +:
        schemas.flatMap(_.fields.filterNot(_.name == timeCol).map(_.copy(nullable = true))))
    // per input: its time ordinal, and (ordinal, type) of its value columns
    val timeAt = schemas.map(_.fieldIndex(timeCol)).toArray
    val valueAt = schemas.map(s =>
      s.fields.indices.filter(_ != s.fieldIndex(timeCol)).map(i => (i, s(i).dataType)))
    val times = inputs.indices.flatMap { k =>
      inputs(k).rows.iterator.filterNot(_.isNullAt(timeAt(k))).map(_.getLong(timeAt(k)))
    }.toArray
    java.util.Arrays.sort(times)
    val nullTime = inputs.indices.exists(k => inputs(k).rows.exists(_.isNullAt(timeAt(k))))
    val keys = (if (nullTime) Seq(None) else Nil) ++
      times.indices.collect { case i if i == 0 || times(i - 1) != times(i) => Some(times(i)) }
    val cursor = new Array[Int](inputs.size)
    val carry = new Array[Any](schema.length - 1)
    // the output row at `time` (None: the null time), advancing every
    // input whose next row is at it
    def step(time: Option[Long]): InternalRow = {
      val t = time.getOrElse(0L)
      var at = 0
      for (k <- inputs.indices) {
        val rows = inputs(k).rows
        val r = if (cursor(k) < rows.length) rows(cursor(k)) else null
        val hit = r != null &&
          (if (r.isNullAt(timeAt(k))) time.isEmpty else time.isDefined && r.getLong(timeAt(k)) == t)
        if (hit) cursor(k) += 1
        for ((i, dt) <- valueAt(k)) {
          if (hit && !r.isNullAt(i)) carry(at) = r.get(i, dt)
          at += 1
        }
      }
      new GenericInternalRow(time.getOrElse(null) +: carry)
    }
    LocalRows(schema, keys.map(step).toVector).frame(spark)
  }

  /** [[alignJoin]] for VERY wide feature sets. Catalyst's optimizer
    * goes super-linear in output width: at 10,000 columns in ONE plan,
    * `RemoveRedundantAliases` and then `ColumnPruning` pin the driver
    * single-core in AttributeSet arithmetic for >12 minutes (measured,
    * tools/ScaleProbe, jstack-confirmed) vs seconds at 1,000. So past
    * `blockSize` series the alignment runs in BLOCKS: one global time
    * spine (distinct union of every series' times, checkpointed) rides
    * into each block as an all-null series, so every block emits
    * exactly the spine's rows and per-block forward fill equals the
    * global fill (fill is per-column); each block's plan is then CUT
    * with a localCheckpoint — the optimizer never sees more than one
    * block's columns — and the blocks equi-join 1:1 on time. At a
    * 10k-feature store this bounds driver plan time to
    * O(blocks x blockSize²-ish) instead of O(width²) while the
    * executors see the same one-shuffle-per-block pivot shape.
    */
  /** alignJoinWide phase 1: the global time spine (distinct union of
    * every series' times), eagerly checkpointed so each block reads a
    * tiny RDD instead of re-planning the N-way union. Package-private
    * so tools/WideProbe can time the phases separately. */
  private[graft] def wideSpine(dfs: Seq[DataFrame], timeCol: String = TimeCol): DataFrame =
    compactUnion(unionBalanced(dfs.map(_.select(col(timeCol)))), dfs.size)
      .distinct().localCheckpoint(true)

  /** alignJoinWide phase 2: one block's alignment onto the global
    * spine.
    *
    * r20 restructure (the verdict's wide-align plan/codegen wall): the
    * previous form (alignJoin over block :+ all-null spine series) built
    * SIX width-wide operators per block — the 1024-column pivot, then
    * ffillBucketed's 1024-expression window, 1024-aggregate seed pass,
    * seed window, broadcast join and 1024-coalesce projection, plus a
    * per-block orderBy the final assembly re-sorts anyway — and the
    * measured wall was the DRIVER analyzing/optimizing ten such plans,
    * not the data. The fill is per-series, so run it in the TALL
    * (time, series, value) frame instead: one 3-column window
    * partitioned BY SERIES (better parallelism than the bucketed time
    * fill, no seed machinery needed), with one reader row per
    * (spine time, series) riding after the data rows; the only
    * width-wide operator left is the pivot itself. Semantics are
    * unchanged row for row: residual duplicate (series, time) rows
    * collapse via the same max rule the pivot applied, the reader at
    * time t sorts after t's data row so an exact hit reads its own
    * value, and "last non-null at or before t" per series is exactly
    * what the wide ROWS fill computed (TimeseriesOpsSpec pins blocked
    * == unblocked).
    *
    * Non-pivotable blocks (multi-column or mixed-type inputs) keep the
    * previous spine-series + alignJoin form — those fall to the join
    * chain either way. */
  private[graft] def wideBlock(
      block: Seq[DataFrame], spine: DataFrame, timeCol: String = TimeCol): DataFrame = {
    val singleValued = block.forall(_.columns.length == 2)
    val valueTypes = block.map(df =>
      df.schema.fields.filterNot(_.name == timeCol).map(_.dataType).toSeq)
    val pivotable = singleValued &&
      valueTypes.distinct.size == 1 && valueTypes.head.forall(isOrderable)
    if (!pivotable) {
      val vType = block.head.schema.fields
        .filterNot(_.name == timeCol).head.dataType
      val spineSeries = spine.withColumn("__spine", lit(null).cast(vType))
      return alignJoin(block :+ spineSeries, timeCol).drop("__spine")
    }
    val names = block.map(_.columns.filterNot(_ == timeCol).head)
    require(names.distinct.size == names.size,
      s"duplicate series names across alignJoinWide inputs: $names")
    val vType = valueTypes.head.head
    val tagged = block.zip(names).map { case (df, n) =>
      df.select(col(timeCol), lit(n).as("__series"), col(s"`$n`").as("__value"))
    }
    // residual duplicate (series, time) rows collapse deterministically
    // via max — the SAME tie rule the pivot used when it ran first
    val tall = compactUnion(unionBalanced(tagged), tagged.size)
      .groupBy(col(timeCol), col("__series"))
      .agg(max(col("__value")).as("__value"))
      .withColumn("__rdr", lit(0))
    // one reader row per (spine time, series): sorts AFTER the data row
    // at the same time (so an exact hit reads its own value), carries
    // nothing into the fill
    val readers = spine.select(
      col(timeCol), explode(typedLit(names)).as("__series"),
      lit(null).cast(vType).as("__value"), lit(1).as("__rdr"))
    val w = Window.partitionBy(col("__series"))
      .orderBy(col(timeCol), col("__rdr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tall.unionByName(readers)
      .withColumn("__v", last(col("__value"), ignoreNulls = true).over(w))
      .filter(col("__rdr") === 1)
      .groupBy(col(timeCol))
      .pivot("__series", names)
      .agg(max(col("__v")))
  }

  def alignJoinWide(
      dfs: Seq[DataFrame],
      timeCol: String = TimeCol,
      blockSize: Int = 1024): DataFrame = {
    require(blockSize >= 2, s"blockSize must be >= 2, got $blockSize")
    if (dfs.size <= blockSize) return alignJoin(dfs, timeCol)
    val spine = wideSpine(dfs, timeCol)
    val blocks = dfs.grouped(blockSize).toSeq.map { block =>
      wideBlock(block, spine, timeCol)
        .localCheckpoint(false) // lazy: plan cut now, materialized on use
    }
    blocks.reduce((a, b) => a.join(b, Seq(timeCol)))
      .orderBy(col(timeCol))
  }

  // ---------------------------------------------------------------------
  // As-of join: for each left row, attach the latest right value with
  // right.time <= left.time, matched within `by` keys (pandas
  // merge_asof / DuckDB ASOF JOIN semantics — the reference's carry-over
  // trick generalized to two tables, dask.py:142-148). Implemented as a
  // union + running last-non-null fill: with `by` keys the window
  // shuffles once on the keys (parallel across keys); with empty `by`
  // the fill routes through the two-phase bucketed form — parallel
  // across time buckets, per-bucket boundary values propagated via a
  // tiny broadcast — instead of a single global-sort task, so the
  // un-keyed as-of (the training-frame flagship path) scales with the
  // cluster. Map-typed values ride the same bucketed fill via max_by
  // keyed on the order columns (keyed map values: per-key RANGE window).
  //
  // `toleranceUs` bounds carry-over STALENESS (pandas merge_asof's
  // tolerance): a matched value older than left.time - tolerance reads
  // NULL instead — the leakage/staleness control a training-frame
  // builder needs when a feature series can go quiet. Implemented by
  // filling the matched right TIME alongside the values (same window,
  // same tie rule, so the (time, value) pair is always from one right
  // row) and masking by age after the fill — no extra exchange.
  // ---------------------------------------------------------------------
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      rightValueCols: Seq[String],
      timeCol: String = TimeCol,
      by: Seq[String] = Nil,
      rightUnique: Boolean = false,
      toleranceUs: Option[Long] = None,
      direction: String = "backward"): DataFrame = {
    val collisions = rightValueCols.filter(left.columns.contains)
    require(collisions.isEmpty, s"right value columns collide with left: $collisions")
    toleranceUs.foreach(t => require(t >= 0, s"tolerance must be >= 0 us, got $t"))
    require(Set("backward", "forward", "nearest").contains(direction),
      s"direction must be backward, forward or nearest, got '$direction'")
    val RT = "__asof_rt"
    val NT = "__asof_nt"
    val NEG = "__asof_neg"
    val M = "__asof_side"
    def nv(c: String) = s"__asof_next_$c"
    val nearest = direction == "nearest"
    val reversedOnly = direction == "forward"
    val leftOnly = left.columns.filterNot(c => by.contains(c) || c == timeCol).toSeq
    // the matched right TIME rides the fill whenever the result is
    // age-dependent: tolerance masking, or nearest's distance compare
    val withRt = toleranceUs.isDefined || nearest
    val l2base = left.withColumn(M, lit(1)).withColumns(rightValueCols.map(c =>
      c -> lit(null).cast(right.schema(c).dataType)).toMap)
    val l2 = if (withRt) l2base.withColumn(RT, lit(null).cast(right.schema(timeCol).dataType))
      else l2base
    val rightSel = right.select((by :+ timeCol).map(col) ++ rightValueCols.map(col): _*)
    val collapsible = rightValueCols.forall(c => isOrderable(right.schema(c).dataType))
    require(!nearest || collapsible,
      "direction='nearest' needs orderable (non-map) value columns")
    // Tie handling picks the cheapest plan that still applies the
    // kernel's documented rule (duplicate-(by, time) right rows resolve
    // to the max per value column):
    //  - rightUnique: the CALLER promises at most one right row per
    //    (by, time) — e.g. trainingFrame's wide frame, a pivot output —
    //    so ties can't exist: no collapse, cheap ROWS fill, and the
    //    whole join rides the window's ONE exchange (this also lifts
    //    the RANGE machinery for non-orderable values: with no
    //    contributor ties the ROWS fill is already deterministic).
    //  - a single orderable value column: ties resolve through the SORT
    //    KEY — appending the value column to the window order makes the
    //    physically-last tied peer the max value, so ROWS +
    //    last(ignoreNulls) applies tie->max with NO pre-collapse
    //    aggregate. (The earlier collapse agg assumed the right side
    //    "already arrives partitioned by its keys"; in every gate it is
    //    a raw filtered scan, so the agg cost a FULL extra exchange of
    //    the right side — fs_asof_join drifted 0.37s -> 0.80s on it,
    //    round-13 VERDICT. The sort-key form gives that exchange back.)
    //    Not available under `nearest`: the two passes fill COPIES, and
    //    a copy cannot ride the original's sort key — nearest collapses
    //    with the hash-agg instead (one extra exchange, nearest-only).
    //  - several orderable value columns, uniqueness unknown: per-column
    //    max at a tie cannot ride one sort key (the lexicographically
    //    last row need not hold EVERY column's max), so collapse
    //    duplicate-(by, time) right rows with one hash-agg first.
    //  - non-orderable (map-typed) values, uniqueness unknown: RANGE
    //    machinery below.
    val singleSortable = collapsible && !rightUnique && rightValueCols.size == 1 && !nearest
    val needsAgg = collapsible && !rightUnique && !singleSortable
    val rightBase =
      if (needsAgg)
        rightSel.groupBy((by :+ timeCol).map(col): _*)
          .agg(max(col(rightValueCols.head)).as(rightValueCols.head),
            rightValueCols.tail.map(c => max(col(c)).as(c)): _*)
      else rightSel
    val r2base = if (withRt) rightBase.withColumn(M, lit(0)).withColumn(RT, col(timeCol))
      else rightBase.withColumn(M, lit(0))
    val r2 = r2base.withColumns(leftOnly.map(c =>
      c -> lit(null).cast(left.schema(c).dataType)).toMap)
    // at equal time the right row (M=0) precedes the left row — under
    // BOTH orderings (time, M) and (-time, M) — so the match is
    // inclusive of right.time == left.time in every direction
    val union0 = l2.unionByName(r2)
    // nearest: copies carry the forward pass (the backward pass fills
    // the originals in place, like resampleInterpolated's two passes)
    val union = if (nearest)
      union0.withColumn(NT, col(RT))
        .withColumns(rightValueCols.map(c => nv(c) -> col(c)).toMap)
    else union0
    // contributors are tie-free by promise (rightUnique), by collapse
    // (needsAgg), or by the value column riding the order key itself
    // (singleSortable: peers sharing the full key share the value, so
    // every reader resolves identically).
    val tieFree = rightUnique || needsAgg || singleSortable
    // one directional fill: forward-in-time uses (time, M); backward-in-
    // time is a forward fill under the REVERSED total order — negated
    // micros, negated bucket (the resampleInterpolated device)
    def fillPass(df0: DataFrame, cols: Seq[String], reversed: Boolean): DataFrame = {
      val base = if (reversed) df0.withColumn(NEG, -unix_micros(col(timeCol))) else df0
      val ordKey = if (reversed) NEG else timeCol
      val ordCols = if (singleSortable) Seq(ordKey, M) ++ rightValueCols else Seq(ordKey, M)
      val out =
        if (by.isEmpty) {
          val bkt = if (reversed) -unix_micros(monthBucket(timeCol)) else monthBucket(timeCol)
          ffillAuto(base, cols, orderCols = ordCols, bucket = Some(bkt), tieFree = tieFree)
        } else if (collapsible || rightUnique) {
          val w = Window.partitionBy(by.map(col): _*).orderBy(ordCols.map(col): _*)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          base.withColumns(cols.map(c =>
            c -> last(col(c), ignoreNulls = true).over(w)).toMap)
        } else {
          // non-orderable (map-typed) values can't collapse via max:
          // keep the RANGE frame so duplicate (time, M) right rows
          // still resolve identically regardless of physical order,
          // with the last() fallback for the non-orderable columns
          // themselves (mirroring ffillAuto's routing).
          val w = Window.partitionBy(by.map(col): _*).orderBy(col(ordKey), col(M))
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
          val ordStruct = struct(col(ordKey), col(M))
          base.withColumns(cols.map(c =>
            if (isOrderable(base.schema(c).dataType))
              c -> runningLastNonNull(ordStruct, col(c)).over(w).getField("v")
            else
              c -> last(col(c), ignoreNulls = true).over(w)).toMap)
        }
      if (reversed) out.drop(NEG) else out
    }
    val fillCols = if (withRt) rightValueCols :+ RT else rightValueCols
    val filled = direction match {
      case "backward" => fillPass(union, fillCols, reversed = false)
      case "forward"  => fillPass(union, fillCols, reversed = true)
      case _ => // nearest: both passes, then pick the closer side
        fillPass(fillPass(union, fillCols, reversed = false),
          rightValueCols.map(nv) :+ NT, reversed = true)
    }
    val tUs = unix_micros(col(timeCol))
    val chosen =
      if (!nearest) filled
      else {
        // distance compare; a missing side loses; EQUIDISTANT -> the
        // PAST value (deterministic, and the safe choice for features:
        // never prefer the future when the past is as close)
        val db = tUs - unix_micros(col(RT))
        val dfw = unix_micros(col(NT)) - tUs
        val pickPast = col(NT).isNull || (col(RT).isNotNull && db <= dfw)
        val merged = rightValueCols.foldLeft(filled)((d, c) =>
          d.withColumn(c, when(pickPast, col(c)).otherwise(col(nv(c)))))
        merged.withColumn(RT, when(pickPast, col(RT)).otherwise(col(NT)))
          .drop(rightValueCols.map(nv) :+ NT: _*)
      }
    val masked = toleranceUs match {
      case Some(tol) =>
        // |left.time - matched right time| <= tol; a null RT nulls the
        // comparison, so unmatched rows stay null
        val fresh =
          if (nearest) abs(tUs - unix_micros(col(RT))) <= tol
          else if (reversedOnly) unix_micros(col(RT)) - tUs <= tol
          else tUs - unix_micros(col(RT)) <= tol
        rightValueCols.foldLeft(chosen)((d, c) =>
          d.withColumn(c, when(fresh, col(c))))
      case None => chosen
    }
    masked.filter(col(M) === 1).drop(M, RT)
  }

  // ---------------------------------------------------------------------
  // Exponentially weighted moving average (extension — pandas
  // `ewm(alpha).mean()` with adjust=False: y_0 = x_0, then
  // y_i = (1-alpha)*y_{i-1} + alpha*x_i). A per-key LINEAR RECURRENCE —
  // not expressible as a window aggregate without either an O(rows)
  // expression chain or numerically explosive a^-i rescaling — so it
  // rides Spark's purpose-built primitive for ordered per-key
  // iteration: `flatMapSortedGroups` (one shuffle on the key, the
  // framework sorts each group, the fold streams the iterator in O(1)
  // memory). Keys are the parallel unit; a single pathologically hot
  // key serializes on one task — the escape hatch is the associative
  // (A, B) linear-function composition ((A1,B1)∘(A2,B2) =
  // (A1*A2, A2*B1+B2)), which would two-phase like ffillBucketed at
  // the cost of a different floating-point summation order.
  // Determinism: the fold's IEEE operation order is fixed by the total
  // (time, value) sort, so results are reproducible — and an engine
  // that folds the same sorted list (DuckDB list_reduce) matches
  // bit-for-bit.
  // ---------------------------------------------------------------------
  def ewma(
      df: DataFrame,
      alpha: Double,
      keyCol: String,
      timeCol: String = TimeCol,
      valueCol: String = ValueCol,
      outCol: String = "ewma"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(
      col(keyCol).cast("string"), col(timeCol), col(valueCol).cast("double"))
      .as[(String, java.sql.Timestamp, Double)]
    ds.groupByKey(_._1)
      .flatMapSortedGroups(col(timeCol), col(valueCol)) { (key, rows) =>
        var acc = 0.0
        var first = true
        rows.map { case (_, t, x) =>
          acc = if (first) { first = false; x } else (1 - alpha) * acc + alpha * x
          (key, t, x, acc)
        }
      }
      .toDF(keyCol, timeCol, valueCol, outCol)
  }

  // ---------------------------------------------------------------------
  // Time-bounded rolling aggregates (extension — the feature-pipeline
  // staple the cumulative running window is not): per key, each row
  // reads count/sum/min/max/avg of `valueCol` over [t - window, t].
  // One exchange on the keys; the RANGE frame is on epoch micros, so
  // duplicate timestamps are peers and read identically. The sum rides
  // a decimal cast (exact, order-independent — a double sum's value
  // depends on frame evaluation order) and returns to double at the
  // end; avg divides the two exact results. Keys are required: a
  // key-less rolling window is one unbounded single-task sort.
  // ---------------------------------------------------------------------
  def rollingStats(
      df: DataFrame,
      windowUs: Long,
      valueCol: String,
      keyCols: Seq[String],
      timeCol: String = TimeCol,
      prefix: String = "roll_"): DataFrame = {
    require(windowUs > 0, s"rolling window must be positive, got $windowUs")
    require(keyCols.nonEmpty, "rollingStats needs at least one key column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(unix_micros(col(timeCol)))
      .rangeBetween(-windowUs, 0)
    df.withColumn(s"${prefix}cnt", count(col(valueCol)).over(w))
      .withColumn(s"${prefix}sum",
        sum(col(valueCol).cast("decimal(18,2)")).over(w).cast("double"))
      .withColumn(s"${prefix}min", min(col(valueCol)).over(w))
      .withColumn(s"${prefix}max", max(col(valueCol)).over(w))
      .withColumn(s"${prefix}avg",
        col(s"${prefix}sum") / col(s"${prefix}cnt").cast("double"))
  }

  // ---------------------------------------------------------------------
  // Gap-based sessionization (extension — the canonical clickstream
  // operator; no reference analogue): rows of the same key whose
  // consecutive time gap exceeds `gapUs` start a new 1-based session.
  // One lag window marks starts, a running sum over the SAME ordering
  // assigns ids, so the whole operator — and any following
  // (keys :+ sessionCol) rollup, via the partitioning-subset rule —
  // rides a single hash exchange. `tieBreak` columns make the per-key
  // order total when times can repeat. Keys are required: a key-less
  // global sessionization would be one unbounded single-task window.
  //
  // PRECONDITION (caller's to meet, like Pack's token contract):
  // `timeCol` must be non-null. Null times sort first and each reads a
  // null gap, so EVERY null row would open a phantom session and shift
  // the key's real session ids — constraint-check event time with
  // DataQuality.NotNull upstream if the source is untrusted.
  // ---------------------------------------------------------------------
  def sessionize(
      df: DataFrame,
      gapUs: Long,
      keyCols: Seq[String],
      timeCol: String = TimeCol,
      tieBreak: Seq[String] = Nil,
      sessionCol: String = "session_idx"): DataFrame = {
    require(gapUs > 0, s"session gap must be positive, got $gapUs")
    require(keyCols.nonEmpty, "sessionize needs at least one key column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((timeCol +: tieBreak).map(col): _*)
    val gap = unix_micros(col(timeCol)) - unix_micros(lag(col(timeCol), 1).over(w))
    // Peer semantics (duplicate (key, time +: tieBreak) rows) are pinned
    // by the EXPLICIT RANGE frame: the running sum extends through the
    // whole peer group, so every peer reads the group's total marker
    // count. Within a peer group exactly one physically-first row can
    // carry the new-session marker (its peers see gap = 0 <= gapUs), and
    // which row carries it doesn't change the group total — so session
    // ids are deterministic even without a tieBreak: peers always land
    // in the SAME session. A ROWS frame here would instead split peers
    // by physical order, which is nondeterministic. lag() across the
    // group boundary is also order-insensitive: all peers share the time
    // value the next group compares against.
    df.withColumn("__new_session", when(gap.isNull || gap > gapUs, 1L).otherwise(0L))
      .withColumn(sessionCol, sum(col("__new_session")).over(
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new_session")
  }

  /** Largest-triangle downsampling for visualization (LTTB, Steinarsson
    * 2013) in its BUCKET-ANCHOR, fully parallel variant. The classic
    * algorithm chains each bucket's selection to the PREVIOUS bucket's
    * selected point — a sequential dependency that cannot distribute;
    * anchoring each bucket on its NEIGHBOR BUCKETS' centroids keeps
    * the fidelity property (retain extremes, drop redundant midpoints
    * — the selected point maximizes the triangle area against the
    * local trend line) while making every bucket independent: two
    * hash-aggs, two metadata-sized centroid joins, one per-bucket
    * window — no sequential pass at any series length. First/last
    * buckets keep their first/last point, so the series endpoints
    * always survive (the LTTB contract).
    *
    * Raw rows aggregate to a `pointSecs` grid first (candidate points
    * are grid means), then one point per `bucketSecs` bucket survives.
    * Determinism doctrine: x is an exact integer grid index, y and
    * both centroid coordinates are exact sums (decimal for values,
    * integer for x) closed by one IEEE division each, the triangle
    * cross-product is a fixed IEEE sequence rounded once at 6, and
    * area ties resolve to the earliest point.
    */
  def lttbDownsample(
      df: DataFrame,
      timeCol: String = TimeCol,
      valueCol: String = "value",
      pointSecs: Long = 3600L,
      bucketSecs: Long = 86400L): DataFrame = {
    require(bucketSecs % pointSecs == 0 && bucketSecs > pointSecs,
      s"bucketSecs must be a multiple of pointSecs, got $bucketSecs / $pointSecs")
    val ev = df.select(
      (unix_timestamp(col(timeCol)) / pointSecs).cast("long").as("hx"),
      col(valueCol).cast("double").as("v"))
    def bucketOf(hx: Column): Column =
      (hx * pointSecs / bucketSecs).cast("long")
    val anchors = ev.groupBy(bucketOf(col("hx")).as("b")).agg(
      (sum(col("hx")).cast("double") / count(lit(1))).as("ax"),
      (sum(col("v").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("ay"))
    val pts = ev.groupBy(col("hx")).agg(
        (sum(col("v").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("y"))
      .withColumn("b", bucketOf(col("hx")))
    val wa = pts
      .join(anchors.select((col("b") + 1).as("b"),
        col("ax").as("pax"), col("ay").as("pay")), Seq("b"), "left")
      .join(anchors.select((col("b") - 1).as("b"),
        col("ax").as("nax"), col("ay").as("nay")), Seq("b"), "left")
      .withColumn("area", when(col("pax").isNotNull && col("nax").isNotNull,
        round(abs((col("nax") - col("pax")) * (col("y") - col("pay")) -
          (col("hx").cast("double") - col("pax")) * (col("nay") - col("pay"))), 6)))
    val wArea = Window.partitionBy(col("b")).orderBy(col("area").desc, col("hx"))
    val wF = Window.partitionBy(col("b")).orderBy(col("hx"))
    val wL = Window.partitionBy(col("b")).orderBy(col("hx").desc)
    wa.withColumn("rn", row_number().over(wArea))
      .withColumn("rf", row_number().over(wF))
      .withColumn("rl", row_number().over(wL))
      .filter((col("pax").isNull && col("rf") === 1) ||
        (col("pax").isNotNull && col("nax").isNull && col("rl") === 1) ||
        (col("pax").isNotNull && col("nax").isNotNull && col("rn") === 1))
      .select(col("b"),
        timestamp_seconds(col("hx") * pointSecs).as(timeCol),
        col("y").as(valueCol))
  }

  /** M4 downsampling (Jugel et al., VLDB 2014): per time bucket keep
    * the ≤4 rows a pixel-perfect line rendering needs — first, last,
    * min-value, max-value — and nothing else. The companion to
    * [[lttbDownsample]]: LTTB picks ONE perceptually-best point per
    * bucket, M4 guarantees EXACT min/max envelopes (a monitoring
    * dashboard wants M4; a smooth trend line wants LTTB). Shape: one
    * hash-agg per bucket folding four struct-extremes (map-side
    * partial, mergeable — the agg state is 4 fixed-width structs per
    * bucket regardless of bucket population), one explode of ≤4, one
    * distinct. No window, no sort, no sequential pass — at 100 TB this
    * is a single shuffle whose key space is the bucket grid, and the
    * shuffle carries 4 structs per bucket, never the raw series.
    * Determinism: extremes are struct-lexicographic min/max, so value
    * ties resolve by the (exact-integer) micro timestamp and row
    * duplicates collapse in the closing distinct.
    */
  def m4Downsample(
      df: DataFrame,
      timeCol: String = TimeCol,
      valueCol: String = "value",
      bucketSecs: Long = 86400L): DataFrame = {
    // bucket = FLOOR division in pure integer arithmetic (the oracle's
    // `//`): `tu - pmod(tu, unit)` is the floor multiple (pmod is
    // non-negative for negative micros too), and `div` closes the
    // exactly-divisible quotient as bigint — no double true-division,
    // so pre-1970 epochs floor correctly and |micros| never meets a
    // 2^53 mantissa cliff
    val unit = bucketSecs * 1000000L
    val ev = df.select(
        unix_micros(col(timeCol)).as("tu"),
        col(valueCol).cast("double").as("v"))
      .select(
        expr(s"(tu - pmod(tu, ${unit}L)) div ${unit}L").as("b"),
        col("tu"), col("v"))
    ev.groupBy(col("b")).agg(
        min(struct(col("tu"), col("v"))).as("first"),
        max(struct(col("tu"), col("v"))).as("last"),
        min(struct(col("v"), col("tu"))).as("vmin"),
        max(struct(col("v"), col("tu"))).as("vmax"))
      .select(col("b"), explode(array(
        struct(col("first.tu").as("tu"), col("first.v").as("v")),
        struct(col("last.tu").as("tu"), col("last.v").as("v")),
        struct(col("vmin.tu").as("tu"), col("vmin.v").as("v")),
        struct(col("vmax.tu").as("tu"), col("vmax.v").as("v")))).as("p"))
      .select(col("b"), col("p.tu").as("tu"), col("p.v").as("v"))
      .distinct()
      .select(col("b"), timestamp_micros(col("tu")).as(timeCol),
        col("v").as(valueCol))
  }

  /** Two-sided CUSUM (Page 1954) level-shift detection, closed per key:
    * S⁺ = max(0, S⁺ + (x − μ − slack)), S⁻ = max(0, S⁻ + (μ − x −
    * slack)) folded over the key's series in `orderCol` order; a large
    * final S⁺/S⁻ says the series drifted above/below its target level
    * and never recovered. Each row must carry its target μ in
    * `targetCol` (typically joined per key from an exact aggregate —
    * the caller owns μ's determinism). Like [[ewma]], the fold rides
    * `flatMapSortedGroups`: the sorted group streams through the
    * recurrence without materializing, one exchange on the key, and the
    * fixed IEEE order means an engine folding the same sorted list
    * (DuckDB `list_reduce`) matches bit-for-bit. Sequential per key by
    * nature — feed it a bounded pre-aggregated grid (hourly/daily
    * means), not raw events.
    */
  def cusum(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      valueCol: String,
      targetCol: String,
      slack: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(keyCol).cast("string"), col(orderCol).cast("long"),
        col(valueCol).cast("double"), col(targetCol).cast("double"))
      .as[(String, Long, Double, Double)]
    ds.groupByKey(_._1)
      .flatMapSortedGroups(col(orderCol)) { (key, rows) =>
        var sp = 0.0
        var sn = 0.0
        var n = 0L
        rows.foreach { case (_, _, x, mu) =>
          sp = math.max(0.0, sp + (x - mu - slack))
          sn = math.max(0.0, sn + (mu - x - slack))
          n += 1
        }
        Iterator((key, sp, sn, n))
      }
      .toDF(keyCol, "cusum_pos", "cusum_neg", "n_points")
  }

  /** Holt's double exponential smoothing (level + trend), closed per
    * key — the one-step forecaster a capacity/monitoring pipeline runs
    * per series: l′ = α·x + (1−α)(l+b), b′ = β(l′−l) + (1−β)b folded
    * in `orderCol` order, initialized l₀ = x₀, b₀ = 0. Returns the
    * final (level, trend, forecast = level+trend, n_points) per key.
    * Like [[ewma]]/[[cusum]] the fold rides `flatMapSortedGroups` —
    * one exchange on the key, the sorted group streams through without
    * materializing — and feeds on a bounded pre-aggregated grid, never
    * raw events. Determinism: the recurrence is a fixed IEEE sequence,
    * so an engine folding the same sorted list matches bit-for-bit —
    * PROVIDED α and 1−α (and β, 1−β) are both exactly-parsed literals
    * on both sides: pick smoothing constants whose complement is
    * exactly representable (0.5, 0.25, 0.125…), because `1.0 − 0.3` in
    * IEEE is NOT the double that "0.7" parses to, and that one-ulp
    * seed difference compounds through every step of the fold.
    */
  def holtWinters(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      valueCol: String,
      alpha: Double,
      beta: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val oneMinusAlpha = 1.0 - alpha
    val oneMinusBeta = 1.0 - beta
    val ds = df.select(col(keyCol).cast("string"), col(orderCol).cast("long"),
        col(valueCol).cast("double"))
      .as[(String, Long, Double)]
    ds.groupByKey(_._1)
      .flatMapSortedGroups(col(orderCol)) { (key, rows) =>
        var init = false
        var l = 0.0
        var b = 0.0
        var n = 0L
        rows.foreach { case (_, _, x) =>
          if (!init) { l = x; init = true }
          else {
            val lp = alpha * x + oneMinusAlpha * (l + b)
            b = beta * (lp - l) + oneMinusBeta * b
            l = lp
          }
          n += 1
        }
        Iterator((key, l, b, l + b, n))
      }
      .toDF(keyCol, "level", "trend", "forecast", "n_points")
  }

  /** Seasonal-profile anomaly detection: each key's values are profiled
    * per season bucket (`(epoch / periodSecs) mod (seasonSecs /
    * periodSecs)` — hour-of-day under the defaults), and a row is
    * anomalous when its squared residual exceeds `zThreshold²` cell
    * variances: (n·x − Σx)² > z²·(n·Σx² − (Σx)²), the z-score test
    * cleared of both the sqrt and the division so the entire decision
    * is EXACT integer-cents arithmetic — no IEEE op can flip a
    * borderline row differently on another engine. The reported `zsq`
    * (the squared z-score) is the one closing IEEE step: two
    * correctly-rounded casts and a division, rounded at 6. Shape: one
    * hash-agg builds the (key, bucket) profile — seasons × keys rows,
    * metadata-sized — broadcast back onto the events; the event side
    * never shuffles.
    */
  def seasonalAnomalies(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      timeCol: String = TimeCol,
      valueCol: String = ValueCol,
      zThreshold: Int = 3,
      periodSecs: Long = 3600L,
      seasonSecs: Long = 86400L): DataFrame = {
    val ev = seasonalPrep(df, keyCol, idCol, timeCol, valueCol, periodSecs, seasonSecs)
    val prof = ev.groupBy(col(keyCol), col("bucket")).agg(
      count(lit(1)).as("n"),
      sum(col("cents")).as("sx"),
      sum(col("cents") * col("cents")).as("sxx"))
    seasonalFlag(ev, prof, keyCol, idCol, zThreshold)
  }

  /** Shared (id, key, bucket, cents) projection for the seasonal
    * anomaly paths — batch ([[seasonalAnomalies]]) and streaming
    * (`EventStreams.anomalyStream`) run THIS one expression set, so the
    * bucket arithmetic and cents quantization can never drift between
    * the trained profile and the scored stream.
    */
  def seasonalPrep(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      timeCol: String,
      valueCol: String,
      periodSecs: Long,
      seasonSecs: Long): DataFrame = {
    require(seasonSecs % periodSecs == 0 && seasonSecs > periodSecs,
      s"seasonSecs must be a multiple of periodSecs, got $seasonSecs / $periodSecs")
    df.filter(col(valueCol).isNotNull).select(
      col(idCol), col(keyCol),
      ((unix_timestamp(col(timeCol)) / periodSecs).cast("long") %
        (seasonSecs / periodSecs)).as("bucket"),
      round(col(valueCol) * 100).cast("decimal(38,0)").as("cents"))
  }

  /** The seasonal anomaly DECISION against a (key, bucket, n, sx, sxx)
    * profile: flag rows where (n·x − Σx)² > z²·(n·Σx² − (Σx)²) — exact
    * integer arithmetic, so no IEEE op can flip a borderline row; the
    * reported zsq is the one closing cast-cast-divide, rounded at 6.
    * The profile broadcasts (keys × buckets rows — metadata-sized), so
    * the event side never shuffles: the same plan whether `ev` is a
    * batch frame or a streaming micro-batch.
    */
  def seasonalFlag(
      ev: DataFrame,
      prof: DataFrame,
      keyCol: String,
      idCol: String,
      zThreshold: Int): DataFrame = {
    val z2 = lit(zThreshold.toLong * zThreshold)
    val num = (col("n") * col("cents") - col("sx")) *
      (col("n") * col("cents") - col("sx"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    // den = 0 only for a zero-variance cell, where num is also 0 and the
    // strict > can never hold — the filter itself guards the division
    ev.join(broadcast(prof), Seq(keyCol, "bucket"))
      .filter(num > z2 * den)
      .select(col(idCol), col(keyCol), col("bucket"), col("cents"),
        round(num.cast("double") / den.cast("double"), 6).as("zsq"))
  }

  /** Lag autocorrelation (ACF) of a keyed INTEGER-valued series at each
    * of `lags`: Pearson r over the aligned pairs (x_t, x_{t+ℓ}), the
    * classic seasonality/persistence probe (a daily-seasonal hourly
    * series spikes at ℓ = 24). The input must already be the bounded
    * pre-aggregated grid (e.g. hourly cents TOTALS — integers, so every
    * Σx, Σy, Σxy, Σxx, Σyy is exact decimal arithmetic): the lag align
    * is then a self-join of a calendar-sized table, never of raw
    * events — the q_cusum_shift pre-aggregation doctrine. Gaps in the
    * grid self-handle (a missing t+ℓ simply contributes no pair).
    * Zero-variance slices are dropped by an exact integer test BEFORE
    * the division (no cross-engine NaN). The reported r is the one
    * closing IEEE sequence — three correctly-rounded casts, a multiply,
    * sqrt, divide — rounded at 6.
    */
  def acf(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      valueCol: String,
      lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), s"lags must be >= 1, got $lags")
    val x = df.select(col(keyCol), col(orderCol).cast("long").as("__o"),
      col(valueCol).cast("decimal(38,0)").as("__x"))
    val lagged = x.withColumn("__lag", explode(array(lags.map(l => lit(l)): _*)))
    val pairs = lagged.as("a").join(x.as("b"),
        col(s"a.$keyCol") === col(s"b.$keyCol") &&
          col("a.__o") + col("a.__lag") === col("b.__o"))
      .select(col(s"a.$keyCol"), col("a.__lag").as("lag"),
        col("a.__x").as("__xa"), col("b.__x").as("__xb"))
    val s = pairs.groupBy(col(keyCol), col("lag")).agg(
      count(lit(1)).as("__m"),
      sum(col("__xa")).as("__sx"), sum(col("__xb")).as("__sy"),
      sum(col("__xa") * col("__xb")).as("__sxy"),
      sum(col("__xa") * col("__xa")).as("__sxx"),
      sum(col("__xb") * col("__xb")).as("__syy"))
    val vx = col("__m") * col("__sxx") - col("__sx") * col("__sx")
    val vy = col("__m") * col("__syy") - col("__sy") * col("__sy")
    s.filter(vx > 0 && vy > 0)
      .select(col(keyCol), col("lag").cast("int").as("lag"),
        col("__m").as("n_pairs"),
        round((col("__m") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
          sqrt(vx.cast("double") * vy.cast("double")), 6).as("acf"))
  }

  // ---------------------------------------------------------------------
  // A2: time bounds of a feature (dask.py:150-153) — tiny agg job used to
  // default a load's date range.
  // ---------------------------------------------------------------------
  def timeBounds(df: DataFrame, timeCol: String = TimeCol): (Option[Timestamp], Option[Timestamp]) = {
    val row = df.agg(min(col(timeCol)), max(col(timeCol))).head()
    (Option(row.getTimestamp(0)), Option(row.getTimestamp(1)))
  }
}
