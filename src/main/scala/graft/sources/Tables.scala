package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.SessionConf

/** Readers for the driver's testdata tables. One quirk: `events.ts` has
  * shipped in two parquet generations, and the reader must accept both:
  *
  *  - TIMESTAMP(NANOS) (rounds ≤11): Spark's vectorized reader rejects
  *    nanos outright ([PARQUET_TYPE_ILLEGAL]), so we read them as raw
  *    longs (`spark.sql.legacy.parquet.nanosAsLong`) and `div 1000` to
  *    microseconds — integral division truncating toward zero, the same
  *    rule DuckDB applies converting ns→µs, so oracle comparisons agree
  *    to the microsecond.
  *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 12+ regeneration):
  *    readable directly, but by default inferred as TIMESTAMP_NTZ, which
  *    would change the column's Spark type (and every downstream
  *    time-function's semantics) relative to what the whole library and
  *    its oracles were certified against. Setting
  *    `spark.sql.parquet.inferTimestampNTZ.enabled=false` reads the same
  *    stored micros as instant-semantics TimestampType — bit-identical
  *    values, identical downstream behavior under the UTC session TZ the
  *    harness pins. (Round 12 broke precisely here: the regenerated µs
  *    data arrived mid-round, `ts` resolved as NTZ, and the legacy
  *    `ts div 1000` failed analysis — taking down all 31 events-based
  *    gates. Branching on the RESOLVED type makes the reader immune to
  *    either generation appearing again.)
  */
object Tables {

  // events() must mutate SESSION-level SQL confs: neither
  // `nanosAsLong` nor `inferTimestampNTZ.enabled` has a per-read
  // DataFrameReader option (verified against ParquetOptions in the
  // Spark 4.1 jars — only rebase modes / mergeSchema / compression are
  // per-read), so schema inference can only be steered session-wide.
  // Serializing EVERY Tables read on one lock makes concurrent readers
  // that go through Tables safe with each other: a table() call can no
  // longer observe the flags mid-mutation from a concurrent events().
  // Parquet reads that bypass Tables on the same SparkSession during an
  // events() call would still inherit the flags — callers that mix
  // threads and raw spark.read on one session own that window (there is
  // no narrower scope available in Spark).
  private val confLock = new Object

  // Per-session memo of the ANALYZED testdata frames (plan-level only —
  // a DataFrame is a lazy plan; every action still computes from the
  // parquet bytes): each `spark.read.parquet` call re-lists the path
  // and re-reads a footer for schema inference, a fixed ~10-40 ms
  // metadata tax paid by every query build (×4 bench runs ×258 gates).
  // The testdata directories are immutable for a harness run, so the
  // resolved relation (schema + file listing) is reusable — the same
  // scaffolding-memo doctrine as QueryLib.stagedDirs. Keyed WEAKLY by
  // session (a closed session's plans must not pin its state), then by
  // (dir, name).
  // The per-session map is held through a SoftReference: a cached
  // DataFrame strongly references its SparkSession (value -> key), which
  // would defeat the WeakHashMap's weak keying outright — entries could
  // never be collected and a closed session's plans and listing caches
  // would stay pinned for process lifetime (ADVICE r19). Soft values
  // keep the memo hot in steady state but let the GC reclaim the whole
  // chain (map -> frames -> session) under memory pressure, which also
  // releases the weak key.
  private val resolved =
    new java.util.WeakHashMap[SparkSession, java.lang.ref.SoftReference[
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]]()
  private def memo(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val perSession = resolved.synchronized {
      val ref = resolved.get(spark)
      val cur = if (ref == null) null else ref.get()
      if (cur == null) {
        val m = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
        resolved.put(spark, new java.lang.ref.SoftReference(m))
        m
      } else cur
    }
    perSession.computeIfAbsent((dir, name), _ => build)
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else
      memo(spark, dir, name) {
        confLock.synchronized { spark.read.parquet(s"$dir/$name.parquet") }
      }

  def events(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "events")(eventsUncached(spark, dir))

  private def eventsUncached(spark: SparkSession, dir: String): DataFrame = confLock.synchronized {
    // scope both flags to THIS read: left set session-wide they would
    // silently change how every later parquet read resolves timestamps.
    // Schema resolution happens eagerly at spark.read.parquet, and the
    // resolved relation carries its own conf snapshot, so restoring
    // immediately after is safe.
    SessionConf.scoped(spark)(
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType => // nanos generation: raw int64 nanos → µs instant
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          // a Spark-written file embeds its own schema in the footer and
          // ignores the inference flag — reinterpret the NTZ wall value
          // as a UTC instant. The cast's zone is stamped at ANALYSIS time
          // (ResolveTimeZone), and Datasets analyze eagerly, so scoping
          // the session TZ around withColumn pins UTC regardless of the
          // caller's zone.
          SessionConf.scoped(spark)("spark.sql.session.timeZone" -> "UTC")(
            raw.withColumn("ts", col("ts").cast(TimestampType)))
        case TimestampType => // micros generation: already instant-semantics µs
          raw
        case other =>
          // a THIRD parquet generation (int32 days? string? future type)
          // must fail HERE, at the read boundary, with the resolved type
          // in hand — not as an obscure analysis error three operators
          // downstream (the exact failure mode this branching exists to
          // prevent).
          throw new IllegalStateException(
            s"events.parquet 'ts' resolved as unsupported type $other " +
              "(expected LongType [legacy nanos], TimestampNTZType, or " +
              "TimestampType); a new testdata generation needs an explicit " +
              "branch in Tables.events")
      }
    }
  }
}
