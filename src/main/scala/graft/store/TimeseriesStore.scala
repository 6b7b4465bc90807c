package graft.store

import java.sql.Timestamp

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{LocalParquetReader, LocalParquetWriter, LocalPlan, LocalRows, MetaFileIndex}
import org.apache.spark.sql.types._

import graft.SessionConf
import graft.ops.TimeseriesOps._
import graft.store.TimeseriesStore.{readable, Declared}

/** Metadata-only table statistics ([[TimeseriesStore.tableStatsFast]]):
  * exact stored-row count, event-time bounds in epoch micros, and —
  * for numeric tables whose every live file carries them — value
  * bounds. */
final case class TableStats(
    rows: Long,
    tminMicros: Option[Long],
    tmaxMicros: Option[Long],
    vmin: Option[Double] = None,
    vmax: Option[Double] = None)

/** What one endpoint search ([[TimeseriesStore.endpoint]]) read: the
  * candidate files opened on the driver, tier by tier, and the files
  * handed to the one Spark job past the driver's byte bound (empty when
  * the driver settled the search). Paths are relative to the feature. */
final case class EndpointReads(driverTiers: Seq[Seq[String]], sparkFiles: Seq[String])

/** The files one ranged read opens, chosen by ONE log replay
  * ([[TimeseriesStore.select]]): the adds live at the read version that
  * survive partition-value and per-file time pruning, the schema
  * declarations their epochs index, and the range itself. Opening it
  * ([[TimeseriesStore.open]] as a Spark scan, or
  * [[TimeseriesStore.latestOnDriver]] on the driver) replays nothing. */
final case class ReadSelection(
    name: String,
    adds: Seq[TxAdd],
    schemas: Seq[String],
    from: Option[Timestamp],
    to: Option[Timestamp],
    partitionStyle: String) {

  /** Bytes a driver read of the selection holds once decoded, estimated
    * the way Spark sizes a LocalRelation: the files' recorded row counts
    * times 8 plus the declared row's default field sizes — never less
    * than the files' own bytes, which a long string can outgrow. Row
    * counts, not file sizes, because a steady or dictionary-encoded
    * series compresses many times over. None when an add records no
    * row count: its footer could not be read, so the driver cannot size
    * it. A selection of no files holds 0. */
  def decodedBytes: Option[Long] =
    if (adds.isEmpty) Some(0L)
    else if (adds.exists(_.nrec.isEmpty)) None
    else {
      val width = 8L + DataType.fromJson(schemas.last).asInstanceOf[StructType]
        .fields.map(_.dataType.defaultSize.toLong).sum
      Some(math.max(adds.flatMap(_.nrec).sum * width, adds.flatMap(_.fsize).sum))
    }
}

/** Physical storage of one namespace, in ONE layout: each feature is a
  * hive-partitioned snappy-parquet directory
  * `<url>/feature/<name>/partition=<p>/...` (the reference layout,
  * `bytehub/_storage/dask.py:62-83`) governed by a
  * per-feature transaction log in `<name>/_txlog` ([[TxLog]], the
  * Delta-protocol idea). All IO goes through the Hadoop FileSystem API,
  * so any `fs.defaultFS`-reachable store works (local, HDFS, S3A, ...).
  *
  * The log decides what a feature holds. Appends, compactions and
  * rewrites stage their files invisibly and publish them in one atomic
  * commit; readers replay the log ONCE per read to a consistent file set
  * and schema history (never a half-applied compaction); old versions
  * stay readable until `vacuum`. Reads prune on log metadata — partition
  * values, then per-file time (and value, bloom) bounds — and build
  * their file index from it, so a bounded load of a 100 TB feature lists
  * no directories and opens only its range. An endpoint lookup
  * ([[endpoint]], behind `last()`/`first()`) goes further: the per-file
  * time bounds pick its few candidate files, which the driver reads
  * itself, with no Spark job. A small ranged load does the same
  * ([[latestOnDriver]]): when the log's row counts say the selected
  * files decode to few bytes, the driver reads, travels and dedups
  * them. Both go through
  * one driver read, [[driverRows]]. Small writes skip the cluster the
  * same way, under the same bound ([[driverLoadBytes]]): a save of
  * local data ([[save]]) and a compaction of few bytes ([[compact]])
  * are written on the driver by Spark's own parquet writer and go
  * through the same install and commit. A feature directory must be read
  * THROUGH the store: raw `spark.read.parquet` on it would see
  * compacted-away duplicates the log has retired.
  *
  * Read schemas come from the log: the first write declares the batch's
  * schema as epoch 0 and [[evolveSchema]] appends later epochs, so a
  * read runs no schema-inference job. Every add states its epoch, byte
  * size and footer stats, and reads plan from those alone; a log
  * written before any of them existed is brought to this one format by
  * [[declare]] as it is replayed. `valueType` arguments only type the
  * empty envelope of a feature with no data yet.
  *
  * Legacy trees: a feature directory written before the store became
  * log-only (plain `df.write.partitionBy("partition").parquet(...)`, or
  * a parquet file-sink stream) has data but no `_txlog`. Opening one
  * fails fast naming the migration rather than reading as empty: move
  * the directory aside and [[importSnapshot]] it under the feature's
  * name (one atomic commit of the same rows). Such writers leave Spark
  * committer markers (`_SUCCESS`, `_spark_metadata`) at the feature
  * root, where a staged install never puts anything — so a crashed
  * first install (files renamed in, commit never written) still reads
  * as its committed, empty state.
  */
class TimeseriesStore(
    spark: SparkSession,
    url: String,
    storageOptions: Map[String, String] = Map.empty) {

  /** Per-namespace Hadoop configuration: the namespace's storage
    * options laid over the session conf. The reference threads
    * `storage_options` into fsspec per namespace (`/root/reference/
    * bytehub/_model.py:102-112`); here they become Hadoop conf keys
    * (e.g. `fs.s3a.access.key`) scoped to THIS store only — two
    * namespaces on different buckets with different credentials
    * coexist in one session. DataFrame reads/writes get the same
    * options via `.options(...)`, which Spark folds into the
    * relation-scoped Hadoop conf.
    */
  private[graft] val hadoopConf: org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    storageOptions.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def featurePath(name: String): String = s"$url/feature/$name"

  /** [[TimeseriesStore.DriverLoadBytes]] for this store: the most bytes
    * a driver read or write may decode to. <= 0 turns the driver paths
    * off (loads, saves and compactions then run on Spark); specs lower
    * it to pin the Spark path. */
  @volatile private[graft] var driverLoadBytes: Long = TimeseriesStore.DriverLoadBytes

  /** Whether data of `decoded` bytes (None: not sizable) may be read or
    * written on the driver. */
  private[graft] def fitsDriver(decoded: Option[Long]): Boolean =
    driverLoadBytes > 0 && decoded.exists(_ <= driverLoadBytes)

  /** FileSystem handles honoring `storageOptions`. With no per-store
    * options the process-wide Hadoop cache is correct and cheapest.
    * With options it is a TRAP: `FileSystem.get` caches by (scheme,
    * authority, user) and IGNORES the Configuration — whoever touches
    * the bucket first wins, so this store's credentials would either
    * be silently dropped (a cached credential-less instance) or leak
    * to every other user of the bucket. Options-bearing stores
    * therefore hold one PRIVATE instance per (scheme, authority),
    * created with `newInstance` (cache-bypassing), living for the
    * store's lifetime.
    */
  private val fsInstances =
    scala.collection.concurrent.TrieMap.empty[String, FileSystem]

  private def fs(p: String): FileSystem = {
    val path = new Path(p)
    if (storageOptions.isEmpty) path.getFileSystem(hadoopConf)
    else {
      val uri = path.toUri
      val key = s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}"
      fsInstances.getOrElseUpdate(key,
        FileSystem.newInstance(uri, hadoopConf))
    }
  }

  /** Release the options-scoped FileSystem instances this store owns.
    * No-op for option-less stores — their handles come from the shared
    * process cache, which must never be closed from here. Call when
    * the store is replaced (e.g. after a credential rotation).
    */
  def close(): Unit = {
    fsInstances.values.foreach(f =>
      try f.close() catch { case _: java.io.IOException => () })
    fsInstances.clear()
  }

  def exists(name: String): Boolean = {
    val p = featurePath(name)
    fs(p).exists(new Path(p))
  }

  /** Empty-feature fallback schema (dask.py:110-115 semantics). */
  def emptySchema(valueType: DataType): StructType = StructType(Seq(
    StructField(TimeCol, TimestampType),
    StructField(CreatedCol, TimestampType),
    StructField(ValueCol, valueType)))

  /** S3 (save validation + normalization, dask.py:223-263):
    *  - `time` and `value` columns required, nothing else but
    *    `created_time` allowed;
    *  - timestamps cast; `created_time` defaults to now();
    *  - `partition` derived from `time` ("date" → yyyy-MM-dd string,
    *    "year" → int year).
    */
  def normalizeForSave(df: DataFrame, partitionStyle: String): DataFrame =
    TimeseriesStore.normalize(df, partitionStyle)

  /** The feature's log, refusing a legacy tree (see the class doc):
    * a log-backed feature pays one existence check, and only a
    * directory without `_txlog` is probed for committer markers. */
  private def txLog(name: String): TxLog = {
    val root = new Path(featurePath(name))
    val f = fs(root.toString)
    if (!f.exists(new Path(root, TxLog.LogDirName)) &&
        Seq("_SUCCESS", "_spark_metadata").exists(m => f.exists(new Path(root, m))))
      throw new IllegalStateException(
        s"feature '$name' at $root is a plain parquet tree with no transaction log " +
          "(written before the store became log-only); move the directory aside and " +
          "importSnapshot it under this name to migrate it")
    new TxLog(hadoopConf, root.toString, Some(f))
  }

  // ---- schema evolution -----------------------------------------------
  //
  // The table's logical schema (time, created_time, value[, extras...])
  // is DECLARED in the log — first write records the batch's schema as
  // epoch 0, evolveSchema appends widened/extended epochs — and every
  // add carries the epoch it was written under. Reads open each epoch's
  // file group with its own physical schema and align to the epoch in
  // effect at the requested version (widening casts, nulls for
  // later-added columns): old snapshots read the old schema, and the
  // parquet reader is never asked for a widening it cannot do (probe:
  // int32→long reads natively, int64→double does not).

  private def schemaOf(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** Logical table schema of a staged frame: everything but the derived
    * partition column, field order preserved, declared
    * [[TimeseriesStore.readable]]. */
  private def structJson(normalized: DataFrame): String =
    readable(StructType(normalized.schema.fields.filterNot(_.name == "partition").toIndexedSeq)).json

  /** The allowed type-widening lattice (the Delta type-widening set
    * restricted to what the feature pipeline uses): a value written at
    * the narrow type reads back EXACTLY under the wide one. */
  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
    case (ShortType, IntegerType | LongType | DoubleType)            => true
    case (IntegerType, LongType | DoubleType)                        => true
    case (LongType, DoubleType)                                      => true
    case (FloatType, DoubleType)                                     => true
    case _                                                           => false
  }

  /** Current (or as-of) declared logical schema: the log's newest
    * epoch. None for a feature with no data and no declaration. */
  def tableSchema(name: String, asOfVersion: Option[Long] = None): Option[StructType] =
    if (!exists(name)) None else snapshot(name, asOfVersion).schemas.lastOption.map(schemaOf)

  /** Declare a new schema epoch: existing columns may only WIDEN (the
    * lattice above), new columns append (old files read them as null),
    * drops are rejected. Returns the committed log version. Rare admin
    * operation — racing declarations follow the same optimistic-commit
    * discipline as racing compactions.
    */
  def evolveSchema(name: String, newSchema: StructType): Long = {
    require(exists(name), s"no such feature: $name")
    require(!newSchema.fieldNames.contains("partition"),
      "the derived partition column cannot be part of the declared schema")
    Seq(TimeCol, CreatedCol, ValueCol).foreach(c =>
      require(newSchema.fieldNames.contains(c), s"schema must keep the '$c' column"))
    val log = txLog(name)
    val d = declare(name, log.state())
    d.snap.schemas.lastOption.foreach(cur => requireEvolves(schemaOf(cur), newSchema))
    log.commit(Nil, schemas = d.owed :+ newSchema.json, restated = d.restated)
  }

  /** `next` keeps every column of `current`, each at its type or one it
    * widens to ([[widens]]). */
  private def requireEvolves(current: StructType, next: StructType): Unit =
    current.fields.foreach { f =>
      val nf = next.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"schema evolution cannot drop column '${f.name}'"))
      require(nf.dataType == f.dataType || widens(f.dataType, nf.dataType),
        s"column '${f.name}': ${f.dataType.simpleString} does not widen to ${nf.dataType.simpleString}")
    }

  /** Convenience: widen just the value column's type. */
  def evolveValueType(name: String, to: DataType): Long = {
    val cur = tableSchema(name).getOrElse(emptySchema(DoubleType))
    evolveSchema(name, StructType(cur.fields.map(f =>
      if (f.name == ValueCol) f.copy(dataType = to) else f).toIndexedSeq))
  }

  /** Conform a write batch to the declared schema: widening casts only
    * (a silently narrowing write is a data-loss bug), nulls for
    * declared columns the batch omits, loud rejection of columns the
    * schema does not know. */
  private def conformForWrite(normalized: DataFrame, target: StructType): DataFrame = {
    val dfTypes = normalized.schema.fields.map(f => f.name -> f.dataType).toMap
    val unknown = dfTypes.keySet - "partition" -- target.fieldNames
    require(unknown.isEmpty,
      s"batch columns not in the table schema: ${unknown.mkString(", ")} — evolveSchema first")
    val cols = target.fields.map { f =>
      dfTypes.get(f.name) match {
        case Some(dt) if dt == f.dataType => col(f.name)
        case Some(dt) =>
          require(widens(dt, f.dataType),
            s"column '${f.name}': batch type ${dt.simpleString} does not widen to " +
              s"table type ${f.dataType.simpleString} — evolveSchema to widen the table")
          col(f.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    normalized.select((cols :+ col("partition")).toIndexedSeq: _*)
  }

  /** Declare (or replace) a named CHECK constraint on a txlog table
    * (the Delta table-constraint idea): from this commit on, every
    * save/merge batch must satisfy `boolExpr` (a SQL boolean over the
    * normalized columns) on EVERY row or the write is rejected before
    * anything becomes visible. Existing rows are validated NOW — a
    * constraint the current table already violates refuses to land,
    * exactly like ALTER TABLE ADD CONSTRAINT. Declare `"true"` to
    * effectively drop a constraint. Returns the committed version. */
  def addCheck(name: String, constraintName: String, boolExpr: String): Long = {
    require(constraintName.nonEmpty, "constraint name must be non-empty")
    if (exists(name)) {
      val TxSnapshot(live, schemas, _, _) = snapshot(name)
      if (live.nonEmpty) {
        val cur = openAdds(name, live, schemas, partitionStyle = "date")
        val bad = cur.filter(!expr(boolExpr) || expr(boolExpr).isNull).count()
        require(bad == 0,
          s"cannot add CHECK '$constraintName' ($boolExpr): $bad existing rows violate it")
      }
    }
    txLog(name).commit(Nil, check = Some((constraintName, boolExpr)))
  }

  /** Active CHECK constraints on a txlog table, declaration-ordered. */
  def tableChecks(name: String): Seq[(String, String)] = {
    if (!exists(name)) Seq.empty else txLog(name).state().checks
  }

  /** Writer-side constraint enforcement: every active check must hold
    * on EVERY batch row (nulls count as violations, the ANSI CHECK
    * reading a data pipeline wants — a null-dodging row is a bug, not
    * a pass). One filter job per active check over a frame, one
    * compiled filter over rows the driver holds; rejection names the
    * first violated constraint and the row count. */
  private def enforceChecks(
      checks: Seq[(String, String)], name: String, batch: Either[DataFrame, LocalRows]): Unit = {
    val active = checks.filterNot(_._2.trim.equalsIgnoreCase("true"))
    def violating(ce: String)(df: DataFrame) = df.filter(!expr(ce) || expr(ce).isNull)
    active.foreach { case (cn, ce) =>
      val bad = batch match {
        case Left(df)    => violating(ce)(df).count()
        case Right(rows) => localPlan(rows.schema, ("check", ce))(violating(ce))(rows.rows.iterator).size.toLong
      }
      if (bad > 0)
        throw new IllegalArgumentException(
          s"CHECK constraint '$cn' ($ce) violated by $bad rows of the incoming batch for '$name'")
    }
  }

  /** Stage a batch under the table's CURRENT schema epoch: the batch
    * conforms to the declared epoch and its adds carry its index. A log
    * that declares no schema yet takes the batch's as its newest epoch —
    * epoch 0 on a first write, or the one after the epoch [[declare]]
    * derived from older files, which must evolve to it unless it has
    * the batch's columns. Returns the installed adds plus the schemas to
    * declare in the same commit. Active CHECK constraints are enforced
    * HERE — before any file is staged, so a rejected batch leaves
    * nothing to vacuum. `d` is the caller's one replay: checks, epoch
    * and bloom config all come from the same version. With `onDriver`,
    * a batch [[driverBatch]] admits is checked, conformed and written on
    * the driver ([[driverStage]]); every other batch runs on Spark. */
  private def stageForCommit(
      d: Declared, name: String, normalized: DataFrame, onDriver: Boolean = false)
      : (Seq[TxAdd], Seq[String]) = {
    val local = if (onDriver) driverBatch(normalized) else None
    enforceChecks(d.snap.checks, name, local.toRight(normalized))
    val declared = d.snap.schemas
    val target = if (d.recorded > 0) Some(schemaOf(declared.last)) else None
    val epochs = if (target.isDefined) declared else {
      val batch = structJson(normalized)
      declared.lastOption.map(schemaOf) match {
        case Some(files) if columns(files) == columns(schemaOf(batch)) => declared
        case Some(files) => requireEvolves(files, schemaOf(batch)); declared :+ batch
        case None => Seq(batch)
      }
    }
    val adds = local match {
      case Some(rows) => driverStage(name, rows, target, d.snap.bloom)
      case None => stageInstall(name, target.fold(normalized)(conformForWrite(normalized, _)), d.snap.bloom)
    }
    (adds.map(_.copy(sv = Some(epochs.size - 1L))), epochs.drop(d.recorded))
  }

  /** A normalized save batch's rows, when the driver may write it: its
    * optimized plan is a LocalRelation — a frame of local data
    * (`createDataFrame` of a list, `toDF`), with the projections and
    * filters over it that the optimizer evaluates into one — whose size,
    * as Spark sizes a LocalRelation (rows times the row's default
    * width), fits [[driverLoadBytes]]. None sends the batch to Spark.
    * Only a plan over local data alone is optimized here: an RDD- or
    * file-backed batch would pay an optimizer run for nothing, and a
    * cold optimizer is slow. */
  private def driverBatch(normalized: DataFrame): Option[LocalRows] =
    if (driverLoadBytes <= 0 ||
        !normalized.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else normalized.queryExecution.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming && fitsDriver(Some(r.stats.sizeInBytes.toLong)) =>
        Some(LocalRows(normalized.schema, r.data.toIndexedSeq))
      case _ => None
    }

  /** [[stageForCommit]]'s driver step: the batch conformed to `target`
    * (the declared schema; None on a first write) by a compiled
    * [[conformForWrite]], sorted by (partition, time) and written with
    * one parquet file per partition ([[driverWrite]]), then installed. */
  private def driverStage(
      name: String,
      batch: LocalRows,
      target: Option[StructType],
      bloomCfg: Option[(String, Int, Int)]): Seq[TxAdd] = {
    val conform = localPlan(batch.schema, ("conform", target))(df => target.fold(df)(conformForWrite(df, _)))
    val laid = conform.schema
    val byPartition = driverCached(("write order", laid))(
      LocalPlan.ordering(spark, laid)(_ => Seq(col("partition"), col(TimeCol))))
    val data = localPlan(laid, "data")(_.drop("partition"))
    val p = laid.fieldIndex("partition")
    val pType = laid(p).dataType
    def partitionOf(r: InternalRow): String = if (r.isNullAt(p)) null else r.get(p, pType).toString
    // consecutive runs of one partition value, in order
    val parts = Vector.unfold(conform(batch.rows.iterator).toVector.sorted(byPartition)) { rest =>
      rest.headOption.map { head =>
        val (run, tail) = rest.span(partitionOf(_) == partitionOf(head))
        ((partitionOf(head), data(run.iterator).toVector), tail)
      }
    }
    install(name, bloomCfg)(driverWrite(_, data.schema, parts, bloomCfg))
  }

  /** Epoch of internally REWRITTEN files (compaction/optimize/delete —
    * frames already aligned to the latest declared schema). */
  private def svTag(schemas: Seq[String]): Long = schemas.size - 1L

  /** Epoch-aware open of a live-file subset: each schema epoch's file
    * group is read with the physical schema it was WRITTEN under, then
    * aligned to the newest visible epoch (widening casts; later-added
    * columns null), and the groups union. Always includes the
    * `partition` column; `withFilePath` adds `_f` = the source file
    * path (resolved inside each group — `_metadata` cannot be
    * referenced across a union).
    *
    * The scan is a log-metadata scan (Delta's TahoeFileIndex shape):
    * its FileIndex is built straight from the adds — path, byte size,
    * partition value — with no driver listing pass and no "Listing
    * leaf files" job.
    */
  private def openAdds(
      name: String,
      adds: Seq[TxAdd],
      schemas: Seq[String],
      partitionStyle: String,
      withFilePath: Boolean = false): DataFrame = {
    val root = featurePath(name)
    val pType = if (partitionStyle == "year") IntegerType else StringType
    val target = schemaOf(schemas.last)
    adds.groupBy(_.sv.get).toSeq.sortBy(_._1).map { case (sv, group) =>
      val fileSchema = readable(schemaOf(schemas(sv.toInt)))
      val df = MetaFileIndex.read(
        spark,
        group.map(a => (new Path(s"$root/${a.path}"), a.fsize.get,
          if (pType == IntegerType) a.partition.toInt else a.partition)),
        partitionSchema = StructType(Seq(StructField("partition", pType))),
        dataSchema = fileSchema,
        options = storageOptions)
      val aligned = alignTo(fileSchema, target) :+ col("partition")
      val base = if (withFilePath) aligned :+ col("_metadata.file_path").as("_f") else aligned
      df.select(base.toIndexedSeq: _*)
    }.reduce(_ unionByName _)
  }

  /** One epoch's columns aligned to the `target` epoch: widening casts,
    * nulls for columns declared after the file was written. */
  private def alignTo(fileSchema: StructType, target: StructType): Seq[Column] =
    target.fields.toSeq.map { f =>
      if (fileSchema.fieldNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }

  /** Data columns a read should surface: the declared schema's fields,
    * or the classic 3-column envelope for a feature with no data. */
  private def dataCols(schemas: Seq[String]): Seq[String] =
    schemas.lastOption.map(schemaOf(_).fieldNames.toSeq)
      .getOrElse(Seq(TimeCol, CreatedCol, ValueCol))
  // ---------------------------------------------------------------------

  // ---- the one log format ----------------------------------------------
  /** `raw`, a replay of `name`'s log, in the one log format readers
    * and writers work on: a feature that holds files declares its
    * schema, and every add states its epoch, byte size and footer
    * stats. On a log so written, one pass over the adds that opens
    * nothing. A log from before schema declarations or per-file stats,
    * or a foreign or hand-edited one, is brought to it here:
    *  - live adds under no schema declaration get an epoch 0 derived
    *    from the files' footers ([[footerEpoch]]);
    *  - an add without an epoch is at epoch 0;
    *  - an add without its byte size or footer stats is stated by the
    *    footer-and-size step an install runs ([[stated]]).
    * Reads use the result in memory (a read never writes); the next
    * write commits what was derived with its own actions ([[Declared]]),
    * as the reference migrates old state in place (bytehub/_upgrade.py).
    * An add at an epoch the log does not declare fails here, naming the
    * feature and the file, before any read is planned. */
  private def declare(name: String, raw: TxSnapshot): Declared = {
    val n = raw.schemas.size
    def complete(a: TxAdd) = a.fsize.isDefined && a.nrec.isDefined
    if (raw.adds.forall(a => a.sv.exists(v => v >= 0 && v < n) && complete(a)))
      return Declared(raw, n, Nil)
    val (schemas, footers) =
      if (n > 0 || raw.adds.isEmpty) (raw.schemas, Map.empty[String, ParquetMetadata])
      else { val (epoch0, read) = footerEpoch(name, raw.adds); (Seq(epoch0), read) }
    raw.adds.find(_.sv.exists(v => v < 0 || v >= schemas.size)).foreach { a =>
      throw new IllegalStateException(
        s"feature '$name': ${a.path} is written under schema epoch ${a.sv.get}, but its log " +
          s"declares ${schemas.size} epoch(s)")
    }
    val root = featurePath(name)
    val f = fs(root)
    val adds = FileMeta.parMapOrderedConf(raw.adds, hadoopConf) { (a, conf) =>
      val at = if (a.sv.isDefined) a else a.copy(sv = Some(0L))
      if (complete(at)) at else stated(at, f.getFileStatus(new Path(root, a.path)), conf, footers.get(a.path))
    }
    Declared(raw.copy(adds = adds, schemas = schemas), n,
      adds.zip(raw.adds).collect { case (a, was) if a != was => a })
  }

  /** `name`'s snapshot at `asOf` (default: latest) in the one log
    * format: one replay, [[declare]]d in memory. */
  private def snapshot(name: String, asOf: Option[Long] = None): TxSnapshot =
    declare(name, txLog(name).state(asOf)).snap

  /** Epoch 0 of a log whose files predate schema declarations: the
    * schema the live files' footers hold, read as Spark infers a file's
    * and [[readable]] as a first write declares it. Files whose footers
    * disagree on a column's name, position or type fail fast, naming
    * the file. Also returns the footers it read, by add path, so that
    * [[declare]] states the adds without opening the files again. */
  private def footerEpoch(name: String, adds: Seq[TxAdd]): (String, Map[String, ParquetMetadata]) = {
    val root = featurePath(name)
    val footers = FileMeta.parMapOrderedConf(adds, hadoopConf) { (a, conf) =>
      val p = new Path(root, a.path)
      new Footer(p, FileMeta.footer(p, conf))
    }
    val converter = new ParquetToSparkSchemaConverter(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf)
    val schemas = footers.map(ft => readable(StructType(ParquetFileFormat.readSchemaFromFooter(ft, converter)
      .fields.filterNot(_.name == "partition").toIndexedSeq)))
    adds.zip(schemas).find(as => columns(as._2) != columns(schemas.head)).foreach { case (a, s) =>
      throw new IllegalStateException(
        s"feature '$name' declares no schema and its files disagree: ${a.path} holds " +
          s"${s.simpleString}, ${adds.head.path} holds ${schemas.head.simpleString}")
    }
    (schemas.head.json, adds.map(_.path).zip(footers.map(_.getParquetMetadata)).toMap)
  }

  private def columns(s: StructType): Seq[(String, DataType)] = s.fields.toSeq.map(f => f.name -> f.dataType)

  /** `a` stating the file `st`: its byte size, and from ONE footer read
    * (`footer`, when the caller already read it) its row count and its
    * time and value bounds — epoch micros from an
    * INT64 micros `time`, and from a DOUBLE `value` (not serialized
    * features or pre-widening epochs). A footer that cannot be read
    * states no stats and fails nothing. A bound without usable footer
    * stats stays absent and the file is never skipped on it: the safe
    * direction, which a file from a foreign writer or a hand-edited log
    * takes. The one stats step: an install runs it on each staged file,
    * [[declare]] on each add a log records without size or stats. */
  private def stated(
      a: TxAdd, st: FileStatus, conf: Configuration, footer: Option[ParquetMetadata] = None): TxAdd = {
    val fst = try Some(FileMeta.stats(footer.getOrElse(FileMeta.footer(st.getPath, conf))))
      catch { case NonFatal(_) => None }
    def bounds(c: String, t: PrimitiveTypeName) = fst.flatMap(_.column(c)).filter(_.physical == t)
    val tb = bounds(TimeCol, PrimitiveTypeName.INT64).filter(_.logical match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
      case _ => false
    })
    val vb = bounds(ValueCol, PrimitiveTypeName.DOUBLE)
    a.copy(
      tmin = tb.map(_.min.asInstanceOf[Long]), tmax = tb.map(_.max.asInstanceOf[Long]),
      vmin = vb.map(_.min.asInstanceOf[Double]), vmax = vb.map(_.max.asInstanceOf[Double]),
      nrec = fst.map(_.rows), fsize = Some(st.getLen))
  }
  // ---------------------------------------------------------------------

  /** Write-side layout: one ranged exchange so each task owns a
    * contiguous (partition, time) slice. Without it every shuffle task
    * writes a file into EVERY hive partition it touches — up to
    * parallelism × #partitions small files per append, the
    * object-store small-files disease that turns reads into LIST/open
    * storms. Ranged, an append caps at ~(parallelism + #partitions)
    * files, big loads keep full write parallelism (a hot partition
    * spans several contiguous slices), and each parquet file covers a
    * tight time range so row-group min/max pruning bites on read.
    */
  private def layoutForWrite(normalized: DataFrame, outPartitions: Option[Int] = None): DataFrame =
    outPartitions match {
      case Some(n) => normalized.repartitionByRange(n, col("partition"), col(TimeCol))
      case None    => normalized.repartitionByRange(col("partition"), col(TimeCol))
    }

  /** Write `normalized` (with its `partition` column) as new parquet
    * files with a Spark job, then [[install]] them: the batch is ranged
    * by (partition, time) ([[layoutForWrite]]) unless `preLaid`, and
    * written hive-partitioned into the stage. Every write but a small
    * local save or compaction ([[driverStage]], [[compact]]) comes
    * here, the large batches that need write parallelism included.
    */
  private def stageInstall(
      name: String,
      normalized: DataFrame,
      // the bloom index in effect, from the caller's own replay: a
      // lookup here would replay (and list) the log once more per write
      bloomCfg: Option[(String, Int, Int)],
      outPartitions: Option[Int] = None,
      preLaid: Boolean = false): Seq[TxAdd] = install(name, bloomCfg) { stage =>
    // INT64 micros, not the session default INT96: INT96 carries no
    // usable footer statistics (deprecated), and the per-file time
    // bounds below are what make log-metadata FILE skipping possible.
    // Scoped set/restore so caller sessions keep their own setting.
    // Writer parallelism on SMALL batches (guide §2.2/§6): AQE's
    // partition coalescer targets advisoryPartitionSizeInBytes (64 MB),
    // so a micro-batch-sized append collapses the ranged exchange to ONE
    // task that then opens every hive-partition parquet writer
    // SERIALLY — ~10-15 ms/file locally, a full network round-trip per
    // file on an object store. A 16k floor makes the coalescer honor
    // parallelismFirst below the advisory target (post-shuffle target =
    // max(shuffleBytes / parallelism, 16k)), so a medium batch keeps
    // several write tasks and the per-partition writer opens run in
    // parallel; a TINY batch (≤16 KB — a few hundred rows) still
    // coalesces to one task, keeping each day's rows co-located in one
    // file instead of shattering row-per-file; LARGE batches are
    // unaffected (their bytes/parallelism exceeds the advisory cap,
    // which still bounds the target). Scoped set/restore like the
    // timestamp type above.
    // preLaid: the caller already chose the row layout (a z-order
    // clustered rewrite) — re-ranging by (partition, time) here would
    // destroy exactly the multi-dimensional locality being installed
    val laid = if (preLaid) normalized else layoutForWrite(normalized, outPartitions)
    SessionConf.scoped(spark)(TimestampMicros,
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k") {
      laid.write
        .options(storageOptions).option("compression", "snappy")
        .partitionBy("partition").parquet(stage.toString)
    }
    // per-file bloom build BEFORE the renames (one Spark job over the
    // staged tree, page-cached bytes): rewrites (DELETE/UPDATE/merge/
    // optimize) route through here too, so blooms survive them the
    // same way the footer stats do. A build failure degrades to
    // never-skipped files, never to a failed install.
    bloomCfg match {
      case Some((bcol, bits, k)) if laid.columns.contains(bcol) =>
        try FileBloom.buildForStage(spark, stage.toString, bcol, bits, k, storageOptions)
        catch { case NonFatal(_) => Map.empty }
      case _ => Map.empty
    }
  }

  private val TimestampMicros = "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"

  /** The driver's write step: each `(partition value, rows)` of `parts`
    * (rows laid out as `schema`, a null value for the null partition)
    * becomes one parquet file `partition=<p>/part-<i>-<stage>.c000.snappy.parquet`
    * in `stage`, written by the [[LocalParquetWriter]] for `schema`,
    * which is prepared once and kept. Returns the files' blooms, built
    * by [[FileBloom.accumulate]] over the same string cast the Spark
    * build reads back ([[FileBloom.buildForStage]]), so both paths give
    * a file the same payload. */
  private def driverWrite(
      stage: Path,
      schema: StructType,
      parts: Seq[(String, Seq[InternalRow])],
      bloomCfg: Option[(String, Int, Int)]): Map[String, String] = {
    val writer = driverCached(("writer", schema))(new LocalParquetWriter(
      spark, schema, storageOptions + ("compression" -> "snappy"), hadoopConf))
    val files = parts.zipWithIndex.map { case ((p, rows), i) =>
      val rel = ExternalCatalogUtils.getPartitionPathString("partition", p) +
        f"/part-$i%05d-${stage.getName}.c000${writer.extension}"
      writer.write(new Path(stage, rel), rows.iterator)
      rel -> rows
    }
    bloomCfg match {
      case Some((bcol, bits, k)) if schema.fieldNames.contains(bcol) =>
        try {
          val strings = localPlan(schema, ("bloom", bcol))(
            _.select(col(bcol).cast("string").as("v")).filter(col("v").isNotNull))
          FileBloom.accumulate(
            files.iterator.flatMap { case (rel, rows) =>
              strings(rows.iterator).map(r => rel -> r.getUTF8String(0).toString)
            }, bits, k).map { case (rel, words) => rel -> FileBloom.encode(k, words) }
        } catch { case NonFatal(_) => Map.empty }
      case _ => Map.empty
    }
  }

  /** Stage new parquet files INSIDE the feature's hive layout and
    * return the log actions describing them: `write` puts the files in
    * `<url>/.stage/<name>/<uuid>/partition=<p>/` and returns their
    * blooms (stage-relative path → payload), then each file's footer
    * stats are read and it is moved into its `partition=<p>/`
    * directory under its unique name. Files are invisible to log
    * readers until the caller commits the returned adds — the
    * stage/install split is what makes append and compaction atomic.
    * Only the write step differs between the Spark
    * ([[stageInstall]]) and the driver ([[driverWrite]]) writers.
    */
  private def install(name: String, bloomCfg: Option[(String, Int, Int)])(
      write: Path => Map[String, String]): Seq[TxAdd] = {
    val stage = new Path(s"$url/.stage/$name/${java.util.UUID.randomUUID()}")
    val blooms = write(stage)
    val f = fs(url)
    val featureRoot = new Path(featurePath(name))
    // per-file footer read + install rename, PARALLELIZED on the bounded
    // driver pool of FileMeta (guide §1/§5: a footer read and a rename
    // round-trip per file, ×(files per append) on the commit path of
    // every save/stream micro-batch; on an object store each round-trip
    // is 10-100× a local one). The per-partition-dir mkdirs +
    // listing runs on the pool too, one task per dir (a local mkdirs
    // forks a chmod, ~3 ms each — serial, a 30-day save spent ~90 ms
    // there); per-thread Configuration clones as everywhere else.
    // Order, rel paths and add contents are identical to the sequential
    // loop — the pool maps preserve input order. A write of no rows
    // leaves no stage at all.
    val partitionDirs =
      try f.listStatus(stage).filter(_.isDirectory).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val staged: Seq[(String, org.apache.hadoop.fs.FileStatus, Path)] =
      FileMeta.parMapOrdered(partitionDirs) { pdir =>
        val pname = pdir.getPath.getName // "partition=<p>"
        val destDir = new Path(featureRoot, pname)
        if (!f.exists(destDir)) f.mkdirs(destDir)
        f.listStatus(pdir.getPath).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(st => (pname, st, new Path(destDir, st.getPath.getName)))
      }.flatten
    val adds = FileMeta.parMapOrderedConf(staged, hadoopConf) {
      case ((pname, st, dest), conf) =>
        val src = st.getPath
        val rel = s"$pname/${src.getName}"
        // footer stats BEFORE the rename: the file was just written and
        // its footer is page-cached
        val add = stated(TxAdd(rel, pname.stripPrefix("partition="),
          blc = blooms.get(rel).flatMap(_ => bloomCfg.map(_._1)), bl = blooms.get(rel)), st, conf)
        if (!f.rename(src, dest))
          throw new java.io.IOException(s"stage install failed: $src -> $dest")
        add
    }
    f.delete(stage, true)
    adds
  }

  /** S2: hive-partitioned snappy parquet append; the new files become
    * visible in ONE atomic log commit.
    */
  def write(name: String, normalized: DataFrame): Unit = {
    val log = txLog(name)
    commitBatch(log, declare(name, log.state()), name, normalized)
    ()
  }

  /** Stage and commit one batch; true iff it committed (a batch with
    * no rows stages no files and commits nothing). */
  private def commitBatch(
      log: TxLog, d: Declared, name: String, normalized: DataFrame, onDriver: Boolean = false): Boolean = {
    val (adds, schemas) = stageForCommit(d, name, normalized, onDriver)
    if (adds.nonEmpty) log.commit(adds, schemas = schemas, restated = d.restated)
    adds.nonEmpty
  }

  /** Columns beyond the 3-column envelope that the newest of `schemas`
    * declares: the only extras a save or merge batch may carry —
    * Delta-without-autoMerge, new columns enter through evolveSchema. */
  private def declaredExtras(schemas: Seq[String]): Set[String] =
    schemas.lastOption.map(schemaOf(_).fieldNames.toSet -- Set(TimeCol, CreatedCol, ValueCol))
      .getOrElse(Set.empty)

  /** Validate, normalize and append `df`; returns true iff a commit
    * landed — false for an empty batch, which is a no-op. A refused
    * batch (legacy tree, CHECK violation, bad columns) throws and
    * commits nothing.
    *
    * A batch of local data within [[driverLoadBytes]] ([[driverBatch]]:
    * `createDataFrame` of a list, `toDF`, and projections and filters
    * over them) is checked, conformed and written on the driver, with
    * no Spark job: one parquet file per partition, by Spark's own
    * writer ([[LocalParquetWriter]]). Any other batch — RDD- or
    * file-backed, or larger — is written by a ranged Spark job, which
    * keeps write parallelism for big loads. Both go through the same
    * install and the same single commit, and their adds carry the same
    * partitions, stats and epoch. */
  def save(name: String, df: DataFrame, partitionStyle: String = "date"): Boolean = {
    val log = txLog(name)
    // ONE replay (one `_txlog` listing) serves validation, checks,
    // staging epoch and bloom config alike
    val d = declare(name, log.state())
    // An empty batch is a no-op BEFORE column validation (the reference
    // order, dask.py:231-232). The emptiness probe is a Spark job, so it
    // runs only for a batch that fails validation: a valid empty batch
    // stages no partition dirs, so it commits nothing anyway.
    val normalized =
      try TimeseriesStore.normalize(df, partitionStyle, declaredExtras(d.snap.schemas))
      catch { case e: IllegalArgumentException => if (df.isEmpty) return false else throw e }
    commitBatch(log, d, name, normalized, onDriver = true)
  }

  /** Idempotent transactional append: commits the batch
    * tagged with `txnId` UNLESS a commit with that id already landed —
    * the exactly-once primitive for restartable writers (a streaming
    * micro-batch re-delivered after a checkpoint recovery re-offers the
    * same txnId and becomes a no-op). Returns true iff this call
    * committed.
    */
  def writeTx(name: String, normalized: DataFrame, txnId: String): Boolean = {
    val log = txLog(name)
    if (log.txnSeen(txnId)) false // fast path: skip the staging work
    else {
      val d = declare(name, log.state())
      val (adds, schemas) = stageForCommit(d, name, normalized)
      // commit re-checks the txn id on every rename attempt — if a
      // concurrent writer (zombie driver + replacement replaying the
      // same micro-batch) landed it between the check above and here,
      // this returns -1 and the staged files are left unreferenced for
      // vacuum, instead of committing the batch twice
      adds.nonEmpty && log.commit(adds, Nil, Some(txnId), schemas = schemas, restated = d.restated) >= 0
    }
  }

  /** Structured exactly-once write: (streamId, batchId) instead of an
    * opaque txn id, so the log keeps one high-water mark per stream —
    * O(#streams) checkpoint state however many batches ever committed
    * (the Delta appId/version contract). Batch ids must be monotonic
    * per stream, which Structured Streaming's are.
    */
  def writeTx(name: String, normalized: DataFrame, streamId: String, batchId: Long): Boolean = {
    val log = txLog(name)
    if (log.txnSeen(streamId, batchId)) false // fast path: skip staging
    else {
      val d = declare(name, log.state())
      val (adds, schemas) = stageForCommit(d, name, normalized)
      adds.nonEmpty && log.commit(adds, Nil, txnAppVer = Some((streamId, batchId)),
        schemas = schemas, restated = d.restated) >= 0
    }
  }

  /** S1 + P1/P2: ranged scan returning the data columns (the 3-column
    * envelope unless an evolved schema adds more; partition dropped,
    * dask.py:116-117). The live file set comes from a snapshot replay,
    * and pruning happens against the LOG — partition values widened
    * ±1 unit for writer/reader zone skew, then per-file time bounds —
    * before Spark lists or opens anything; the exact `time` predicate
    * then drops the extra rows. Old snapshots stay readable through
    * `asOfVersion` until vacuumed. `valueType` types the envelope of a
    * feature with no data (default double).
    *
    * Two steps: [[select]] replays the log once and picks the files,
    * [[open]] scans them.
    */
  def read(
      name: String,
      from: Option[Timestamp] = None,
      to: Option[Timestamp] = None,
      valueType: Option[DataType] = None,
      partitionStyle: String = "date",
      asOfVersion: Option[Long] = None): DataFrame =
    open(select(name, from, to, partitionStyle, asOfVersion), valueType)

  /** [[read]]'s first step: ONE replay yields the live files and the
    * schema in effect AT THE READ VERSION (an old snapshot reads the
    * old, pre-evolution schema: columns added later are absent, the
    * value keeps its narrow type), then two-level metadata skipping
    * drops files from the LOG alone — partition values first, then
    * per-file time bounds (the Delta data-skipping shape: a
    * micro-batch-accumulated day holds many narrow files). Opens
    * nothing. */
  private[graft] def select(
      name: String,
      from: Option[Timestamp],
      to: Option[Timestamp],
      partitionStyle: String = "date",
      asOfVersion: Option[Long] = None): ReadSelection = {
    val TxSnapshot(adds, schemas, _, _) = snapshot(name, asOfVersion)
    ReadSelection(name,
      prunePartitionValues(adds, from, to, partitionStyle).filter(fileStatsOverlap(_, from, to)),
      schemas, from, to, partitionStyle)
  }

  /** [[read]]'s second step: a Spark scan of the selected files, the
    * exact range predicate dropping the rows pruning kept, the data
    * columns selected. `valueType` types the envelope of a feature with
    * no data. */
  private[graft] def open(sel: ReadSelection, valueType: Option[DataType] = None): DataFrame =
    if (sel.adds.isEmpty) emptyOf(sel.schemas, valueType.getOrElse(DoubleType))
    else
      rangeFilter(openAdds(sel.name, sel.adds, sel.schemas, sel.partitionStyle), sel.from, sel.to)
        .select(dataCols(sel.schemas).map(col).toIndexedSeq: _*)

  /** The deduped rows of a selection, read on the driver: what
    * [[open]] followed by `timeTravel` and
    * [[graft.ops.TimeseriesOps.dedupLatest]] returns, as time-sorted
    * rows of the declared columns (a null time first). The files go
    * through [[driverRows]] with the range and the travel; the dedup
    * sorts by [[graft.ops.TimeseriesOps.endpointOrder]] and keeps each
    * time's first row — max `created_time`, then the other orderable
    * columns descending, the rule `dedupLatest` and `endpointRow`
    * share. No Dataset is built. The caller bounds the selection's
    * decoded size ([[ReadSelection.decodedBytes]]), which must be
    * defined. */
  private[graft] def latestOnDriver(
      sel: ReadSelection,
      timeTravel: Option[String],
      valueType: Option[DataType] = None): LocalRows = {
    require(sel.decodedBytes.isDefined, s"'${sel.name}': the selection cannot be read on the driver")
    val schema = schemaOrEnvelope(sel.schemas, valueType)
    if (sel.adds.isEmpty) return LocalRows(schema, Vector.empty)
    LocalRows(schema, latestRows(schema, driverRows(sel.name, sel.adds, sel.schemas, timeTravel,
      sel.from.map(fromJavaTimestamp), sel.to.map(fromJavaTimestamp))))
  }

  /** Each time's winner among `rows` of `schema`, time-sorted (a null
    * time first): the rows sorted by
    * [[graft.ops.TimeseriesOps.endpointOrder]], keeping each time's
    * first — max `created_time`, then the other orderable columns
    * descending, the rule `dedupLatest` and `endpointRow` share. */
  private def latestRows(schema: StructType, rows: Seq[InternalRow]): IndexedSeq[InternalRow] = {
    val t = schema.fieldIndex(TimeCol)
    def sameTime(a: InternalRow, b: InternalRow): Boolean =
      if (a.isNullAt(t)) b.isNullAt(t) else !b.isNullAt(t) && a.getLong(t) == b.getLong(t)
    val sorted = rows.sorted(endpointOrdering(schema, fromTail = false)).toIndexedSeq
    sorted.indices.collect { case i if i == 0 || !sameTime(sorted(i - 1), sorted(i)) => sorted(i) }
  }

  /** Every row of `adds` with a time in [`lo`, `hi`] (epoch micros,
    * inclusive; a row without a time passes only when neither is set)
    * that `timeTravel` keeps, as rows of the declared columns. The files
    * are read by the cached [[LocalParquetReader]]s, one read per schema
    * epoch, and aligned to the newest epoch ([[alignTo]]) and traveled
    * by a [[LocalPlan]] compiled once per shape: no Dataset per call.
    * The caller bounds what the adds decode to: all the rows land in
    * driver memory. */
  private def driverRows(
      name: String,
      adds: Seq[TxAdd],
      schemas: Seq[String],
      timeTravel: Option[String],
      lo: Option[Long],
      hi: Option[Long]): Seq[InternalRow] = {
    val target = schemaOf(schemas.last)
    val t = target.fieldIndex(TimeCol)
    def inRange(r: InternalRow): Boolean = (lo.isEmpty && hi.isEmpty) ||
      !r.isNullAt(t) && lo.forall(r.getLong(t) >= _) && hi.forall(r.getLong(t) <= _)
    adds.groupBy(_.sv.get).toSeq.sortBy(_._1).flatMap { case (sv, group) =>
      val fileSchema = readable(schemaOf(schemas(sv.toInt)))
      val plan = localPlan(fileSchema, (target, timeTravel))(df =>
        travel(df.select(alignTo(fileSchema, target): _*), timeTravel))
      val files = group.map(a => (new Path(s"${featurePath(name)}/${a.path}"), a.fsize.get))
      plan(localReader(fileSchema).read(files).iterator).filter(inRange)
    }
  }

  /** [[graft.ops.TimeseriesOps.endpointOrder]] over rows of `schema`,
    * built once per shape: the same sort keys, resolved by the
    * analyzer. */
  private def endpointOrdering(schema: StructType, fromTail: Boolean): Ordering[InternalRow] =
    driverCached(("order", schema, fromTail))(
      LocalPlan.ordering(spark, schema)(endpointOrder(_, fromTail)))

  private def travel(df: DataFrame, timeTravel: Option[String]): DataFrame =
    timeTravel.map(graft.ops.TimeseriesOps.timeTravel(df, _)).getOrElse(df)

  /** Zero rows of the declared schema, or the envelope typed
    * `valueType` when the table declares none yet. */
  private def emptyOf(schemas: Seq[String], valueType: DataType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schemaOrEnvelope(schemas, Some(valueType)))

  /** The declared schema as reads open it ([[TimeseriesStore.readable]]),
    * or the envelope typed `valueType` (default double) when the table
    * declares none yet. */
  private def schemaOrEnvelope(schemas: Seq[String], valueType: Option[DataType]): StructType =
    readable(schemas.lastOption.map(schemaOf).getOrElse(emptySchema(valueType.getOrElse(DoubleType))))

  /** File-level data skipping over log metadata: does the add's
    * recorded event-time range intersect [from, to]? A file without
    * time stats always qualifies: its footer held none usable, as a
    * foreign writer's file, or one a hand-edited log adds, may. Exact
    * micros — no widening needed, the bounds are the file's actual
    * min/max of the same column the read filters on. */
  private def fileStatsOverlap(
      a: TxAdd, from: Option[Timestamp], to: Option[Timestamp]): Boolean =
    from.forall(f => a.tmax.forall(_ >= fromJavaTimestamp(f))) &&
      to.forall(t => a.tmin.forall(_ <= fromJavaTimestamp(t)))

  /** Driver-side partition-value pruning over log metadata, widened one
    * unit each side and anchored on UTC, not the reader's session zone:
    * partition strings were derived in the WRITER's zone, writer and
    * reader can sit up to 26h apart (UTC+14 vs UTC-12), and every zone
    * is within 14h of UTC, so UTC ±1 unit covers every combination.
    */
  private def prunePartitionValues(
      adds: Seq[TxAdd],
      from: Option[Timestamp],
      to: Option[Timestamp],
      partitionStyle: String): Seq[TxAdd] = partitionStyle match {
    case "date" =>
      val lo = from.map(f => PartitionBounds.dateString(fromJavaTimestamp(f), -1))
      val hi = to.map(t => PartitionBounds.dateString(fromJavaTimestamp(t), 1))
      adds.filter(a => lo.forall(a.partition >= _) && hi.forall(a.partition <= _))
    case "year" =>
      val lo = from.map(f => PartitionBounds.year(fromJavaTimestamp(f), -1))
      val hi = to.map(t => PartitionBounds.year(fromJavaTimestamp(t), 1))
      adds.filter(a => lo.forall(a.partition.toInt >= _) && hi.forall(a.partition.toInt <= _))
    case other => throw new IllegalArgumentException(s"unknown partition style: $other")
  }

  /** The endpoint row of a feature: its last (`fromTail`) or first
    * surviving row in [[graft.ops.TimeseriesOps.endpointRow]]'s order —
    * the winner `dedupLatest` plus a time sort would pick — found by a
    * file-level bound-and-stop search over the log (the top-1 search
    * with per-item upper bounds of REPOSE, ICDE 2021):
    *
    *  - one replay yields the live files and the schema epochs;
    *  - each file's recorded `tmax` (`tmin` at the head) bounds the time
    *    it can contribute, and files are read in tiers of equal bound,
    *    newest (oldest) first; a file without the stat is unbounded and
    *    read first;
    *  - the search stops once the best surviving row's time is strictly
    *    past the next unread bound: no unread file can hold a later row,
    *    nor one at the same time that would win the created_time tie.
    *    Without `timeTravel` the first tier settles it — the files whose
    *    `tmax` is the maximum.
    *
    * Tiers are read on the driver by [[driverRows]] — Spark's own
    * parquet reader, one read per schema epoch — and ranked with the
    * same epoch alignment, travel filter and sort keys the Spark path
    * runs, compiled once per shape, so a stored endpoint starts no job
    * and builds no Dataset. The driver reads at most
    * `spark.sql.files.maxPartitionBytes` of files per call — what one
    * scan task reads. Past that bound the candidates that can still win
    * go to ONE `endpointRow` job over a log-built scan, so a masked
    * history never pulls unbounded data onto the driver.
    * `before` (tail only) restricts the search to rows strictly before
    * it: the fill seed of a resample.
    *
    * Returns the winner, zero or one row of the declared columns, and
    * what the search read.
    */
  private[graft] def endpoint(
      name: String,
      fromTail: Boolean,
      timeTravel: Option[String] = None,
      before: Option[Timestamp] = None,
      valueType: Option[DataType] = None): (LocalRows, EndpointReads) = {
    require(before.isEmpty || fromTail, "an endpoint search bounded by `before` runs from the tail")
    val TxSnapshot(live, schemas, _, _) = snapshot(name)
    val schema = schemaOrEnvelope(schemas, valueType)
    if (live.isEmpty) return (LocalRows(schema, Vector.empty), EndpointReads(Nil, Nil))
    def sparkTop(adds: Seq[TxAdd]): LocalRows = {
      val in = openAdds(name, adds, schemas, partitionStyle = "date").select(dataCols(schemas).map(col): _*)
      val top = endpointRow(
        travel(before.map(b => in.filter(col(TimeCol) < lit(b))).getOrElse(in), timeTravel), fromTail)
      val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(top.schema)
      LocalRows(top.schema, top.collect().map(r => toInternal(r).asInstanceOf[InternalRow]).toIndexedSeq)
    }
    val order = endpointOrdering(schema, fromTail)
    val timeAt = schema.fieldIndex(TimeCol)
    val cap = before.map(fromJavaTimestamp(_) - 1)
    def bound(a: TxAdd): Option[Long] = if (fromTail) a.tmax else a.tmin
    // tiers of equal bound, capped below `before`; unbounded first, then
    // newest (oldest) first
    val tiers: List[(Option[Long], Seq[TxAdd])] = live
      .filter(a => cap.forall(c => a.tmin.forall(_ <= c)))
      .groupBy(a => bound(a).map(t => cap.fold(t)(math.min(t, _)))).toList
      .sortBy { case (k, _) => (k.isDefined, k.map(t => if (fromTail) -t else t)) }
    var best = Option.empty[InternalRow]
    def keep(rows: Iterable[InternalRow]): Unit =
      best = (best ++ rows).reduceOption((a, b) => if (order.compare(a, b) <= 0) a else b)
    // can a file bounded by k still displace the best row? A row at the
    // same time can, through the created_time tie
    def canBeat(k: Option[Long]): Boolean = best match {
      case Some(b) if !b.isNullAt(timeAt) =>
        k.forall(t => if (fromTail) t >= b.getLong(timeAt) else t <= b.getLong(timeAt))
      case _ => true
    }
    // without travel, a tier holding a file whose own stat is the bound
    // surely yields a row at that bound: nothing past it can win
    def settles(tier: (Option[Long], Seq[TxAdd])): Boolean =
      timeTravel.isEmpty && tier._1.isDefined && tier._2.exists(a => bound(a) == tier._1)
    val budget = MetaFileIndex.maxPartitionBytes(spark)
    var spent = 0L
    var rest = tiers
    val driverTiers = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var sparkFiles = Seq.empty[String]
    while (rest.nonEmpty && canBeat(rest.head._1)) {
      val tier = rest.head._2
      if (spent + tier.flatMap(_.fsize).sum <= budget) {
        spent += tier.flatMap(_.fsize).sum
        keep(driverRows(name, tier, schemas, timeTravel, None, cap))
        driverTiers += tier.map(_.path)
        rest = rest.tail
      } else {
        val candidates = rest.takeWhile(t => canBeat(t._1))
        val upTo = candidates.indexWhere(settles)
        val adds = (if (upTo < 0) candidates else candidates.take(upTo + 1)).flatMap(_._2)
        keep(sparkTop(adds).rows)
        sparkFiles = adds.map(_.path)
        rest = Nil
      }
    }
    (LocalRows(schema, best.toVector), EndpointReads(driverTiers.toSeq, sparkFiles))
  }

  // Driver-read state, built on first use and kept while the session's
  // SQL conf stays the same (each piece captured it when built; a change
  // drops them all): the LocalParquetReaders by physical schema, whose
  // setup broadcasts the Hadoop conf (measured ~14 ms, more than the
  // read it serves), and the LocalPlans and orderings by shape.
  private var driverCache = (Map.empty[String, String], Map.empty[Any, AnyRef])

  private def driverCached[T <: AnyRef](key: Any)(build: => T): T =
    synchronized {
      val conf = spark.conf.getAll
      val cached = if (driverCache._1 == conf) driverCache._2 else Map.empty[Any, AnyRef]
      val v = cached.getOrElse(key, build)
      driverCache = (conf, cached.updated(key, v))
      v.asInstanceOf[T]
    }

  private[graft] def localReader(schema: StructType): LocalParquetReader =
    driverCached(("reader", schema))(new LocalParquetReader(spark, schema, storageOptions, hadoopConf))

  /** `build` over rows of `schema`, compiled once per (`schema`, `key`)
    * ([[LocalPlan]]): `key` names whatever else `build` depends on. */
  private[graft] def localPlan(schema: StructType, key: Any)(build: DataFrame => DataFrame): LocalPlan =
    driverCached(("plan", schema, key))(LocalPlan.compile(spark, schema)(build))

  /** S4: feature directories present in storage. */
  def ls(): Seq[String] = {
    val base = new Path(s"$url/feature")
    val f = fs(url)
    if (!f.exists(base)) Seq.empty
    else f.listStatus(base).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  /** S4: partition values of a feature's live files, sorted; `reverse`
    * + `n` give the "last n partitions" (the reference's listing,
    * dask.py:38-50). Log metadata, not a directory listing: one
    * small-file replay instead of an object-store LIST, and retired
    * partitions (all files removed) disappear immediately. Endpoint
    * lookups no longer walk partitions: see [[endpoint]].
    */
  def listPartitions(name: String, n: Int = Int.MaxValue, reverse: Boolean = false): Seq[String] = {
    val parts = txLog(name).snapshot().map(_.partition).distinct.sorted
    (if (reverse) parts.reverse else parts).take(n)
  }

  /** Compaction: collapse a feature's append history to one deduped row
    * per time (the reference never compacts and pays the dedup on every
    * read, SURVEY §7.5.3). Restricted to `partitions` when given, so a
    * years-deep feature with a few fresh appends rewrites only the
    * affected days, never the history. The target partitions' live
    * files are deduped into new files, then retired + published in ONE
    * commit — a reader replaying the log sees the pre- or
    * post-compaction file set, never a partition with its replacement
    * missing. Old files stay on disk for time travel until `vacuum`.
    *
    * When the victims decode, by the log's row counts, to at most
    * [[driverLoadBytes]] ([[ReadSelection.decodedBytes]], the bound
    * driver reads use), the rewrite runs on the driver with no Spark
    * job: each partition's files are read and aligned to the latest
    * epoch by [[driverRows]], reduced to `dedupLatest`'s winner per
    * time ([[latestRows]]) and written as one file by the driver
    * writer ([[driverWrite]]). Larger victims, or files without a row
    * count (an unreadable footer), are rewritten by Spark.
    *
    * Only partitions that changed since their last compaction are
    * rewritten, on the whole-feature call and the named one alike: a
    * target partition is skipped when it is already what a rewrite
    * would write ([[compacted]]) — every live add carries the `dd` flag
    * both rewrite paths set, at the latest schema epoch, under the
    * bloom declaration in effect. Any save, optimize, z-order, row
    * rewrite, merge, import, stream batch, schema epoch or changed
    * bloom declaration since makes it dirty again (a [[restore]]
    * republishes a version's adds as they were, so each partition
    * holds exactly the files, flags included, it held then). So the
    * cost follows what changed, not the history: an hourly-appended
    * feature rewrites its newest day. When every target is clean
    * nothing is read, written or committed.
    */
  def compact(name: String, partitions: Seq[String] = Nil): Unit = {
    val log = txLog(name)
    val d = declare(name, log.state())
    val TxSnapshot(all, schemas, _, bloom) = d.snap
    val targetParts: Set[String] =
      if (partitions.nonEmpty) partitions.toSet else all.map(_.partition).toSet
    // what a rewrite stamps on every file it writes: the latest epoch,
    // and the declared bloom when the table has the bloom's column
    val (sv, indexed) = (svTag(schemas), bloom.filter(b => dataCols(schemas).contains(b._1)))
    val dirty = all.filter(a => targetParts(a.partition) && !compacted(a, sv, indexed)).map(_.partition).toSet
    val victims = all.filter(a => dirty(a.partition))
    if (victims.isEmpty) return
    // epoch-aware open + rewrite at the LATEST schema (the Delta
    // rewrite convention); pre-compaction versions still read their
    // own epochs from the retired files until vacuum
    val adds =
      if (fitsDriver(ReadSelection(name, victims, schemas, None, None, "date").decodedBytes)) {
        val schema = schemaOrEnvelope(schemas, None)
        val parts = victims.groupBy(_.partition).toSeq.sortBy(_._1).map { case (p, adds) =>
          p -> latestRows(schema, driverRows(name, adds, schemas, None, None, None))
        }
        install(name, bloom)(driverWrite(_, schema, parts, bloom))
      } else {
        val src = openAdds(name, victims, schemas, partitionStyle = "date")
        val deduped = graft.ops.TimeseriesOps.dedupLatest(src, keyCols = Seq("partition"))
        stageInstall(name,
          deduped.select((dataCols(schemas).map(col) :+ col("partition")).toIndexedSeq: _*), bloom)
      }
    log.commit(adds.map(_.copy(sv = Some(sv), dd = Some(true))), victims.map(a => TxRemove(a.path)),
      schemas = d.owed, restated = d.restated)
  }

  /** Could a [[compact]] that rewrites files at epoch `sv` with bloom
    * `indexed` (column, bits, hashes) leave `a` as it is? Only when `a`
    * is a compaction's output (`dd`) at that epoch carrying that bloom,
    * or no bloom when none is declared over a column of the table. A
    * file the declaration indexes but that has no bloom (its column all
    * null, or a failed build) counts as dirty: the log cannot tell it
    * from one written before the declaration. */
  private def compacted(a: TxAdd, sv: Long, indexed: Option[(String, Int, Int)]): Boolean =
    a.dd.contains(true) && a.sv.contains(sv) && (indexed match {
      case None => a.blc.isEmpty
      case Some((c, bits, k)) =>
        a.blc.contains(c) && a.bl.flatMap(FileBloom.decode).exists(d => d._1 == k && d._2.length * 64 == bits)
    })

  /** Small-file bin-packing compaction (the Delta paper's OPTIMIZE):
    * coalesce each partition's undersized live files
    * into ~`targetBytes` outputs WITHOUT changing a single row — unlike
    * `compact` there is no dedup, so row counts, generation history and
    * every `asOfVersion` read are preserved exactly; only the file
    * layout changes. The cure for a 10-second micro-batch sink's
    * file-per-commit accumulation: a day of small commits re-packs into
    * row-group-sized files and every subsequent scan opens N/100 files.
    *
    * Retire + publish happen in ONE commit (a reader replays the old or
    * the new layout, never a mix), and the commit's remove-validation
    * makes a race with a concurrent compaction/optimize fail loudly
    * instead of double-publishing the data. Old bytes reclaim on
    * `vacuum`. Output files keep the ranged (partition, time) layout,
    * sized by input bytes to ~targetBytes each; only files under HALF
    * the target count as pack-worthy, so optimize's own outputs never
    * re-qualify and repeated maintenance runs converge to a no-op.
    * Returns the number of files retired (0 = nothing worth packing).
    */
  def optimize(name: String, targetBytes: Long = 128L * 1024 * 1024): Long = {
    if (!exists(name)) return 0L
    val log = txLog(name)
    val d = declare(name, log.state())
    val TxSnapshot(live, schemas, _, bloom) = d.snap
    if (live.isEmpty) return 0L
    // Victims per partition: files under HALF the target (outputs
    // average >= targetBytes/2 by construction, so a repack's own
    // outputs are never re-selected — without the half floor a
    // partition bigger than the target would be rewritten in full on
    // every maintenance run forever), at least 2 of them, and only
    // when packing can actually REDUCE the partition's file count.
    // (A range boundary can still split one partition's pack across
    // two output files and re-qualify it next run — bounded to the
    // straddling partitions, and the count-improvement guard stops
    // re-selecting once the achievable count is reached.)
    val victims = live.groupBy(_.partition).values.flatMap { adds =>
      // sizes from the log: no listing, no stat per file
      val sized = adds.map(a => (a, a.fsize.get)).filter(_._2 < targetBytes / 2)
      val achievable = math.max(1L, (sized.map(_._2).sum + targetBytes - 1) / targetBytes)
      if (sized.length >= 2 && sized.length > achievable) sized else Nil
    }.toSeq
    if (victims.isEmpty) return 0L
    val totalBytes = victims.map(_._2).sum
    val outParts = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val src = openAdds(name, victims.map(_._1), schemas, partitionStyle = "date")
      .select((dataCols(schemas).map(col) :+ col("partition")).toIndexedSeq: _*)
    val adds = stageInstall(name, src, bloom, outPartitions = Some(outParts))
      .map(_.copy(sv = Some(svTag(schemas))))
    log.commit(adds, victims.map(v => TxRemove(v._1.path)), schemas = d.owed, restated = d.restated)
    victims.size.toLong
  }

  /** OPTIMIZE ZORDER: rewrite the table's live files
    * clustered on the Morton interleave of (event-day, value) so that
    * per-file min/max stats get tight on BOTH dimensions — after the
    * rewrite, a ranged read skips files by time (as always) AND a
    * value-predicate scan ([[readValueRange]]) skips files by the
    * recorded value bounds, where the append layout (time-ranged, value
    * random per file) can skip nothing on value. Delta's OPTIMIZE
    * ZORDER BY in the store's shape.
    *
    * The rewrite is ONE repartitionByRange((partition, zkey)) shuffle +
    * per-task sort — the same cost as the linear re-layout `optimize`
    * performs; within a single date partition the day bits are constant
    * so the interleave orders by value, giving value-sorted files per
    * directory. Rows never change (no dedup — `asOfVersion` reads and
    * generation history are preserved exactly); retire + publish in ONE
    * commit; old bytes reclaim on `vacuum`. Value stats come from the
    * freshly-written parquet footers, the same page-cached read as the
    * time bounds. Numeric (double) values only. Returns files retired.
    */
  def optimizeZorder(
      name: String,
      bits: Int = 16,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    if (!exists(name)) return 0L
    val log = txLog(name)
    val d = declare(name, log.state())
    val TxSnapshot(live, schemas, _, bloom) = d.snap
    if (live.isEmpty) return 0L
    val totalBytes = live.flatMap(_.fsize).sum
    val outFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val src = openAdds(name, live, schemas, partitionStyle = "date")
      .select((dataCols(schemas).map(col) :+ col("partition")).toIndexedSeq: _*)
    require(src.schema(ValueCol).dataType == org.apache.spark.sql.types.DoubleType,
      s"optimizeZorder clusters on a numeric value; '$name' stores ${src.schema(ValueCol).dataType}")
    val mask = (1L << bits) - 1
    val day = expr(s"unix_micros($TimeCol) div 86400000000").bitwiseAND(lit(mask))
    val cents = greatest(lit(0L),
      least(lit(mask), round(col(ValueCol) * 100, 0).cast("long")))
    val laid = src
      .withColumn("__zkey", graft.ops.ZOrder.interleave(Seq(day, cents), bits))
      .repartitionByRange(outFiles, col("partition"), col("__zkey"))
      .sortWithinPartitions(col("partition"), col("__zkey"))
      .drop("__zkey")
    val adds = stageInstall(name, laid, bloom, preLaid = true)
      .map(_.copy(sv = Some(svTag(schemas))))
    log.commit(adds, live.map(a => TxRemove(a.path)), schemas = d.owed, restated = d.restated)
    live.size.toLong
  }

  /** Live files whose recorded value bounds intersect [vlo, vhi] (and
    * whose time bounds intersect [from, to]) — the skipping decision
    * [[readValueRange]] applies, exposed for tests/diagnostics. Files
    * without value stats always qualify. */
  private[graft] def candidateFilesForValueRange(
      name: String,
      vlo: Double,
      vhi: Double,
      from: Option[Timestamp] = None,
      to: Option[Timestamp] = None): Seq[TxAdd] =
    valueRangeCandidates(snapshot(name).adds, vlo, vhi, from, to)

  private def valueRangeCandidates(
      live: Seq[TxAdd], vlo: Double, vhi: Double,
      from: Option[Timestamp], to: Option[Timestamp]): Seq[TxAdd] =
    live.filter(fileStatsOverlap(_, from, to))
      .filter(a => a.vmax.forall(_ >= vlo) && a.vmin.forall(_ <= vhi))

  /** Ranged scan with VALUE data skipping: prune files
    * by partition values + time bounds + recorded value bounds from
    * the LOG alone, then apply the exact residual predicates. On a
    * z-ordered table ([[optimizeZorder]]) a narrow value slice opens a
    * small fraction of the files; on an append layout each file's
    * recorded value range typically spans the whole domain (values
    * arrive time-ordered, not value-ordered), so little skips — but
    * nothing breaks, and extreme-value probes (beyond most files'
    * ranges) still prune even un-clustered tables. The anomaly-hunt
    * shape: "value in [x, y] anywhere in history" without a full scan.
    */
  def readValueRange(
      name: String,
      vlo: Double,
      vhi: Double,
      from: Option[Timestamp] = None,
      to: Option[Timestamp] = None): DataFrame =
    skippingScan(name, from, to, col(ValueCol) >= lit(vlo) && col(ValueCol) <= lit(vhi))(
      valueRangeCandidates(_, vlo, vhi, from, to))

  /** The scan behind [[readValueRange]] and [[readKeyEquals]]: the live
    * files `candidates` keeps, pruned by partition value, opened, and
    * filtered by `pred` and the time range. */
  private def skippingScan(name: String, from: Option[Timestamp], to: Option[Timestamp], pred: Column)(
      candidates: Seq[TxAdd] => Seq[TxAdd]): DataFrame = {
    if (!exists(name)) return emptyOf(Nil, DoubleType)
    val TxSnapshot(live, schemas, _, _) = snapshot(name)
    val pruned = prunePartitionValues(candidates(live), from, to, "date")
    if (pruned.isEmpty) return emptyOf(schemas, DoubleType)
    val preds = pred +: (from.map(t => col(TimeCol) >= lit(t)) ++ to.map(t => col(TimeCol) <= lit(t))).toSeq
    openAdds(name, pruned, schemas, partitionStyle = "date").filter(preds.reduce(_ && _))
      .select(dataCols(schemas).map(col).toIndexedSeq: _*)
  }

  /** Declare a Bloom-filter index over `column` (the
    * Delta bloom-filter-index table property): every subsequent write
    * — appends AND rewrite ops, since both route through the staged
    * install — attaches a `bits`-bit / `k`-hash [[FileBloom]] over the
    * column to each added file. Existing files keep no bloom and are
    * simply never skipped; `optimizeCompact`/`optimizeZorder` rewrite
    * them through the install path and pick blooms up. Declaring
    * `bits = 0` drops the index. Returns the committed log version.
    */
  def declareBloomIndex(name: String, column: String, bits: Int = 8192, k: Int = 6): Long = {
    require(bits == 0 || (bits % 64 == 0 && bits > 0),
      s"bloom bits must be 0 (drop) or a positive multiple of 64: $bits")
    txLog(name).commit(Nil, bloom = Some((column, bits, k)))
  }

  /** Live files whose bloom (over `column`) admits `value`, intersected
    * with the time-bounds skip — the decision [[readKeyEquals]]
    * applies, exposed for tests/diagnostics. Files without a bloom on
    * this column always qualify (pre-declaration epochs, null-only
    * files, foreign-column blooms).
    */
  private[graft] def candidateFilesForKey(
      name: String,
      column: String,
      value: String,
      from: Option[Timestamp] = None,
      to: Option[Timestamp] = None): Seq[TxAdd] =
    keyCandidates(snapshot(name).adds, column, value, from, to)

  private def keyCandidates(
      live: Seq[TxAdd], column: String, value: String,
      from: Option[Timestamp], to: Option[Timestamp]): Seq[TxAdd] =
    live.filter(fileStatsOverlap(_, from, to))
      .filter(FileBloom.addMightContain(_, column, value))

  /** Point-lookup scan with BLOOM file skipping: prune
    * files by partition values + time bounds + per-file blooms from the
    * log alone, then apply the exact equality predicate. The shape
    * min/max stats cannot give: on an append-ordered table every file's
    * value range straddles every probe, but a key's bloom bits identify
    * the handful of files that can contain it — "all history for entity
    * X" without a full scan, the GDPR-subject-access / entity-audit
    * query. `value` must be a non-null String/Long/Int/Boolean — types
    * whose Spark string cast equals their JVM rendering, the contract
    * the build side hashed under (fractional types round-trip
    * ambiguously; range-probe those via [[readValueRange]]).
    */
  def readKeyEquals(
      name: String,
      column: String,
      value: Any,
      from: Option[Timestamp] = None,
      to: Option[Timestamp] = None): DataFrame = {
    require(value != null, "bloom point lookup requires a non-null probe value")
    require(
      value.isInstanceOf[String] || value.isInstanceOf[Long] || value.isInstanceOf[Int] ||
        value.isInstanceOf[Boolean],
      s"unsupported probe type ${value.getClass.getName}: the bloom hashed the column's " +
        "STRING rendering, which only integral/string/boolean types reproduce exactly")
    skippingScan(name, from, to, col(column) === lit(value))(keyCandidates(_, column, value.toString, from, to))
  }

  /** Metadata-only table statistics: exact stored-row
    * count and event-time bounds computed from the LOG alone — zero
    * Spark jobs, zero file opens; at 100 TB this is the difference
    * between an O(1) driver answer and a full-table count scan
    * (Delta's numRecords fast path). Returns None when a live file's
    * footer held no usable stats for the requested dimension: the row
    * count needs every add to carry `nrec`, each bound needs every add
    * to carry it — callers fall back to a scan, never get a wrong
    * number. Counts are STORED rows (every generation the log
    * references, exactly what `read` returns); logical rows after
    * last-writer-wins dedup are a downstream aggregation.
    */
  def tableStatsFast(
      name: String,
      asOfVersion: Option[Long] = None): Option[TableStats] = {
    if (!exists(name)) return None
    val adds = snapshot(name, asOfVersion).adds
    if (adds.isEmpty) return Some(TableStats(0L, None, None))
    // a stat every live add carries, else None
    def every[T](stat: TxAdd => Option[T]): Option[Seq[T]] =
      if (adds.forall(stat(_).nonEmpty)) Some(adds.flatMap(stat)) else None
    every(_.nrec).map(n => TableStats(n.sum, every(_.tmin).map(_.min), every(_.tmax).map(_.max),
      every(_.vmin).map(_.min), every(_.vmax).map(_.max)))
  }

  /** Row-level transactional delete (the lakehouse DELETE / GDPR
    * right-to-be-forgotten op): rewrite ONLY the live
    * files that contain matching rows, drop the matches, and retire +
    * publish in ONE commit — a reader replays the pre- or post-delete
    * file set, never a mix. Files without matches are untouched (no
    * full-table rewrite), found by one predicate scan carrying
    * `_metadata.file_path` — the scan itself prunes via parquet
    * row-group stats where the predicate allows. The predicate sees
    * the normalized columns (time, created_time, value, partition).
    * Old bytes remain for time travel until `vacuum` — an `asOfVersion`
    * read still reproduces the pre-delete table, so a STRICT erasure
    * must also vacuum. Returns the number of rows deleted.
    */
  def deleteWhere(name: String, predicate: Column): Long =
    rewriteMatchingFiles(name, predicate) { vsrc =>
      // a fully-emptied file set publishes removes only (commit accepts it)
      vsrc.filter(!predicate || predicate.isNull)
    }

  /** Row-level transactional UPDATE: rows matching the
    * predicate get `newValue` as their value; same only-matching-files
    * rewrite + single retire/publish commit as [[deleteWhere]].
    * `newValue` may reference the normalized columns (e.g.
    * `col("value") * 2`). Returns rows updated.
    */
  def updateWhere(name: String, predicate: Column, newValue: Column): Long =
    rewriteMatchingFiles(name, predicate) { vsrc =>
      vsrc.withColumn(ValueCol,
        when(predicate, newValue.cast(vsrc.schema(ValueCol).dataType))
          .otherwise(col(ValueCol)))
    }

  /** Shared victim-discovery / rewrite / commit body of [[deleteWhere]]
    * and [[updateWhere]]: ONE file-pruned predicate scan finds the live
    * files containing matches, the victim set is read ONCE (persisted,
    * so the matched-row count and the rewrite share a single parquet
    * pass), `rewrite` produces the replacement rows, and retire +
    * publish land in one atomic commit. Returns the matched-row count.
    */
  private def rewriteMatchingFiles(name: String, predicate: Column)(
      rewrite: DataFrame => DataFrame): Long = {
    if (!exists(name)) return 0L
    val log = txLog(name)
    val d = declare(name, log.state())
    val TxSnapshot(live, schemas, _, bloom) = d.snap
    if (live.isEmpty) return 0L
    // driver-size by construction: one row per LIVE FILE with a match,
    // bounded by the snapshot size (same class as snapshot() itself)
    val victimUris =
      openAdds(name, live, schemas, partitionStyle = "date", withFilePath = true)
        .filter(predicate).select(col("_f")).distinct()
        .collect().map(_.getString(0)).toSet
    if (victimUris.isEmpty) return 0L
    val victims = live.filter(a => victimUris.exists(_.endsWith("/" + a.path)))
    val vsrc = openAdds(name, victims, schemas, partitionStyle = "date")
      .select((dataCols(schemas).map(col) :+ col("partition")).toIndexedSeq: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val matched = vsrc.filter(predicate).count() // materializes the cache
      val out = rewrite(vsrc)
      val adds =
        if (out.isEmpty) Nil
        else stageInstall(name, out, bloom).map(_.copy(sv = Some(svTag(schemas))))
      log.commit(adds, victims.map(a => TxRemove(a.path)), schemas = d.owed, restated = d.restated)
      matched
    } finally vsrc.unpersist(blocking = false)
  }

  /** Lakehouse MERGE INTO: physical upsert keyed on
    * `time` — target rows whose time appears in `source` are REPLACED
    * by the source rows (every stored generation of a matched time
    * collapses), times the target has never seen insert, and the whole
    * operation lands as ONE retire+publish commit (a reader replays the
    * pre- or post-merge table, never a mix). This is the in-place
    * alternative to the store's usual append+last-writer-wins upsert:
    * no history accumulates and no compaction is owed afterwards —
    * the right tool for reference/dimension-style features where old
    * generations are noise, while event-style features keep using
    * `save` (append) + time travel.
    *
    * Only live files CONTAINING a matched time rewrite (victim
    * discovery is one file-pruned semi-join of the scan against the
    * source's distinct times — never an IN-list, so a million-row
    * source works); untouched files are not rewritten, so merge cost
    * is proportional to the overlap's file footprint plus the insert
    * volume. Pre-merge versions stay time-travelable until `vacuum`.
    * Returns (updatedTimes, insertedRows).
    */
  def mergeInto(
      name: String,
      source: DataFrame, // time, value [, created_time, declared extras]
      partitionStyle: String = "date"): (Long, Long) = {
    val log = txLog(name)
    // ONE replay serves validation, checks, epoch, victims and commit
    val d = declare(name, log.state())
    val TxSnapshot(live, schemas, checks, bloom) = d.snap
    val normalized = TimeseriesStore.normalize(source, partitionStyle, declaredExtras(schemas))
    // the MERGE source is new data like any save batch — same CHECKs,
    // enforced once: the insert-only exits stage it with none left
    enforceChecks(checks, name, Left(normalized))
    val checked = d.copy(snap = d.snap.copy(checks = Nil))
    if (live.isEmpty) {
      // empty target: MERGE degenerates to plain insert
      val n = normalized.count()
      if (n > 0) commitBatch(log, checked, name, normalized)
      return (0L, n)
    }
    val srcTimes = normalized.select(col(TimeCol)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE scan finds both the victim files and the matched-time count
      val hits = openAdds(name, live, schemas, partitionStyle = "date", withFilePath = true)
        .join(srcTimes, Seq(TimeCol), "left_semi")
        .select(col("_f"), col(TimeCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val victimUris = hits.select(col("_f")).distinct()
          .collect().map(_.getString(0)).toSet // driver-size: one row per live file
        val updated = hits.select(col(TimeCol)).distinct().count()
        val inserted = normalized.count() - updated
        if (victimUris.isEmpty) {
          // no overlap: MERGE is a plain transactional append
          commitBatch(log, checked, name, normalized)
          return (0L, inserted)
        }
        val victims = live.filter(a => victimUris.exists(_.endsWith("/" + a.path)))
        val keep = openAdds(name, victims, schemas, partitionStyle = "date")
          .join(srcTimes, Seq(TimeCol), "left_anti")
        val conformedSrc = conformForWrite(normalized, schemaOf(schemas.last))
        val keepCols = (dataCols(schemas).map(col) :+ col("partition")).toIndexedSeq
        val adds = stageInstall(name,
          keep.select(keepCols: _*).unionByName(conformedSrc.select(keepCols: _*)), bloom)
          .map(_.copy(sv = Some(svTag(schemas))))
        log.commit(adds, victims.map(a => TxRemove(a.path)), schemas = d.owed, restated = d.restated)
        (updated, inserted)
      } finally hits.unpersist(blocking = false)
    } finally srcTimes.unpersist(blocking = false)
  }

  /** Incremental change feed (CDC-lite): the rows ADDED
    * between two table versions — the files `toVersion`'s snapshot
    * references that `fromVersion`'s does not. For the append-dominant
    * feature-store workload this is exactly the new data, letting a
    * downstream pipeline consume a 100 TB table incrementally (read
    * only the new files) instead of re-scanning; compaction/optimize
    * rewrites reappear here by design (they publish new files — a
    * consumer keyed on (time, created_time) dedups them away, the same
    * LWW contract as every read).
    */
  def readChanges(
      name: String,
      fromVersion: Long,
      toVersion: Option[Long] = None,
      valueType: DataType = DoubleType): DataFrame = {
    if (!exists(name)) return emptyOf(Nil, valueType)
    val log = txLog(name)
    val before = log.snapshot(Some(fromVersion)).map(_.path).toSet
    val TxSnapshot(after, schemas, _, _) = declare(name, log.state(toVersion)).snap
    val fresh = after.filterNot(a => before(a.path))
    if (fresh.isEmpty) return emptyOf(Nil, valueType)
    openAdds(name, fresh, schemas, partitionStyle = "date")
      .select(dataCols(schemas).map(col).toIndexedSeq: _*)
  }

  /** Lakehouse RESTORE: make version `v`'s file set
    * the LATEST state again — as a NEW commit (removes of files v
    * doesn't reference + re-adds of files it does), so the rollback is
    * itself time-travelable and nothing is ever rewritten: the
    * restored files are the ORIGINAL bytes, still on disk as long as
    * vacuum hasn't reclaimed them (a vacuumed restore fails loudly
    * up front, listing the first missing file, rather than committing
    * dangling adds). The undo button for a bad merge/delete/append.
    * Schema epochs only ever append, so a restore never "un-declares"
    * a schema: re-added files keep their original write epochs and
    * read back under the CURRENT epoch with the usual widening/null
    * alignment. Returns the new version (or the current one if v's
    * file set is already live).
    */
  def restore(name: String, v: Long): Long = {
    require(exists(name), s"no such feature: $name")
    val log = txLog(name)
    val d = declare(name, log.state())
    val target = declare(name, log.state(Some(v))).snap.adds
    val current = d.snap.adds
    val targetPaths = target.map(_.path).toSet
    val currentPaths = current.map(_.path).toSet
    val adds = target.filterNot(a => currentPaths(a.path))
    val removes = current.filterNot(a => targetPaths(a.path)).map(a => TxRemove(a.path))
    if (adds.isEmpty && removes.isEmpty) return log.latestVersion()
    val f = fs(url)
    adds.find(a => !f.exists(new Path(s"${featurePath(name)}/${a.path}"))).foreach { a =>
      throw new IllegalStateException(
        s"cannot restore '$name' to version $v: ${a.path} was vacuumed")
    }
    log.commit(adds, removes, schemas = d.owed, restated = d.restated)
  }

  /** Resolve an AS OF TIMESTAMP instant to a table version (txlog
    * backend) — feed the result to `read(asOfVersion = …)` /
    * `readChanges`. Delta's commit-mtime fallback rule; see
    * [[TxLog.versionAt]] for the portability caveat. */
  def versionAt(name: String, tsMillis: Long): Long = txLog(name).versionAt(tsMillis)

  /** Garbage-collect files retired by compaction:
    * deletes bytes unreferenced by the LATEST snapshot. Time travel to
    * vacuumed versions stops working — the standard retention trade.
    */
  def vacuum(name: String, retentionMs: Long = 3600000L): Long = {
    if (!exists(name)) return 0L
    var removed = txLog(name).vacuum(retentionMs)
    // a writer that crashed between staging and install leaves its
    // whole batch under <url>/.stage/<name>/<uuid>, OUTSIDE the table
    // dir the log vacuum walks — reap stale stage dirs on the same
    // horizon (a live writer's stage is younger than the retention)
    val stageRoot = new Path(s"$url/.stage/$name")
    val f = fs(url)
    val horizon = System.currentTimeMillis() - retentionMs
    // staleness = the NEWEST mtime anywhere under the stage tree, not
    // the root dir's: the root's mtime reflects job START (Spark creates
    // _temporary immediately; task files land much later), so a write
    // job still running past the horizon would have its stage yanked
    // mid-write by a concurrent vacuum — its freshly written task files
    // prove it alive. Recurses on the FileStatus already in hand (no
    // re-stat RPC per directory), and a path that vanishes mid-walk —
    // the live writer just committed/renamed it — reads as maximally
    // FRESH so the stage is skipped this cycle rather than aborting the
    // whole vacuum with FileNotFoundException.
    def treeMaxMtime(st: org.apache.hadoop.fs.FileStatus): Long =
      if (!st.isDirectory) st.getModificationTime
      else
        try (st.getModificationTime +:
          f.listStatus(st.getPath).toSeq.map(treeMaxMtime)).max
        catch { case _: java.io.FileNotFoundException => Long.MaxValue }
    if (f.exists(stageRoot))
      f.listStatus(stageRoot)
        .filter(st => st.isDirectory && treeMaxMtime(st) <= horizon)
        .foreach(st => if (f.delete(st.getPath, true)) removed += 1)
    removed
  }

  /** Latest committed table version of a log-backed feature (-1 if no
    * commits yet) — the handle `read(asOfVersion = ...)` time-travels to.
    */
  def tableVersion(name: String): Long = txLog(name).latestVersion()

  /** S5: recursive delete of a feature's data. */
  def delete(name: String): Unit = {
    val p = new Path(featurePath(name))
    val f = fs(url)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** S6: clone data between stores (export/import, _base.py:46-57):
    * the source's LIVE snapshot (raw directory parquet would resurrect
    * compacted-away duplicates) is committed through the destination's
    * `write`, carrying every data column — an evolved source clones its
    * full latest schema, which the destination declares on first write.
    * A feature with no live files copies nothing.
    */
  def copy(name: String, toName: String, dest: TimeseriesStore, partitionStyle: String = "date"): Unit = {
    val TxSnapshot(adds, schemas, _, _) = snapshot(name)
    if (adds.isEmpty) return
    val df = openAdds(name, adds, schemas, partitionStyle)
    dest.write(toName, df.select(
      (df.columns.filterNot(_ == "partition").map(col) :+ col("partition")).toIndexedSeq: _*))
  }

  // --- open-format bridge -----------------------------------------------

  /** Export a txlog snapshot as a PLAIN hive-partitioned parquet tree
    * any engine reads directly (DuckDB, another Spark, pandas — no
    * graft code, no log): the open-format escape hatch the bespoke
    * log protocol otherwise lacks. Two paths, chosen by what the
    * snapshot physically is:
    *
    *  - VERBATIM (single schema epoch): every live file is byte-copied
    *    into `dstDir` under its `partition=<p>/` directory — zero
    *    recompute, bit-identical pages, and the copy parallelism is
    *    the file count (at 100 TB this is an object-store server-side
    *    copy per file, no data through compute).
    *  - ALIGNED (mixed schema epochs): raw mixed-epoch files would
    *    force every external reader to solve schema merge, so the
    *    snapshot is read epoch-aware (`openAdds`), aligned to the
    *    version's declared schema, and rewritten as one partitioned
    *    write — the same one-exchange layout the store itself writes.
    *
    * A `_graft_manifest.json` lands last (underscore-prefixed: Spark
    * and Hadoop globbing ignore it) recording table, version, mode,
    * schema and row count — enough for [[importSnapshot]] to rebuild a
    * log-backed table, and for an auditor to tie the tree to its
    * source version. Returns the exported version.
    */
  def exportSnapshot(name: String, dstDir: String, asOfVersion: Option[Long] = None): Long = {
    val log = txLog(name)
    val v = asOfVersion.getOrElse(log.latestVersion())
    require(v >= 0, s"feature '$name' has no committed version to export")
    val snap = declare(name, log.state(Some(v))).snap
    val TxSnapshot(adds, schemas, _, _) = snap
    val dst = new Path(dstDir)
    val dstFs = dst.getFileSystem(hadoopConf)
    require(!dstFs.exists(dst) || dstFs.listStatus(dst).isEmpty,
      s"export destination $dstDir exists and is not empty")
    dstFs.mkdirs(dst)
    val verbatim = adds.map(_.sv).distinct.size <= 1
    if (verbatim) copyFiles(name, adds, dstFs, dst)
    else if (adds.nonEmpty) {
      val df = openAdds(name, adds, schemas, partitionStyle = "date")
      SessionConf.scoped(spark)(TimestampMicros) {
        layoutForWrite(df).write
          .options(storageOptions).option("compression", "snappy")
          .partitionBy("partition").mode("append").parquet(dstDir)
      }
      // drop Spark's _SUCCESS marker: the tree should carry ONLY data
      // files and the manifest
      dstFs.delete(new Path(dst, "_SUCCESS"), false)
    }
    writeManifest(dstFs, dst, name, v, verbatim, snap)
    v
  }

  /** Byte-copies `adds` of feature `name` into the tree at `dst`, each
    * under its `partition=<p>/` directory. */
  private def copyFiles(name: String, adds: Seq[TxAdd], dstFs: FileSystem, dst: Path): Unit = {
    val (f, root) = (fs(url), new Path(featurePath(name)))
    adds.foreach { a =>
      val to = new Path(dst, a.path)
      if (!dstFs.exists(to.getParent)) dstFs.mkdirs(to.getParent)
      org.apache.hadoop.fs.FileUtil.copy(f, new Path(root, a.path), dstFs, to, false, hadoopConf)
    }
  }

  /** The `_graft_manifest.json` of the tree at `dir`, if it has one. */
  private def readManifest(dirFs: FileSystem, dir: Path): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val p = new Path(dir, TimeseriesStore.ManifestName)
    if (!dirFs.exists(p)) None
    else {
      val in = dirFs.open(p)
      try Some(TimeseriesStore.manifestMapper.readTree(new java.io.InputStreamReader(in, "UTF-8")))
      finally in.close()
    }
  }

  /** The `_graft_manifest.json` of a tree holding `snap`, version `v`
    * of feature `name`: its files when the tree holds them `verbatim`. */
  private def writeManifest(
      dstFs: FileSystem, dst: Path, name: String, v: Long, verbatim: Boolean, snap: TxSnapshot): Unit = {
    val manifest = Map[String, Any](
      "table" -> name, "version" -> v,
      "mode" -> (if (verbatim) "verbatim" else "aligned"),
      "files" -> (if (verbatim) snap.adds.map(_.path) else Nil),
      "rows" -> snap.adds.flatMap(_.nrec).sum,
      "schemaJson" -> snap.schemas.lastOption.orNull)
    val out = dstFs.create(new Path(dst, TimeseriesStore.ManifestName), true)
    try out.write(TimeseriesStore.manifestMapper.writeValueAsBytes(manifest))
    finally out.close()
  }

  /** [[exportSnapshot]] plus a Delta-protocol `_delta_log` describing
    * the exported tree ([[DeltaBridge.writeLog]]): the snapshot becomes
    * a table any Delta reader opens natively — the open-STANDARD hop
    * the plain-parquet export alone lacks (readers that want a table,
    * not a directory). Returns the exported txlog version; the Delta
    * table id is derived from (table, version) so identical exports
    * produce byte-identical logs.
    */
  def exportSnapshotDelta(name: String, dstDir: String, asOfVersion: Option[Long] = None): Long = {
    val v = exportSnapshot(name, dstDir, asOfVersion)
    DeltaBridge.writeLog(spark, dstDir, s"$name@$v", hadoopConf)
    v
  }

  /** [[exportSnapshot]] plus Iceberg v2 table metadata describing the
    * exported tree ([[IcebergBridge.writeTable]]): the snapshot becomes
    * a table any Iceberg reader opens natively (Spark+iceberg-runtime,
    * Trino, DuckDB's iceberg extension, pyiceberg) — the second
    * open-standard leg next to [[exportSnapshotDelta]]. Returns the
    * exported txlog version; the Iceberg table uuid / snapshot id are
    * derived from (table, version), so identical exports produce
    * byte-identical metadata trees.
    */
  def exportSnapshotIceberg(name: String, dstDir: String, asOfVersion: Option[Long] = None): Long = {
    val v = exportSnapshot(name, dstDir, asOfVersion)
    IcebergBridge.writeTable(spark, dstDir, s"$name@$v", hadoopConf)
    v
  }

  /** ONE new Iceberg snapshot on an [[exportSnapshotIceberg]] tree —
    * the continuous leg, [[syncSnapshotDelta]]'s twin: new txlog files
    * are byte-copied and become ADDED manifest entries, retired files
    * drop out of the new snapshot (bytes stay for time travel), and
    * the published metadata advances one version. Same preconditions
    * as the Delta sync: verbatim export, same table, no schema epoch
    * drift. Returns the synced txlog version; no-ops when idle.
    */
  def syncSnapshotIceberg(name: String, dstDir: String): Long =
    syncSnapshot(name, dstDir, "Iceberg") { (snap, prevSchema) =>
      // schema drift since the export: ADD-COLUMN-only evolution syncs —
      // Iceberg's own evolution semantics make the mixed-epoch tree
      // readable (old files lack the new column; readers null-fill via
      // the name mapping, and appendSnapshot publishes a new schema-id
      // so pinned snapshots keep their epoch) — while type changes or
      // drops refuse: the verbatim-copied parquet cannot satisfy a
      // widened read
      val newDataSchema: Option[StructType] =
        if (snap.schemas.lastOption == prevSchema) None
        else {
          val prevSt = prevSchema.map(schemaOf)
          val newSt = snap.schemas.lastOption.map(schemaOf)
          require(prevSt.isDefined && newSt.isDefined,
            s"schema of '$name' changed since the export and one side is " +
              "unreadable; re-export")
          val newByName = newSt.get.fields.map(f => f.name -> f.dataType).toMap
          val bad = prevSt.get.fields.filterNot(f =>
            newByName.get(f.name).contains(f.dataType))
          require(bad.isEmpty,
            s"schema of '$name' changed beyond column adds since the export " +
              s"(${bad.map(_.name).mkString(", ")}); re-export (a type change " +
              "cannot be satisfied by the verbatim-copied parquet)")
          newSt
        }
      (added, gone) => IcebergBridge.appendSnapshot(
        spark, dstDir, added, gone, hadoopConf, newDataSchema = newDataSchema)
    }._1

  /** The sync both formats share: reads the manifest of the verbatim
    * export of `name` at `dstDir` (written by `exportSnapshot<format>`)
    * and, when the table moved since, lets `prepare` check the current
    * snapshot against the exported schema, byte-copies the files new
    * since the export, hands the new and gone paths to the publish step
    * `prepare` returned, and rewrites the manifest. Returns the synced
    * version and what the publish returned (None when idle). */
  private def syncSnapshot[A](name: String, dstDir: String, format: String)(
      prepare: (TxSnapshot, Option[String]) => (Seq[String], Seq[String]) => A): (Long, Option[A]) = {
    val dst = new Path(dstDir)
    val dstFs = dst.getFileSystem(hadoopConf)
    val node = readManifest(dstFs, dst).getOrElse(throw new IllegalArgumentException(
      s"$dstDir carries no manifest — exportSnapshot$format first, then sync"))
    require(node.get("table").asText() == name,
      s"$dstDir was exported from '${node.get("table").asText()}', not '$name'")
    require(node.get("mode").asText() == "verbatim",
      s"$dstDir is an aligned (rewritten) export; sync needs verbatim — re-export")
    val prevV = node.get("version").asLong()
    val prevFiles = {
      val fn = node.get("files")
      (0 until fn.size()).map(fn.get(_).asText()).toSet
    }
    val prevSchema = Option(node.get("schemaJson")).filterNot(_.isNull).map(_.asText())
    val log = txLog(name)
    val v = log.latestVersion()
    if (v == prevV) return (v, None)
    require(v > prevV, s"table '$name' is at version $v but $dstDir was " +
      s"exported at $prevV — a newer tree cannot sync backwards")
    val snap = declare(name, log.state(Some(v))).snap
    val publish = prepare(snap, prevSchema)
    val newFiles = snap.adds.filterNot(a => prevFiles(a.path))
    copyFiles(name, newFiles, dstFs, dst)
    val published = publish(newFiles.map(_.path), (prevFiles -- snap.adds.map(_.path)).toSeq.sorted)
    writeManifest(dstFs, dst, name, v, verbatim = true, snap)
    (v, Some(published))
  }

  /** Incrementally publish txlog commits SINCE the last export/sync as
    * ONE new Delta commit on an [[exportSnapshotDelta]] tree: new
    * snapshot files are byte-copied (at object-store scale:
    * server-side copies, zero compute) and become `add` actions with
    * per-file stats; files no longer live become `remove` tombstones —
    * their bytes stay, so Delta readers pinned to older versions keep
    * working. This is the continuous-sync story the full re-export
    * lacks: a daily sync of a 100 TB table moves only the day's delta,
    * never the table, and compaction/DELETE rewrites flow through as
    * plain add/remove pairs. Every `checkpointEvery`-th Delta commit
    * also writes a protocol parquet checkpoint so open-the-table stays
    * O(1) files read as the sync history grows. No-ops (returns the
    * current version) when the table hasn't moved. Requires the export
    * to be verbatim (single schema epoch) and the schema unchanged —
    * evolved tables re-export, because mixing physical epochs in one
    * plain-parquet tree would hand external readers a schema merge the
    * format doesn't promise.
    */
  def syncSnapshotDelta(name: String, dstDir: String, checkpointEvery: Int = 10): Long = {
    val (v, deltaV) = syncSnapshot(name, dstDir, "Delta") { (snap, prevSchema) =>
      require(snap.schemas.lastOption == prevSchema,
        s"schema of '$name' changed since the export; re-export (sync " +
          "cannot mix physical schema epochs in a plain-parquet tree)")
      require(snap.adds.map(_.sv).distinct.size <= 1,
        s"snapshot of '$name' spans schema epochs; re-export aligned")
      (added, gone) => DeltaBridge.appendCommit(spark, dstDir, added, gone, hadoopConf)
    }
    if (deltaV.exists(dv => checkpointEvery > 0 && dv % checkpointEvery == 0))
      DeltaBridge.writeCheckpoint(spark, dstDir, hadoopConf)
    v
  }

  /** Import an [[exportSnapshot]] tree (or any plain hive-partitioned
    * `partition=<p>/` parquet tree, a parquet file-sink tree through
    * its sink log even after a move) as feature `name`: ONE atomic
    * commit containing every staged file, declaring the manifest's
    * schema when present (an aligned export re-declares its evolved
    * columns; a bare tree infers). The inverse bridge: a warehouse
    * handed around as plain parquet re-enters log management without
    * a row of rewrite beyond the staging copy. Returns the committed
    * version.
    */
  def importSnapshot(name: String, srcDir: String): Long = {
    require(!exists(name) || txLog(name).latestVersion() < 0,
      s"feature '$name' already has commits; import into a fresh name")
    val src = new Path(srcDir)
    val srcFs = src.getFileSystem(hadoopConf)
    val schemaJson = readManifest(srcFs, src)
      .flatMap(node => Option(node.get("schemaJson")).filterNot(_.isNull).map(_.asText()))
    // a tree carrying table-format metadata imports THROUGH it (only
    // live files, partition values from the log/manifests) — the
    // return leg for exportSnapshotDelta/-Iceberg trees and for tables
    // other format writers produced, as long as they carry the store's
    // `partition` column. Delta wins when both are present (it is the
    // bridge's own sync format and always current on exported trees).
    val df =
      if (srcFs.exists(new Path(src, "_delta_log")))
        DeltaBridge.read(spark, srcDir, hadoopConf)
      else if (srcFs.exists(new Path(src, "metadata/version-hint.text")))
        IcebergBridge.read(spark, srcDir, hadoopConf)
      else if (srcFs.exists(new Path(src, "_spark_metadata")))
        fileSinkRead(srcDir)
      else spark.read.options(storageOptions)
        .option("basePath", srcDir).parquet(srcDir)
    require(df.columns.contains("partition"),
      s"$srcDir is not a hive-partitioned export (no partition= directories)")
    val log = txLog(name)
    val adds = stageInstall(name,
      df.withColumn("partition", col("partition").cast(StringType)), log.state().bloom)
      .map(_.copy(sv = Some(0L)))
    require(adds.nonEmpty, s"no rows found under $srcDir")
    log.commit(adds, schemas = Seq(schemaJson.getOrElse(structJson(df.drop("partition")))))
  }

  /** A parquet file-sink tree's committed files, listed by its sink log
    * (`_spark_metadata`) and re-rooted at `srcDir`. The log records
    * absolute paths, so a plain `spark.read` of a tree moved aside for
    * import (the legacy-tree migration) looks for every file at the old
    * location; the log, not a listing, still decides which files count,
    * so files a failed micro-batch left behind stay out. */
  private def fileSinkRead(srcDir: String): DataFrame = {
    val src = new Path(srcDir)
    val files = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
      new Path(src, "_spark_metadata").toString).allFiles().toSeq.map { s =>
        val p = new Path(new java.net.URI(s.path))
        val part = p.getParent.getName
        require(part.startsWith("partition="),
          s"$srcDir is not a hive-partitioned export (sink file ${s.path})")
        new Path(new Path(src, part), p.getName).toString
      }
    require(files.nonEmpty, s"no rows found under $srcDir")
    spark.read.options(storageOptions).option("basePath", srcDir).parquet(files: _*)
  }

}

object TimeseriesStore {

  /** The driver paths' bound ([[TimeseriesStore.driverLoadBytes]]): the
    * most bytes a ranged load's selections may decode to
    * ([[ReadSelection.decodedBytes]]) and still be read on the driver,
    * and the most a save batch (sized as Spark sizes a LocalRelation)
    * or a compaction's victims may decode to and still be written
    * there. Set below the measured crossovers with the Spark path, on
    * a 4-core VM, (time, created_time, double) rows. Reads, whole-feature
    * loads of rows 32 bytes decoded each, Spark local[2], driver vs
    * Spark p50: one feature of 30,000 rows (0.96 MB) 281 vs 462 ms,
    * 60,000 rows 592 vs 572 ms, 100,000 rows 1,138 vs 934 ms; four
    * features cross later (100,000 rows: 930 vs 1,366 ms). Writes,
    * Spark local[4], a fresh store per write, median of 5: saves of a
    * local batch of 10,000 rows (0.52 MB as Spark sizes it) 301 vs
    * 681 ms, 30,000 rows 565 vs 756 ms, 100,000 rows 1,697 vs 1,434 ms;
    * compactions of a feature of 10,000 rows (0.32 MB decoded) 173 vs
    * 400 ms, 30,000 rows 383 vs 502 ms, 100,000 rows 1,152 vs 911 ms.
    * So 1 MB keeps the driver the faster side, and caps the rows one
    * call holds there. */
  val DriverLoadBytes: Long = 1L << 20

  /** A replay in the one log format ([[TimeseriesStore.declare]]). The
    * log records the first `recorded` of `snap`'s schema epochs;
    * `restated` are the adds it records without their epoch, size or
    * stats, as `declare` stated them. A write commits [[owed]] and
    * `restated` with its own actions, after which a replay opens no
    * footer. */
  private[store] final case class Declared(snap: TxSnapshot, recorded: Int, restated: Seq[TxAdd]) {
    def owed: Seq[String] = snap.schemas.drop(recorded)
  }

  /** Manifest file of an exported snapshot — underscore-prefixed so
    * parquet directory listings (Spark, Hadoop globs) skip it. */
  val ManifestName = "_graft_manifest.json"

  private[store] val manifestMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .build()

  /** `schema` with every column but `time` nullable: how reads open an
    * epoch's files and how the first write declares epoch 0. A batch
    * whose first save held no null in a column must not make a later
    * null in it read back as a default value. */
  private[graft] def readable(schema: StructType): StructType =
    StructType(schema.fields.map(f => if (f.name == TimeCol) f else f.copy(nullable = true)))

  /** S3 envelope normalization, the ONE normalizer behind `save`,
    * `mergeInto` and (through `normalizeForSave`) the exactly-once
    * stream sink: the same casts, extraneous-column rejection and
    * partition derivation everywhere — two normalizers would drift and
    * a stream could write a layout the batch reader rejects.
    */
  private[graft] def normalize(
      df: DataFrame,
      partitionStyle: String,
      allowedExtras: Set[String] = Set.empty): DataFrame = {
    val cols = df.columns.toSet
    require(cols.contains(TimeCol), s"DataFrame must contain a '$TimeCol' column")
    require(cols.contains(ValueCol), s"DataFrame must contain a '$ValueCol' column")
    val extraneous = cols -- Set(TimeCol, CreatedCol, ValueCol) -- allowedExtras
    require(extraneous.isEmpty, s"DataFrame contains extraneous columns: ${extraneous.mkString(", ")}")
    val withCreated =
      if (cols.contains(CreatedCol)) df.withColumn(CreatedCol, col(CreatedCol).cast(TimestampType))
      else df.withColumn(CreatedCol, current_timestamp())
    val partitionCol = partitionStyle match {
      case "date" => date_format(col(TimeCol), "yyyy-MM-dd")
      case "year" => year(col(TimeCol))
      case other  => throw new IllegalArgumentException(s"unknown partition style: $other")
    }
    // deterministic envelope order; extras (declared evolved columns,
    // present in this batch) ride between value and partition — the
    // write path's conformForWrite re-aligns to the declared order
    val extraCols = df.columns.filter(c => allowedExtras.contains(c)).toSeq
    withCreated
      .withColumn(TimeCol, col(TimeCol).cast(TimestampType))
      .withColumn("partition", partitionCol)
      .select((Seq(TimeCol, CreatedCol, ValueCol) ++ extraCols :+ "partition").map(col): _*)
  }
}
