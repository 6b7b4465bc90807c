package org.apache.spark.sql.graftbridge

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BindReferences, BoundReference, Expression, InterpretedOrdering, InterpretedProjection, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.paths.SparkPath
import org.apache.spark.unsafe.types.UTF8String

/** A [[FileIndex]] materialized from TABLE-LOG METADATA instead of a
  * filesystem listing — the Delta/TahoeFileIndex idea for this repo's
  * txlog tables: the transaction log already knows every live file's
  * path, size and hive-partition value, so handing Spark a pre-built
  * index removes the per-read listing pass entirely (locally a
  * "Listing leaf files and directories for N paths" job per open; on an
  * object store a LIST round-trip storm that grows with file count —
  * exactly the cost table formats exist to avoid, guide §6).
  *
  * Partition pruning contract: `FileSourceStrategy` REMOVES
  * partition-column predicates from the post-scan filters on the
  * assumption the index applies them, so [[listFiles]] must honor
  * `partitionFilters` — they are bound to [[partitionSchema]] ordinals
  * and evaluated per directory, the same contract
  * `PartitioningAwareFileIndex` implements.
  */
final class MetaFileIndex(
    files: Seq[(Path, Long, Any)], // (absolute path, byte size, partition value)
    override val partitionSchema: StructType) extends FileIndex {
  require(partitionSchema.fields.length == 1, "MetaFileIndex carries one partition column")

  private def internalValue(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case other     => other // Int year partitions &c. — already internal-form
  }

  private val dirs: Seq[PartitionDirectory] =
    files.groupBy(_._3).toSeq.sortBy(_._1.toString).map { case (pv, fsOfP) =>
      PartitionDirectory(
        InternalRow(internalValue(pv)),
        fsOfP.map { case (p, len, _) =>
          // mtime 0: nothing downstream of a parquet split reads it
          // (it exists for listing caches this index replaces)
          new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, p)
        }.toArray)
    }

  override def rootPaths: Seq[Path] = files.map(_._1.getParent).distinct

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) dirs
    else {
      val bound = partitionFilters.reduce(And).transform {
        case a: Attribute =>
          BoundReference(partitionSchema.fieldIndex(a.name), a.dataType, nullable = true)
      }
      // interpreted, not codegen: a read prunes a handful of partition
      // values — compiling a predicate class would cost more than it saves
      val pred = Predicate.createInterpreted(bound)
      pred.initialize(0)
      dirs.filter(d => pred.eval(d.values))
    }

  override def inputFiles: Array[String] = files.map(_._1.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_._2).sum
}

object MetaFileIndex {

  /** Open `files` as one parquet relation with `dataSchema` (the files'
    * physical schema — no footer inference) and the single-column
    * `partitionSchema` whose values come from the log, not from
    * directory-name parsing. Zero filesystem calls on the driver; scan
    * tasks open exactly the named files.
    */
  def read(
      spark: SparkSession,
      files: Seq[(Path, Long, Any)],
      partitionSchema: StructType,
      dataSchema: StructType,
      options: Map[String, String]): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val relation = HadoopFsRelation(
      new MetaFileIndex(files, partitionSchema),
      partitionSchema = partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = options)(cs)
    org.apache.spark.sql.classic.Dataset.ofRows(cs, LogicalRelation(relation))
  }

  /** Spark's configured split size, `spark.sql.files.maxPartitionBytes`:
    * what one scan task reads. */
  def maxPartitionBytes(spark: SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.filesMaxPartitionBytes
}

/** Whole-file parquet reads ON THE DRIVER with Spark's own
  * [[ParquetFileFormat]] reader — the same decoding, rebase and
  * vectorized paths a scan task runs, without scheduling one. Built
  * once per physical schema (the reader setup broadcasts the Hadoop
  * conf), then reused for every file read under that schema. Meant for
  * a few small files whose total the caller bounds: every row lands in
  * driver memory.
  *
  * The reader setup writes its read-support keys into the conf it is
  * given, so it gets its own copy of `hadoopConf`, and a store's
  * per-namespace options reach the file opens exactly as they reach a
  * scan's. That copy, [[conf]], is a `JobConf`: each file open wraps it
  * in a task attempt context, which copies any conf that is not one.
  * Reads share it and never write to it.
  */
final class LocalParquetReader(
    spark: SparkSession,
    dataSchema: StructType,
    options: Map[String, String],
    hadoopConf: org.apache.hadoop.conf.Configuration) {

  val conf: JobConf = new JobConf(hadoopConf)

  private val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
    spark, dataSchema, new StructType(), dataSchema, Nil,
    // rows, not columnar batches: the caller materializes every row
    options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
    conf)

  /** Every row of `files` (absolute path, byte size), laid out as
    * `dataSchema`. */
  def read(files: Seq[(Path, Long)]): Seq[InternalRow] =
    files.flatMap { case (p, len) =>
      val it = reader(PartitionedFile(InternalRow.empty, SparkPath.fromPath(p), 0L, len,
        Array.empty[String], 0L, len))
      // the scan closes its reader from a task-completion listener; the
      // driver has no task, so close here whether or not the read finished
      try it.map(_.copy()).toVector
      finally it match { case c: java.io.Closeable => c.close(); case _ => () }
    }
}

/** Parquet files written ON THE DRIVER with Spark's own writer
  * ([[ParquetFileFormat.prepareWrite]] and the output writers it makes):
  * the encoding, calendar rebase and footer a write task produces,
  * without a job, a committer or its `_temporary` tree. Prepared once
  * per physical schema, then reused for every file written under it.
  * Meant for the small batches the caller bounds: every row it writes
  * is already in driver memory.
  *
  * The write context has its own conf, [[conf]]: a `JobConf` copy of
  * `hadoopConf`, so a store's per-namespace options reach the file
  * creates, with the timestamp type set to TIMESTAMP_MICROS there and
  * never in the session's conf. Being a `JobConf`, the task attempt
  * context shares it instead of copying it per file. Writes read it
  * and never write to it; the session's SQL conf is the one in effect
  * while they run, as it is in a write task.
  */
final class LocalParquetWriter(
    spark: SparkSession,
    dataSchema: StructType,
    options: Map[String, String],
    hadoopConf: Configuration) {

  private val job = Job.getInstance(hadoopConf)

  private val factory = new ParquetFileFormat().prepareWrite(spark, job, options, dataSchema)

  val conf: JobConf = job.getConfiguration.asInstanceOf[JobConf]
  conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
    SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)

  private val context =
    new TaskAttemptContextImpl(conf, new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))

  private val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** The file name extension of what [[write]] writes: `.snappy.parquet`
    * under snappy compression. */
  val extension: String = factory.getFileExtension(context)

  /** Writes `rows`, laid out as `dataSchema`, as one parquet file at
    * `path`. A failed write leaves a partial file there. */
  def write(path: Path, rows: Iterator[InternalRow]): Unit = SQLConf.withExistingConf(sqlConf) {
    val w = factory.newInstance(path.toString, dataSchema, context)
    try rows.foreach(w.write)
    catch {
      case NonFatal(e) =>
        try w.close() catch { case NonFatal(c) => e.addSuppressed(c) }
        throw e
    }
    w.close()
  }
}

/** Rows the driver holds, in internal form, laid out as `schema`. */
final case class LocalRows(schema: StructType, rows: IndexedSeq[InternalRow]) {

  /** The rows as a LocalRelation frame: Project and Filter over it fold
    * into a LocalRelation at optimization, so collecting runs no job. */
  def frame(spark: SparkSession): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}

/** A chain of Projects and Filters compiled once and run over driver
  * rows with no plan per call: `build` applied to an empty local frame
  * of the input schema and analyzed (never optimized), its operators
  * bound to their inputs. The rows see exactly the expressions a Spark
  * plan of `build` evaluates — casts, interval arithmetic, JSON paths —
  * interpreted. Some of those keep state while they evaluate, as they
  * may in a task, so each thread binds its own copy on its first call.
  */
final class LocalPlan private (val schema: StructType, analyzed: LogicalPlan) {

  private val run = ThreadLocal.withInitial[Iterator[InternalRow] => Iterator[InternalRow]](() =>
    LocalPlan.bound(analyzed))

  def apply(rows: Iterator[InternalRow]): Iterator[InternalRow] = run.get()(rows)
}

object LocalPlan {

  /** `build` over an empty local frame of `schema`, compiled. `build`
    * may only select and filter. */
  def compile(spark: SparkSession, schema: StructType)(build: DataFrame => DataFrame): LocalPlan = {
    val df = build(LocalRows(schema, Vector.empty).frame(spark))
    new LocalPlan(df.schema, df.queryExecution.analyzed)
  }

  /** The sort keys `order` picks over a frame of `schema`, analyzed once
    * and bound: a driver-side row ordering with the sort's semantics. */
  def ordering(spark: SparkSession, schema: StructType)(order: DataFrame => Seq[Column])
      : Ordering[InternalRow] = {
    val df = LocalRows(schema, Vector.empty).frame(spark)
    df.orderBy(order(df): _*).queryExecution.analyzed match {
      case s: Sort => new InterpretedOrdering(s.order, s.child.output)
      case other   => throw new IllegalArgumentException(s"not a sort: ${other.nodeName}")
    }
  }

  private def bound(plan: LogicalPlan): Iterator[InternalRow] => Iterator[InternalRow] = {
    def bind(e: Expression, input: Seq[Attribute]): Expression =
      BindReferences.bindReference(e.clone(), input)
    plan match {
      case _: LocalRelation => identity
      case Project(list, in) =>
        val p = new InterpretedProjection(list.map(bind(_, in.output)))
        p.initialize(0)
        bound(in).andThen(_.map(p))
      case Filter(cond, in) =>
        val p = Predicate.createInterpreted(bind(cond, in.output))
        p.initialize(0)
        bound(in).andThen(_.filter(p.eval))
      case other =>
        throw new IllegalArgumentException(s"a local plan selects and filters only, not ${other.nodeName}")
    }
  }
}
