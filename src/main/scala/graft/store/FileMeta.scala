package graft.store

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-file metadata for the store and both open-format bridges: one
  * parquet footer stats reader, one hive-path parser, the file-keyed
  * pieces of a bridge scan, and the pools that read many files.
  *
  * Stats are read once per file by [[stats]] and projected by each
  * caller:
  *  - the store's install step takes `tmin`/`tmax` from an INT64
  *    `time` column, `vmin`/`vmax` from a DOUBLE `value` column, and
  *    the row count;
  *  - the Delta bridge's `stats` JSON and the Iceberg bridge's bounds,
  *    value and null counts take the [[ColumnStats.plainNumeric]]
  *    columns only. Dates, timestamps and decimals need per-format
  *    serialization rules, and a wrong bound silently loses rows in a
  *    skipping reader while a missing one only costs pruning.
  *
  * Min and max are combined across row groups with the column's own
  * parquet ordering, exactly in its physical type: INT64 compares as
  * longs, never through a double, where values above 2^53 collapse
  * (2^53 and 2^53+1 are one double) and a skipping reader that trusts
  * the collapsed bound prunes the file.
  */
object FileMeta {

  /** `p`'s footer, read with options built from the caller's `conf`.
    * The one-argument `ParquetFileReader.open` builds its read options
    * on a fresh Hadoop Configuration, re-reading the default resources
    * on every file (measured ~9 ms per file against ~0.4 ms), and drops
    * the caller's per-namespace filesystem options with it. */
  def footer(p: Path, conf: Configuration): ParquetMetadata = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, conf), HadoopReadOptions.builder(conf, p).build())
    try r.getFooter finally r.close()
  }

  /** One top-level primitive column over every row group of a file:
    * its physical type, its logical annotation (null when none), the
    * null count and the min and max as parquet decodes them (Integer,
    * Long, Float, Double, Binary, ...). */
  final case class ColumnStats(
      physical: PrimitiveTypeName,
      logical: LogicalTypeAnnotation,
      nulls: Long,
      min: Any,
      max: Any) {

    /** INT32/INT64 without an annotation or with an integer one,
      * FLOAT and DOUBLE: the columns both bridges publish bounds for. */
    def plainNumeric: Boolean = {
      import PrimitiveTypeName._
      (physical match {
        case INT32 | INT64 | FLOAT | DOUBLE => true
        case _ => false
      }) && (logical == null || logical.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation])
    }
  }

  /** A file's row count and its columns' stats, in footer column order. */
  final case class Stats(rows: Long, columns: Seq[(String, ColumnStats)]) {
    def column(name: String): Option[ColumnStats] = columns.collectFirst { case (`name`, c) => c }
  }

  /** [[stats]] of `p`'s footer. Throws when the footer cannot be read;
    * each caller decides what that means. */
  def stats(p: Path, conf: Configuration): Stats = stats(footer(p, conf))

  /** Row count and per-column stats from ONE pass over a footer. A
    * column is left out when any row group lacks usable stats (none,
    * no non-null value, or an unknown null count): a file without a
    * stat is never skipped on that column. Nested columns are left
    * out. */
  def stats(footer: ParquetMetadata): Stats = {
    var rows = 0L
    val cols = mutable.LinkedHashMap.empty[String, ColumnStats]
    val bad = mutable.Set.empty[String]
    footer.getBlocks.forEach { b =>
      rows += b.getRowCount
      b.getColumns.forEach { cc =>
        val path = cc.getPath.toArray
        val name = path.head
        val st = cc.getStatistics
        if (path.length == 1 && !bad(name)) {
          if (st == null || !st.hasNonNullValue || st.getNumNulls < 0) {
            bad += name
            cols.remove(name)
          } else {
            val (mn, mx) = (st.genericGetMin: Any, st.genericGetMax: Any)
            cols(name) = cols.get(name) match {
              case None =>
                val pt = cc.getPrimitiveType
                ColumnStats(pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation, st.getNumNulls, mn, mx)
              case Some(c) =>
                // ties keep the earlier row group's value
                val cmp = st.comparator().asInstanceOf[java.util.Comparator[Any]]
                c.copy(
                  nulls = c.nulls + st.getNumNulls,
                  min = if (cmp.compare(mn, c.min) < 0) mn else c.min,
                  max = if (cmp.compare(c.max, mx) < 0) mx else c.max)
            }
          }
        }
      }
    }
    Stats(rows, cols.toSeq)
  }

  // ---------------------------------------------------------------
  // Hive paths
  // ---------------------------------------------------------------

  /** The `k=v` directory segments of a table-relative file path, in
    * path order. */
  def hiveParts(rel: String): Seq[(String, String)] =
    rel.split('/').dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i > 0) Some(seg.substring(0, i) -> seg.substring(i + 1)) else None
    }

  /** The partition columns of a tree: the first file's hive keys, which
    * every file must share (an export lays down one layout). */
  def partitionKeys(rels: Seq[String]): Seq[String] = {
    val keys = hiveParts(rels.head).map(_._1)
    rels.foreach(rel => require(hiveParts(rel).map(_._1) == keys,
      s"inconsistent partition layout: $rel vs columns $keys"))
    keys
  }

  /** Every visible `*.parquet` file under `root` outside the format's
    * metadata directory `metaDir`, as (path relative to `root`, size,
    * modification time), sorted by path. The exclusion is the
    * directory itself, not a name prefix: a partition directory such
    * as `metadata_id=3/` is data. */
  def dataFiles(fs: FileSystem, root: Path, metaDir: String): Seq[(String, Long, Long)] = {
    val rootUri = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val files = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      if (rel.endsWith(".parquet") && !rel.startsWith(metaDir + "/") &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        files += ((rel, st.getLen, st.getModificationTime))
    }
    require(files.nonEmpty, s"no parquet data files under $root to describe")
    files.sortBy(_._1).toSeq
  }

  /** Writes `df` as ONE parquet file at `dst`: Spark writes it under
    * `tmp`, its part file is renamed to `dst` and `tmp` is removed.
    * The caller shapes `df` to one partition. A rename that returns
    * false throws here, before any log or manifest can name `dst`. */
  def writeOneParquet(df: DataFrame, fs: FileSystem, tmp: Path, dst: Path): Unit = {
    df.write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"parquet write under $tmp produced no part file"))
    fs.mkdirs(dst.getParent)
    fs.delete(dst, false)
    if (!fs.rename(part, dst))
      throw new java.io.IOException(s"rename of $part to $dst failed")
    fs.delete(tmp, true)
  }

  /** `p` relative to the table `location` when it lies under it, else
    * `p` unchanged. */
  def relativeTo(location: String)(p: String): String = {
    val loc = location.stripSuffix("/")
    if (p.startsWith(loc + "/")) p.substring(loc.length + 1) else p
  }

  // ---------------------------------------------------------------
  // File-keyed scan
  // ---------------------------------------------------------------

  /** A file path in the exact string form Spark's `_metadata.file_path`
    * reports (probed empirically — tools/PathProbe): URI-percent-encoded
    * path with the AUTHORITY-LESS single-slash scheme form for local
    * files (`file:/tmp/a%20b/x.parquet` — neither `Path.toString`,
    * which keeps raw characters, nor `Path.toUri.toString`, which
    * renders an empty authority as `file:///`). Used as the
    * partition-value join key by both format bridges: a mismatched
    * form silently drops every row of the affected file.
    */
  def scanPathKey(fs: FileSystem, p: Path): String = {
    val u = fs.makeQualified(p).toUri
    val auth = u.getAuthority match { case "" => null; case a => a }
    new java.net.URI(u.getScheme, auth, u.getPath, null, null).toString
  }

  /** `data` (a scan carrying its `__file` = `_metadata.file_path`)
    * without the rows `deletes` names by (`__file`, `__pos`), where
    * `__pos` is the physical `_metadata.row_index`: ONE left-anti join,
    * the plan of Delta deletion vectors and Iceberg position deletes
    * alike. The delete side is row-scale, so it stays a plain join for
    * AQE to shape, never a driver-side collect. */
  def dropPositions(data: DataFrame, deletes: DataFrame): DataFrame =
    data.withColumn("__pos", col("_metadata.row_index"))
      .join(deletes, Seq("__file", "__pos"), "left_anti")
      .drop("__pos")

  /** `data` (carrying `__file`) laid out as `schema`: each partition
    * column filled from its file's values in `values` (scan key ->
    * values in `partCols` order, cast to the declared type), every
    * other column read as `scanName` of its name. A LEFT join plus a
    * per-row `assert_true`, not an inner join: the key is the probed
    * `_metadata.file_path` form, and a future change to it must fail
    * loudly with `missing` and the file, never drop the file's rows.
    * The marker column tells "no match" from a null partition value. */
  def fillPartitions(
      spark: SparkSession,
      data: DataFrame,
      schema: StructType,
      partCols: Seq[String],
      values: => Seq[(String, Seq[String])],
      scanName: String => String,
      missing: String): DataFrame = {
    val filled =
      if (partCols.isEmpty) data
      else {
        val pvSchema = StructType((StructField("__file", StringType) +:
          partCols.map(c => StructField(s"__pv_$c", StringType, nullable = true))) :+
          StructField("__pv_ok", BooleanType, nullable = false))
        val pvDf = spark.createDataFrame(spark.sparkContext.parallelize(
          values.map { case (k, vs) => Row.fromSeq((k +: vs) :+ true) }, 1), pvSchema)
        data.join(broadcast(pvDf), Seq("__file"), "left")
          .filter(isnull(assert_true(col("__pv_ok").isNotNull, concat(lit(missing), col("__file")))))
      }
    filled.select(schema.fields.toIndexedSeq.map { f =>
      if (partCols.contains(f.name)) col(s"__pv_${f.name}").cast(f.dataType).as(f.name)
      else col(scanName(f.name)).as(f.name)
    }: _*)
  }

  // ---------------------------------------------------------------
  // Many-file reads
  // ---------------------------------------------------------------

  /** Order-preserving bounded-parallel map for per-file metadata IO
    * (footer reads, renames, listings — Hadoop FileSystem is
    * read-thread-safe). A footer read with the caller's conf costs
    * ~0.4 ms locally; on an object store each is a round-trip, which
    * the pool overlaps. 16 daemon threads: enough to hide IO latency,
    * bounded so a million-file tree cannot fork a thread storm.
    */
  def parMapOrdered[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.size <= 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      16, (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    try {
      implicit val ec: scala.concurrent.ExecutionContextExecutorService =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      // every outcome comes back as a value: a Future body that dies of
      // a FATAL error (OOM, VirtualMachineError) never completes its
      // promise, so awaiting the bare futures would hang forever. The
      // caller's thread rethrows the first failure in input order.
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(items.map(a => scala.concurrent.Future(
          try Right(f(a)) catch { case t: Throwable => Left(t) }))),
        scala.concurrent.duration.Duration.Inf)
        .map {
          case Right(b) => b
          case Left(t)  => throw t
        }
    } finally pool.shutdown()
  }

  /** [[parMapOrdered]] with a per-worker Hadoop Configuration clone:
    * Configuration's lazy resource loading has historically raced
    * under concurrent first reads, so the 16 footer-read threads must
    * never share one instance cold. Pool size matches the thread
    * count; clones are amortized across all files, not paid per file.
    */
  def parMapOrderedConf[A, B](
      items: Seq[A], hc: Configuration)(f: (A, Configuration) => B): Seq[B] = {
    if (items.size <= 1) return items.map(f(_, hc))
    val confs = new java.util.concurrent.ConcurrentLinkedQueue[Configuration]()
    (0 until 16).foreach(_ => confs.add(new Configuration(hc)))
    parMapOrdered(items) { a =>
      val c = confs.poll()
      try f(a, c) finally confs.add(c)
    }
  }

  /** Hadoop Configuration shipped by VALUE (write/readFields), so each
    * Spark task deserializes its OWN copy — Configuration itself is not
    * Serializable, and sharing one instance across concurrent tasks
    * would reintroduce the lazy-load race the per-thread clones avoid.
    */
  final class SerializableHadoopConf(
      @transient var value: Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** Per-file metadata describe, shaped to the file count. Small syncs
    * (the daily case: tens of files) use the bounded driver thread
    * pool — job-launch overhead would dominate. Above
    * `graft.bridge.describeJobThreshold` (default 64 — the pool tops
    * out at 16 threads in one driver while a cluster has thousands of
    * cores, and an initial export of a 10k-100k-file table is that
    * many object-store footer reads) the reads run as ONE Spark job
    * over the executors, results collected in input order. Collecting
    * is safe by construction: each result is a manifest entry's worth
    * of stats (KBs per FILE, never per row) — the same driver-resident
    * state every table-format planner keeps.
    */
  def describeFiles[A, B](
      spark: SparkSession, hc: Configuration, items: Seq[A])(
      f: (A, Configuration) => B)(
      implicit ta: scala.reflect.ClassTag[A],
      tb: scala.reflect.ClassTag[B]): Seq[B] = {
    val threshold = spark.conf.getOption("graft.bridge.describeJobThreshold")
      .map(_.toInt).getOrElse(64)
    if (items.size < math.max(threshold, 2))
      return parMapOrderedConf(items, hc)(f)
    val ser = new SerializableHadoopConf(hc)
    val slices = math.min(items.size, spark.sparkContext.defaultParallelism * 2)
    spark.sparkContext.parallelize(items.zipWithIndex, slices)
      .map { case (a, i) => (i, f(a, ser.value)) }
      .collect().sortBy(_._1).map(_._2).toSeq
  }
}
