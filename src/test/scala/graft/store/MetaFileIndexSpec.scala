package graft.store

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The r19 log-metadata scan: txlog reads build their FileIndex from
  * the log's (path, size, partition) adds — no filesystem listing. The
  * spec pins (1) row-identity with what a plain listing read returns,
  * (2) that partition pruning still happens INSIDE the index (Spark
  * removes partition predicates from post-scan filters on the promise
  * the index applies them — a no-op listFiles would return every
  * partition's rows), and (3) that adds a log records without fsize
  * (a log written before adds carried it) are stated from their files
  * as the log is replayed, read through the same index, and committed
  * stated by the next write.
  */
class MetaFileIndexSpec extends SparkSpec {
  import spark.implicits._

  private def mkStore(): (TimeseriesStore, String) = {
    val dir = tmpDir("metaidx")
    (new TimeseriesStore(spark, dir), dir)
  }

  private def sampleDf = (0 until 200).map { i =>
    (new java.sql.Timestamp(ts("2024-01-01").getTime + i * 3600L * 1000), i.toDouble)
  }.toDF("time", "value")

  test("log-metadata read returns exactly what a listing read returns") {
    val (st, dir) = mkStore()
    st.save("f", sampleDf)
    val viaStore = st.read("f").select("time", "value")
      .orderBy("time").collect().toSeq
    val viaListing = spark.read.parquet(s"$dir/feature/f")
      .select(col("time"), col("value")).orderBy("time").collect().toSeq
    assert(viaStore == viaListing)
    assert(viaStore.size == 200)
  }

  test("scan carries no listing: FileIndex is MetaFileIndex and prunes partitions") {
    val (st, _) = mkStore()
    st.save("f", sampleDf) // 200 hourly rows = 9 day-partitions
    val full = st.read("f")
    val ranged = st.read("f", from = Some(ts("2024-01-03")), to = Some(ts("2024-01-04")))
    def scan(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get
    val fullScan = scan(full)
    assert(fullScan.relation.location.getClass.getSimpleName == "MetaFileIndex")
    val fullParts = fullScan.relation.location.listFiles(Nil, Nil).size
    assert(fullParts == 9, s"expected 9 day partitions, got $fullParts")
    // ranged read: the log prunes BEFORE the index is built — partition
    // values widen ±1 day (2024-01-02..05), then the per-file tmin/tmax
    // stats drop the widened edges, leaving exactly the 2 covered days
    val prunedFiles = scan(ranged).selectedPartitions.partitionCount
    assert(prunedFiles == 2, s"expected 2 surviving partitions, got $prunedFiles")
    // and the rows are the exact time-range rows
    assert(ranged.count() ==
      full.filter(col("time") >= ts("2024-01-03") && col("time") <= ts("2024-01-04")).count())
  }

  test("pushed partition predicates are applied BY the index (listFiles contract)") {
    val (st, dir) = mkStore()
    st.save("f", sampleDf)
    val log = new TxLog(spark.sparkContext.hadoopConfiguration, s"$dir/feature/f")
    val adds = log.snapshot()
    assert(adds.forall(_.fsize.isDefined))
    val files = adds.map(a => (
      new org.apache.hadoop.fs.Path(s"$dir/feature/f/${a.path}"),
      a.fsize.get, a.partition: Any))
    val dataSchema = org.apache.spark.sql.types.DataType
      .fromJson(log.schemaHistory().last)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val df = org.apache.spark.sql.graftbridge.MetaFileIndex.read(
      spark, files,
      partitionSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "partition", org.apache.spark.sql.types.StringType))),
      dataSchema = dataSchema,
      options = Map.empty)
    val oneDay = df.filter(col("partition") === "2024-01-03")
    // FileSourceStrategy strips the partition predicate from post-scan
    // filters — if listFiles ignored it, every partition's rows would
    // come back. Pin both the physical pruning and the row set.
    val scan = oneDay.queryExecution.executedPlan
      .collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.selectedPartitions.partitionCount == 1,
      s"index must prune to 1 partition, got ${scan.selectedPartitions.partitionCount}")
    val viaListing = spark.read.parquet(s"$dir/feature/f")
      .filter(col("partition") === "2024-01-03")
      .select(col("time"), col("value")).orderBy("time").collect().toSeq
    assert(oneDay.select(col("time"), col("value")).orderBy("time").collect().toSeq
      == viaListing)
    assert(viaListing.nonEmpty)
  }

  /** Strips `fsize` from every add of feature `f`'s log under `dir`,
    * as a log written before adds recorded their size. */
  private def stripFsize(dir: String): Unit = {
    val logDir = java.nio.file.Paths.get(dir, "feature", "f", "_txlog")
    java.nio.file.Files.list(logDir).forEach { p =>
      if (p.getFileName.toString.endsWith(".json")) {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val stripped = txt.linesIterator
          .map(_.replaceAll(""","fsize":\d+""", ""))
          .mkString("", "\n", "\n")
        java.nio.file.Files.write(p, stripped.getBytes("UTF-8"))
      }
    }
  }

  private def location(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get
      .relation.location.getClass.getSimpleName

  test("adds without fsize read through MetaFileIndex, same rows") {
    val (st, dir) = mkStore()
    st.save("f", sampleDf)
    stripFsize(dir)
    // the replay states each size-less add from its file, in memory
    val st2 = new TimeseriesStore(spark, dir)
    val df = st2.read("f")
    assert(location(df) == "MetaFileIndex")
    assert(df.count() == 200)
    val viaListing = spark.read.parquet(s"$dir/feature/f")
      .select(col("time"), col("value")).orderBy("time").collect().toSeq
    assert(df.select("time", "value").orderBy("time").collect().toSeq == viaListing)
  }

  test("the first save after fsize was stripped commits the real sizes") {
    val (st, dir) = mkStore()
    st.save("f", sampleDf)
    stripFsize(dir)
    val log = new TxLog(spark.sparkContext.hadoopConfiguration, s"$dir/feature/f")
    assert(log.snapshot().forall(_.fsize.isEmpty))
    // the save's own commit re-states every size-less add
    new TimeseriesStore(spark, dir).save("f", Seq((ts("2024-02-01"), 1.0)).toDF("time", "value"))
    val adds = new TxLog(spark.sparkContext.hadoopConfiguration, s"$dir/feature/f").snapshot()
    assert(adds.size > 1 && adds.forall(_.fsize.isDefined),
      s"the save did not state fsize: ${adds.count(_.fsize.isEmpty)} of ${adds.size} missing")
    // the stated sizes are the REAL byte sizes (a wrong length would
    // corrupt parquet split planning)
    adds.foreach { a =>
      val real = java.nio.file.Files.size(java.nio.file.Paths.get(dir, "feature", "f", a.path))
      assert(a.fsize.contains(real), s"${a.path}: fsize ${a.fsize} != $real")
    }
    val df = new TimeseriesStore(spark, dir).read("f")
    assert(location(df) == "MetaFileIndex")
    assert(df.count() == 201)
  }
}
