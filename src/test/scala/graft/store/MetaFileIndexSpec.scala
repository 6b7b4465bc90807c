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
  * partition's rows), and (3) that pre-upgrade adds without fsize keep
  * reading through the listing path unchanged.
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

  test("pre-upgrade adds (no fsize) fall back to the listing read, same rows") {
    val (st, dir) = mkStore()
    st.save("f", sampleDf)
    // strip fsize from every add in the log, simulating an r18 table:
    // rewrite each commit file dropping the field
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
    val st2 = new TimeseriesStore(spark, dir)
    val df = st2.read("f")
    val scan = df.queryExecution.executedPlan
      .collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.relation.location.getClass.getSimpleName != "MetaFileIndex")
    assert(df.count() == 200)
  }

  test("checkpoint rewrite backfills fsize: pre-upgrade table reads via MetaFileIndex after one cycle") {
    val (st, dir) = mkStore()
    st.save("f", sampleDf)
    // simulate an r18 table: strip fsize from every committed add
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
    // drive the log to its next checkpoint boundary with empty-ish
    // appends; the rewrite must stat + backfill the stripped adds
    val st2 = new TimeseriesStore(spark, dir)
    val preScan = st2.read("f").queryExecution.executedPlan
      .collectFirst { case s: FileSourceScanExec => s }.get
    assert(preScan.relation.location.getClass.getSimpleName != "MetaFileIndex")
    val log = new TxLog(spark.sparkContext.hadoopConfiguration, s"$dir/feature/f")
    // drive at least one commit (the save's commit is version 0, which
    // satisfies v % N == 0 without ever checkpointing), then continue
    // to the next checkpoint boundary. Each is a trivially-true CHECK
    // declaration: a version bump with no effect on the live set.
    var v = 0L
    while ({
      v = log.commit(Seq.empty, check = Some(("__ckpt_probe", "true")))
      v % TxLog.CheckpointEvery != 0
    }) ()
    // a FRESH instance replays from the backfilled checkpoint
    val log2 = new TxLog(spark.sparkContext.hadoopConfiguration, s"$dir/feature/f")
    val adds = log2.snapshot()
    assert(adds.nonEmpty && adds.forall(_.fsize.isDefined),
      s"checkpoint did not backfill fsize: ${adds.count(_.fsize.isEmpty)} of ${adds.size} missing")
    // and the backfilled sizes are the REAL byte sizes (a wrong length
    // would corrupt parquet split planning)
    adds.foreach { a =>
      val real = java.nio.file.Files.size(java.nio.file.Paths.get(dir, "feature", "f", a.path))
      assert(a.fsize.contains(real), s"${a.path}: fsize ${a.fsize} != $real")
    }
    val st3 = new TimeseriesStore(spark, dir)
    val df = st3.read("f")
    val scan = df.queryExecution.executedPlan
      .collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.relation.location.getClass.getSimpleName == "MetaFileIndex")
    assert(df.count() == 200)
  }
}
