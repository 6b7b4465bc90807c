package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Metadata-scale probe for the open-format bridges: how long do
  * writeTable/writeLog take on a MANY-FILE tree, and how much of it is
  * the per-file footer-stats read ([[graft.store.FileMeta.stats]])? At
  * 100 TB a table is 10k-100k files. Run with
  * `sbt 'runMain graft.tools.BridgeProbe <files>'` (default 500).
  */
object BridgeProbe {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(500)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("bridgeprobe").toString
    // one file per partition value -> nFiles parquet files in one job
    spark.range(nFiles.toLong * 10).select(
        (col("id") % nFiles).cast("string").as("partition"),
        col("id").as("v"), (col("id") % 97).cast("double").as("x"))
      .repartition(nFiles, col("partition"))
      .write.partitionBy("partition").parquet(s"$root/tree")
    new java.io.File(s"$root/tree/_SUCCESS").delete()
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[bridgeprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }
    // isolate the footer-stats term from the rest of writeTable: the
    // same FileMeta.stats read the store and both bridges run per file
    val hc = spark.sessionState.newHadoopConf()
    val files = {
      val rootP = new org.apache.hadoop.fs.Path(s"$root/tree")
      graft.store.FileMeta.dataFiles(rootP.getFileSystem(hc), rootP, "metadata")
        .map(f => new org.apache.hadoop.fs.Path(rootP, f._1))
    }
    timed(s"parallel footer stats over $nFiles files") {
      val rows = graft.store.FileMeta.parMapOrderedConf(files, hc)((p0, c) =>
        graft.store.FileMeta.stats(p0, c).rows)
      require(rows.sum == nFiles.toLong * 10)
    }
    val seq = files.take(100)
    timed(s"sequential footer stats over ${seq.size} files (single thread)") {
      seq.foreach(p0 => graft.store.FileMeta.stats(p0, hc))
    }
    // pool vs executor-job describe paths on the same tree: the pool
    // tops out at 16 threads against one driver JVM; the job path
    // scales with the cluster's cores (here local[32])
    spark.conf.set("graft.bridge.describeJobThreshold", Int.MaxValue.toString)
    val nIbPool = timed(s"IcebergBridge.writeTable over $nFiles files (driver pool)") {
      graft.store.IcebergBridge.writeTable(spark, s"$root/tree", "probe")
    }
    require(nIbPool == nFiles, s"described $nIbPool of $nFiles")
    spark.conf.unset("graft.bridge.describeJobThreshold")
    val nIb = timed(s"IcebergBridge.writeTable over $nFiles files (executor job)") {
      graft.store.IcebergBridge.writeTable(spark, s"$root/tree", "probe")
    }
    require(nIb == nFiles, s"described $nIb of $nFiles")
    val cnt = timed("IcebergBridge.read count") {
      graft.store.IcebergBridge.read(spark, s"$root/tree").count()
    }
    require(cnt == nFiles.toLong * 10, s"read $cnt rows")
    // delta on a sibling copy (writeLog refuses trees with foreign metadata)
    spark.range(nFiles.toLong * 10).select(
        (col("id") % nFiles).cast("string").as("partition"),
        col("id").as("v"), (col("id") % 97).cast("double").as("x"))
      .repartition(nFiles, col("partition"))
      .write.partitionBy("partition").parquet(s"$root/tree2")
    new java.io.File(s"$root/tree2/_SUCCESS").delete()
    val nDl = timed(s"DeltaBridge.writeLog over $nFiles files") {
      graft.store.DeltaBridge.writeLog(spark, s"$root/tree2", "probe")
    }
    require(nDl == nFiles, s"logged $nDl of $nFiles")
    spark.stop()
  }
}
