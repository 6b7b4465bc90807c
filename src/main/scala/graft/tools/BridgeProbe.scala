package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Metadata-scale probe for the open-format bridges: how long do
  * writeTable/writeLog take on a MANY-FILE tree, where the per-file
  * footer-stats read is the dominant term? At 100 TB a table is
  * 10k-100k files; a sequential driver-side footer loop is the shape
  * that breaks first.
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
    // isolate the footer-read term from the rest of writeTable
    timed(s"raw parallel footer reads over $nFiles files") {
      val hc = spark.sessionState.newHadoopConf()
      val rootP = new org.apache.hadoop.fs.Path(s"$root/tree")
      val fs2 = rootP.getFileSystem(hc)
      val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
      val it = fs2.listFiles(rootP, true)
      while (it.hasNext) { val st = it.next(); if (st.getPath.getName.endsWith(".parquet")) files += st.getPath }
      val confs = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.hadoop.conf.Configuration]()
      (0 until 16).foreach(_ => confs.add(new org.apache.hadoop.conf.Configuration(hc)))
      val rows = graft.store.DeltaBridge.parMapOrdered(files.toSeq) { p0 =>
        val hcl = confs.poll()
        try {
          var n = 0L
          graft.store.ParquetFooter.read(p0, hcl).getBlocks.forEach(b => n += b.getRowCount)
          n
        } finally confs.add(hcl)
      }
      require(rows.sum == nFiles.toLong * 10)
    }
    timed("sequential 100 footer reads (single thread)") {
      val hc = spark.sessionState.newHadoopConf()
      val rootP = new org.apache.hadoop.fs.Path(s"$root/tree")
      val fs2 = rootP.getFileSystem(hc)
      val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
      val it = fs2.listFiles(rootP, true)
      while (it.hasNext && files.size < 100) { val st = it.next(); if (st.getPath.getName.endsWith(".parquet")) files += st.getPath }
      files.foreach { p0 =>
        graft.store.ParquetFooter.read(p0, hc).getBlocks.size()
      }
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
