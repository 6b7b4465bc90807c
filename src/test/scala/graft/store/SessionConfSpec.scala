package graft.store

import graft.SparkSpec

/** A Spark-path save sets the parquet timestamp type and the AQE
  * coalescer floor for its write only: afterwards the session conf is
  * what it was, keys the session never set included. */
class SessionConfSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq(
    "spark.sql.parquet.outputTimestampType",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize")

  private def sparkSave(): Unit = {
    val st = new TimeseriesStore(spark, s"${tmpDir("graft-conf")}/wh")
    withDriverLoadBound(st, -1)(st.save("f", Seq((ts("2024-01-01T01:00:00"), 1.0)).toDF("time", "value")))
  }

  test("a Spark-path save leaves a session that set neither key with the same conf") {
    keys.foreach(spark.conf.unset)
    val before = spark.conf.getAll
    sparkSave()
    assert(spark.conf.getAll == before)
  }

  test("a Spark-path save gives back the values the session set") {
    withConf(keys(0) -> "INT96")(withConf(keys(1) -> "2m") {
      sparkSave()
      assert(keys.map(spark.conf.get) == Seq("INT96", "2m"))
    })
  }
}
