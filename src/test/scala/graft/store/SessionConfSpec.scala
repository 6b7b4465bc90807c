package graft.store

import org.apache.spark.sql.types.TimestampType

import graft.SparkSpec
import graft.sources.Tables

/** A Spark-path save sets the parquet timestamp type and the AQE
  * coalescer floor for its write only, and `Tables.events` its
  * timestamp-inference flags for its read only: afterwards the session
  * conf is what it was, keys the session never set included. */
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

  test("Tables.events leaves a session that set neither inference flag with the same conf") {
    Seq("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled")
      .foreach(spark.conf.unset)
    // one events file per parquet generation the reader branches on:
    // micros read as NTZ (its branch also pins the session zone), legacy
    // nanos read as a long, and micros read as an instant
    val generations = Seq("TIMESTAMP_NTZ '2024-03-01 12:30:15'", "1709296215123456789L",
      "TIMESTAMP '2024-03-01 12:30:15'")
    for (ts <- generations) {
      val dir = tmpDir("graft-conf-events")
      spark.sql(s"SELECT 1L AS event_id, $ts AS ts, 7L AS user_id, 'click' AS event_type, 1.5 AS value")
        .write.parquet(s"$dir/events.parquet")
      val before = spark.conf.getAll
      assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType, ts)
      assert(spark.conf.getAll == before, ts)
    }
  }
}
