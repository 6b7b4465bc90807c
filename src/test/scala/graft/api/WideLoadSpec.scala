package graft.api

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Wide-load scale check: a 50-feature `loadDataFrame` must align with
  * the single-shuffle pivot plan (not 49 chained full-outer joins) and
  * return correct per-feature values; the driver path, which serves
  * the same small load by default, returns the same frame.
  */
class WideLoadSpec extends SparkSpec {
  import spark.implicits._

  test("50-feature load uses pivot alignment and stays correct") {
    val dir = tmpDir("graft-wide")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("w", s"$dir/warehouse")
    val names = (0 until 50).map(i => s"w/f$i")
    // one shared frame, 50 feature columns -> exercises multi-column
    // save fan-out too
    val wide = (0 until 6).map { d =>
      val t = new java.sql.Timestamp(ts("2021-01-01").getTime + d * 86400000L)
      org.apache.spark.sql.Row.fromSeq(t +: (0 until 50).map(i => (d * 50 + i).toDouble))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("time",
        org.apache.spark.sql.types.TimestampType) +:
        names.map(n => org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.DoubleType)))
    names.foreach(n => fs.createFeature(n))
    fs.saveDataFrame(spark.createDataFrame(
      spark.sparkContext.parallelize(wide), schema))
    def load() = fs.loadDataFrame(names, Some(ts("2021-01-01")), Some(ts("2021-01-06")))
    // the Spark path, pinned by turning the driver load path off
    val viaSpark = withDriverLoadBound(fs, -1) {
      val out = load()
      // plan shape: no full-outer join chain
      assert(!out.queryExecution.optimizedPlan.toString.contains("FullOuter"))
      val rows = out.orderBy("time").collect()
      assert(rows.length == 6)
      assert(rows(2).getDouble(1) == 100.0)   // day 2, f0
      assert(rows(5).getDouble(50) == 299.0)  // day 5, f49
      (out.schema, rows.toSeq)
    }
    // by default this small load is served on the driver: the same frame
    val onDriver = load()
    assert((onDriver.schema, onDriver.collect().toSeq) == viaSpark)
  }
}
