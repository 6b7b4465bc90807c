package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite (UTC, small shuffle fan-out). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def ts(iso: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(iso + (if (iso.length == 10) "T00:00:00Z" else "Z")))

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` with session conf `key` set to `value`, then restores
    * the key's previous value, or unsets it if it had none. */
  def withConf[T](setting: (String, Any))(body: => T): T = {
    val (key, value) = setting
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Runs `body` with the driver bound of `fs`'s stores at `bytes` (-1
    * pins loads, saves and compactions to the Spark path), then
    * restores the bound. */
  def withDriverLoadBound[T](fs: graft.api.FeatureStore, bytes: Long)(body: => T): T = {
    val prev = fs.driverLoadBytes
    fs.driverLoadBytes = bytes
    try body
    finally fs.driverLoadBytes = prev
  }

  /** [[withDriverLoadBound]] for one store. */
  def withDriverLoadBound[T](st: graft.store.TimeseriesStore, bytes: Long)(body: => T): T = {
    val prev = st.driverLoadBytes
    st.driverLoadBytes = bytes
    try body
    finally st.driverLoadBytes = prev
  }
}
