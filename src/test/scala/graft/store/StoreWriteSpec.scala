package graft.store

import org.apache.spark.sql.DataFrame

import graft.{CountingFs, JobCounting, SparkSpec}
import graft.api.FeatureStore

/** The write path's contracts on the single log-backed layout: the
  * reference's empty-batch order, the Spark jobs an ordinary save
  * costs, that a fatal error during an install never commits, that
  * each staged file's footer is opened once, and that the facade pins
  * a feature's value type only after the store committed. */
class StoreWriteSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  private def days(from: String, n: Int, v: Double): DataFrame =
    (0 until n).map(i => (new java.sql.Timestamp(ts(from).getTime + i * 86400000L), v + i))
      .toDF("time", "value")

  test("an empty batch is a no-op before column validation; one row still validates") {
    val st = new TimeseriesStore(spark, tmpDir("graft-save-empty"))
    val undeclared = Seq.empty[(java.sql.Timestamp, Double, String)].toDF("time", "value", "extra")
    // the reference order (dask.py:231-232): empty first, then validate
    st.save("f", undeclared)
    assert(st.tableVersion("f") == -1L && st.ls().isEmpty)
    val e = intercept[IllegalArgumentException](
      st.save("f", Seq((ts("2024-01-01"), 1.0, "x")).toDF("time", "value", "extra")))
    assert(e.getMessage.contains("extraneous columns: extra"))
    // the same on a feature with commits, and a VALID empty batch
    // commits nothing either
    st.save("f", days("2024-01-01", 2, 1.0))
    st.save("f", undeclared)
    st.save("f", days("2024-01-01", 0, 1.0))
    assert(st.tableVersion("f") == 0L)
    assert(st.read("f").count() == 2L)
  }

  test("an ordinary save starts no emptiness probe: three jobs, first save or not") {
    // the count a log-backed 10-day save has always cost on the Spark
    // path; an emptiness probe in front of every batch would add a
    // fourth job
    val st = new TimeseriesStore(spark, tmpDir("graft-save-jobs"))
    st.driverLoadBytes = -1
    val (_, first) = jobsOf(st.save("f", days("2024-01-01", 10, 0.0)))
    val (_, second) = jobsOf(st.save("f", days("2024-01-05", 10, 100.0)))
    assert(first.size == 3, s"jobs: $first")
    assert(second.size == 3, s"jobs: $second")
    assert(st.tableVersion("f") == 1L)
  }

  test("a fatal error during the footer read fails the save and commits nothing") {
    val dir = tmpDir("graft-save-fatal")
    val st = new TimeseriesStore(spark, dir)
    st.save("f", days("2024-01-01", 3, 1.0))
    // the same warehouse through the failing filesystem
    val failing = new TimeseriesStore(spark, CountingFs.url(dir),
      CountingFs.options(fatalStagedOpens = true))
    intercept[CountingFs.InjectedFatal](failing.save("f", days("2024-02-01", 5, 10.0)))
    assert(st.tableVersion("f") == 0L)
    assert(st.read("f").count() == 3L)
    // nothing half-installed blocks a retry
    st.save("f", days("2024-02-01", 5, 10.0))
    assert(st.tableVersion("f") == 1L && st.read("f").count() == 8L)
  }

  test("an install opens each staged file's footer exactly once") {
    val dir = tmpDir("graft-save-footers")
    val st = new TimeseriesStore(spark, CountingFs.url(dir), CountingFs.options())
    val (committed, opens) = CountingFs.opensDuring(dir)(st.save("f", days("2024-01-01", 5, 1.0)))
    assert(committed)
    val staged = opens.filter { case (p, _) => p.contains("/.stage/") && p.endsWith(".parquet") }
    // one file per day, each footer read once, and nothing else staged is opened
    assert(staged.size == 5 && staged.values.forall(_ == 1), s"opens: $opens")
    assert(st.read("f").count() == 5L)
  }

  private def facade(prefix: String): (FeatureStore, String) = {
    val dir = tmpDir(prefix)
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("w", s"$dir/warehouse")
    (fs, dir)
  }

  private def catalogBytes(dir: String): Seq[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/catalog.json")).toSeq

  test("a facade save the store refuses leaves the catalog byte-identical") {
    val (fs, dir) = facade("graft-save-refused")
    // a legacy tree: plain partitioned parquet with no transaction log
    fs.createFeature("w/legacy")
    days("2024-01-01", 2, 1.0).withColumn("created_time", org.apache.spark.sql.functions.col("time"))
      .withColumn("partition", org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("time"), "yyyy-MM-dd"))
      .write.partitionBy("partition").parquet(s"$dir/warehouse/feature/legacy")
    // a CHECK the batch violates, declared before any data
    fs.createFeature("w/checked")
    fs.addFeatureCheck("w/checked", "positive", "value > 0")
    val before = catalogBytes(dir)
    intercept[IllegalStateException](fs.saveDataFrame(days("2024-02-01", 2, 1.0), Some("w/legacy")))
    intercept[IllegalArgumentException](
      fs.saveDataFrame(days("2024-02-01", 2, -5.0), Some("w/checked")))
    assert(catalogBytes(dir) == before)
    assert(fs.catalog.getFeature("w", "checked").get.valueType.isEmpty)
    // a save the store commits pins the type
    fs.saveDataFrame(days("2024-02-01", 2, 1.0), Some("w/checked"))
    assert(fs.catalog.getFeature("w", "checked").get.valueType.contains("\"double\""))
  }

  test("the first facade save of an unpinned feature costs what store.save costs") {
    val (fs, _) = facade("graft-save-pinjobs")
    fs.createFeature("w/f")
    val st = fs.store(fs.catalog.getNamespace("w").get)
    val (_, viaStore) = jobsOf(st.save("g", days("2024-01-01", 10, 0.0)))
    val (_, viaFacade) = jobsOf(fs.saveDataFrame(days("2024-01-01", 10, 0.0), Some("w/f")))
    assert(viaFacade.size == viaStore.size, s"facade: $viaFacade, store: $viaStore")
    assert(fs.catalog.getFeature("w", "f").get.valueType.contains("\"double\""))
  }

  test("a facade save replays the feature's log once: one _txlog listing") {
    val dir = tmpDir("graft-save-lists")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("w", CountingFs.url(s"$dir/warehouse"), storageOptions = CountingFs.options())
    fs.createFeature("w/f")
    fs.addFeatureCheck("w/f", "positive", "value > 0")
    fs.saveDataFrame(days("2024-01-01", 10, 1.0), Some("w/f"))
    val log = s"$dir/warehouse/feature/f/_txlog"
    // validation, the check, the staging epoch and the bloom config
    // all come from one replay
    val (_, lists) = CountingFs.listsDuring(log)(fs.saveDataFrame(days("2024-01-05", 10, 100.0), Some("w/f")))
    assert(lists == Map(log -> 1), lists)
    // and that replay carries the check
    intercept[IllegalArgumentException](fs.saveDataFrame(days("2024-02-01", 2, -5.0), Some("w/f")))
    assert(fs.loadDataFrame(Seq("w/f")).count() == 14L)
  }
}
