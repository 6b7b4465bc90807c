package graft.store

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, FilterFileSystem, FutureDataInputStreamBuilder, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame

import graft.{JobCounting, SparkSpec}

/** Local filesystem under the `fatalfooter` scheme whose opens of
  * STAGED parquet files — the store's per-file footer reads — die of a
  * fatal error, as an OOM in the middle of an install would. */
class FatalFooterFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = FatalFooterFs.Uri
}) {
  override def getScheme: String = FatalFooterFs.Uri.getScheme
  private def refuseStaged(p: Path): Unit =
    if (p.toString.contains("/.stage/") && p.getName.endsWith(".parquet"))
      throw new FatalFooterFs.InjectedFatal(p)
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    refuseStaged(f)
    super.open(f, bufferSize)
  }
  override def openFile(path: Path): FutureDataInputStreamBuilder = {
    refuseStaged(path)
    super.openFile(path)
  }
}

object FatalFooterFs {
  val Uri: URI = URI.create("fatalfooter:///")
  final class InjectedFatal(p: Path) extends VirtualMachineError(s"injected fatal error opening $p")
}

/** The write path's contracts on the single log-backed layout: the
  * reference's empty-batch order, the Spark jobs an ordinary save
  * costs, and that a fatal error during an install never commits. */
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
    // the count a log-backed 10-day save has always cost; an emptiness
    // probe in front of every batch would add a fourth job
    val st = new TimeseriesStore(spark, tmpDir("graft-save-jobs"))
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
    val failing = new TimeseriesStore(spark, s"fatalfooter://$dir",
      Map("fs.fatalfooter.impl" -> classOf[FatalFooterFs].getName))
    intercept[FatalFooterFs.InjectedFatal](failing.save("f", days("2024-02-01", 5, 10.0)))
    assert(st.tableVersion("f") == 0L)
    assert(st.read("f").count() == 3L)
    // nothing half-installed blocks a retry
    st.save("f", days("2024-02-01", 5, 10.0))
    assert(st.tableVersion("f") == 1L && st.read("f").count() == 8L)
  }
}
