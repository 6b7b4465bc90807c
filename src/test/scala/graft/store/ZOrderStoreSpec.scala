package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** OPTIMIZE ZORDER on the txlog backend: rows unchanged, time travel
  * intact, and — the point — per-file value bounds tight enough that a
  * narrow value slice skips most files, where the append layout (time-
  * ranged files, values random within each) can skip none.
  */
class ZOrderStoreSpec extends SparkSpec {
  import spark.implicits._

  test("optimizeZorder: value skipping, unchanged rows, time travel") {
    val dir = tmpDir("graft-zorder")
    val st = new TimeseriesStore(spark, s"$dir/tx")
    // 30 days x 400 rows, values uniform in [0, 500) — each append file
    // spans a narrow time range but the FULL value range
    val rnd = new java.util.Random(7)
    val rows = for (d <- 0 until 30; i <- 0 until 400) yield (
      new java.sql.Timestamp(ts("2021-03-01").getTime + d * 86400000L + i * 60000L),
      math.rint(rnd.nextDouble() * 50000) / 100.0)
    rows.grouped(4000).foreach { b =>
      st.save("zf", b.toSeq.toDF("time", "value"))
    }
    val preVersion = st.tableVersion("zf")
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("time"), col("value"))
        .as[(java.sql.Timestamp, Double)].collect().sortBy(r => (r._1.getTime, r._2)).toSeq
    val before = key(st.read("zf"))
    assert(before.size === 12000)

    // append layout: every file carries value stats (same footer read
    // as the time bounds) but spans ~the full value range — a mid-range
    // slice skips (almost) nothing, while the read stays correct
    val preAll = st.candidateFilesForValueRange("zf", 0.0, 500.0)
    assert(preAll.forall(a => a.vmin.nonEmpty && a.nrec.nonEmpty))
    val preSliced = st.candidateFilesForValueRange("zf", 100.0, 110.0)
    assert(preSliced.size * 10 >= preAll.size * 9,
      s"append layout should barely skip: ${preSliced.size}/${preAll.size}")
    val expectSlice = before.filter(r => r._2 >= 100.0 && r._2 <= 110.0)
    assert(key(st.readValueRange("zf", 100.0, 110.0)) === expectSlice)

    // tiny target bytes => several value-banded files per partition
    val retired = st.optimizeZorder("zf", bits = 16, targetBytes = 4096)
    assert(retired > 0)

    // rows unchanged by the rewrite (no dedup, exact multiset)
    assert(key(st.read("zf")) === before)
    // pre-rewrite version still readable (old files live until vacuum)
    assert(key(st.read("zf", asOfVersion = Some(preVersion))) === before)

    // value skipping: the 2% value slice must drop most files
    val live = st.candidateFilesForValueRange("zf", 0.0, 500.0)
    assert(live.forall(a => a.vmin.nonEmpty && a.vmax.nonEmpty))
    val sliced = st.candidateFilesForValueRange("zf", 100.0, 110.0)
    assert(sliced.size.toDouble / live.size < 0.55,
      s"value slice hit ${sliced.size} of ${live.size} files")
    // and the skipped read is still exactly right
    assert(key(st.readValueRange("zf", 100.0, 110.0)) === expectSlice)

    // time bounds survive the rewrite: a 3-day window prunes files too
    val tSliced = st.candidateFilesForValueRange("zf", 0.0, 500.0,
      from = Some(ts("2021-03-05")), to = Some(ts("2021-03-07")))
    assert(tSliced.size < live.size / 2,
      s"time slice hit ${tSliced.size} of ${live.size} files")
    // combined time+value pruning composes
    val both = st.candidateFilesForValueRange("zf", 100.0, 110.0,
      from = Some(ts("2021-03-05")), to = Some(ts("2021-03-07")))
    assert(both.size <= math.min(sliced.size, tSliced.size))

    // skipping SURVIVES maintenance: a DELETE's rewritten victims keep
    // value stats (the unified footer read records them on every
    // staged write, not just z-order rewrites)
    val erased = st.deleteWhere("zf", col("value") < 1.0)
    assert(erased > 0)
    assert(st.candidateFilesForValueRange("zf", 0.0, 500.0)
      .forall(a => a.vmin.nonEmpty && a.nrec.nonEmpty))
  }
}
