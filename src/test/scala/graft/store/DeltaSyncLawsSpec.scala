package graft.store

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The sync bridge's one law, adversarially exercised: after EVERY
  * syncSnapshotDelta, the Delta tree read through the log must equal
  * the txlog snapshot — under a seeded random interleaving of appends,
  * predicate deletes (file rewrites) and OPTIMIZE compactions (add/
  * remove churn of untouched rows), with checkpoints landing mid-
  * sequence (checkpointEvery=3) so later syncs replay THROUGH a
  * checkpoint seed. A diff bug that only shows after a compaction
  * cycles a path through remove-then-add, or a checkpoint that drops
  * state, diverges here even if every single-op gate stays green.
  */
class DeltaSyncLawsSpec extends SparkSpec {
  import spark.implicits._

  test("after every sync, the Delta tree equals the txlog snapshot (8 random ops)") {
    val root = tmpDir("dlaws")
    val st = new TimeseriesStore(spark, s"$root/wh")
    val rnd = new scala.util.Random(42)

    def batch(day: Int, n: Int): org.apache.spark.sql.DataFrame =
      (0 until n).map { i =>
        (ts(f"2024-07-$day%02dT${i % 24}%02d:0${i % 6}:00"), day * 100.0 + i)
      }.toDF("time", "value")

    st.save("f", batch(1, 6).union(batch(2, 6)))
    st.exportSnapshotDelta("f", s"$root/delta")

    def snapshotRows() = st.read("f")
      .select(col("time"), col("value"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1)))
      .sortBy(identity[(String, Double)])
    def deltaRows() = DeltaBridge.read(spark, s"$root/delta")
      .select(col("time"), col("value"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1)))
      .sortBy(identity[(String, Double)])

    var nextDay = 3
    for (step <- 1 to 8) {
      rnd.nextInt(3) match {
        case 0 =>
          st.save("f", batch(nextDay, 4 + rnd.nextInt(4)))
          nextDay += 1
        case 1 =>
          // delete a random already-landed day (may match nothing —
          // a no-op delete must also sync cleanly)
          val day = 1 + rnd.nextInt(nextDay - 1)
          st.deleteWhere("f",
            col("time") >= ts(f"2024-07-$day%02dT00:00:00") &&
              col("time") < ts(f"2024-07-${day + 1}%02dT00:00:00"))
        case 2 =>
          st.optimize("f") // compaction: rewrites files, rows unchanged
      }
      st.syncSnapshotDelta("f", s"$root/delta", checkpointEvery = 3)
      val (a, b) = (snapshotRows(), deltaRows())
      assert(a.sameElements(b),
        s"divergence at step $step: txlog ${a.length} rows vs delta ${b.length}")
    }
    // the sequence must actually have produced checkpoints and both
    // op kinds of log churn, or the law tested less than it claims
    val logDir = java.nio.file.Paths.get(s"$root/delta/_delta_log")
    val names = java.nio.file.Files.list(logDir).toArray.map(_.toString)
    assert(names.exists(_.endsWith(".checkpoint.parquet")),
      "no checkpoint landed — raise checkpointEvery coverage")
  }
}
