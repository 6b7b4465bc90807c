package graft.queries

import graft.SparkSpec

/** A streaming gate leaves its session as it found it: no temp view,
  * no active query and no session conf outlives the build, whichever
  * sink the replay drains into (memory in Complete, Update and Append
  * mode, or the store's exactly-once sink), and a second build of the
  * same gate gives the same rows. */
class StreamReplaySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def rows(gate: String): Seq[String] =
    QueryLib.queries(gate)(spark, dir).collect().map(_.toString).sorted.toSeq

  for ((gate, sink) <- Seq("fs_stream_window" -> "Complete", "fs_stream_kmv" -> "Update",
      "fs_stream_quota" -> "Append", "fs_stream_sink" -> "featureSinkTx"))
    test(s"$gate ($sink) leaves no view, query or conf behind and rebuilds the same rows") {
      val (views, confs) = (tempViews, spark.conf.getAll)
      val first = rows(gate)
      assert(tempViews -- views === Set.empty)
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.getAll === confs)
      assert(first.nonEmpty)
      assert(rows(gate) === first)
    }
}
