package graft.functions

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The stored-IVF leg's one claim the oracle can't certify: probing a
  * cell-partitioned index DIRECTORY-prunes the unprobed cells (the
  * gate certifies values; this certifies the IO shape).
  */
class AnnIvfStoredSpec extends SparkSpec {
  import spark.implicits._

  // j*j + 1 offsets keep every vector non-zero and non-collinear, so
  // no cosine is NaN (NaN != NaN would poison the set comparison) and
  // ranks have no mass ties
  private def corpus = spark.range(256).select(
    col("id").as("c_id"),
    array((0 until 8).map(j =>
      (pmod(col("id") * (j + 3) + lit(j * j + 1), lit(97)).cast("double") / 97.0)): _*)
      .as("embedding"))

  test("probe scans only the probed cells' partitions; results match in-memory") {
    val index = AnnIvf.buildFixed(corpus, "embedding", idCol = "c_id", k = 16)
    val dir = tmpDir("graft-ivf-store")
    index.assigned.write.mode("overwrite").partitionBy("cell").parquet(dir)
    val queries = corpus.filter(col("c_id") < 4)
      .select(col("c_id").as("q_id"), col("embedding"))
    val probed = queries.select(explode(AnnIvf.probeCells(
        index, col("embedding").cast("array<double>"), nProbe = 2)).as("cell"))
      .distinct().collect().map(_.getInt(0))
    assert(probed.length < 16, "probe must not touch every cell")
    val pruned = spark.read.parquet(dir)
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.selectedPartitions.partitionCount == probed.length,
      s"scan read ${scan.selectedPartitions.partitionCount} cell dirs, probed ${probed.length}")
    // and the layout never changes an answer: stored == in-memory
    val mem = AnnIvf.query(index, queries, "q_id", topK = 3, nProbe = 2, cIdCol = "c_id")
      .select("q_id", "c_id", "cosine", "rank").collect().map(_.toSeq).toSet
    val st = AnnIvf.query(index.copy(assigned = pruned), queries,
        "q_id", topK = 3, nProbe = 2, cIdCol = "c_id")
      .select("q_id", "c_id", "cosine", "rank").collect().map(_.toSeq).toSet
    assert(mem == st && st.nonEmpty)
  }

  test("probeCells rejects an empty codebook when the plan is built") {
    val empty = AnnIvf.Index(Nil, corpus, "embedding")
    val e = intercept[IllegalArgumentException](
      AnnIvf.probeCells(empty, col("embedding").cast("array<double>"), nProbe = 1))
    assert(e.getMessage.contains("at least one centroid"))
  }
}
