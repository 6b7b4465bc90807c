package graft.functions

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.CosineSimilarity

/** IVF (inverted-file) approximate nearest neighbor over an embedding
  * column — the classic scale path beyond sign-LSH: a KMeans coarse
  * quantizer partitions the corpus into `k` cells; a query probes its
  * `nProbe` nearest cells and exact-scores only those candidates. At
  * 100 TB the corpus assignment is a one-time narrow pass, the probe
  * join is an equi-join on the cell id (shuffle-partitionable), and the
  * exact re-rank touches ~nProbe/k of the data.
  */
object AnnIvf {

  final case class Index(centers: Seq[Array[Double]], assigned: DataFrame, embCol: String)

  /** Cluster the corpus and attach a `cell` column. `df` must carry an
    * `array<float|double>` embedding column.
    */
  def build(df: DataFrame, embCol: String, k: Int, seed: Long = 42L, maxIter: Int = 20): Index = {
    val feat = df.withColumn("__fv", array_to_vector(col(embCol).cast("array<double>")))
    // k-means|| init kept deliberately: this one coarse quantizer IS
    // the quality knob of the whole IVF index (random init measured
    // recall@10 0.91 -> 0.78 on the gate fixture — too much quality
    // for ~2 s of init passes on a single fit; PQ's M per-subspace
    // fits are where init cost multiplies, and THERE random+Lloyd is
    // the right trade, AnnPq.buildTrained)
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__fv").setPredictionCol("cell")
      .fit(feat)
    Index(model.clusterCenters.map(_.toArray).toSeq,
      model.transform(feat).drop("__fv"), embCol)
  }

  /** Index from an EXTERNALLY trained codebook: attaches the nearest-
    * centroid `cell` column (the same narrow assignment expression the
    * probe side uses). The scale path pairs this with [[Lloyd]]:
    * bounded-sample driver-local training, centroids into the plan as
    * literals — no per-iteration Spark jobs.
    */
  def withCenters(df: DataFrame, embCol: String, centers: Seq[Array[Double]]): Index = {
    val bare = Index(centers, df, embCol)
    val assigned = df.withColumn("cell",
      element_at(probeCells(bare, col(embCol).cast("array<double>"), 1), 1))
    Index(centers, assigned, embCol)
  }

  /** Trained IVF the way a production index trains: k-means++ + Lloyd
    * on a bounded deterministic sample ([[Lloyd.sampleVectors]]),
    * assignment as one narrow expression. Equivalent quality to
    * [[build]] at a tiny fraction of its scheduler cost (a spark.ml
    * fit is ~maxIter driver round-trips regardless of data size).
    */
  def buildSampled(df: DataFrame, embCol: String, k: Int, seed: Long = 42L,
                   maxIter: Int = 20, maxSample: Int = 4096): Index =
    withCenters(df, embCol,
      Lloyd.fit(Lloyd.sampleVectors(df, embCol, maxSample), k, seed, maxIter).toSeq)

  /** Deterministic codebook: the `k` lowest-`idCol` rows become the
    * centroids — IVF with sampled initialization and zero Lloyd
    * iterations. Quantization quality sits below a converged KMeans,
    * but every step (codebook, assignment, probe, re-rank) is
    * closed-form and engine-independent, so the whole ANN pipeline can
    * be recomputed — and oracle-checked bit-for-bit — by any SQL
    * engine; `build` remains the quality option where verification is
    * statistical (recall) rather than exact. The codebook fetch is a
    * TakeOrdered of k rows; assignment is the same narrow nearest-
    * centroid expression the probe side uses.
    */
  def buildFixed(df: DataFrame, embCol: String, idCol: String, k: Int): Index = {
    // null embeddings cannot seed a centroid — without the filter the
    // driver-side collect NPEs with no hint which row was bad
    val centers = df.filter(col(embCol).isNotNull).orderBy(col(idCol)).limit(k)
      .select(col(embCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray).toSeq
    val bare = Index(centers, df, embCol)
    val assigned = df.withColumn("cell",
      element_at(probeCells(bare, col(embCol).cast("array<double>"), 1), 1))
    Index(centers, assigned, embCol)
  }

  /** Expression: the `nProbe` nearest cell ids for a query embedding,
    * ranked by L2 distance to each centroid (centroids ride along as
    * literals — they are tiny). Returns array<int>. The score is
    * rounded to 6 decimals BEFORE the rank cut (the repo's
    * oracle-determinism invariant): a last-ulp summation difference
    * between engines can never reorder two centroids.
    */
  private[graft] def probeCells(index: Index, q: Column, nProbe: Int): Column = {
    // NARROW form (r20): the previous k unrolled per-centroid subtrees
    // (k × dim literal nodes + k zip_with/aggregate lambdas) made every
    // ANN plan thousands of expression nodes, and the measured sim_ann
    // cost was the DRIVER walking those trees (analysis/optimization/
    // codegen), not the data. One array<array<double>> literal plus one
    // higher-order transform keeps the tree O(1) in k and dim. The
    // arithmetic is unchanged term for term — same zip_with product,
    // same ascending left-fold sum, same round-6, same larger-j tie via
    // the struct sort — so scores and ranks stay bit-identical.
    // an empty codebook would plan fine and fail only when executed
    require(index.centers.nonEmpty, "probeCells needs at least one centroid")
    val cents = typedLit(index.centers.map(_.toSeq))
    val halves = typedLit(index.centers.map(c => c.map(x => x * x).sum / 2))
    val scored = transform(sequence(lit(0), lit(index.centers.size - 1)), j =>
      struct(
        round(SimilarityOps.dot(q, element_at(cents, j + 1))
          - element_at(halves, j + 1), 6).as("s"),
        j.as("j")))
    // sort ascending by score, take the top nProbe from the tail
    transform(slice(reverse(array_sort(scored)), 1, nProbe), s => s.getField("j"))
  }

  /** Top-`topK` candidates per query by exact cosine, searched only in
    * each query's `nProbe` nearest cells.
    */
  def query(
      index: Index,
      queries: DataFrame, // (qIdCol, embCol)
      qIdCol: String,
      topK: Int,
      nProbe: Int,
      cIdCol: String): DataFrame = {
    // internal names keep the join unambiguous when qIdCol == cIdCol
    // (corpus self-search — previously an AMBIGUOUS_REFERENCE error
    // every caller had to dodge with renames); on that collision the
    // OUTPUT columns are suffixed <id>_q / <id>_c, otherwise the
    // caller's names are kept verbatim
    val (qOut, cOut) =
      if (qIdCol == cIdCol) (s"${qIdCol}_q", s"${cIdCol}_c") else (qIdCol, cIdCol)
    val q = queries.select(
      col(qIdCol).as("__qid"), col(index.embCol).cast("array<double>").as("__qv"),
      explode(probeCells(index, col(index.embCol).cast("array<double>"), nProbe)).as("cell"))
    val c = index.assigned.select(
      col(cIdCol).as("__cid"), col("cell"),
      col(index.embCol).cast("array<double>").as("__cv"))
    val scored = c.join(broadcast(q), Seq("cell")).select(
      col("__qid").as(qOut), col("__cid").as(cOut),
      round(CosineSimilarity.cosineSim(col("__qv"), col("__cv")), 6).as("cosine"))
    val w = Window.partitionBy(col(qOut)).orderBy(col("cosine").desc, col(cOut))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }
}
