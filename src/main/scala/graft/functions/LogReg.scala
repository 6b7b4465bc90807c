package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** In-engine quality-classifier training: logistic regression over
  * hashed bag-of-words features, full-batch gradient descent — the
  * fastText-shaped linear filter pipelines train to score "does this
  * document look like the curated slice" (GPT-3's WebText-vs-Common-
  * Crawl classifier, CCNet's LM filter successor). No MLlib, no model
  * export problem: the model IS ≤(buckets+1) doubles, the features are
  * [[MlPrep.featureHash]] (vocabulary-free, no dictionary to ship),
  * and training is K deterministic DataFrame aggregations.
  *
  * Scale shape: the hashed-count frame (doc, bucket, count) is built
  * once and persisted — one narrow explode+hash pass over the corpus,
  * the one corpus-sized shuffle. Each epoch is then (a) one hash-agg
  * producing per-doc margins with the weight vector riding the plan as
  * a 257-element array literal (no join against a weight table), and
  * (b) one equi-join + hash-agg reducing to ≤buckets+1 gradient rows.
  * The driver holds only the weight vector (k-centroid doctrine);
  * epochs are sequential Spark jobs — K jobs total, like Lloyd rounds.
  *
  * Determinism: feature counts are exact integers; the sigmoid is the
  * one transcendental, and gradient sums are IEEE-order-dependent —
  * so gate outputs are rounded to 6 decimals (the ml_ndcg doctrine;
  * drift compounds ~1e-12 over a handful of epochs, 6 orders under
  * the rounding).
  */
object LogReg {

  /** Hashed features of one corpus: (idCol, __b, __c) rows — token
    * counts per [[MlPrep.featureHash]] bucket, plus one intercept row
    * `__b = buckets, __c = 1` per document.
    */
  def docFeatures(docs: DataFrame, idCol: String, toks: Column, buckets: Int): DataFrame = {
    val counts = docs
      .select(col(idCol), explode(toks).as("__t"))
      .select(col(idCol), MlPrep.featureHash(col("__t"), buckets, seed = "lr").as("__b"))
      .groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).cast("double").as("__c"))
    counts.unionByName(
      docs.select(col(idCol), lit(buckets.toLong).as("__b"), lit(1.0).as("__c")))
  }

  /** Trained state: the dense weight vector (index = bucket,
    * last = intercept) and the persisted feature frame joined with
    * labels, reusable for scoring. Call [[TrainedLogReg.unpersist]]
    * when done.
    */
  final case class TrainedLogReg(
      weights: Array[Double],
      buckets: Int,
      private[functions] val fy: DataFrame,
      idCol: String) {

    // one array literal, not buckets + 1 literal expressions
    private def warr: Column = typedLit(weights)

    /** Per-document P(label=1) under the trained weights. */
    def scores: DataFrame =
      fy.groupBy(col(idCol))
        .agg(sum(col("__c") * element_at(warr, col("__b").cast("int") + 1)).as("__z"))
        .select(col(idCol),
          (lit(1.0) / (lit(1.0) + exp(-col("__z")))).as("score"))

    /** (bucket, weight) for every bucket PRESENT in the corpus — the
      * rows an external recomputation can mirror (absent buckets keep
      * weight 0 and never influence a score). */
    def weightsDF: DataFrame =
      fy.select(col("__b")).distinct()
        .select(col("__b").as("b"),
          element_at(warr, col("__b").cast("int") + 1).as("w"))

    def unpersist(): Unit = { fy.unpersist(); () }
  }

  /** Train `epochs` full-batch GD steps of L2-free logistic regression:
    * w += lrate/N · Σ_d x_d (y_d − σ(w·x_d)), from w = 0.
    */
  def train(
      docs: DataFrame,
      idCol: String,
      toks: Column,
      label: Column,
      buckets: Int = 256,
      epochs: Int = 3,
      lrate: Double = 0.5): TrainedLogReg = {
    require(epochs >= 1 && buckets >= 1, s"need epochs/buckets >= 1: $epochs/$buckets")
    val fy = docFeatures(docs, idCol, toks, buckets)
      .join(docs.select(col(idCol), label.cast("double").as("__y")), idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = docs.count().toDouble
    val w = Array.fill(buckets + 1)(0.0)
    for (_ <- 1 to epochs) {
      val warr = typedLit(w.clone()) // a snapshot: w moves after this epoch
      val resid = fy
        .groupBy(col(idCol))
        .agg(
          sum(col("__c") * element_at(warr, col("__b").cast("int") + 1)).as("__z"),
          first(col("__y")).as("__yy"))
        .select(col(idCol),
          (col("__yy") - lit(1.0) / (lit(1.0) + exp(-col("__z")))).as("__r"))
      val grad = fy.join(resid, idCol)
        .groupBy(col("__b"))
        .agg(sum(col("__c") * col("__r")).as("__g"))
        .collect() // <= buckets+1 rows: driver-size by construction
      grad.foreach(r => w(r.getLong(0).toInt) += lrate * r.getDouble(1) / n)
    }
    TrainedLogReg(w, buckets, fy, idCol)
  }
}
