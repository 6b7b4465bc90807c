package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product-quantization quality characterization. The sim_ann_pq gate
  * certifies engine parity of the DETERMINISTIC-codebook pipeline; this
  * spec is where approximation QUALITY is measured against ground truth
  * and pinned, so a refactor cannot silently degrade what the hash gate
  * (which mirrors the same codebooks on both sides) cannot see.
  */
class AnnPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.01/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("a codebook vector encodes to itself: ADC equals the exact dot product") {
    // exactness property: when the corpus rows ARE the centroids, every
    // subvector's nearest centroid is itself, reconstruction is the
    // identity, and ADC == exact inner product (within the round-6 cut)
    val seeds = emb.filter(col("vec_id") < 16)
    val cb = AnnPq.buildFixed(seeds, "v", idCol = "vec_id", m = 8, k = 16)
    val enc = seeds.select(col("vec_id"), col("v"),
      AnnPq.encodeExpr(cb, col("v")).as("code"))
    val q = emb.filter(col("vec_id") === 20).select(col("v").as("qv")).head().getSeq[Double](0)
    val qArr = array(q.map(lit): _*)
    val rows = enc.select(
      col("vec_id"),
      AnnPq.adcScore(cb, qArr, col("code")).as("adc"),
      round(SimilarityOps.dot(qArr, col("v")), 6).as("exact")).collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"vec ${r.getLong(0)}: ADC ${r.getDouble(1)} != exact ${r.getDouble(2)}")
    }
  }

  test("trained codebooks: lower quantization error than fixed seeds, recall floor holds") {
    val corpus = emb.filter(col("vec_id") >= 10)
    val queries = emb.filter(col("vec_id") < 10)
    def mse(cb: AnnPq.Codebooks): Double = {
      val enc = corpus.select(col("v"), AnnPq.encodeExpr(cb, col("v")).as("code"))
      enc.select(avg(
        aggregate(
          zip_with(col("v"), AnnPq.reconstructExpr(cb, col("code")),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)).as("e"))
        .head().getDouble(0)
    }
    // same-m comparison, or the doubled code budget (not training)
    // could carry the assertion: Lloyd iterations must beat arbitrary
    // seed centroids on the objective they minimize AT THE SAME budget
    val trained = AnnPq.buildTrained(corpus, "v", m = 16, k = 16, maxIter = 10)
    val fixedSameM = AnnPq.buildFixed(corpus, "v", idCol = "vec_id", m = 16, k = 16)
    val (mseF, mseT) = (mse(fixedSameM), mse(trained))
    assert(mseT < mseF, s"trained MSE $mseT not below same-budget fixed-seed MSE $mseF")

    // SHORTLIST recall: does the exact cosine top-10 survive inside the
    // trained-ADC top-50 shortlist? This is the metric the production
    // pattern actually depends on — PQ is a SHORTLIST compressor (scan
    // codes, keep ~5x the final k, exact-rerank the shortlist), never
    // the final ranking: 8x16 codes are a lossy 4-bits-per-subspace
    // compression at m=8, and on near-random fixture vectors (quantization's
    // adversarial case — no cluster structure to exploit) the DIRECT
    // ADC top-10 measures ~0.30 here, which is exactly why no one
    // ships PQ without the rerank. The quality path doubles the code
    // budget to 16 subspaces (64-bit codes, the standard byte-per-
    // subspace neighborhood); the floor pins the measured shortlist
    // recall so a silent quality regression fails here.
    val enc = corpus.select(col("vec_id").as("c_id"), AnnPq.encodeExpr(trained, col("v")).as("code"))
    val got = AnnPq.query(trained, enc,
        queries.withColumnRenamed("vec_id", "q_id"),
        qIdCol = "q_id", embCol = "v", cIdCol = "c_id", codeCol = "code", topK = 50)
      .select(col("q_id"), col("c_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("s").desc, col("c_id"))
    val truth = corpus.select(col("vec_id").as("c_id"), col("v").as("cv"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("q_id"), col("v").as("qv"))))
      .select(col("q_id"), col("c_id"),
        round(graft.plans.CosineSimilarity.cosineSim(col("qv"), col("cv")), 6).as("s"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
      .select(col("q_id"), col("c_id"))
    val total = truth.count()
    val hits = truth.join(got, Seq("q_id", "c_id"), "left_semi").count()
    val recall = hits.toDouble / total
    assert(recall >= 0.7, f"trained-PQ shortlist recall@10-in-50 $recall%.3f fell below the 0.7 floor")
  }

  test("encodeKernel is bit-identical to encodeExpr; lutOf matches lutExpr") {
    // the big-k escape hatch must be the SAME assignment rule, not an
    // approximation of it — pinned at both the oracle-gated size
    // (k=16) and the quality size (k=64)
    for (k <- Seq(16, 64)) {
      val cb = AnnPq.buildTrainedSampled(emb, "v", m = 16, k = k, maxSample = 512)
      val in = emb.limit(100).select(
        col("vec_id").cast("long").as("id"), lit(0).as("cell"), col("v"))
      val viaExpr = in.select(col("id"), AnnPq.encodeExpr(cb, col("v")).as("code"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val viaKernel = AnnPq.encodeKernel(in, "id", "cell", "v", cb)
        .select(col("id"), col("code"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(viaExpr === viaKernel, s"kernel/expression encode disagree at k=$k")

      val qv = emb.orderBy("vec_id").limit(1).select(col("v"))
        .head().getSeq[Double](0).toArray
      val lutE = spark.range(1).select(
          AnnPq.lutExpr(cb, typedlit(qv.toSeq)).as("lut"))
        .head().getSeq[scala.collection.Seq[Double]](0).map(_.toSeq)
      val lutK = AnnPq.lutOf(cb, qv).map(_.toSeq).toSeq
      assert(lutE === lutK, s"lutOf/lutExpr disagree at k=$k")
    }
  }

  test("encodeExpr rejects an empty codebook when the plan is built") {
    for (cb <- Seq(AnnPq.Codebooks(2, Nil), AnnPq.Codebooks(2, Seq(Nil, Nil)))) {
      val e = intercept[IllegalArgumentException](AnnPq.encodeExpr(cb, col("v")))
      assert(e.getMessage.contains("at least one subspace and one centroid"))
    }
  }
}
