package graft.functions

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) approximate nearest neighbor — the third
  * leg of the ANN design space next to sign-LSH (hash buckets) and IVF
  * (coarse cells), and the one that changes the SCAN economics: the
  * corpus is stored and scanned as M small codes per vector (M bytes at
  * k <= 256) instead of dim floats — 32-64x less IO — and a query is
  * scored against a candidate by table lookups into its own
  * per-subspace dot-product tables (ADC, asymmetric distance
  * computation: Jegou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011). At 100 TB this is the difference
  * between scanning 100 TB of floats and ~2 TB of codes; compose with
  * IVF cells for the standard IVF-PQ billion-vector layout.
  *
  * Dataflow shape: codebooks are k*dim doubles — driver-trivial — and
  * ride the expression tree as literals; encoding is a narrow
  * per-vector pass (no shuffle, pipelines with the scan); ADC scoring
  * is a narrow expression over (query, code) pairs. Nothing shuffles
  * until the final per-query top-k.
  *
  * Engine-parity doctrine (the repo's oracle invariant): per-subspace
  * assignment ranks centroids by `round(dot - |c|^2/2, 6)` with ties
  * toward the larger index (identical to `AnnIvf.probeCells`), and the
  * scan-path ADC score ([[query]] via [[adcScoreLut]]) sums M
  * per-subspace partials in ascending m, each partial an ascending
  * subDim-term dot — the oracle mirrors exactly this NESTED
  * association (a flat dim-length sum associates differently in IEEE
  * arithmetic and can flip a round-6 digit). The reconstruct-then-dot
  * form ([[adcScore]]) exists for the exactness spec only.
  */
object AnnPq {

  /** `books(m)(j)` = centroid j of subspace m (each `subDim` doubles). */
  final case class Codebooks(subDim: Int, books: Seq[Seq[Array[Double]]]) {
    def m: Int = books.size
    def k: Int = books.head.size
    require(books.forall(_.size == books.head.size), "ragged codebooks")
  }

  /** Deterministic codebooks — the `k` lowest-`idCol` vectors' m-th
    * subvectors seed subspace m (sampled initialization, zero Lloyd
    * iterations; the `AnnIvf.buildFixed` doctrine). Quantization
    * quality sits below trained KMeans, but every step is closed-form
    * and recomputable by any SQL engine, so the whole PQ pipeline can
    * be oracle-checked bit-for-bit. `buildTrained` is the quality path.
    */
  def buildFixed(df: DataFrame, embCol: String, idCol: String, m: Int, k: Int): Codebooks = {
    val seeds = df.filter(col(embCol).isNotNull).orderBy(col(idCol)).limit(k)
      .select(col(embCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(seeds.nonEmpty, "no seed vectors for the PQ codebook")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    Codebooks(subDim,
      (0 until m).map(mi => seeds.map(_.slice(mi * subDim, (mi + 1) * subDim)).toSeq))
  }

  /** Trained codebooks: one KMeans per subspace (k centroids over the
    * corpus's m-th subvectors). M driver-coordinated fits over narrow
    * projections — at corpus scale each fit samples, it never holds
    * the corpus.
    */
  def buildTrained(
      df: DataFrame, embCol: String, m: Int, k: Int,
      seed: Long = 42L, maxIter: Int = 20): Codebooks = {
    // persisted once: every subspace fit re-reads this projection, and
    // without the pin each of the M fits would re-scan the source
    val arr = df.filter(col(embCol).isNotNull)
      .select(col(embCol).cast("array<double>").as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = arr.select(size(col("__v"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val subDim = dim / m
      // the M subspace fits are independent jobs over the same pinned
      // rows — submitted CONCURRENTLY, wall time is one fit, not M
      // (sequential, the measured cost was ~1 s of scheduler overhead
      // per fit × M, dwarfing the arithmetic); random init instead of
      // k-means|| drops the extra distributed init passes each fit pays
      // (maxIter Lloyd rounds behind it converge to the same MSE
      // neighborhood — AnnPqSpec's trained-beats-fixed assertion gates it)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val books = Await.result(
        Future.sequence((0 until m).toList.map { mi => Future {
          val sub = arr.select(
            array_to_vector(slice(col("__v"), mi * subDim + 1, subDim)).as("__fv"))
          mi -> new KMeans().setK(k).setSeed(seed + mi).setMaxIter(maxIter)
            .setInitMode("random")
            .setFeaturesCol("__fv")
            .fit(sub).clusterCenters.map(_.toArray).toSeq
        }}),
        scala.concurrent.duration.Duration.Inf).sortBy(_._1).map(_._2)
      Codebooks(subDim, books)
    } finally { arr.unpersist(); () }
  }

  /** Trained codebooks from a DRIVER-SIDE sample: slice each sampled
    * vector into its m subvectors and run [[Lloyd]] per subspace —
    * m × k × subDim doubles of arithmetic, zero Spark jobs. Pass the
    * same sample an IVF codebook trained on ([[Lloyd.sampleVectors]])
    * and the whole IVF+PQ quality stack trains off ONE corpus touch.
    */
  def buildTrainedFromSample(sample: Array[Array[Double]], m: Int, k: Int,
                             seed: Long = 42L, maxIter: Int = 20): Codebooks = {
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    // the m subspace fits are independent (disjoint slices, per-index
    // seeds) — train them concurrently on the driver; output order is
    // by subspace index, so the codebooks are bit-identical to the
    // sequential loop's
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Codebooks(subDim, Await.result(
      Future.sequence((0 until m).map { mi => Future {
        Lloyd.fit(sample.map(_.slice(mi * subDim, (mi + 1) * subDim)),
          k, seed + mi, maxIter).toSeq
      }}), Duration.Inf))
  }

  /** [[buildTrainedFromSample]] with the sampling step included. */
  def buildTrainedSampled(df: DataFrame, embCol: String, m: Int, k: Int,
                          seed: Long = 42L, maxIter: Int = 20,
                          maxSample: Int = 4096): Codebooks =
    buildTrainedFromSample(Lloyd.sampleVectors(df, embCol, maxSample), m, k, seed, maxIter)


  /** The full codebook tensor as ONE literal (books[m][j] = subDim
    * doubles) — the r20 narrow-expression doctrine: the unrolled m×k
    * per-centroid subtrees cost the driver more than the data does.
    */
  private def booksLit(cb: Codebooks): Column =
    typedLit(cb.books.map(_.map(_.toSeq)))
  private def halvesLit(cb: Codebooks): Column =
    typedLit(cb.books.map(_.map(c => c.map(x => x * x).sum / 2)))

  /** Encode an embedding column into its PQ code: array<int> of length
    * M. Narrow — the 100 TB corpus pass that writes the compressed
    * index. Tree size is O(1) in m and k (one codebook literal + nested
    * transforms); the per-subspace rule is unchanged term for term —
    * round-6(dot − |c|²/2) maximized with ties toward the larger j —
    * so codes stay bit-identical to the unrolled form and to
    * [[encodeKernel]] (AnnPqSpec pins both).
    */
  def encodeExpr(cb: Codebooks, v: Column): Column = {
    // an empty codebook would plan fine and fail only when executed
    require(cb.m > 0 && cb.k > 0, "encodeExpr needs at least one subspace and one centroid")
    val books = booksLit(cb)
    val halves = halvesLit(cb)
    transform(sequence(lit(0), lit(cb.m - 1)), mi => {
      val sub = slice(v, mi * lit(cb.subDim) + 1, lit(cb.subDim))
      val scored = transform(sequence(lit(0), lit(cb.k - 1)), j =>
        struct(
          round(SimilarityOps.dot(sub, element_at(element_at(books, mi + 1), j + 1))
            - element_at(element_at(halves, mi + 1), j + 1), 6).as("s"),
          j.as("j")))
      element_at(reverse(array_sort(scored)), 1).getField("j")
    })
  }

  /** [[encodeExpr]] as a JVM KERNEL — the big-k escape hatch: the
    * expression form materializes m×k scored-struct subtrees (k=64 ×
    * m=16 = 1,024 dot subexpressions) whose codegen COMPILE time
    * dominates a small corpus and bloats any plan it rides; this is
    * the same narrow per-row pass as a tight loop over the
    * closure-captured codebooks. Assignment rule identical:
    * round-6(dot − |c|²/2) maximized with ties toward the larger
    * centroid index; the round uses the same HALF_UP-on-decimal rule
    * as Spark's `round`, so kernel and expression agree bit-for-bit
    * (AnnPqSpec pins it). Input (idCol, cellCol, embCol) — the
    * `ivf.assigned` shape; output adds `code`.
    */
  def encodeKernel(
      df: DataFrame, idCol: String, cellCol: String, embCol: String,
      cb: Codebooks): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val books: Array[Array[Array[Double]]] = cb.books.map(_.toArray).toArray
    val halfNorms: Array[Array[Double]] =
      books.map(_.map(c => c.map(x => x * x).sum / 2))
    val subDim = cb.subDim
    df.select(col(idCol).cast("long"), col(cellCol).cast("int"),
        col(embCol).cast("array<double>"))
      .as[(Long, Int, Seq[Double])]
      .map { case (id, cell, emb) =>
        val v = emb.toArray
        val code = Array.tabulate(books.length) { mi =>
          val ks = books(mi)
          var best = 0
          var bestS = Double.NegativeInfinity
          var j = 0
          while (j < ks.length) {
            var dotv = 0.0
            var t = 0
            while (t < subDim) { dotv += v(mi * subDim + t) * ks(j)(t); t += 1 }
            val s = BigDecimal(dotv - halfNorms(mi)(j))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (s >= bestS) { bestS = s; best = j } // ties -> larger j
            j += 1
          }
          best
        }
        (id, cell, emb, code.toSeq)
      }.toDF(idCol, cellCol, embCol, "code")
  }

  /** [[lutExpr]]'s driver-side twin for the big-k path: the m×k dot
    * table of ONE query vector, computed in a JVM loop with the same
    * ascending-index summation [[SimilarityOps.dot]]'s fold uses (so
    * values are bit-identical). Callers attach the result as a plain
    * literal/column instead of riding 1,024 dot subtrees per plan.
    */
  def lutOf(cb: Codebooks, qv: Array[Double]): Array[Array[Double]] =
    Array.tabulate(cb.m) { mi =>
      cb.books(mi).map { c =>
        var acc = 0.0
        var t = 0
        while (t < cb.subDim) { acc += qv(mi * cb.subDim + t) * c(t); t += 1 }
        acc
      }.toArray
    }

  /** Reconstruction of a code: the chosen centroids concatenated back
    * to a dim-length array (the decoder side of ADC).
    */
  def reconstructExpr(cb: Codebooks, code: Column): Column = {
    // one codebook literal indexed by the stored code; flatten ==
    // concat of the m chosen sub-centroids in ascending m
    val books = booksLit(cb)
    flatten(transform(sequence(lit(0), lit(cb.m - 1)), mi =>
      element_at(element_at(books, mi + 1), element_at(code, mi + 1) + 1)))
  }

  /** ADC inner-product score of a query embedding against a stored
    * code, rounded to 6 decimals (the oracle-determinism cut). The
    * reconstruct-then-dot form — used by the exactness spec; the scan
    * path ([[query]]) uses the LUT form below, which computes the same
    * per-subspace partials but sums them per subspace (8 lookups per
    * candidate instead of 64 multiplies).
    */
  def adcScore(cb: Codebooks, qv: Column, code: Column): Column =
    round(SimilarityOps.dot(qv, reconstructExpr(cb, code)), 6)

  /** Per-query ADC lookup table: `lut[m][j]` = dot(query subvector m,
    * centroid j of subspace m) — M*K dots computed ONCE per query
    * (array<array<double>>), the table the compressed scan indexes
    * into.
    */
  def lutExpr(cb: Codebooks, qv: Column): Column = {
    val books = booksLit(cb)
    transform(sequence(lit(0), lit(cb.m - 1)), mi => {
      val sub = slice(qv, mi * lit(cb.subDim) + 1, lit(cb.subDim))
      transform(sequence(lit(0), lit(cb.k - 1)), j =>
        SimilarityOps.dot(sub, element_at(element_at(books, mi + 1), j + 1)))
    })
  }

  /** LUT-form ADC: sum of M table lookups per candidate. Summation
    * association is per-subspace partials in ascending m — the oracle
    * mirrors exactly this nesting (NOT a flat dim-length sum, which
    * associates differently in IEEE arithmetic).
    */
  def adcScoreLut(cb: Codebooks, lut: Column, code: Column): Column =
    round((0 until cb.m).map { mi =>
      element_at(element_at(lut, mi + 1), element_at(code, lit(mi + 1)) + 1)
    }.reduce(_ + _), 6)

  /** Top-`topK` corpus candidates per query by ADC score over the
    * ENCODED corpus (codes only — the compressed scan). Queries
    * broadcast; candidates never rehydrate their float vectors.
    */
  def query(
      cb: Codebooks,
      encoded: DataFrame, // (cIdCol, codeCol)
      queries: DataFrame, // (qIdCol, embCol)
      qIdCol: String, embCol: String, cIdCol: String, codeCol: String,
      topK: Int, lutCol: Option[String] = None): DataFrame = {
    val (qOut, cOut) =
      if (qIdCol == cIdCol) (s"${qIdCol}_q", s"${cIdCol}_c") else (qIdCol, cIdCol)
    // lutCol: the big-k path — queries already carry a precomputed
    // [[lutOf]] table; otherwise the LUT rides the plan as lutExpr
    val q = queries.select(
      col(qIdCol).as("__qid"),
      lutCol.map(col).getOrElse(
        lutExpr(cb, col(embCol).cast("array<double>"))).as("__lut"))
    val scored = encoded.select(col(cIdCol).as("__cid"), col(codeCol).as("__code"))
      .crossJoin(broadcast(q))
      .select(col("__qid").as(qOut), col("__cid").as(cOut),
        adcScoreLut(cb, col("__lut"), col("__code")).as("adc"))
    val w = Window.partitionBy(col(qOut)).orderBy(col("adc").desc, col(cOut))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }
}
