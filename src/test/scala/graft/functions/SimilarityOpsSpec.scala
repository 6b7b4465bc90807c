package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilarityOpsSpec extends SparkSpec {
  import spark.implicits._

  test("jaccard on known sets") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(SimilarityOps.jaccard(col("x"), col("y"))).head().getDouble(0)
    assert(j == 0.5) // |{b,c}| / |{a,b,c,d}|
    val dup = Seq((Seq("a", "a", "b"), Seq("b", "a"))).toDF("x", "y")
    assert(dup.select(SimilarityOps.jaccard(col("x"), col("y"))).head().getDouble(0) == 1.0)
  }

  test("minhash signatures are deterministic and identical sets collide") {
    val df = Seq(
      (1L, Seq("x y z", "y z w")),
      (2L, Seq("y z w", "x y z")), // same set, different order
      (3L, Seq("completely", "different"))).toDF("id", "sh")
    val rows = df.select(col("id"), SimilarityOps.minhashSig(col("sh"), 4).as("sig"))
      .orderBy("id").collect().map(_.getSeq[String](1))
    assert(rows(0) == rows(1)) // order-insensitive
    assert(rows(0) != rows(2))
    assert(rows(0).length == 4 && rows(0).forall(_.length == 5))
    // band keys over equal signatures are equal
    val keys = df.select(SimilarityOps.bandKey(
      SimilarityOps.minhashSig(col("sh"), 4), 1, 2)).collect().map(_.getString(0))
    assert(keys(0) == keys(1) && keys(0) != keys(2))
  }

  test("simhashAgg matches the per-row simhash16 expression") {
    val df = Seq(
      (1L, Seq("spark", "scala", "data", "data")),
      (2L, Seq("entirely", "other", "words"))).toDF("id", "toks")
    val expr16 = df.select(col("id"), SimilarityOps.simhash16(col("toks")).as("fp"))
      .orderBy("id").collect().map(_.getInt(1))
    val agg16 = SimilarityOps.simhashAgg(df, "id", col("toks"))
      .orderBy("id").collect().map(_.getInt(1))
    assert(expr16.toSeq == agg16.toSeq)
  }

  test("simhashAgg60: identical docs collide, sub-quadratic band candidates") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val fps = SimilarityOps.simhashAgg60(docs, "doc_id", split(col("text"), " "))
    val n = fps.count()
    // fingerprints span well beyond 16 bits (the old width): some doc
    // must set a bit above 2^16
    assert(fps.filter(col("fp") > (1L << 16)).count() > 0)
    // determinism: recomputation is identical
    val a = fps.orderBy("doc_id").collect().map(_.getLong(1))
    val b = SimilarityOps.simhashAgg60(docs, "doc_id", split(col("text"), " "))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(a.toSeq == b.toSeq)
    // banded candidate generation must stay far below all-pairs: with
    // 2^15 buckets per band, unrelated docs almost never collide (the
    // 16-bit/64-bucket variant put ~n/64 docs in EVERY bucket)
    val bands = (0 until 4).map { bi =>
      fps.select(col("doc_id"), lit(bi).as("band"),
        SimilarityOps.simhashBandKey(col("fp"), bi).as("bkey"))
    }.reduce(_ unionByName _)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select("x.doc_id", "y.doc_id").distinct().count()
    val allPairs = n * (n - 1) / 2
    assert(cand < allPairs / 20, s"candidates $cand vs all pairs $allPairs")
  }

  test("simhash: identical token sets get identical fingerprints; hamming 0") {
    val df = Seq(
      (1L, Seq("spark", "scala", "data")),
      (2L, Seq("spark", "scala", "data")),
      (3L, Seq("entirely", "other", "words"))).toDF("id", "toks")
    val fp = df.select(col("id"), SimilarityOps.simhash16(col("toks")).as("fp"))
      .orderBy("id").collect().map(_.getInt(1))
    assert(fp(0) == fp(1))
    val ham = df.select(SimilarityOps.hamming(lit(fp(0)), lit(fp(2)))).head().getInt(0)
    assert(ham >= 0 && ham <= 16)
  }

  test("cosine matches hand computation") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(1.0, 1.0), Seq(1.0, 1.0)))
      .toDF("a", "b")
    val cs = df.select(SimilarityOps.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(cs(0)) < 1e-12)
    assert(math.abs(cs(1) - 1.0) < 1e-12)
  }

  test("hyperplanes are deterministic across calls") {
    val a = SimilarityOps.hyperplanes(4, 16)
    val b = SimilarityOps.hyperplanes(4, 16)
    assert(a.map(_.toSeq) == b.map(_.toSeq))
    assert(a.flatten.toSet == Set(-1.0, 1.0))
  }

  test("IVF ANN: probing more cells converges to brute force") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val index = AnnIvf.build(
      e.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "c_id"),
      "embedding", k = 16)
    def hits(nProbe: Int): Set[(Long, Long)] =
      AnnIvf.query(index, e.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "q_id"),
        "q_id", topK = 5, nProbe = nProbe, cIdCol = "c_id")
        .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    val brute = graft.queries.QueryLib.queries("sim_cosine_topk")(spark, dir)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallAll = (hits(16).map(_.swap) intersect brute).size.toDouble / brute.size
    assert(recallAll == 1.0, s"nProbe=k must equal brute force, got $recallAll")
    val r4 = (hits(4).map(_.swap) intersect brute).size.toDouble / brute.size
    val r8 = (hits(8).map(_.swap) intersect brute).size.toDouble / brute.size
    assert(r8 >= r4, s"recall must be monotone in nProbe: r4=$r4 r8=$r8")
    assert(r4 > 0.0)
  }

  test("sign-LSH ANN returns correctly-scored candidate pairs") {
    // the testdata embeddings are uniform random (no planted clusters),
    // so recall@k is not a meaningful bar — what must hold is that the
    // ANN path returns real bucket-mates with exactly the same cosine
    // the exhaustive scorer computes for those pairs
    val dir = "/root/testdata/sf0.001"
    val ann = graft.queries.QueryLib.queries("sim_ann_lsh")(spark, dir)
      .collect().map(r => ((r.getLong(1), r.getLong(0)), r.getDouble(2))).toMap
    assert(ann.nonEmpty)
    assert(ann.values.forall(c => c >= -1.0 && c <= 1.0))
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("q_id"), col("v").as("qv"))
    val b = e.select(col("vec_id").as("c_id"), col("v").as("cv"))
    val exact = a.join(b, col("q_id") < col("c_id"))
      .filter(col("q_id").isin(ann.keys.map(_._2).toSeq: _*))
      .select(col("q_id"), col("c_id"),
        round(SimilarityOps.cosine(col("qv"), col("cv")), 6).as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    ann.foreach { case ((c_id, q_id), cos) =>
      assert(exact((q_id, c_id)) == cos, s"pair ($q_id,$c_id)")
    }
  }

  test("tfidfPairs scores the hand-computed inverted-index cosines") {
    import spark.implicits._
    // docs: 1 = "a b a", 2 = "a b", 3 = "a c"; c is pruned at minDf=2.
    // idf = bitlen(3 // df) = 1 for both survivors, so
    // w(1) = {a:2, b:1} nn=5 ; w(2) = {a:1, b:1} nn=2 ; w(3) = {a:1} nn=1.
    // dots: (1,2)=3, (1,3)=2, (2,3)=1. At minCos = 3/4 the integer test
    // 16·dot² >= 9·n1·n2 keeps (1,2) [144>=90] and (1,3) [64>=45],
    // drops (2,3) [16<18].
    val docs = Seq((1L, "a b a"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = SimilarityOps.tfidfPairs(docs, "doc_id", "text",
        minCosNum = 3, minCosDen = 4, minDf = 2, maxDfFrac = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq((1L, 2L, 3L, 0.948683), (1L, 3L, 2L, 0.894427)))
    intercept[IllegalArgumentException](
      SimilarityOps.tfidfPairs(docs, "doc_id", "text", minCosNum = 5, minCosDen = 4))
  }

  test("hammingCandidatePairs: banded equi-join finds all pairs within the pigeonhole bound") {
    import spark.implicits._
    // 15 vs 14 differ in one bit; 0 is hamming 4/3 away — only (1,2)
    // survives the cut, found via the three clean high bands
    val df = Seq((1L, 15L), (2L, 14L), (3L, 0L)).toDF("id", "h")
    val out = SimilarityOps.hammingCandidatePairs(df, "id", "h",
        bandBits = 4, bands = 4, maxHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 2L, 1)))
    // a cut past bands-1 would silently lose pairs: refuse it
    intercept[IllegalArgumentException](SimilarityOps.hammingCandidatePairs(
      df, "id", "h", bandBits = 4, bands = 4, maxHamming = 4))
    // block keys fence the join: same hashes, different blocks, no pair
    val blocked = Seq((1L, 15L, "en"), (2L, 14L, "de")).toDF("id", "h", "lang")
    assert(SimilarityOps.hammingCandidatePairs(blocked, "id", "h",
      bandBits = 4, bands = 4, maxHamming = 1, blockKeys = Seq("lang")).count() == 0L)
  }

  test("containmentPairs finds doc-in-doc pairs resemblance would miss") {
    import spark.implicits._
    // doc 1 (5 shingles) is fully contained in doc 2 (10): containment
    // = 1.0 while Jaccard is only 5/10 — below any dedup cut
    val docs = Seq(
      (1L, Seq("a", "b", "c", "d", "e")),
      (2L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")),
      (3L, Seq("x", "y")),
      (4L, Seq("a", "b"))).toDF("doc_id", "sh")
    val out = SimilarityOps.containmentPairs(docs, "doc_id", "sh",
        minContainNum = 4, minContainDen = 5, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq((1L, 2L, 5L, 1.0), (1L, 4L, 2L, 1.0), (2L, 4L, 2L, 1.0)))
    // sizes are defined on the PRUNED universe: maxDf=2 drops a and b
    // (df=3), so doc 4 vanishes and doc 1 becomes {c,d,e} inside doc 2
    val pruned = SimilarityOps.containmentPairs(docs, "doc_id", "sh",
        minContainNum = 4, minContainDen = 5, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(pruned.toSeq == Seq((1L, 2L, 3L, 3L, 8L, 1.0)))
  }

  test("sizedPlanesPerBand follows ceil(log2(n)) clamped to [4, 20]") {
    assert(SimilarityOps.sizedPlanesPerBand(1) == 4)       // floor clamp
    assert(SimilarityOps.sizedPlanesPerBand(500) == 9)     // ceil(log2 500)
    assert(SimilarityOps.sizedPlanesPerBand(5000) == 13)
    assert(SimilarityOps.sizedPlanesPerBand(1000000) == 20)
    assert(SimilarityOps.sizedPlanesPerBand(1L << 40) == 20) // cap clamp
    intercept[IllegalArgumentException](SimilarityOps.sizedPlanesPerBand(0))
  }

  test("signBucket rejects an empty plane set when the plan is built") {
    val e = intercept[IllegalArgumentException](SimilarityOps.signBucket(col("v"), Nil))
    assert(e.getMessage.contains("at least one hyperplane"))
  }

  test("signBucketLong rejects an empty plane set when the plan is built") {
    val e = intercept[IllegalArgumentException](SimilarityOps.signBucketLong(col("v"), Nil))
    assert(e.getMessage.contains("at least one hyperplane"))
  }
}
