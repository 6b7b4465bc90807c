package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity / deduplication primitives for training-data pipelines:
  * MinHash+LSH banding, n-gram Jaccard, SimHash, and embedding cosine.
  * All pure Catalyst `Column` expressions over array/string built-ins —
  * no UDFs, so everything stays inside whole-stage codegen and the only
  * shuffles are the ones the *caller* introduces (the LSH band-bucket
  * join, the ANN bucket join).
  *
  * Hashing is MD5-based throughout: MD5 is engine-independent (the same
  * bytes hash identically in Spark, DuckDB, or anything else), which
  * makes every signature reproducible across systems — unlike
  * `hash()`/`xxhash64` whose seeds and mixing are engine-specific.
  *
  * Scale notes (100 TB): minhash signatures are O(docLen) per row with
  * no shuffle; candidate generation is an equi-join on (band, bandKey)
  * — a standard shuffle join whose key space grows with corpus size, so
  * it parallelizes across executors; the exact-Jaccard verification
  * only runs on candidate pairs (LSH's whole point).
  */
object SimilarityOps {

  // ------------------------------------------------------------ MinHash

  /** K min-hash values of a shingle-set column, as ONE array<string>
    * column. One md5 per shingle is sliced into up to 6 disjoint
    * 5-hex-digit (20-bit) chunks — 6 nearly independent uniform hashes
    * for the cost of ONE digest per shingle. For K > 6 a SECOND salted
    * digest `md5(s || "#2")` doubles the budget to 12 chunks (chunks
    * 7-12 slice the salted hash), so a banding like 6 × 2 — high recall
    * at J = 0.5 WITHOUT rows-per-band = 1's candidate explosion — fits
    * the signature. For K <= 6 the salted hash is never computed and
    * the signature is bit-identical to the historical single-md5 form.
    * The per-chunk minimum is taken in STRING order, a uniform random
    * permutation of the shingle universe just like a numeric minhash.
    *
    * Shape note: the digest(s) are bound as the lambda variable of a
    * single `aggregate` fold, so md5 runs once (twice for K > 6) per
    * shingle no matter how many chunks read it — a naive
    * `(0 until k).map(i => min(md5(seed_i ++ s)))` re-hashes the whole
    * array K times. Callers that fan the signature out into several
    * projections (band keys!) should materialize it behind a shuffle or
    * the optimizer will inline and recompute the fold per use.
    */
  def minhashSig(shingles: Column, k: Int): Column = {
    require(k <= 12, s"minhashSig slices at most two md5s = 12 chunks, got $k")
    // chunk i (0-based): i < 6 reads hex [1 + 5i, 5] of md5(s); i >= 6
    // reads hex [1 + 5(i-6), 5] of md5(s || "#2") = offset 33 + 5(i-6)
    // = 3 + 5i of the 64-char concat
    if (k <= 6)
      aggregate(
        transform(shingles, s => md5(s)),
        array_repeat(lit("g"), k), // "g" sorts after any hex digit
        (acc, h) => transform(acc, (m, i) => least(m, h.substr(lit(1) + i * lit(5), lit(5)))))
    else
      aggregate(
        transform(shingles, s => concat(md5(s), md5(concat(s, lit("#2"))))),
        array_repeat(lit("g"), k),
        (acc, h) => transform(acc, (m, i) => least(m,
          h.substr(lit(1) + i * lit(5) + when(i >= 6, lit(2)).otherwise(lit(0)), lit(5)))))
  }

  /** LSH band key: rows [lo, hi] (1-based) of a signature array hashed
    * to one bucket value. Docs sharing ANY band key are candidate pairs.
    */
  def bandKey(sig: Column, lo: Int, hi: Int): Column =
    md5((lo to hi).map(i => element_at(sig, i)).reduce((a, b) => concat(a, lit("|"), b)))

  /** Choose the banding (bands, rowsPerBand) for a target Jaccard
    * threshold, within the 12-chunk signature budget and with a HARD
    * rows-per-band >= 2 floor. A (b, r) banding recalls a pair of true
    * Jaccard J with probability 1 - (1 - J^r)^b; the chooser walks r
    * from most selective (6) down and returns the full-budget
    * (floor(12/r), r) whose recall AT the threshold clears 0.8 —
    * maximum selectivity subject to a recall floor:
    *
    *   threshold 0.5  → (6, 2)  recall 0.82 at J=0.5
    *   threshold 0.7  → (4, 3)  recall 0.81 at J=0.7
    *   threshold 0.9  → (2, 5)  recall 0.83 at J=0.9
    *   threshold 0.95 → (2, 6)  recall 0.93 at J=0.95
    *
    * r = 1 is deliberately OUT of the menu: a single-chunk band buckets
    * on one 20-bit minhash value, so bucket population scales with the
    * corpus' distinct-chunk frequencies — a measured candidate blow-up
    * (dedup_incremental 1.65 → 5.62 s at sf0.1 under 6 × 1) and a skew
    * hazard at 100 TB. The 12-chunk signature exists precisely so
    * J = 0.5 can have recall AND r = 2 selectivity. Below every
    * qualifying configuration (threshold ≲ 0.46) the chooser falls
    * back to (6, 2), the widest r >= 2 net in budget.
    *
    * The sign-LSH twin of `sizedPlanesPerBand`: the one sizing footgun
    * of a production near-dedup (banding chosen for a DIFFERENT
    * threshold silently halves recall — the default 3 × 2 recalls only
    * ~58% at J=0.5) encoded as code rather than a comment. Recall
    * floors for the chooser's picks are pinned in LshRecallSpec.
    */
  def sizedBanding(threshold: Double): (Int, Int) = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0, 1], got $threshold")
    def recall(b: Int, r: Int) = 1.0 - math.pow(1.0 - math.pow(threshold, r), b)
    (6 to 2 by -1).iterator
      .map(r => (12 / r, r))
      .find { case (b, r) => recall(b, r) >= 0.8 }
      .getOrElse((6, 2))
  }

  /** MinHash-LSH candidate pair generation — the one shared formulation
    * behind every near-dedup query: a bands×rows-chunk signature computed ONCE
    * and pinned with `persist(MEMORY_AND_DISK)` — the band projections
    * and both self-join sides read one cached signature relation (the
    * earlier `repartition` hint did NOT dedupe across union branches:
    * Catalyst replans each projection, so the fold ran ~6× and any
    * system noise was amplified by the recompute factor). Banded
    * 3 × 2 rows, candidates from the equi-join on (band, bkey) plus any
    * `blockKeys`. Returns DISTINCT (`aName`, `bName`) id pairs with
    * a < b. Callers verify with exact similarity on candidates only,
    * joining the set column back by id — the thin band shuffle beats
    * carrying sets through the self-join (measured at sf0.1: fat bands
    * save < 5% locally and triple the band shuffle bytes at scale).
    * Rows whose set column is EMPTY are dropped before signing: every
    * empty set shares the sentinel minhash accumulator, so short docs
    * would otherwise pile into one quadratic bucket (and 0/0 Jaccard
    * verification diverges across engines: a DIVIDE_BY_ZERO throw
    * under ANSI-on Spark — this build's default — and NaN in
    * DuckDB).
    *
    * Scale: the (band, bkey) key space grows with the corpus, so the
    * candidate join shuffle-partitions across executors at any size —
    * never a blocked all-pairs join. The persisted signature relation
    * is (id, blockKeys, 6 strings) per doc — tiny relative to the
    * corpus — and spills to disk if it outgrows executor memory.
    *
    * Recall bound: with `bands` bands of `rowsPerBand` rows, a pair
    * with true Jaccard J becomes a candidate with probability
    * 1 - (1 - J^rowsPerBand)^bands. At the default 3 × 2 that is ~58%
    * at J = 0.5, ~88% at J = 0.7, ~99.9% at J = 0.9; near-threshold
    * duplicates are missed with known probability, and the DuckDB
    * oracles mirror the identical banding, so CORRECTNESS compares
    * like with like. The S-curve is tunable within the 12-chunk
    * signature budget (`bands * rowsPerBand <= 12`): 6 × 2 lifts
    * recall at J = 0.5 to ~82% while keeping r = 2 selectivity; avoid
    * r = 1 (each band then buckets on a single 20-bit minhash, so
    * bucket population scales with corpus distinct-chunk frequencies —
    * a measured candidate blow-up and a 100 TB skew hazard); 2 × 5
    * goes the selective direction for high thresholds.
    * `sizedBanding(threshold)` picks the configuration from a target
    * Jaccard threshold — production callers should route through it
    * rather than hand-pick. LshRecallSpec measures 3 × 2, 6 × 2, and
    * the chooser's picks against exact all-pairs ground truth.
    */
  def lshCandidatePairs(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      setCol: String,
      blockKeys: Seq[String] = Nil,
      aName: String = "id_a",
      bName: String = "id_b",
      bands: Int = 3,
      rowsPerBand: Int = 2,
      bSideFilter: Option[Column] = None): org.apache.spark.sql.DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1 && bands * rowsPerBand <= 12,
      s"bands * rowsPerBand must fit the 12-chunk signature, got $bands x $rowsPerBand")
    val keyCols = idCol +: blockKeys
    val withSig = df
      .filter(size(col(setCol)) > 0)
      .select(keyCols.map(col) :+ minhashSig(col(setCol), bands * rowsPerBand).as("__sig"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandFrames = (0 until bands).map { bi =>
      withSig.select(keyCols.map(col) ++ Seq(lit(bi).as("__band"),
        bandKey(col("__sig"), rowsPerBand * bi + 1, rowsPerBand * (bi + 1)).as("__bkey")): _*)
    }.reduce(_ unionByName _)
    // incremental-dedup asymmetry: when only pairs whose HIGHER id
    // satisfies a predicate matter (a new batch deduped against the
    // corpus — "is doc_b a new doc?"), filtering the y side BEFORE the
    // join is semantically identical to filtering the pair output (the
    // predicate is a function of the y row alone) but shrinks the join's
    // right side from the whole corpus to the new batch — at 100 TB the
    // index side's band buckets then only ever pair against new-batch
    // buckets instead of re-pairing the historical corpus with itself.
    val yFrames = bSideFilter.fold(bandFrames)(bandFrames.filter)
    val joinCond = (Seq("__band", "__bkey") ++ blockKeys)
      .map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _) &&
      col(s"x.$idCol") < col(s"y.$idCol")
    bandFrames.as("x").join(yFrames.as("y"), joinCond)
      .select(col(s"x.$idCol").as(aName), col(s"y.$idCol").as(bName))
      .distinct()
  }

  // ------------------------------------------------------------ Jaccard

  /** Exact pre-verify size guard: J(a, b) >= t IMPLIES
    * min(|a|,|b|) >= t · max(|a|,|b|) (the intersection is at most the
    * smaller set, the union at least the larger), so a candidate pair
    * failing the size ratio can skip the O(|a|+|b|) intersection
    * entirely. Conjoin BEFORE the jaccard cut (`guard && jaccard >= t`
    * — And codegen short-circuits left-to-right): results can never
    * change, only verify cost. Caller contract: the columns are
    * already sets (distinct elements), as every sketch/digest column
    * in this module is — sizes are read raw, no dedup pass.
    */
  def jaccardSizeGuard(a: Column, b: Column, t: Double): Column =
    least(size(a), size(b)).cast("double") >=
      lit(t) * greatest(size(a), size(b)).cast("double")

  /** Exact Jaccard similarity of two array columns treated as sets. */
  def jaccard(a: Column, b: Column): Column = {
    val ad = array_distinct(a)
    val bd = array_distinct(b)
    // the intersection is referenced twice but INSTANTIATED once —
    // guaranteed, rather than hoping subexpression elimination pairs
    // up two array_intersect calls on the hot verify path
    val inter = size(array_intersect(ad, bd))
    inter.cast("double") / (size(ad) + size(bd) - inter).cast("double")
  }

  // ------------------------------------------------------------ SimHash

  /** 16-bit SimHash of a token array: bit j of the fingerprint is set
    * iff the sum over tokens of ±1 (sign = bit j of md5(token)) is
    * positive. Single `aggregate` fold with a 16-int vote accumulator —
    * md5 runs once per token. A narrow-width demonstration variant for
    * per-row use; corpus-scale banding needs `simhashAgg60` (64 buckets
    * per 6-bit band here vs 2^15 per 15-bit band there).
    */
  def simhash16(toks: Column, seed: String = ""): Column = {
    val votes = aggregate(
      transform(toks, t => conv(substring(md5(concat(lit(seed), t)), 1, 4), 16, 10).cast("int")),
      array_repeat(lit(0), 16),
      (acc, h) => transform(acc, (v, j) =>
        v + when(call_function("shiftright", h, j).bitwiseAND(1) === 1, 1).otherwise(-1)))
    (0 until 16).map { j =>
      when(element_at(votes, j + 1) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Corpus-scale SimHash: explode tokens, hash each ONCE, and reduce
    * the ±1 bit votes with a hash aggregation keyed on `idCol` — the
    * MapReduce formulation that partial-aggregates map-side and shuffles
    * only (id, 16 ints) per document. Returns (idCol, fp).
    */
  def simhashAgg(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      toksCol: Column,
      seed: String = ""): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(idCol), explode(toksCol).as("__tok"))
      .withColumn("__h",
        conv(substring(md5(concat(lit(seed), col("__tok"))), 1, 4), 16, 10).cast("int"))
    val votes = (0 until 16).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__v$j")
    }
    tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 16).map { j =>
          when(col(s"__v$j") > 0, lit(1 << j)).otherwise(lit(0))
        }.reduce(_ + _).as("fp"))
  }

  /** Corpus-scale 60-bit SimHash: explode tokens, md5 each ONCE, and
    * reduce the ±1 bit votes with a hash aggregation keyed on `idCol` —
    * the MapReduce formulation that partial-aggregates map-side and
    * shuffles only (id, 60 ints) per document. Returns (idCol, fp).
    *
    * Width rationale: 60 bits = the first 15 hex nibbles of one md5,
    * read as two conv() chunks (8 + 7 hex digits) so every intermediate
    * fits a signed long, and bit 59 is the highest bit ever set — no
    * sign-bit shifts anywhere, which keeps the fingerprint arithmetic
    * portable across engines (a 64-bit fp would need `1 << 63`, which
    * overflows DuckDB's checked left shift and ANSI long sums). Four
    * 15-bit bands give 2^15 buckets per band, so banded candidate
    * generation stays an equi-join with a corpus-sized key space — the
    * 16-bit variant's 64 buckets/band collapse into quadratic
    * within-bucket joins at scale.
    */
  def simhashAgg60(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      toksCol: Column,
      seed: String = ""): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(idCol), explode(toksCol).as("__tok"))
      .withColumn("__m", md5(concat(lit(seed), col("__tok"))))
      .select(col(idCol),
        conv(substring(col("__m"), 1, 8), 16, 10).cast("long").as("__h0"),
        conv(substring(col("__m"), 9, 7), 16, 10).cast("long").as("__h1"))
    val votes = (0 until 60).map { j =>
      val h = if (j < 32) shiftright(col("__h0"), j) else shiftright(col("__h1"), j - 32)
      sum(when(h.bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__v$j")
    }
    tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 60).map { j =>
          when(col(s"__v$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ bitwiseOR _).as("fp"))
  }

  /** 15-bit LSH band key of a 60-bit fingerprint: band `bi` (0..3)
    * covers bits [15*bi, 15*bi+14]. Pigeonhole: hamming <= 3 over 4
    * bands implies at least one identical band key.
    */
  def simhashBandKey(fp: Column, bi: Int): Column =
    shiftright(fp, bi * 15).bitwiseAND(lit(0x7FFFL))

  /** Hamming distance between two small integer fingerprints. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  // ---------------------------------------------------------- Winnowing

  /** Winnowing document sketches (the MOSS rolling-hash fingerprint):
    * hash every char k-gram, slide a w-wide window, keep each window's
    * minimum — guaranteeing any match of length >= w+k-1 shares a
    * selected hash. Computed per document as a NARROW typed map — the
    * documented last-resort case (genuine per-row imperative logic): a
    * rolling-window min needs a monotonic deque, which neither built-in
    * functions nor higher-order array expressions can express without
    * either a shuffle (the round-10 finding: explode + window moved one
    * row PER CHAR POSITION through an exchange, ~10x the text bytes) or
    * O(n·w) interpreted work (the round-11 finding: `transform(sequence)
    * -> array_min(slice)` re-scans w elements per position through
    * non-codegen HigherOrderFunction eval — measured 1.7x SLOWER than
    * even the shuffling window build at sf0.1). The JVM loop is O(n)
    * per document, hashes each gram exactly once, keeps the build
    * pipelined with the parquet scan (no Exchange — PlanContractSpec
    * pins it), and scales linearly with input splits.
    *
    * Engine parity (the sketch must hash-match the DuckDB oracle
    * rebuilding it in SQL): k-grams are CODE-POINT substrings — Spark's
    * `substring`/`length` and DuckDB's count Unicode code points, not
    * UTF-16 units — hashed as lowercase-hex md5 of their UTF-8 bytes,
    * truncated to 8 hex chars; window mins compare lexicographically
    * (equal-length lowercase hex, so byte order == varchar order); the
    * tail windows shorten exactly like `ROWS BETWEEN CURRENT ROW AND
    * w-1 FOLLOWING`. Returns (idCol long, sketch array<string>) —
    * sorted distinct window minima.
    *
    * Precondition: one input row per id. The per-row map emits one
    * sketch per ROW (the pre-round-11 explode+groupBy build merged
    * duplicate ids into one sketch — a different, and not obviously
    * more correct, semantics for what would be two distinct documents
    * sharing a key); a duplicated id diverges from the GROUP BY oracle
    * and fails the hash gate loudly rather than merging silently.
    */
  def winnowSketch(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: Column,
      k: Int = 5,
      w: Int = 8): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // texts shorter than k have no k-grams; filter with the COLUMN
    // length (code points) so the cut matches the gram loop's view
    df.filter(length(textCol) >= k)
      .select(col(idCol).cast("long"), textCol.cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hexDigits = "0123456789abcdef".toCharArray
        it.map { case (id, text) =>
          val cps = text.codePoints().toArray
          val m = cps.length - k + 1 // gram count (>= 1 by the filter)
          val grams = new Array[String](m)
          var i = 0
          while (i < m) {
            md.reset()
            val dig = md.digest(new String(cps, i, k).getBytes("UTF-8"))
            val hex = new Array[Char](8) // first 4 bytes -> 8 hex chars
            var b = 0
            while (b < 4) {
              hex(2 * b) = hexDigits((dig(b) >> 4) & 0xf)
              hex(2 * b + 1) = hexDigits(dig(b) & 0xf)
              b += 1
            }
            grams(i) = new String(hex)
            i += 1
          }
          // forward-looking window min over [i, min(i+w-1, m-1)] via a
          // monotonic deque of indices (front = current min), O(m) total
          val out = new java.util.TreeSet[String]()
          val deque = new Array[Int](m)
          var head = 0
          var tail = 0 // deque occupies [head, tail)
          // seed the first window [0, w-1]
          var j = 0
          while (j < math.min(w, m)) {
            while (tail > head && grams(deque(tail - 1)).compareTo(grams(j)) >= 0) tail -= 1
            deque(tail) = j; tail += 1
            j += 1
          }
          i = 0
          while (i < m) {
            out.add(grams(deque(head)))
            if (deque(head) == i) head += 1 // window's left edge leaves
            if (i + w < m) { // right edge grows unless clamped at tail
              val e = i + w
              while (tail > head && grams(deque(tail - 1)).compareTo(grams(e)) >= 0) tail -= 1
              deque(tail) = e; tail += 1
            }
            i += 1
          }
          (id, out.toArray(new Array[String](out.size)))
        }
      }
      .toDF(idCol, "sketch")
  }

  // ------------------------------------------------------------- Cosine

  /** Dot product of two double-array columns (sequential left fold —
    * deterministic summation order).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity of two double-array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  // ----------------------------------------------- random-hyperplane LSH

  /** Deterministic pseudo-random hyperplanes for sign-LSH: plane j's
    * component d is ±1 derived from md5("j_d") — computed driver-side,
    * embedded as literals, identical across runs and engines.
    */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { j =>
      Array.tabulate(dim) { d =>
        val h = md.digest(s"${j}_$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 1) 1.0 else -1.0
      }
    }
  }

  /** Sign-LSH bucket id of an embedding: one bit per hyperplane (sign of
    * the dot product), packed into an int. Vectors in the same bucket
    * are ANN candidates. The dot is rounded to 6 decimals BEFORE the
    * sign cut — the repo's oracle-determinism invariant (round before
    * any ranking/threshold cut) — so a last-ulp summation difference
    * between engines can never flip a bucket bit.
    */
  def signBucket(v: Column, planes: Seq[Array[Double]]): Column = {
    // NARROW form (r20, the AnnIvf.probeCells doctrine): one plane
    // literal + one fold instead of nPlanes unrolled dot subtrees —
    // O(1) tree size in planes and dim. Exact: the bit terms are
    // disjoint powers of two, so the left-fold sum (with its 0 seed)
    // equals the unrolled reduce bit for bit; the per-plane dot,
    // round-6 and sign cut are unchanged.
    // sequence(0, -1) counts DOWN to [0, -1]: an empty plane set would
    // plan fine and fail only when executed
    require(planes.nonEmpty, "signBucket needs at least one hyperplane")
    val planesL = typedLit(planes.map(_.toSeq))
    val pows = typedLit(planes.indices.map(j => 1 << j))
    aggregate(sequence(lit(0), lit(planes.size - 1)), lit(0), (acc, j) =>
      acc + when(round(dot(v, element_at(planesL, j + 1)), 6) > 0,
        element_at(pows, j + 1)).otherwise(lit(0)))
  }

  /** Long-packed variant for > 30 planes (wide multi-band keys). */
  def signBucketLong(v: Column, planes: Seq[Array[Double]]): Column = {
    require(planes.nonEmpty, "signBucketLong needs at least one hyperplane")
    val planesL = typedLit(planes.map(_.toSeq))
    val pows = typedLit(planes.indices.map(j => 1L << j))
    aggregate(sequence(lit(0), lit(planes.size - 1)), lit(0L), (acc, j) =>
      acc.bitwiseOR(when(round(dot(v, element_at(planesL, j + 1)), 6) > 0,
        element_at(pows, j + 1)).otherwise(lit(0L))))
  }

  /** Banded sign-LSH candidate pairs over an embedding column — the
    * scale path for embedding near-dedup. All `bands * planesPerBand`
    * sign bits fold into ONE pinned packed column (replicating the
    * plane-dot tree into each band projection makes planning/codegen
    * dominate); each band key is a bit-slice of it, and candidates come
    * from the (band, bkey) equi-join.
    *
    * SIZE the band width to the corpus: per-band bucket occupancy is
    * ~n / 2^planesPerBand and the within-bucket join is quadratic in
    * it, so planesPerBand ≈ log2(n) keeps occupancy O(1) — 8 bits
    * carries ~10^4-10^5 vectors, 1M wants ~20, billions want ~30.
    * Recall per pair at angle θ: [1 - (1 - (1-θ/π)^planesPerBand)
    * ^bands] — wider bands lower per-band recall, so raise `bands`
    * together with width when near-threshold recall matters.
    */
  /** The §PLANS.md-§8 sizing rule as code: planesPerBand ≈ log2(n)
    * keeps per-band bucket occupancy O(1) — each extra bit halves the
    * expected bucket population, so 2^planes ≈ n buckets holds the
    * within-bucket self-join linear. Clamped to [4, 20]: below 4 bits
    * even tiny corpora collide quadratically; the 60-bit long packing
    * caps 3 bands at 20. Callers with a known corpus size should pass
    * `planesPerBand = sizedPlanesPerBand(n)` instead of hand-tuning.
    */
  def sizedPlanesPerBand(expectedRows: Long): Int = {
    require(expectedRows > 0, s"expectedRows must be positive, got $expectedRows")
    val log2 = math.ceil(math.log(expectedRows.toDouble) / math.log(2.0)).toInt
    math.max(4, math.min(20, log2))
  }

  def signLshCandidatePairs(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      bands: Int = 3,
      planesPerBand: Int = 8,
      aName: String = "id_a",
      bName: String = "id_b"): org.apache.spark.sql.DataFrame = {
    val nPlanes = bands * planesPerBand
    require(nPlanes <= 60, s"at most 60 planes (long packing), got $nPlanes")
    val planes = hyperplanes(nPlanes, dim)
    val mask = (1L << planesPerBand) - 1
    val bucketed = df
      .select(col(idCol), signBucketLong(col(vecCol), planes).as("__bits"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandFrames = (0 until bands).map { bi =>
      bucketed.select(col(idCol), lit(bi).as("__band"),
        shiftright(col("__bits"), planesPerBand * bi).bitwiseAND(lit(mask)).as("__bkey"))
    }.reduce(_ unionByName _)
    bandFrames.as("x").join(bandFrames.as("y"),
        col("x.__band") === col("y.__band") && col("x.__bkey") === col("y.__bkey") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as(aName), col(s"y.$idCol").as(bName))
      .distinct()
  }

  /** Sparse tf-idf pairwise cosine over an inverted index (the
    * bag-of-words twin of the embedding dedup paths): tokenize → term
    * frequencies → df-prune → self-join the postings on the term →
    * hash-agg the dot products → exact integer threshold. The classic
    * all-pairs-similarity bound applies: candidate volume is Σ_t df(t)²
    * over SURVIVING terms, so the `maxDfFrac` prune (drop terms in more
    * than that fraction of the corpus — stopwords carry no similarity
    * signal anyway) is what caps the join, exactly as in Bayardo et
    * al., "Scaling Up All Pairs Similarity Search" (WWW 2007).
    *
    * Determinism: weights are exact integers — w = tf · bitlen(N ⁄ df)
    * (the integer-log idf, [[graft.plans.BinLength]] — `ln` is not
    * cross-engine-stable, bit-length is); dots and norms are exact
    * integer sums; the cosine threshold is the all-integer comparison
    * num²·dot² ≥ den²·‖a‖²·‖b‖² for minCos = num/den, so no IEEE op
    * decides membership. The reported cosine is the closing IEEE
    * sequence (three casts, multiply, sqrt, divide — all correctly
    * rounded), rounded at 6.
    */
  def tfidfPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minCosNum: Int,
      minCosDen: Int,
      minDf: Int = 2,
      maxDfFrac: Int = 20): DataFrame = {
    require(minCosNum > 0 && minCosDen >= minCosNum,
      s"minCos must be a fraction in (0,1], got $minCosNum/$minCosDen")
    val tf = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("__term"))
      .filter(col("__term") =!= "")
      .groupBy(col(idCol), col("__term")).agg(count(lit(1)).as("__tf"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val df_ = tf.groupBy(col("__term")).agg(count(lit(1)).as("__df"))
    // the idf join is term-dictionary-sized; the corpus-count scalar
    // broadcasts as a 1-row frame (the txt_bm25 shape)
    val w = tf.join(df_, Seq("__term")).crossJoin(broadcast(n))
      .filter(col("__df") * maxDfFrac <= col("__n") && col("__df") >= minDf)
      .select(col(idCol), col("__term"),
        (col("__tf") * graft.plans.BinLength.binLen(
          (col("__n") / col("__df")).cast("long")).cast("long"))
          .cast("decimal(38,0)").as("__w"))
    val nrm = w.groupBy(col(idCol))
      .agg(sum(col("__w") * col("__w")).as("__nn"))
    val dots = w.as("a").join(w.as("b"),
        col("a.__term") === col("b.__term") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .agg(sum(col("a.__w") * col("b.__w")).as("__dot"))
    val num2 = lit(minCosNum.toLong * minCosNum)
    val den2 = lit(minCosDen.toLong * minCosDen)
    dots
      .join(nrm.select(col(idCol).as("d1"), col("__nn").as("__n1")), Seq("d1"))
      .join(nrm.select(col(idCol).as("d2"), col("__nn").as("__n2")), Seq("d2"))
      .filter(den2 * col("__dot") * col("__dot") >= num2 * col("__n1") * col("__n2"))
      .select(col("d1"), col("d2"), col("__dot").cast("long").as("dot"),
        round(col("__dot").cast("double") /
          sqrt(col("__n1").cast("double") * col("__n2").cast("double")), 6).as("cos"))
  }

  /** Banded hamming candidate pairs over a small integer fingerprint
    * (aHash/pHash/simhash up to 64 bits): the fingerprint is cut into
    * `bands` disjoint `bandBits`-bit slices and docs pair iff SOME
    * slice matches exactly — an equi-join on (band, slice, blockKeys)
    * that shuffle-partitions at any corpus size, never an all-pairs
    * XOR scan. Pigeonhole-COMPLETE for hamming ≤ bands − 1 (that few
    * differing bits cannot dirty every band), so a verify cut at
    * maxHamming ≤ bands − 1 loses nothing — the same guarantee
    * simhashAgg60's 4×15 banding rides. Emits one row per surviving
    * pair with its exact hamming distance (band multiplicity collapsed
    * by the distinct on pair identity).
    */
  def hammingCandidatePairs(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      bandBits: Int,
      bands: Int,
      maxHamming: Int,
      blockKeys: Seq[String] = Nil,
      aName: String = "id_a",
      bName: String = "id_b"): DataFrame = {
    require(bandBits >= 1 && bands >= 1 && bandBits * bands <= 64,
      s"banding must fit 64 bits, got $bands x $bandBits")
    require(maxHamming <= bands - 1,
      s"banding is only complete for hamming <= ${bands - 1}, got cut $maxHamming")
    val mask = lit((1L << bandBits) - 1)
    val bandFrames = (0 until bands).map { b =>
      df.select((Seq(col(idCol), col(hashCol)) ++ blockKeys.map(col)) ++ Seq(
        lit(b).as("__band"),
        shiftright(col(hashCol), b * bandBits).bitwiseAND(mask).as("__bkey")): _*)
    }.reduce(_ unionByName _)
    val joinCond = (Seq("__band", "__bkey") ++ blockKeys)
      .map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _) &&
      col(s"x.$idCol") < col(s"y.$idCol")
    bandFrames.as("x").join(bandFrames.as("y"), joinCond)
      .select(col(s"x.$idCol").as(aName), col(s"y.$idCol").as(bName),
        hamming(col(s"x.$hashCol"), col(s"y.$hashCol")).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Containment near-dup pairs — C(A, B) = |A ∩ B| ⁄ min(|A|, |B|) —
    * the doc-IN-doc detector resemblance misses: a short document
    * quoted whole inside a long one has containment ≈ 1 but Jaccard ≈
    * |A|/|B| ≈ 0, so minhash-LSH (which approximates JACCARD) never
    * surfaces the pair. Candidates come from an inverted shingle index
    * instead: two docs pair iff they share at least one surviving
    * shingle, and the exact shared-count falls out of the SAME join
    * (group the postings self-join by pair — no second verify pass over
    * the sets). The `maxDf` prune bounds the join: candidate volume is
    * Σ_g df(g)² ≤ maxDf · Σ_g df(g) = maxDf · |index| — linear in the
    * corpus for a fixed cap (the Bayardo WWW'07 bound, as in
    * [[tfidfPairs]]). Semantics are defined on the PRUNED universe
    * (sizes and intersections both count surviving shingles only):
    * boilerplate-grams that blanket the corpus carry no containment
    * signal, exactly as stopwords carry no cosine signal.
    *
    * Determinism: sizes and shared counts are exact integers; the
    * membership cut is the all-integer test den·shared ≥
    * num·min(|A|,|B|); the reported containment is the one closing
    * cast-cast-divide, rounded at 6.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      setCol: String,
      minContainNum: Int,
      minContainDen: Int,
      maxDf: Int): DataFrame = {
    require(minContainNum > 0 && minContainDen >= minContainNum,
      s"minContain must be a fraction in (0,1], got $minContainNum/$minContainDen")
    require(maxDf >= 2, s"maxDf < 2 prunes every pairable shingle, got $maxDf")
    val posts = df.select(col(idCol), explode(col(setCol)).as("__g"))
    val dfreq = posts.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    // pin the pruned index once: it feeds the size agg and BOTH sides
    // of the pair join (the lshCandidatePairs persist doctrine)
    val surv = posts.join(dfreq.filter(col("__df") <= maxDf), Seq("__g"))
      .select(col(idCol), col("__g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sz = surv.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    val shared = surv.as("a").join(surv.as("b"),
        col("a.__g") === col("b.__g") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sz.select(col(idCol).as("d1"), col("__sz").as("__s1")), Seq("d1"))
      .join(sz.select(col(idCol).as("d2"), col("__sz").as("__s2")), Seq("d2"))
      .filter(lit(minContainDen.toLong) * col("shared") >=
        lit(minContainNum.toLong) * least(col("__s1"), col("__s2")))
      .select(col("d1"), col("d2"), col("shared"),
        col("__s1").as("n1"), col("__s2").as("n2"),
        round(col("shared").cast("double") /
          least(col("__s1"), col("__s2")).cast("double"), 6).as("containment"))
  }
}
