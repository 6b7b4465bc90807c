package graft.queries

import graft.SparkSpec

/** Physical-plan contracts for the query inventory: structural
  * properties that decide 100 TB behavior, pinned as tests so a
  * refactor can't silently reintroduce a disease the bench already
  * paid for once — the ~8x sketch replan (round 4: 32 parquet scans,
  * 0 ReusedExchange in dedup_winnow) or an accidental cartesian.
  * Plans are inspected at sf0.001; plan SHAPE is scale-invariant.
  */
class PlanContractSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    QueryLib.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def count(plan: String, needle: String): Int =
    needle.r.findAllIn(plan).size

  // The deliberate exceptions, all bounded by construction:
  // sim_embed_dedup is the 500-vector brute-force ANN verifier
  // baseline — and carries its own hard require(n <= 2048) so this
  // exemption cannot silently bless a scaled-up all-pairs join;
  // sim_cosine_topk broadcasts 10 query vectors into a
  // nested-loop scoring join; txt_keywords broadcasts the 1-row corpus
  // size scalar; sim_label_centroid broadcasts the 10-row centroid
  // frame into the assignment join.
  // dq_events and q_drift_hist cross-join 1-row aggregate totals;
  // doc_mixture_sample cross-joins the 1-row min-source count into the
  // per-source rate table (both metadata-sized by construction).
  private val cartesianAllowed = Set("sim_embed_dedup")
  // txt_bm25 broadcasts the 1-row (N, avgdl) corpus-stats scalar, the
  // same shape as txt_keywords' corpus-size broadcast.
  // q_rolling_distinct_hll cross-joins the (keys × days) grid with the
  // 256-row register-index range — the DENSE register grid is
  // O(|keys|·|days|·256) metadata by construction, never corpus-sized.
  private val nestedLoopAllowed =
    Set("sim_embed_dedup", "sim_cosine_topk", "txt_keywords", "sim_label_centroid",
      "dq_events", "q_drift_hist", "doc_mixture_sample", "sim_ann_pq", "txt_bm25",
      "q_rolling_distinct_hll",
      // txt_unigram_surprisal broadcasts the 1-row (N, V) corpus scalar,
      // the same shape as txt_keywords / txt_bm25
      "txt_unigram_surprisal",
      // q_kmv_overlap broadcasts the 1-row theta scalar into the
      // k-bounded sketch probe — metadata-sized by construction
      "q_kmv_overlap",
      // txt_bigram_surprisal broadcasts the 1-row (N, V) corpus scalar,
      // the same shape as txt_unigram_surprisal
      "txt_bigram_surprisal",
      // dq_expectations folds each table's 1-row wide report with the
      // 1-row Unique/ForeignKey counts (dq_events' shape, per table)
      "dq_expectations",
      // txt_tfidf_pairs broadcasts the 1-row corpus-count scalar into
      // the df-prune, the txt_bm25 shape
      "txt_tfidf_pairs",
      // q_market_basket broadcasts the 1-row basket-count scalar into
      // the result-sized rule table
      "q_market_basket",
      // q_ab_assign / q_cuped broadcast the 1-row totals/θ scalar into
      // the variant rollup; ml_lift_table additionally broadcasts the
      // 20-row bucket spine into the score-dictionary non-equi probe —
      // both sides metadata-sized by construction
      "q_ab_assign", "q_cuped", "ml_lift_table",
      // ml_naive_bayes fans the doc-length frame by the |classes|-row
      // class-stats broadcast (plus the 1-row vocab/doc-count scalars
      // inside it); the vocabulary-sized model table rides a broadcast
      // HASH join (closed marker vocabulary here — classify's
      // broadcastModel=false flips it to a token-keyed shuffle for
      // open vocabularies). The corpus-sized side never broadcasts
      "ml_naive_bayes",
      // ml_cohen_kappa folds two 1-row aggregate frames (diag/total x
      // expected-agreement) — dq_events' 1-row-scalar shape
      "ml_cohen_kappa",
      // doc_mixture_temperature cross-joins the 1-row min-source count
      // into the per-source rate table — doc_mixture_sample's shape
      "doc_mixture_temperature",
      // sim_hard_negatives broadcasts the 10 anchor vectors into the
      // scoring join — sim_cosine_topk's shape, different rank window
      "sim_hard_negatives",
      // sim_hybrid_rrf: the BM25 leg's 1-row (N, avgdl) corpus scalar
      // (txt_bm25's shape) plus the 1-row query vector into the cosine
      // leg — both metadata-sized; the fusion join itself is a
      // full-outer EQUI join over two ≤50-row rank lists
      "sim_hybrid_rrf",
      // ml_ndcg broadcasts the 10 query vectors into the scoring join —
      // sim_cosine_topk's shape with label-match relevance on top
      "ml_ndcg",
      // ml_pr_curve probes the value dictionary with the broadcast
      // 20-row threshold spine (non-equi >=) and folds the 1-row
      // positives total — ml_lift_table's bucket-spine shape
      "ml_pr_curve",
      // ml_bootstrap_ci explodes the purchase stream by the broadcast
      // 100-row replicate spine (the Poisson bootstrap's one-pass
      // shape) and folds the two 1-row CI order-stat frames
      "ml_bootstrap_ci",
      // doc_dsir_* fold the 1-row (R, T) model-normalizer scalar into
      // the <=1024-row bucket log-ratio table — both metadata-sized by
      // construction (dq_events' 1-row-scalar shape)
      "doc_dsir_weights", "doc_dsir_sample",
      // q_interleave_sources cross-joins the 1-row source-count scalar
      // into the positioned corpus — txt_keywords' corpus-size shape
      "q_interleave_sources",
      // sim_prefix_rerank broadcasts the 10 query vectors into the
      // stage-1 prefix scoring join — sim_cosine_topk's shape
      "sim_prefix_rerank",
      // doc_mixture_tokens cross-joins the 1-row min-token-mass scalar
      // into the per-source rate table — doc_mixture_sample's shape
      "doc_mixture_tokens",
      // the heavy-hitter gates cross-join the broadcast 1-row total-n
      // scalar into the ≤(partitions × capacity)-key recount — both
      // sides metadata-sized by the MG construction
      "q_approx_topk", "fs_stream_topk",
      // txt_perplexity folds the 1-row train-vocab scalar into the
      // scored bigrams — txt_keywords' corpus-size shape; the trigram
      // gate folds the same 1-row (N, V) scalar into its scored grams
      "txt_perplexity", "txt_perplexity3")

  // Queries whose BUILD already executes jobs (store write paths, the
  // streaming gates driving whole pipelines to completion) — expensive
  // to instantiate here, structurally covered by their own specs
  // (TxLogSpec, FeatureStoreSpec, StreamingSpec), and the returned
  // frame is just a facade read / memory-sink scan anyway.
  private val skipBuild =
    Set("fs_store_roundtrip", "fs_store_txlog", "fs_store_delete_rows",
      "fs_store_update_rows", "fs_store_changes", "fs_store_evolve", "fs_store_merge",
      "fs_store_restore", "fs_store_check", "fs_incremental_agg", "fs_describe",
      "fs_store_zorder", "fs_fast_stats",
      // ingest round-trips stage a text write at build time and pin
      // the parsed frame (the quarantine contract)
      "src_csv_roundtrip", "src_json_roundtrip", "src_orc_roundtrip",
      // writes two bucketed catalog tables at build time; its
      // shuffle-free join contract has its own dedicated test below
      "fs_store_bucketed",
      "fs_training_frame", "fs_transform_dag",
      "fs_stream_sink", "fs_stream_delta", "fs_stream_iceberg", "fs_stream_window", "fs_stream_window_wm", "fs_stream_m4", "fs_stream_session", "fs_stream_session_wm",
      "fs_stream_dedup", "fs_stream_attrib", "fs_stream_attrib_outer",
      "fs_stream_enrich", "fs_stream_hll", "fs_stream_ewma",
      "fs_stream_dedup_lsh", "fs_stream_quantile", "fs_stream_cms", "fs_stream_kmv",
      "fs_stream_cusum", "fs_stream_anomaly", "fs_stream_gini", "fs_stream_auc",
      "fs_stream_drift", "fs_stream_confusion",
      // iterative trainers: their BUILD runs the full job sequence
      // (pageRank's nodes.count + per-iteration joins; BPE's 3 merge
      // rounds with a collect each) just to stringify the final frame
      "graph_pagerank", "txt_bpe_train", "txt_bpe_train_batched", "txt_bpe_encode",
      // builds the eval-gram bloom eagerly (count + stat.bloomFilter
      // jobs) and persists the gram frame — plan stringification would
      // execute jobs and leak cache; its joins are plain equi-joins,
      // gate- and bench-covered
      "txt_decontam_bloom")

  test("no query plans a cartesian or an unexpected nested-loop join") {
    val violations = QueryLib.all.map(_.name).filterNot(skipBuild).flatMap { n =>
      val p = plan(n)
      val cart = count(p, "CartesianProduct")
      val bnlj = count(p, "BroadcastNestedLoopJoin")
      val bad =
        (if (cart > 0 && !cartesianAllowed(n)) Seq(s"$n: $cart CartesianProduct") else Nil) ++
        (if (bnlj > 0 && !nestedLoopAllowed(n)) Seq(s"$n: $bnlj BroadcastNestedLoopJoin") else Nil)
      bad
    }
    assert(violations.isEmpty, violations.mkString("; "))
  }

  test("sim_hybrid_rrf cuts each leg with a distributed top-k before fusing") {
    // both legs must reach their top-50 via TakeOrderedAndProject (the
    // distributed heap cut) — a global Sort before the limit would
    // funnel the corpus through one task and break the "fusion cost is
    // corpus-size-independent" contract
    val p = plan("sim_hybrid_rrf")
    assert(count(p, "TakeOrderedAndProject") >= 2,
      s"legs should cut via TakeOrdered, not a global sort:\n$p")
  }

  test("q_sessionize rides a single hash exchange") {
    assert(count(plan("q_sessionize"), "Exchange hashpartitioning") === 1)
  }

  test("fs_asof_join rides the window's single hash exchange") {
    // union(left, right) -> Exchange(by) -> Sort(time, M, value) ->
    // Window -> Filter. A second Exchange means the duplicate-collapse
    // aggregate crept back onto the raw-scan path (the round-13
    // 0.37s -> 0.80s drift: the agg shuffled the whole right side a
    // second time on (by, time) before the window's (by) exchange).
    val p = plan("fs_asof_join")
    assert(count(p, "Exchange hashpartitioning") === 1,
      s"as-of join should shuffle exactly once:\n$p")
    assert(!p.contains("HashAggregate"), s"unexpected pre-collapse agg:\n$p")
  }

  test("keyed as-of with several value columns collapses ties in exactly two exchanges") {
    // the multi-value-column path (uniqueness unknown) legitimately pays
    // the collapse agg: one exchange for the (by, time) hash-agg, one
    // for the (by) window — pinned so neither a third exchange nor a
    // silent loss of the tie collapse can creep in.
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val right = spark.range(100).select(
      (col("id") % 5).as("k"),
      org.apache.spark.sql.functions.timestamp_micros(col("id") * 1000000L).as("time"),
      col("id").cast("double").as("v1"), (col("id") * 2).cast("double").as("v2"))
    val left = spark.range(50).select(
      (col("id") % 5).as("k"),
      org.apache.spark.sql.functions.timestamp_micros(col("id") * 2000000L).as("time"),
      col("id").as("label"))
    val out = graft.ops.TimeseriesOps.asofJoin(left, right, Seq("v1", "v2"), by = Seq("k"))
    val p = out.queryExecution.executedPlan.toString
    assert(count(p, "Exchange hashpartitioning") === 2,
      s"multi-column as-of should shuffle exactly twice:\n$p")
    // and the rightUnique promise drops back to one
    val pu = graft.ops.TimeseriesOps
      .asofJoin(left, right.dropDuplicates("k", "time"), Seq("v1", "v2"),
        by = Seq("k"), rightUnique = true)
      .queryExecution.executedPlan.toString
    // dropDuplicates itself aggregates once; the as-of adds only the window exchange
    assert(count(pu, "Exchange hashpartitioning") === 2,
      s"rightUnique as-of should add only the window exchange:\n$pu")
  }

  test("q5_nation_rev never shuffles the fact table") {
    // the only hash exchange is the final O(nations) aggregation; all
    // five dimension sides broadcast
    assert(count(plan("q5_nation_rev"), "Exchange hashpartitioning") === 1)
  }

  test("pinned LSH sketch frames are built once, not replayed per band") {
    // Counted on the LOGICAL plan, where InMemoryRelation is a LEAF
    // hiding its cache-fill child — so fileScans is the number of
    // parquet reads the query executes OUTSIDE the cache. (The plan
    // STRING is unusable here: every InMemoryTableScan prints its
    // cached subtree, so one pinned parquet scan appears once per
    // branch.) Pre-pinning, the expensive sketch stage replayed per
    // band projection and per verification join-back (~8x).
    for (n <- Seq("dedup_winnow", "dedup_simhash", "dedup_ngram_jaccard")) {
      val lp = QueryLib.queries(n)(spark, dir).queryExecution.optimizedPlan
      val fileScans = lp.collect {
        case l if l.getClass.getSimpleName == "LogicalRelation" => l
      }.size
      val cacheScans = lp.collect {
        case l if l.getClass.getSimpleName == "InMemoryRelation" => l
      }.size
      assert(fileScans <= 1, s"$n: $fileScans uncached parquet scans — sketch replay is back")
      assert(cacheScans >= 2, s"$n: pinned frame not feeding the band fan-out")
      spark.catalog.clearCache()
    }
  }

  test("txt_vocab top-k is a TakeOrdered, not a global window") {
    val p = plan("txt_vocab")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Window"))
  }

  test("txt_chunks is one narrow pass: generate fused with the scan, no exchange") {
    // the chunk explode must pipeline with the parquet read — a shuffle
    // here would move every document's full text before slicing it
    val p = plan("txt_chunks")
    assert(p.contains("Generate"), "chunk fan-out should be a Generate")
    assert(!p.contains("Exchange"), s"unexpected shuffle in:\n$p")
  }

  test("winnowSketch is a narrow per-document pass: no exchange, no window") {
    // the round-10 finding: the explode + window-after-shuffle build
    // shipped one row per CHAR POSITION through an exchange (~10x text
    // bytes) for a per-document quantity. The array formulation must
    // keep the whole sketch build pipelined with the parquet scan.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    val p = graft.functions.SimilarityOps.winnowSketch(docs, "doc_id", col("text"), k = 5, w = 16)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"sketch build shuffles:\n$p")
    assert(!p.contains("Window"), s"sketch build grew a window back:\n$p")
  }

  test("fs_resample_1d fill rides the tie-free ROWS frame, not RANGE") {
    // resample collapses duplicate-time contributors with a hash-agg
    // (tie -> max, the kernel's documented rule), which earns the cheap
    // ROWS frame: no per-row struct allocation + struct-max comparison.
    // A RangeFrame here means the tieFree promise stopped engaging —
    // the round-9 give-back silently un-recovered.
    val p = plan("fs_resample_1d")
    assert(p.contains("RowFrame"), s"ROWS fill frame missing:\n$p")
    assert(!p.contains("RangeFrame"), s"RANGE frame crept back into the fill:\n$p")
  }

  test("fs_dedup_latest is one hash-agg, never a window") {
    // LWW dedup must stay max(struct) hash aggregation (map-side
    // partials, one shuffle) — a Window formulation would sort every
    // group and forfeit partial aggregation.
    val p = plan("fs_dedup_latest")
    assert(!p.contains("Window"), s"dedup grew a window:\n$p")
    assert(count(p, "Exchange hashpartitioning") === 1, s"dedup should shuffle once:\n$p")
  }

  test("iceberg row-level delete reads are single anti-joins, never row-multiplying") {
    // merge-on-read deletes must be ONE left-anti join against the
    // delete set — an inner/outer formulation could multiply or drop
    // surviving rows, and a second anti-join would mean the per-kind
    // grouping regressed
    val pd = plan("fs_iceberg_posdelete")
    assert(count(pd, "LeftAnti") === 1, s"posdelete expected 1 anti-join:\n$pd")
    val eq = plan("fs_iceberg_eqdelete")
    assert(count(eq, "LeftAnti") === 1, s"eqdelete expected 1 anti-join:\n$eq")
    // Delta deletion vectors ride the SAME shape: the bitmaps expand
    // on executors into one row-scale anti side — never a driver-side
    // position list, never a second join
    val dv = plan("fs_delta_dv")
    assert(count(dv, "LeftAnti") === 1, s"delta dv expected 1 anti-join:\n$dv")
  }

  test("txt_pii_redact is a pure narrow pass: the whole redaction fuses with the scan") {
    // the 100 TB contract of the scrubbing pass: regexp counting +
    // replacement chain must pipeline with the parquet read — any
    // Exchange means something pulled the corpus text into a shuffle
    val p = plan("txt_pii_redact")
    assert(!p.contains("Exchange"), s"PII redaction shuffles:\n$p")
  }

  test("dedup_spans: span fan-out fuses with the scan; at most 3 hash exchanges") {
    // intended shape: (1) span-digest aggregation, (2) the join of
    // spans against the frequency>1 keeper set (broadcast at fixture
    // scale, hash at corpus scale), (3) per-doc reassembly — nothing
    // else may shuffle, and the explode must stay pipelined with the
    // parquet scan (a shuffle before Generate would move every doc's
    // full text once per span)
    val p = plan("dedup_spans")
    assert(p.contains("Generate"), "span fan-out should be a Generate")
    assert(count(p, "Exchange hashpartitioning") <= 3, s"extra shuffles:\n$p")
    assert(count(p, "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin") <= 1,
      s"one keeper join expected:\n$p")
  }

  test("PQ encode is a narrow pass: codebooks ride as literals, no exchange") {
    // the compressed-index build must pipeline with the corpus scan —
    // an Exchange here would shuffle the full float corpus to compute a
    // per-row quantity (the winnowSketch disease in vector form)
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cb = graft.functions.AnnPq.buildFixed(e, "embedding", idCol = "vec_id", m = 8, k = 16)
    val p = e.select(col("vec_id"),
        graft.functions.AnnPq.encodeExpr(cb, col("embedding").cast("array<double>")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"PQ encode shuffles:\n$p")
  }

  test("bucketed co-located join plans NO exchange on either side") {
    // fs_store_bucketed's 100 TB contract, pinned with broadcast
    // disabled so the bucketing — not a small-side shortcut — must
    // delete the shuffle: both sides bucketBy the same key into the
    // same bucket count, and the join reads bucket i against bucket i.
    // An Exchange under the join means bucketed output partitioning
    // stopped reaching the planner and every query re-pays the
    // layout's one-time shuffle.
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("buckspec").toString
    spark.sql("DROP TABLE IF EXISTS buckspec_l")
    spark.sql("DROP TABLE IF EXISTS buckspec_r")
    try {
      spark.range(200).select((col("id") % 40).as("k"), col("id").as("v"))
        .write.option("path", s"$tmp/l").bucketBy(4, "k").sortBy("k")
        .saveAsTable("buckspec_l")
      spark.range(100).select((col("id") % 40).as("k"), (col("id") * 2).as("w"))
        .write.option("path", s"$tmp/r").bucketBy(4, "k").sortBy("k")
        .saveAsTable("buckspec_r")
      withConf("spark.sql.autoBroadcastJoinThreshold" -> -1) {
        val p = spark.table("buckspec_l")
          .join(spark.table("buckspec_r"), Seq("k"))
          .queryExecution.executedPlan.toString
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"expected a co-located shuffle-family join:\n$p")
        assert(!p.contains("Exchange"), s"bucketed join shuffles:\n$p")
        assert(count(p, "Bucketed: true") === 2, s"scan not bucket-aware:\n$p")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS buckspec_l")
      spark.sql("DROP TABLE IF EXISTS buckspec_r")
    }
  }

  test("graph_triangles pins the edge frame once: one corpus scan feeds all three join legs") {
    // the LSH edge build (sketch + band + verify) must not replay per
    // wedge/closure leg — same pinning doctrine as the dedup gates
    val lp = QueryLib.queries("graph_triangles")(spark, dir).queryExecution.optimizedPlan
    val fileScans = lp.collect {
      case l if l.getClass.getSimpleName == "LogicalRelation" => l
    }.size
    val cacheScans = lp.collect {
      case l if l.getClass.getSimpleName == "InMemoryRelation" => l
    }.size
    assert(fileScans <= 1, s"$fileScans uncached parquet scans — edge replay is back")
    assert(cacheScans >= 3, s"pinned edge frame not feeding the join legs")
    spark.catalog.clearCache()
  }

  test("q_pack_shards joins slice offsets by broadcast, never by shuffling the corpus") {
    // the two-phase prefix sum's design point: the corpus-sized side
    // meets the metadata-sized (numPartitions x groups) offset frame
    // through a BroadcastHashJoin — a SortMergeJoin here would mean the
    // offsets stopped broadcasting and the corpus pays a join shuffle
    val p = plan("q_pack_shards")
    assert(count(p, "BroadcastHashJoin") >= 1, "offset join must broadcast")
    assert(count(p, "SortMergeJoin") === 0, "corpus-side shuffle join crept in")
  }
}
