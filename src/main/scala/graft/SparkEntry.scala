package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup => D, Relational => R, Sampling => Sm,
  Similarity => S, TextAnalysis => T, Windows => W}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 appears in `queries`, and
  * every SQL-expressible one has a DuckDB oracle in `oracleSql` whose
  * arithmetic mirrors the Spark plan EXACTLY (decimal-exact sums cast to
  * double, integer epoch differences, regexp flags) so the driver's
  * hash-compare is bit-stable across engines. Column names are aliased
  * identically on both sides; every query is deterministically ordered.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    R.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  // ONE trained tokenizer per (session, fixture), shared by the four
  // BPE-consuming queries (t43/t46/t47/t48) — a real pipeline trains
  // once and every downstream stage reads the artifact; re-training 8
  // driver-argmax rounds per query would quadruple the priced cost for
  // no information. Keyed by the fixture dir: building the documents
  // frame just to key a hit would cost a footer read.
  private def trainedMerges(s: SparkSession,
      d: String): Seq[(String, String)] =
    graft.operators.ModelArtifacts.memo(s, "bpe-merges", d)(
      T.bpeTrain(Tables.documents(s, d), nMerges = 8).collect()
        .sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  // ONE trained unigram-LM model per (session, fixture) — the same
  // artifact stance for the t50 trainer: the EM prune rounds (driver-
  // bounded vocab collects) run once; every later pass reads the
  // trained model frame, which stays lazy only over its anchored
  // word-frequency table.
  private def trainedUnigram(s: SparkSession, d: String): DataFrame =
    graft.operators.ModelArtifacts.memo(s, "unigram-model", d)(
      T.unigramTrain(Tables.documents(s, d)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational layer (SURVEY §2.3/2.4/2.6/2.7/2.8 EXT rows) ---
    "q01_pricing_summary" -> ((s, d) => R.pricingSummary(Tables.lineitem(s, d))),
    "q02_filter_project" -> ((s, d) => R.filterProject(Tables.lineitem(s, d))),
    "q03_top_revenue_orders" -> ((s, d) =>
      R.topRevenueOrders(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "q04_order_priority" -> ((s, d) =>
      R.orderPriority(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q05_region_revenue" -> ((s, d) =>
      R.regionRevenue(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d))),
    "q06_forecast_revenue" -> ((s, d) =>
      R.forecastRevenue(Tables.lineitem(s, d))),
    "q07_customer_order_stats" -> ((s, d) =>
      R.customerOrderStats(Tables.customer(s, d), Tables.orders(s, d))),
    "q08_customers_without_orders" -> ((s, d) =>
      R.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q09_topk_orders" -> ((s, d) => R.topKOrders(Tables.orders(s, d))),
    "q10_distinct_segments" -> ((s, d) =>
      R.distinctSegments(Tables.customer(s, d))),
    "q11_order_stats_by_status" -> ((s, d) =>
      R.orderStatsByStatus(Tables.orders(s, d))),
    "q12_revenue_rollup" -> ((s, d) =>
      R.revenueRollup(Tables.customer(s, d), Tables.orders(s, d),
        Tables.nation(s, d), Tables.region(s, d))),
    "q13_lineitem_cube" -> ((s, d) => R.lineitemCube(Tables.lineitem(s, d))),
    "q14_set_ops" -> ((s, d) => R.setOps(Tables.orders(s, d))),
    "q15_scalar_showcase" -> ((s, d) => R.scalarShowcase(Tables.part(s, d))),
    "q16_date_showcase" -> ((s, d) => R.dateShowcase(Tables.orders(s, d))),
    "q17_props_json" -> ((s, d) => R.propsJson(Tables.events(s, d))),
    // approximate by design -> no oracle entry (rows-only check)
    "q18_approx_distinct" -> ((s, d) =>
      R.approxDistinctCustomers(Tables.orders(s, d))),
    "q19_asof_join" -> ((s, d) =>
      graft.operators.AsOf.eventOrderAttribution(
        Tables.events(s, d), Tables.orders(s, d))),
    "q20_range_join" -> ((s, d) =>
      graft.operators.RangeJoin.eventSessionAssignment(Tables.events(s, d))),
    "q21_grouping_sets_sql" -> ((s, d) =>
      R.sqlGroupingSets(s, Tables.orders(s, d), Tables.customer(s, d))),
    "q22_json_construct" -> ((s, d) => R.jsonConstruct(Tables.part(s, d))),
    "q23_percentiles" -> ((s, d) => R.percentiles(Tables.lineitem(s, d))),
    // sketch path: exact in the high-accuracy regime (rank error < 1 row),
    // so it IS oracle-checkable against DuckDB's discrete quantile
    "q26_approx_percentiles" -> ((s, d) =>
      R.approxPercentiles(Tables.lineitem(s, d))),
    // exact percentiles with the per-group funnel reduced from rows to
    // DISTINCT values — bitwise-equal to q23, same oracle text
    "q29_percentiles_dist" -> ((s, d) =>
      R.percentilesByDistribution(Tables.lineitem(s, d))),
    "q24_array_showcase" -> ((s, d) =>
      R.arrayShowcase(Tables.embeddings(s, d))),
    "w07_window_showcase" -> ((s, d) =>
      W.windowShowcase(Tables.events(s, d))),
    "q25_bottomk_sketch" -> ((s, d) =>
      R.bottomKCustomers(Tables.orders(s, d))),
    "q27_pivot" -> ((s, d) => R.orderStatusPivot(Tables.orders(s, d))),
    "q28_correlated_exists" -> ((s, d) =>
      R.sqlCorrelatedExists(s, Tables.customer(s, d), Tables.orders(s, d))),
    "q30_incremental_agg" -> ((s, d) =>
      R.incrementalAggDemo(Tables.lineitem(s, d))),
    "q31_lateral_topn" -> ((s, d) =>
      R.sqlLateralTopN(s, Tables.nation(s, d), Tables.customer(s, d))),
    "dq01_constraint_audit" -> ((s, d) =>
      graft.operators.DataQuality.constraintAudit(
        Tables.orders(s, d), Tables.lineitem(s, d))),
    "dq02_skew_audit" -> ((s, d) =>
      graft.operators.DataQuality.skewAudit(Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.events(s, d))),
    "dq03_completeness_profile" -> ((s, d) =>
      graft.operators.DataQuality.completenessProfile(Tables.orders(s, d))),
    "l08_compaction_plan" -> ((s, d) =>
      graft.lake.Compaction.orderFileCompaction(Tables.orders(s, d))),
    // --- window layer (SURVEY §2.5 EXT) ---
    "w01_rank_events" -> ((s, d) => W.rankEventsPerUser(Tables.events(s, d))),
    "w02_session_gaps" -> ((s, d) => W.sessionGaps(Tables.events(s, d))),
    "w03_running_totals" -> ((s, d) => W.runningTotals(Tables.events(s, d))),
    "w04_value_share" -> ((s, d) => W.valueShare(Tables.events(s, d))),
    "w05_event_windows" -> ((s, d) =>
      graft.streaming.EventTimeOps.windowedCounts(Tables.events(s, d))),
    "w09_sliding_windows" -> ((s, d) =>
      graft.streaming.EventTimeOps.slidingCounts(Tables.events(s, d))),
    "w06_sessionization" -> ((s, d) =>
      graft.streaming.EventTimeOps.sessionizeBatch(Tables.events(s, d))),
    "w08_native_session_windows" -> ((s, d) =>
      graft.streaming.EventTimeOps.nativeSessionWindows(Tables.events(s, d))),
    "w10_rolling_hour" -> ((s, d) => W.rollingHour(Tables.events(s, d))),
    "w11_gap_fill" -> ((s, d) =>
      graft.streaming.EventTimeOps.gapFillHourly(Tables.events(s, d))),
    // --- text-analysis layer (LLM-pipeline north star) ---
    "t01_token_stats" -> ((s, d) => T.tokenStats(Tables.documents(s, d))),
    "t02_quality_score" -> ((s, d) => T.qualityScore(Tables.documents(s, d))),
    "t03_language_id" -> ((s, d) => T.languageId(Tables.documents(s, d))),
    "t04_fingerprints" -> ((s, d) => T.fingerprints(Tables.documents(s, d))),
    "t05_top_bigrams" -> ((s, d) => T.topBigrams(Tables.documents(s, d))),
    "t07_repetition_stats" -> ((s, d) =>
      T.repetitionStats(Tables.documents(s, d))),
    "t09_bigram_rarity" -> ((s, d) => T.bigramRarity(Tables.documents(s, d))),
    // exact regime: tracked-item budget >= distinct bigrams (fixed synth
    // vocab), so sketch counts match the exact GROUP BY oracle bitwise
    "t10_heavy_hitters" -> ((s, d) =>
      T.heavyHitterBigrams(Tables.documents(s, d))),
    "t08_stratified_sample" -> ((s, d) =>
      Sm.stratifiedSample(Tables.documents(s, d),
        Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.75, "fr" -> 1.0), 0.1)),
    "p03_token_budget_mix" -> ((s, d) =>
      Sm.tokenBudgetMix(Tables.documents(s, d))),
    "t11_source_caps" -> ((s, d) =>
      Sm.perSourceCap(Tables.documents(s, d))),
    "t12_sequence_packing" -> ((s, d) =>
      Sm.packSequences(Tables.documents(s, d))),
    "c01_doc_chunking" -> ((s, d) =>
      T.chunkDocuments(Tables.documents(s, d))),
    // c02: chunk-level BM25 with maxP doc scoring (Dai & Callan 2019)
    "c02_chunk_maxp" -> ((s, d) =>
      graft.operators.Ranking.chunkMaxPRank(Tables.documents(s, d))),
    "t13_nfc_normalize" -> ((s, d) =>
      T.nfcNormalize(Tables.documents(s, d))),
    "t14_unicode_tokens" -> ((s, d) =>
      T.unicodeTokenStats(Tables.documents(s, d))),
    "b01_bm25_rank" -> ((s, d) =>
      graft.operators.Ranking.bm25Rank(Tables.documents(s, d))),
    "p01_data_prep_pipeline" -> ((s, d) =>
      T.dataPrepPipeline(Tables.documents(s, d))),
    "t06_redact_pii" -> ((s, d) =>
      T.redactPii(T.withInjectedPii(Tables.documents(s, d)))),
    "p02_decontamination" -> ((s, d) =>
      T.contaminationScores(Tables.documents(s, d),
        org.apache.spark.sql.functions.col("doc_id") % 100 === 0)),
    // p04: quality gate -> exact dedup -> decontamination -> per-lang
    // token budget, emitting the kept-corpus manifest end to end
    "p04_pretrain_corpus" -> ((s, d) =>
      T.pretrainCorpusBuild(Tables.documents(s, d))),
    // --- dedup layer (LLM-pipeline north star) ---
    "d01_exact_dedup" -> ((s, d) =>
      D.exactDedup(D.doubledCorpus(Tables.documents(s, d)))),
    // maxDocFreq = None: the oracle recomputes EXACT candidate generation;
    // the production default caps hot postings (Dedup.DefaultMaxDocFreq)
    "d02_jaccard_pairs" -> ((s, d) =>
      D.jaccardPairs(Tables.documents(s, d), maxDocFreq = None)),
    "d03_minhash_signatures" -> ((s, d) =>
      D.minhashSignatures(Tables.documents(s, d))),
    "d04_lsh_candidates" -> ((s, d) => D.lshCandidates(Tables.documents(s, d))),
    "d05_simhash" -> ((s, d) => D.simhash(Tables.documents(s, d))),
    "d06_embedding_near_dups" -> ((s, d) =>
      D.embeddingNearDups(Tables.embeddings(s, d))),
    "d07_dedup_clusters" -> ((s, d) =>
      D.dedupClusters(D.embeddingNearDups(Tables.embeddings(s, d)))),
    // d20: the SAME clusters as d07 via two-phase star contraction —
    // O(log² n) rounds vs label propagation's diameter rounds
    "d20_cc_star" -> ((s, d) =>
      D.starContraction(D.embeddingNearDups(Tables.embeddings(s, d)))),
    "d08_normalized_dedup" -> ((s, d) =>
      D.normalizedDedup(Tables.documents(s, d))),
    "d09_fuzzy_pairs" -> ((s, d) =>
      D.fuzzyPairs(Tables.documents(s, d))),
    // maxDocFreq = None: exact candidate generation for the oracle
    // (same contract note as d02)
    "d12_containment" -> ((s, d) =>
      D.containmentPairs(Tables.documents(s, d), maxDocFreq = None)),
    // d14: d12's PRODUCTION path — posting cap ON, scaled to the fixture
    // (cap=10; the doubled sf0.01 corpus tops out at df=13, so the
    // boilerplate guard genuinely drops postings here the way
    // DefaultMaxDocFreq does at corpus scale). The oracle applies the
    // SAME cap, so the capped semantics — candidate generation AND the
    // capped |A| denominator — are hash-verified, not just the
    // exactness-mode path.
    "d14_containment_capped" -> ((s, d) =>
      D.containmentPairs(Tables.documents(s, d), maxDocFreq = Some(10))),
    // the canonical web-dedup pipeline end-to-end: MinHash -> banded
    // LSH candidates -> connected components -> canonical keep flag
    "d13_lsh_clusters" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      D.dedupClusters(D.lshCandidates(Tables.documents(s, d)),
        aCol = "doc_a", bCol = "doc_b")
        .select(col("vec_id").as("doc_id"), col("cluster_id"),
          col("is_canonical"))
    }),
    // d15: SemDeDup — semantic near-dup prune blocked by the TRAINED
    // k-medians clustering (the s08/s14 coarse quantizer), not a label
    "d15_semantic_dedup" -> ((s, d) =>
      D.semanticDedup(Tables.embeddings(s, d))),
    "t15_script_profile" -> ((s, d) =>
      T.scriptProfile(Tables.documents(s, d))),
    // --- similarity search (LLM-pipeline north star) ---
    "s01_brute_topk" -> ((s, d) => S.bruteForceTopK(Tables.embeddings(s, d))),
    "s02_ivf_topk" -> ((s, d) => S.ivfTopK(Tables.embeddings(s, d))),
    "s03_lsh_buckets" -> ((s, d) =>
      S.signLshBuckets(Tables.embeddings(s, d)).orderBy("vec_id")),
    "s04_lsh_ann_topk" -> ((s, d) => S.lshAnnTopK(Tables.embeddings(s, d))),
    "s05_ann_recall" -> ((s, d) => S.annRecall(Tables.embeddings(s, d))),
    "s07_recall_multi_table" -> ((s, d) =>
      S.annRecallMulti(Tables.embeddings(s, d))),
    "s08_ivf_trained_topk" -> ((s, d) =>
      S.ivfTrainedTopK(Tables.embeddings(s, d))),
    "s09_recall_multiprobe" -> ((s, d) =>
      S.annRecallMultiProbe(Tables.embeddings(s, d))),
    "s11_pq_adc_topk" -> ((s, d) => S.pqTopK(Tables.embeddings(s, d))),
    "s12_ivfpq_topk" -> ((s, d) => S.ivfPqTopK(Tables.embeddings(s, d))),
    "s13_pq_recall" -> ((s, d) => S.pqRecall(Tables.embeddings(s, d))),
    "s14_nprobe_recall" -> ((s, d) =>
      S.ivfNProbeRecall(Tables.embeddings(s, d))),
    "s15_ivfpq_serve" -> ((s, d) =>
      S.ivfPqTopKServe(Tables.embeddings(s, d))),
    "s16_pq_nprobe_recall" -> ((s, d) =>
      S.pqNProbeRecall(Tables.embeddings(s, d))),
    "s17_ivfpq_rerank" -> ((s, d) =>
      S.ivfPqRerankTopK(Tables.embeddings(s, d))),
    "s18_ivfpq_append" -> ((s, d) =>
      S.ivfPqAppendServe(Tables.embeddings(s, d))),
    "s19_ivfpq_stored_serve" -> ((s, d) =>
      S.ivfPqStoredServe(Tables.embeddings(s, d))),
    // s20: Matryoshka prefix-dim coarse pass + full-dim exact rerank
    "s20_matryoshka_rerank" -> ((s, d) =>
      S.matryoshkaTopK(Tables.embeddings(s, d))),
    // s21: cell-blocked kNN graph — top-k neighbors for EVERY vector
    "s21_knn_graph" -> ((s, d) => S.knnGraph(Tables.embeddings(s, d))),
    // s47: the multi-assign build — each vector in its top-2 cells,
    // the boundary-recall buy-back (recall dominates s21's, spec-held)
    "s47_knn_graph_multi" -> ((s, d) =>
      S.knnGraphMulti(Tables.embeddings(s, d))),
    // s22: trained per-dim affine SQ8 (FAISS ScalarQuantizer QT_8bit),
    // integer-exact ADC ranking via midpoint weights
    "s22_sq8_topk" -> ((s, d) => S.sq8TopK(Tables.embeddings(s, d))),
    // s23: MMR-diversified top-k (greedy relevance-vs-redundancy in
    // integer micros over the s01 candidates)
    "s23_mmr_diversify" -> ((s, d) =>
      S.mmrDiversifyTopK(Tables.embeddings(s, d))),
    // s24: cell-pruned range search (all matches with cosine >= tau —
    // the radius-query face; no top-k state anywhere)
    "s24_range_search" -> ((s, d) =>
      S.rangeSearch(Tables.embeddings(s, d))),
    // s25: kNN label prediction (majority vote over s01 neighbors) —
    // the auto-labeling face; output doubles as leave-one-out eval
    "s25_knn_classify" -> ((s, d) =>
      S.knnClassify(Tables.embeddings(s, d))),
    // s26: pre- vs post-filter recall for metadata-filtered search —
    // the overfetch curve production filtered ANN tunes
    "s26_filtered_recall" -> ((s, d) =>
      S.filteredRecall(Tables.embeddings(s, d))),
    // s27: tombstoned serving — deletes without retrain (the index
    // lifecycle's last face: create s15 -> append s18 -> delete)
    "s27_delete_serve" -> ((s, d) =>
      S.ivfPqDeleteServe(Tables.embeddings(s, d))),
    // --- lake adapter (reference parity: SURVEY §2.1/2.2, §3 E1-E3) ---
    "l01_marker_split" -> ((s, d) =>
      graft.lake.LakeQueries.markerSplitDemo(Tables.documents(s, d))),
    "l02_lake_roundtrip" -> ((s, d) =>
      graft.lake.LakeQueries.roundtripList(s, Tables.documents(s, d))),
    "l03_lake_exists" -> ((s, d) =>
      graft.lake.LakeQueries.existsProbe(s, Tables.documents(s, d))),
    "l04_cdc_merge" -> ((s, d) =>
      graft.lake.Merge.applyChangesDemo(Tables.orders(s, d))),
    "l05_scd2_history" -> ((s, d) =>
      graft.lake.Merge.scd2Demo(Tables.events(s, d))),
    "l06_zorder_stats" -> ((s, d) =>
      graft.lake.Layout.zorderStatsDemo(Tables.lineitem(s, d))),
    "l07_snapshot_merge" -> ((s, d) =>
      graft.lake.LakeQueries.snapshotMerge(s, Tables.orders(s, d))),
    "l09_zorder3_stats" -> ((s, d) =>
      graft.lake.Layout.zorder3StatsDemo(Tables.lineitem(s, d))),
    "s06_quantized_topk" -> ((s, d) =>
      S.quantizedTopK(Tables.embeddings(s, d))),
    "k01_kmedians_assign" -> ((s, d) =>
      graft.operators.Clustering.kmediansAssign(Tables.embeddings(s, d))),
    // k08: the hierarchical (two-level pruned) assignment at K=64 —
    // same results as brute assignment by construction, oracle-pinned
    "k08_pruned_assign" -> ((s, d) =>
      graft.operators.Clustering.prunedAssign(Tables.embeddings(s, d))),
    // --- multimodal columns (LLM-pipeline north star) ---
    "m01_media_metadata" -> ((s, d) =>
      graft.operators.Multimodal.mediaMetadata(Tables.documents(s, d))),
    "m02_frame_sample" -> ((s, d) =>
      graft.operators.Multimodal.frameSample(
        graft.operators.Multimodal.assetsFrom(Tables.documents(s, d)))),
    "m03_media_dedup" -> ((s, d) =>
      graft.operators.Multimodal.mediaDedup(Tables.documents(s, d))),
    "m04_media_retrieval" -> ((s, d) =>
      graft.operators.Multimodal.mediaRetrieval(Tables.documents(s, d))),
    // m05: blockhash perceptual near-dup pairs (banded + Hamming verify)
    "m05_perceptual_dedup" -> ((s, d) =>
      graft.operators.Multimodal.perceptualDedup(Tables.documents(s, d))),
    // m06: video near-dup by sampled-frame signature Jaccard
    "m06_video_frame_dedup" -> ((s, d) =>
      graft.operators.Multimodal.videoFrameDedup(Tables.documents(s, d))),
    // m07: set-vs-sequence similarity — the re-edit/recut detector
    "m07_sequence_dedup" -> ((s, d) =>
      graft.operators.Multimodal.sequenceDedup(Tables.documents(s, d))),
    // m08: modality-aware sequence packing manifest (p06's law with
    // per-modality token cost)
    "m08_multimodal_packing" -> ((s, d) =>
      graft.operators.Multimodal.multimodalPacking(Tables.documents(s, d))),
    // --- round 8 additions: runtime filtering, IVM, lakehouse reads ---
    "j01_bloom_join" -> ((s, d) =>
      graft.operators.BloomJoin.bloomJoinRevenue(Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "q32_incremental_join" -> ((s, d) =>
      R.incrementalJoinDemo(Tables.customer(s, d), Tables.orders(s, d))),
    "dq04_price_histogram" -> ((s, d) =>
      graft.operators.DataQuality.histogram(Tables.orders(s, d),
        "o_totalprice")),
    "d10_canonical_keep" -> ((s, d) =>
      D.canonicalKeepList(Tables.documents(s, d),
        D.dedupClusters(D.embeddingNearDups(Tables.embeddings(s, d))))),
    "l10_file_skipping" -> ((s, d) =>
      graft.lake.FileSkipping.skippingDemo(s, Tables.orders(s, d))),
    "l11_snapshot_diff" -> ((s, d) =>
      graft.lake.LakeQueries.snapshotDiff(s, Tables.orders(s, d))),
    "l12_schema_evolution" -> ((s, d) =>
      graft.lake.Merge.schemaEvolutionDemo(Tables.orders(s, d))),
    "t16_temperature_mix" -> ((s, d) =>
      Sm.temperatureMix(Tables.documents(s, d))),
    "q33_group_topk" -> ((s, d) =>
      R.topOrdersPerCustomer(Tables.orders(s, d))),
    "w12_conversion_funnel" -> ((s, d) =>
      graft.operators.Funnel.conversionFunnel(Tables.events(s, d))),
    // --- round 8 continued: LM scoring, mix diagnostics, multiset ops ---
    "t17_unigram_surprise" -> ((s, d) =>
      T.unigramSurprise(Tables.documents(s, d))),
    "t18_source_divergence" -> ((s, d) =>
      T.sourceDivergence(Tables.documents(s, d))),
    // t31: DSIR importance weights vs the src0 target domain
    "t31_dsir_weights" -> ((s, d) =>
      T.dsirWeights(Tables.documents(s, d))),
    "w13_rolling_active" -> ((s, d) =>
      W.rollingActiveUsers(Tables.events(s, d))),
    "dq05_value_outliers" -> ((s, d) =>
      graft.operators.DataQuality.valueOutliers(Tables.events(s, d))),
    // ledger ids q35 and q38 are RETIRED (drafts that merged into q34's
    // multiset suite and q37's scalar-subquery pair) — the gaps are
    // intentional, not missing queries; do not reuse the ids.
    "q34_set_ops_all" -> ((s, d) => R.setOpsAll(Tables.orders(s, d))),
    "l13_mor_chain" -> ((s, d) =>
      graft.lake.LakeQueries.morChainRead(s, Tables.orders(s, d))),
    // --- round 8 continued: graph edges, profiling, weighted sampling ---
    "g01_covisitation" -> ((s, d) =>
      graft.operators.CoOccurrence.covisitationEdges(Tables.events(s, d))),
    "w14_cumulative_distinct" -> ((s, d) =>
      W.cumulativeDistinctTypes(Tables.events(s, d))),
    "t19_weighted_sample" -> ((s, d) =>
      Sm.weightedSample(Tables.documents(s, d))),
    "t20_vocab_coverage" -> ((s, d) =>
      T.vocabCoverage(Tables.documents(s, d))),
    "dq06_fd_audit" -> ((s, d) =>
      graft.operators.DataQuality.fdAudit(Seq(
        ("events_user_type", Tables.events(s, d), "user_id", "event_type"),
        ("lineitem_part_supp", Tables.lineitem(s, d),
          "l_partkey", "l_suppkey"),
        ("orders_cust_priority", Tables.orders(s, d),
          "o_custkey", "o_orderpriority")))),
    "g02_item_neighbors" -> ((s, d) =>
      graft.operators.CoOccurrence.itemNeighbors(Tables.events(s, d))),
    "g03_transition_matrix" -> ((s, d) =>
      graft.operators.Graph.transitionCounts(Tables.events(s, d))),
    "g04_event_pagerank" -> ((s, d) =>
      graft.operators.Graph.eventTypePagerank(Tables.events(s, d))),
    "t21_split_assign" -> ((s, d) =>
      Sm.splitAssign(Tables.documents(s, d))),
    "dq07_equidepth_hist" -> ((s, d) =>
      graft.operators.DataQuality.equiDepthHistogram(
        Tables.lineitem(s, d), "l_returnflag", "l_quantity")),
    "dq08_join_cardinality" -> ((s, d) =>
      graft.operators.DataQuality.joinCardinality(
        Tables.orders(s, d), "o_orderkey",
        Tables.lineitem(s, d), "l_orderkey")),
    "t22_interleave" -> ((s, d) =>
      Sm.interleaveBySource(Tables.documents(s, d))),
    "t23_exact_sample" -> ((s, d) =>
      Sm.exactSample(Tables.documents(s, d))),
    "t24_pmi_collocations" -> ((s, d) =>
      T.pmiCollocations(Tables.documents(s, d))),
    "w15_ewma" -> ((s, d) => W.ewmaValue(Tables.events(s, d))),
    "q36_unpivot" -> ((s, d) =>
      R.orderStatusUnpivot(Tables.orders(s, d))),
    "w16_ewma_spikes" -> ((s, d) => W.ewmaAnomalies(Tables.events(s, d))),
    "k02_cluster_inertia" -> ((s, d) =>
      graft.operators.Clustering.clusterInertia(Tables.embeddings(s, d))),
    // k03: elbow curve — total inertia at K in {2,4,8,16}, the
    // model-selection sweep behind the serving tiers' cell count
    "k03_elbow_curve" -> ((s, d) =>
      graft.operators.Clustering.elbowCurve(Tables.embeddings(s, d))),
    "dq09_reconciliation" -> ((s, d) =>
      graft.operators.DataQuality.reconciliationAudit(
        Tables.orders(s, d), Tables.lineitem(s, d))),
    "t25_safe_split" -> ((s, d) =>
      Sm.safeSplit(Tables.documents(s, d),
        org.apache.spark.sql.functions.col("doc_id") % 100 === 0)),
    "g05_two_step" -> ((s, d) =>
      graft.operators.Graph.twoStepPaths(Tables.events(s, d))),
    "s10_rerank" -> ((s, d) => S.rerankTopK(Tables.embeddings(s, d))),
    "d11_minhash_eval" -> ((s, d) =>
      D.minhashJaccardEval(Tables.documents(s, d))),
    "q37_scalar_subquery" -> ((s, d) =>
      R.sqlAboveCustomerAverage(s, Tables.orders(s, d))),
    "q39_nullsafe_join" -> ((s, d) =>
      R.nullSafeJoinDiff(Tables.orders(s, d))),
    "t26_cms_estimate" -> ((s, d) =>
      T.cmsTokenCounts(Tables.documents(s, d))),
    "t27_tfidf_keywords" -> ((s, d) =>
      T.tfidfKeywords(Tables.documents(s, d))),
    "w17_streaks" -> ((s, d) => W.activityStreaks(Tables.events(s, d))),
    "dq10_freshness" -> ((s, d) =>
      graft.operators.DataQuality.freshnessAudit(Tables.events(s, d))),
    "l14_version_history" -> ((s, d) =>
      graft.lake.LakeQueries.versionHistory(s, Tables.orders(s, d))),
    "dq11_digit_profile" -> ((s, d) =>
      graft.operators.DataQuality.leadingDigitProfile(
        Tables.orders(s, d), "o_totalprice")),
    "w18_time_of_week" -> ((s, d) =>
      W.timeOfWeekProfile(Tables.events(s, d))),
    "dq12_sequence_gaps" -> ((s, d) =>
      graft.operators.DataQuality.sequenceGaps(
        Tables.orders(s, d), "o_orderkey")),
    "t28_code_detect" -> ((s, d) => T.codeDetect(Tables.documents(s, d))),
    "dq13_partition_drift" -> ((s, d) =>
      graft.operators.DataQuality.partitionDrift(Tables.events(s, d))),
    "t29_novelty_profile" -> ((s, d) =>
      T.noveltyProfile(Tables.documents(s, d))),
    "w19_open_shipments" -> ((s, d) =>
      W.openShipments(Tables.lineitem(s, d))),
    "t30_rolling_fingerprints" -> ((s, d) =>
      T.rollingFingerprints(Tables.documents(s, d))),
    // t32: Gopher-style within-doc repetition profile (top-bigram share
    // + duplicated-trigram coverage)
    "t32_repetition_profile" -> ((s, d) =>
      T.repetitionProfile(Tables.documents(s, d))),
    // dq14: per-source length-distribution drift vs rest of corpus
    // (exact-integer total-variation numerator, one double division)
    "dq14_distribution_drift" -> ((s, d) =>
      graft.operators.DataQuality.distributionDrift(Tables.documents(s, d))),
    // g06: triangle census + clustering coefficient over the s21 kNN
    // graph (symmetrized) — the community-structure audit
    "g06_knn_triangles" -> ((s, d) =>
      graft.operators.Graph.knnTriangles(Tables.embeddings(s, d))),
    // t33: bigram-LM surprise (context-sensitive fluency, one order
    // above t17) — whole-bit integer form, add-one smoothing
    "t33_bigram_surprise" -> ((s, d) =>
      T.bigramSurprise(Tables.documents(s, d))),
    // p05: MinHash-LSH fuzzy decontamination (paraphrase-level leak
    // check; p02's exact-overlap complement). Denser bench predicate
    // than p02's (%10, not %100): the fixture's near-dup pairs must
    // straddle the train/bench boundary for the band join to fire
    "p05_fuzzy_decontam" -> ((s, d) =>
      T.fuzzyDecontamination(Tables.documents(s, d),
        org.apache.spark.sql.functions.col("doc_id") % 10 === 0)),
    // dq15: embedding-table audit (NaN/Inf/null/zero-norm/width-drift/
    // dup-id) — the vector-side dq01
    "dq15_embedding_audit" -> ((s, d) =>
      graft.operators.DataQuality.embeddingAudit(Tables.embeddings(s, d))),
    // d16: cross-doc exact-substring duplication via rolling-hash
    // window collisions (Lee et al. exact-substring dedup, window form)
    "d16_substring_dups" -> ((s, d) =>
      D.substringDups(Tables.documents(s, d))),
    // w20: OHLC bars per (event_type, hour) — selection-only open/
    // high/low/close, one map-side-combined aggregate
    "w20_ohlc_bars" -> ((s, d) => W.ohlcBars(Tables.events(s, d))),
    // t34: exactly-N-per-stratum deterministic sample (nests, append-
    // stable) — the eval-set builder beside t08/t23
    "t34_stratified_exact_n" -> ((s, d) =>
      Sm.stratifiedExactN(Tables.documents(s, d))),
    // p06: the eval-set manifest — t25's safe split composed with
    // t34's per-stratum exact-N over the test slice only
    "p06_eval_set" -> ((s, d) =>
      Sm.evalSetBuild(Tables.documents(s, d),
        org.apache.spark.sql.functions.col("doc_id") % 100 === 0)),
    // p07: the per-doc quality feature table (t02+t17+t32+t28 joined)
    // — what a learned quality classifier trains on
    "p07_quality_features" -> ((s, d) =>
      T.qualityFeatures(Tables.documents(s, d))),
    // q40: RECURSIVE CTE transitive closure (Spark 4's WITH RECURSIVE
    // — Catalyst's UnionLoop) over the behavioral transition graph:
    // min-hop reachability, hop-capped for cycle safety. The SQL text
    // is the oracle's, verbatim, modulo the view name — the engine-
    // parity face of the recursion feature.
    // dq16: label-balance audit (class-imbalance read before s25's
    // vote / quantizer training); integer cross-multiply flag
    "dq16_label_balance" -> ((s, d) =>
      graft.operators.DataQuality.labelBalance(Tables.embeddings(s, d))),
    // dq17: median/MAD robust outlier audit (Hampel identifier) — the
    // masking-proof complement to dq05's z-score gate; integer-exact
    // decision path (quantized values, lower medians, long compares)
    "dq17_mad_outliers" -> ((s, d) =>
      graft.operators.DataQuality.madOutliers(Tables.events(s, d))),
    "q40_recursive_paths" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_q40")
      s.sql(RecursivePathsSql("events_q40"))
    }),
    // --- round 13: the pretraining quality-filter canon ---
    // t35: Gopher rule table (Rae et al. 2021) over the page render
    "t35_gopher_rules" -> ((s, d) =>
      T.gopherRules(Tables.documents(s, d))),
    // t36: C4 line cleaning (Raffel et al. 2020), cleaned doc md5'd
    "t36_c4_line_filter" -> ((s, d) =>
      T.c4LineFilter(Tables.documents(s, d))),
    // t37: CCNet head/middle/tail surprise terciles (two-level rank)
    "t37_ccnet_buckets" -> ((s, d) =>
      T.ccnetBuckets(Tables.documents(s, d))),
    // t38: BPE merge-candidate pair counts (bpeTrain's counting core)
    "t38_bpe_pairs" -> ((s, d) =>
      T.bpePairCounts(Tables.documents(s, d))),
    // s28: contrastive positives + hard negatives in one corpus pass
    "s28_hard_negatives" -> ((s, d) =>
      S.hardNegativeMining(Tables.embeddings(s, d))),
    // s29: nearest-class-mean prediction + mislabel flags
    "s29_centroid_classify" -> ((s, d) =>
      S.centroidClassify(Tables.embeddings(s, d))),
    // g07: shared-neighbor (Jaccard) link prediction over s21's graph
    "g07_shared_neighbors" -> ((s, d) =>
      graft.operators.Graph.sharedNeighborLinks(Tables.embeddings(s, d))),
    // p08: gopher → c4 → ppl gates composed into a disposition table
    "p08_curated_corpus" -> ((s, d) =>
      T.curatedCorpusV2(Tables.documents(s, d))),
    // s30: FAISS-fidelity residual IVF-PQ (PQ over coarse residuals)
    "s30_ivfpq_residual" -> ((s, d) =>
      S.ivfPqResidualTopK(Tables.embeddings(s, d))),
    // s31: the raw-vs-residual recall measurement that justifies s30
    "s31_residual_recall" -> ((s, d) =>
      S.residualRecall(Tables.embeddings(s, d))),
    // d17: PPJoin prefix filtering — exact Jaccard join, no cap needed
    "d17_ppjoin_pairs" -> ((s, d) =>
      D.ppjoinPairs(Tables.documents(s, d))),
    // w21: retention cohort matrix (first-day cohorts × week-of-age)
    "w21_retention_cohorts" -> ((s, d) =>
      W.retentionCohorts(Tables.events(s, d))),
    // g08: deterministic DeepWalk corpus over the s21 kNN graph
    "g08_graph_walks" -> ((s, d) =>
      graft.operators.Graph.deterministicWalks(Tables.embeddings(s, d))),
    // g09: Newman-Girvan modularity of the trained cells on that graph
    "g09_cell_modularity" -> ((s, d) =>
      graft.operators.Graph.cellModularity(Tables.embeddings(s, d))),
    // g10: personalized-PageRank seed expansion on that graph — fixed-
    // point integer PPR from the curated %50 seed slice, 3 rounds
    "g10_ppr_expansion" -> ((s, d) =>
      graft.operators.Graph.pprSeedExpansion(Tables.embeddings(s, d))),
    // t39: C4's global repeated-span dedup at line grain
    "t39_global_line_dedup" -> ((s, d) =>
      T.globalLineDedup(Tables.documents(s, d))),
    // p09: DSIR selection — the ranked manifest over t31's weights
    "p09_dsir_select" -> ((s, d) =>
      Sm.dsirSelect(Tables.documents(s, d))),
    // s32: OPQ-lite variance-balanced permutation under flat PQ
    "s32_opq_pq_topk" -> ((s, d) =>
      S.opqPqTopK(Tables.embeddings(s, d))),
    // s33: raw-order vs OPQ-permuted PQ recall at equal budget
    "s33_opq_recall" -> ((s, d) =>
      S.opqRecall(Tables.embeddings(s, d))),
    // k04: seed-stability Rand index over the K x K contingency
    "k04_cluster_agreement" -> ((s, d) =>
      graft.operators.Clustering.clusterAgreement(Tables.embeddings(s, d))),
    // k05: centroid-form (simplified) silhouette per cluster
    "k05_silhouette" -> ((s, d) =>
      graft.operators.Clustering.simplifiedSilhouette(
        Tables.embeddings(s, d))),
    // k06: Davies-Bouldin index — worst-case cluster confusability
    // (names the neighbor that confuses each cell)
    "k06_davies_bouldin" -> ((s, d) =>
      graft.operators.Clustering.daviesBouldin(Tables.embeddings(s, d))),
    // s40: hot-cell split — the rebalance plan + its exact size effect
    "s40_cell_split" -> ((s, d) =>
      graft.operators.Clustering.hotCellSplit(Tables.embeddings(s, d))),
    // s41: exact MIPS top-k (raw-dot ranking) + the norm-augmentation
    // reduction witness (aug_cos = dot/(M*|q|))
    "s41_mips_topk" -> ((s, d) => S.mipsTopK(Tables.embeddings(s, d))),
    // s42: the reduction run end-to-end — MIPS served through the
    // trained cosine IVF on augmented vectors, recall vs s41 truth
    "s42_mips_ivf_recall" -> ((s, d) =>
      S.mipsIvfRecall(Tables.embeddings(s, d))),
    // s43: graph-traversal ANN — beam search over the shared s21 kNN
    // graph (DiskANN/HNSW paradigm), recall vs the s01 exact truth
    "s43_graph_beam_recall" -> ((s, d) =>
      S.beamSearchRecall(Tables.embeddings(s, d))),
    // s44: the convergence curve — recall per hop from ONE traversal
    "s44_beam_hops_recall" -> ((s, d) =>
      S.beamSearchHopsRecall(Tables.embeddings(s, d))),
    // s45: the serve against the AT-REST cell-partitioned graph table
    // (IndexStore) — probe schedule prunes to the query batch's cells
    "s45_stored_graph_serve" -> ((s, d) =>
      S.storedGraphBeamRecall(Tables.embeddings(s, d))),
    // s46: FILTERED graph-ANN serve (filtered-DiskANN face) — the
    // traversal navigates the unfiltered graph, the answer re-ranks
    // the predicate-matching visited beam; recall vs prefilter truth
    "s46_filtered_beam_recall" -> ((s, d) =>
      S.filteredBeamRecall(Tables.embeddings(s, d))),
    // t40: per-benchmark-item leakage report (p02 from the eval side)
    "t40_contamination_report" -> ((s, d) =>
      T.contaminationReport(Tables.documents(s, d),
        org.apache.spark.sql.functions.col("doc_id") % 100 === 0)),
    // t41: mojibake detect + repair (ftfy-lite) over injected damage
    "t41_mojibake_repair" -> ((s, d) =>
      T.mojibakeRepair(Tables.documents(s, d))),
    // s34: binary sign-bit codes, popcount(xor) ranking
    "s34_hamming_topk" -> ((s, d) =>
      S.hammingTopK(Tables.embeddings(s, d))),
    // s35: recall per code width (bit masks of one 24-bit pass)
    "s35_hamming_recall" -> ((s, d) =>
      S.hammingRecall(Tables.embeddings(s, d))),
    // b02: RRF hybrid fusion of the BM25 and dense tiers
    "b02_rrf_fusion" -> ((s, d) =>
      graft.operators.Ranking.rrfFusion(Tables.documents(s, d),
        Tables.embeddings(s, d))),
    // w22: time-weighted average per (type, day) beside w20's OHLC
    "w22_twap_daily" -> ((s, d) =>
      W.twapDaily(Tables.events(s, d))),
    // w23: watermark-lateness histogram — the out-of-orderness profile
    // that sizes the streaming suite's withWatermark delays
    "w23_watermark_lateness" -> ((s, d) =>
      W.watermarkLateness(Tables.events(s, d))),
    // l15: dynamic partition overwrite (replaceWhere) round-trip
    "l15_replace_where" -> ((s, d) =>
      graft.lake.LakeQueries.replaceWhereRead(s, Tables.orders(s, d))),
    // l16: write-audit-publish — staged commit, audits over the staged
    // files, publish-or-abort; ledger + published state read back
    // l17: zero-copy branch refs — fork marker + MOR correction on the
    // branch, independent append on main, both refs read back
    "l17_branch_refs" -> ((s, d) =>
      graft.lake.LakeQueries.branchRead(s, Tables.orders(s, d))),
    "l16_wap_commit" -> ((s, d) =>
      graft.lake.LakeQueries.wapRead(s, Tables.orders(s, d))),
    // l18: vacuum dry run — per-version kind/base/rows + retention
    // verdict (kept_recent / mor_base liveness / expired) at keepLast=1
    "l18_vacuum_plan" -> ((s, d) =>
      graft.lake.LakeQueries.vacuumPlanReport(s, Tables.orders(s, d))),
    // --- round 14 ---
    // s36: full index lifecycle — frozen-base train, append, tombstone,
    // stored-table partition-pruned serve, composed end to end
    "s36_index_lifecycle" -> ((s, d) =>
      S.ivfPqLifecycleServe(Tables.embeddings(s, d))),
    // d18: URL canonicalization + first-occurrence URL-level dedup
    "d18_url_dedup" -> ((s, d) =>
      D.urlDedup(Tables.documents(s, d))),
    // d19: duplicate-SPAN removal (Lee et al. exact-substring dedup,
    // the cutting step d16 only reports) — owner keeps, others excise
    "d19_span_removal" -> ((s, d) =>
      D.removeDuplicateSpans(Tables.documents(s, d))),
    // t42: interpolated bigram LM score + perplexity terciles
    "t42_lm_perplexity" -> ((s, d) =>
      T.smoothedLmScore(Tables.documents(s, d))),
    // t43: BPE ENCODE — train 8 merges live (t38's loop, cached per
    // (session, fixture): one tokenizer serves t43/t46/t47/t48 exactly
    // as a real pipeline trains once), replay them over the |vocab|
    // table, broadcast word→pieces back to the corpus
    "t43_bpe_encode" -> ((s, d) =>
      T.bpeEncode(Tables.documents(s, d), trainedMerges(s, d))),
    // --- round 15 ---
    // t44: per-domain boilerplate-line profile (d18 registered domain
    // × t39 line render — the CCNet per-site template signal)
    "t44_domain_boilerplate" -> ((s, d) =>
      T.domainBoilerplate(Tables.documents(s, d))),
    // t45: Heaps-law vocab growth over nested deterministic prefixes
    "t45_vocab_growth" -> ((s, d) =>
      T.vocabGrowth(Tables.documents(s, d))),
    // --- round 16 ---
    // t46: longest-match encode against the trained vocab — t43's twin
    // at constant plan depth (merge list as broadcast DATA, not as
    // |merges| unrolled replace operators)
    "t46_bpe_longest_match" -> ((s, d) =>
      T.bpeLongestMatchEncode(Tables.documents(s, d),
        trainedMerges(s, d))),
    // t47: detokenize round trip — decode(encode(text)) reproduces the
    // whitespace-normalized text, md5-attested per doc
    "t47_detok_roundtrip" -> ((s, d) =>
      T.detokenizeRoundTrip(Tables.documents(s, d),
        trainedMerges(s, d))),
    // t48: tokenizer fertility by source — the tokenizer-fairness
    // datasheet row (who pays more pieces per word)
    "t48_fertility_by_source" -> ((s, d) =>
      T.fertilityBySource(Tables.documents(s, d), trainedMerges(s, d))),
    // p16: the data-constrained epoch/repeat plan (Muennighoff 2023)
    "p16_epoch_plan" -> ((s, d) =>
      graft.operators.Sampling.epochPlan(Tables.documents(s, d))),
    // p10: incremental corpus build — delta through the stored indexes
    // (d18 URL → d10 digest → p05 decontam incl. retroactive retraction
    // → p03 budget), oracle-checked vs the from-scratch union build
    "p10_incremental_corpus" -> ((s, d) =>
      T.incrementalCorpusBuild(Tables.documents(s, d))),
    // p11: learned quality filter applied (fixed-literal linear model
    // over p07's features) vs the p08 gate pipeline — agreement table
    "p11_learned_filter" -> ((s, d) =>
      T.learnedQualityFilter(Tables.documents(s, d))),
    // s37: structured-OPQ PQ — variance permutation + block-Hadamard
    "s37_rotated_pq" -> ((s, d) =>
      S.rotatedPqTopK(Tables.embeddings(s, d))),
    // s39: the s38 tiers over the anisotropic counter-fixture — the
    // view where the rotation should pay (per-corpus measurement)
    "s39_aniso_rotation_recall" -> ((s, d) =>
      S.anisotropicRotationRecall(Tables.embeddings(s, d))),
    // s38: raw vs perm vs perm+rot recall at equal code budget
    "s38_rotation_recall" -> ((s, d) =>
      S.rotationRecall(Tables.embeddings(s, d))),
    // b03: pseudo-relevance-feedback query expansion (Rocchio) —
    // feedback pass, term mining, down-weighted re-rank
    "b03_prf_expansion" -> ((s, d) =>
      graft.operators.Ranking.prfExpansion(Tables.documents(s, d))),
    // b04: graded retrieval eval (P@k/R@k/MRR/AP@k vs title-zone
    // pseudo-qrels) — the TREC loop closed over the b01 scorer
    "b04_retrieval_eval" -> ((s, d) =>
      graft.operators.Ranking.retrievalEval(Tables.documents(s, d))),
    // b05: nDCG@10 over b04's judged ranking — graded-relevance
    // headline metric; discounts are driver-precomputed shared literals
    "b05_retrieval_ndcg" -> ((s, d) =>
      graft.operators.Ranking.retrievalNdcg(Tables.documents(s, d))),
    // c03: proximity-boosted retrieval (Tao & Zhai MinDist) — rational
    // 1/(1+minDist) boost on the b01 score, adjacency-scan span law
    "c03_proximity_rank" -> ((s, d) =>
      graft.operators.Ranking.proximityRank(Tables.documents(s, d))),
    // p12: the sharded-export publish manifest — per-shard counts,
    // key ranges, order markers, order-free exact content checksum
    "p12_shard_manifest" -> ((s, d) =>
      graft.operators.Sampling.shardManifest(Tables.documents(s, d))),
    // p13: the two-stage/anneal schedule — learned-keep docs phased by
    // margin tercile onto the p12 shard grid
    "p13_anneal_schedule" -> ((s, d) =>
      T.annealSchedule(Tables.documents(s, d))),
    // p14: the per-source dataset card (datasheet rollup of t02/p08/d01)
    "p14_dataset_card" -> ((s, d) =>
      T.datasetCard(Tables.documents(s, d))),
    // p15: source×source near-dup overlap matrix — p14's missing
    // datasheet row (which sources copy which), d03/d04 band machinery
    // with the d11 posting cap
    "p15_source_overlap" -> ((s, d) =>
      D.sourceOverlapMatrix(Tables.documents(s, d))),
    // p17: p12's manifest maintained incrementally (per-batch raw
    // manifests merged, no rescan) — oracle is p12's SQL verbatim
    "p17_incremental_manifest" -> ((s, d) =>
      graft.operators.Sampling.incrementalManifest(Tables.documents(s, d))),
    // p18: embedding-space decontamination vs the held-out eval slice
    // (the p02/p05 ladder's semantic rung) — nearest eval item + margin
    "p18_semantic_decontam" -> ((s, d) =>
      D.semanticDecontam(Tables.embeddings(s, d),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0)),
    // p19: DoReMi-lite domain reweighting — 4 multiplicative-weights
    // rounds over a pluggable excess-loss proxy (mean-TTR deficit)
    "p19_domain_reweight" -> ((s, d) =>
      Sm.domainReweight(Tables.documents(s, d))),
    // p20: the trained mixture compiled into hash-threshold sampling
    // + the reconciled per-source keep manifest (closes the p19 loop)
    "p20_mixture_manifest" -> ((s, d) =>
      Sm.mixtureManifest(Tables.documents(s, d))),
    // t49: MATTR — length-robust lexical diversity (sliding-window TTR
    // mean; integer window counts, one division per doc)
    "t49_mattr" -> ((s, d) => T.mattr(Tables.documents(s, d))),
    // t50: unigram-LM tokenizer training (SentencePiece-style EM prune
    // rounds; session-cached model artifact, half-bit integer costs)
    "t50_unigram_train" -> ((s, d) => trainedUnigram(s, d)),
    // t51: document scoring under the t50-trained LM (CCNet-style
    // perplexity filter + the tokenizer's intrinsic compression eval);
    // integer-exact keep decision vs the corpus-average rate
    "t51_unigram_score" -> ((s, d) =>
      T.unigramScore(Tables.documents(s, d), trainedUnigram(s, d))),
    // c04: query-likelihood retrieval with Dirichlet smoothing — the
    // probabilistic-LM scoring paradigm; likelihood product of exact
    // rationals in fixed term order (no libm log)
    "c04_ql_dirichlet" -> ((s, d) =>
      graft.operators.Ranking.qlDirichletRank(Tables.documents(s, d))),
    // b06: paired BM25-vs-QL comparison on the b04 pseudo-qrels —
    // per-query AP@10 for both rankers, delta, sign tally
    "b06_ranker_compare" -> ((s, d) =>
      graft.operators.Ranking.rankerCompare(Tables.documents(s, d))),
    // g11: HITS hubs & authorities over the transition graph — the
    // mutual-reinforcement link-analysis paradigm next to g04; integer
    // fixed-point with shift normalization (no libm L2)
    "g11_hits" -> ((s, d) =>
      graft.operators.Graph.eventTypeHits(Tables.events(s, d))),
    // t52: Zipf octave profile — rank-free frequency-octave datasheet
    // row (types/mass/cumulative share per floor(log2 f) bucket)
    "t52_zipf_profile" -> ((s, d) =>
      T.zipfProfile(Tables.documents(s, d))),
    // k07: Calinski–Harabasz variance-ratio (the ANOVA F) — the
    // higher-is-better counterpart to k06; BGSS via the weighted
    // pairwise identity (no global-mean float sum), micros WGSS
    "k07_calinski_harabasz" -> ((s, d) =>
      graft.operators.Clustering.calinskiHarabasz(Tables.embeddings(s, d))),
    // b07: exact sign-flip permutation test over b06's per-query AP
    // deltas — all 2^K assignments enumerated, two-sided p, no RNG
    "b07_sign_permutation" -> ((s, d) =>
      graft.operators.Ranking.rankerSignificance(Tables.documents(s, d))),
    // l19/l20: interchange-format round-trip fidelity — worst-case
    // injected tail (newline/comma/quote/backslash/tab/non-ASCII),
    // write-once artifact, hash-proof vs the parquet ground truth
    "l19_jsonl_fidelity" -> ((s, d) =>
      graft.sources.FormatFidelity.jsonlRoundTrip(Tables.documents(s, d))),
    "l20_csv_fidelity" -> ((s, d) =>
      graft.sources.FormatFidelity.csvRoundTrip(Tables.documents(s, d))),
    // l21: the SPLITTABLE CSV posture — one record per line by
    // construction (percent-encoded record separators, decoded after
    // a default line-oriented read), same hash proof as l20 but the
    // file stays byte-splittable at 100 TB
    "l21_csv_splittable_fidelity" -> ((s, d) =>
      graft.sources.FormatFidelity.csvSplittableRoundTrip(
        Tables.documents(s, d)))
  )

  /** q40's SQL, shared verbatim between the Spark query (over a temp
    * view) and the DuckDB oracle (over `events`) — the point IS that
    * the same modern-SQL text runs on both engines. Enumerates every
    * DISTINCT-edge path of length ≤ 4 (UNION ALL keeps multiplicity,
    * so the recursion genuinely multiplies on the dense fixture graph
    * instead of collapsing to 1-hop reachability); the cap bounds the
    * working set on cyclic graphs at |E|·overlap⁴. */
  private[graft] def RecursivePathsSql(table: String): String =
    s"""WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS src, event_type AS dst
       |  FROM $table) x WHERE src IS NOT NULL),
       |reach(src, dst, hops) AS (
       |  SELECT src, dst, 1 AS hops FROM e
       |  UNION ALL
       |  SELECT r.src, e.dst, r.hops + 1 FROM reach r
       |  JOIN e ON r.dst = e.src WHERE r.hops < 4)
       |SELECT src, dst, CAST(MIN(hops) AS BIGINT) AS min_hops,
       |  CAST(COUNT(*) AS BIGINT) AS n_paths
       |FROM reach GROUP BY src, dst ORDER BY src, dst""".stripMargin

  private val QualityScoreOracle: String =
    """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS punct,
        |  CAST(len(list_filter(toks, t -> list_contains(
        |    ['the','a','and','of','to','in','is','it'], lower(t)))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS stop,
        |  CAST(len(list_distinct(toks)) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS diversity
        | FROM t)
        |SELECT doc_id,
        | CAST(n_tok AS BIGINT) AS n_tokens,
        | punct AS punct_ratio, stop AS stopword_ratio,
        | diversity AS word_diversity,
        | least(1.0, n_tok/64.0)*0.4 + (1.0-punct)*0.2 + stop*0.2
        |   + diversity*0.2 AS quality,
        | CASE WHEN least(1.0, n_tok/64.0)*0.4 + (1.0-punct)*0.2 + stop*0.2
        |   + diversity*0.2 >= 0.55 THEN 'high'
        |      WHEN least(1.0, n_tok/64.0)*0.4 + (1.0-punct)*0.2 + stop*0.2
        |   + diversity*0.2 >= 0.45 THEN 'medium'
        |      ELSE 'low' END AS quality_tier
        |FROM c ORDER BY doc_id""".stripMargin

  private val UnigramSurpriseOracle: String =
    """WITH tok AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY tok),
        |t AS (SELECT CAST(SUM(tf) AS BIGINT) AS corpus_n FROM f),
        |b AS (SELECT tok.doc_id,
        |  CAST(length(bin(t.corpus_n)) - 1 AS BIGINT)
        |    - CAST(length(bin(f.tf)) - 1 AS BIGINT) AS bits
        | FROM tok JOIN f USING (tok) CROSS JOIN t)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
        |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mean_bits,
        |  CAST(MAX(bits) AS BIGINT) AS max_bits
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val RepetitionProfileOracle: String =
    """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks
        |  FROM t WHERE len(toks) >= 4),
        |g2 AS (SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS g
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 1)) AS i
        |    FROM b)),
        |c2 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM g2 GROUP BY doc_id, g),
        |tb AS (SELECT doc_id, g AS top_bigram,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g)
        |    AS rn FROM c2),
        |d2 AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0
        |    END) AS BIGINT) AS dup2_count FROM c2 GROUP BY doc_id),
        |g3 AS (SELECT doc_id,
        |    toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS g
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS i
        |    FROM b)),
        |c3 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM g3 GROUP BY doc_id, g),
        |d3 AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0
        |    END) AS BIGINT) AS dup3_count FROM c3 GROUP BY doc_id),
        |g4 AS (SELECT doc_id, toks[i+1] || ' ' || toks[i+2] || ' '
        |    || toks[i+3] || ' ' || toks[i+4] AS g
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 3)) AS i
        |    FROM b)),
        |c4 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM g4 GROUP BY doc_id, g),
        |d4 AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0
        |    END) AS BIGINT) AS dup4_count FROM c4 GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, tb.top_bigram,
        |  d2.dup2_count, CAST(d2.dup2_count AS DOUBLE)
        |    / CAST(b.n_tokens - 1 AS DOUBLE) AS dup2_frac,
        |  d3.dup3_count, CAST(d3.dup3_count AS DOUBLE)
        |    / CAST(b.n_tokens - 2 AS DOUBLE) AS dup3_frac,
        |  d4.dup4_count, CAST(d4.dup4_count AS DOUBLE)
        |    / CAST(b.n_tokens - 3 AS DOUBLE) AS dup4_frac
        |FROM b JOIN tb ON b.doc_id = tb.doc_id AND tb.rn = 1
        |JOIN d2 ON b.doc_id = d2.doc_id
        |JOIN d3 ON b.doc_id = d3.doc_id
        |JOIN d4 ON b.doc_id = d4.doc_id
        |ORDER BY b.doc_id""".stripMargin

  private val CodeDetectOracle: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
        |codeified AS (SELECT doc_id + 1000000 AS doc_id,
        |  array_to_string(list_transform(
        |    string_split_regex(trim(text), '\s+'),
        |    t -> concat('f("', t, '");')), chr(10)) AS text FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM codeified),
        |m AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(text) - length(
        |    replace(replace(replace(replace(replace(replace(text,
        |      '(', ''), ')', ''), '{', ''), '}', ''), ';', ''), '=', ''))
        |    AS BIGINT) AS n_sym,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
        | FROM corpus)
        |SELECT doc_id, n_chars, n_sym, n_lines,
        |  n_sym * 50 >= n_chars AS is_code
        |FROM m ORDER BY doc_id""".stripMargin

  // DuckDB-dialect oracles. Shared fragments:
  //   dsum(c,s)  ≡ CAST(SUM(CAST(c AS DECIMAL(18,s))) AS DOUBLE)
  //   davg(c,s)  ≡ dsum(c,s)/COUNT(c)

  /** Shared k-medians training CTEs (seed → assign → median update →
    * final assignment `a2`): k01 selects a2 directly, k02 aggregates
    * inertia over it. (s08 keeps its own inline copy — its a2 carries
    * extra columns.) */
  private val KMediansA2: String = kMediansA2At(8)

  /** [[KMediansA2]] parameterized by the seed/cluster count K — k08
    * mirrors the k01 pipeline at K=64, the tier where the Spark side
    * switches to the two-level pruned assignment (the oracle stays the
    * BRUTE form: assignPruned is spec-proven bitwise-equal to it). */
  private def kMediansA2At(k: Int): String =
    s"""WITH v AS (SELECT vec_id, embedding AS emb,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS vnorm2 FROM embeddings),
      |c0 AS (SELECT vec_id AS cluster_id, embedding AS cemb,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS cnorm2 FROM embeddings WHERE vec_id < $k),
      |a1 AS (SELECT vec_id, emb, vnorm2, cluster_id, dist2 FROM (
      |  SELECT vec_id, emb, vnorm2, cluster_id, dist2,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist2 ASC, cluster_id ASC) AS rn
      |  FROM (SELECT v.vec_id, v.emb, v.vnorm2, c.cluster_id,
      |    v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.emb)+1), i ->
      |        CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM v CROSS JOIN c0 c)) WHERE rn = 1),
      |ex1 AS (SELECT cluster_id, vec_id, u.dim AS dim, u.val AS val
      |  FROM (SELECT cluster_id, vec_id,
      |    unnest(list_transform(range(1, len(emb)+1),
      |      i -> {'dim': i, 'val': emb[i]})) AS u FROM a1)),
      |med1 AS (SELECT cluster_id, dim, val FROM (
      |  SELECT cluster_id, dim, val,
      |    row_number() OVER (PARTITION BY cluster_id, dim
      |      ORDER BY val ASC, vec_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY cluster_id, dim) AS n
      |  FROM ex1) WHERE rn = (n + 1) // 2),
      |c1a AS (SELECT cluster_id, list(val ORDER BY dim) AS cemb
      |  FROM med1 GROUP BY cluster_id),
      |c1 AS (SELECT cluster_id, cemb,
      |  list_reduce(list_transform(range(1, len(cemb)+1), i ->
      |    CAST(cemb[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS cnorm2 FROM c1a),
      |a2 AS (SELECT vec_id, cluster_id, dist2 FROM (
      |  SELECT vec_id, cluster_id, dist2,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist2 ASC, cluster_id ASC) AS rn
      |  FROM (SELECT v.vec_id, c.cluster_id,
      |    v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.emb)+1), i ->
      |        CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM v CROSS JOIN c1 c)) WHERE rn = 1)""".stripMargin

  /** d18's deterministic messy-URL synthesis as a CTE (`u`) — the SQL
    * mirror of [[graft.operators.Dedup.syntheticUrl]], shared by the
    * d18 and t44 oracles so the construction cannot drift. */
  private val SynthUrlCte: String =
    "u AS (SELECT doc_id,\n" +
    "  CASE WHEN doc_id % 5 = 0 THEN 'https://EXAMPLE' ||\n" +
    "    CAST(doc_id // 50 AS VARCHAR) || '.COM/Page/' ||\n" +
    "    CAST(doc_id // 5 AS VARCHAR)\n" +
    "  WHEN doc_id % 5 = 1 THEN 'https://www.example' ||\n" +
    "    CAST(doc_id // 50 AS VARCHAR) || '.com/Page/' ||\n" +
    "    CAST(doc_id // 5 AS VARCHAR) || '/'\n" +
    "  WHEN doc_id % 5 = 2 THEN 'http://example' ||\n" +
    "    CAST(doc_id // 50 AS VARCHAR) || '.com/Page/' ||\n" +
    "    CAST(doc_id // 5 AS VARCHAR) || '?utm_source=feed&ref=rss'\n" +
    "  WHEN doc_id % 5 = 3 THEN 'https://example' ||\n" +
    "    CAST(doc_id // 50 AS VARCHAR) || '.com/Page/' ||\n" +
    "    CAST(doc_id // 5 AS VARCHAR) ||\n" +
    "    '?ref=rss&utm_campaign=x#section-2'\n" +
    "  ELSE 'https://blog.example' ||\n" +
    "    CAST(doc_id // 50 AS VARCHAR) || '.com/Page/' ||\n" +
    "    CAST(doc_id // 5 AS VARCHAR) END AS url FROM documents)"

  /** PSL-lite registered-domain CASE over a `host` column — assembled
    * from the SAME Scala suffix list the Spark expression uses. */
  private val DomainCaseSql: String =
    s"CASE WHEN regexp_extract(host, '([^.]+\\." +
    graft.operators.Dedup.MultiLabelSuffixRegex + ")$', 1) <> ''\n" +
    s"    THEN regexp_extract(host, '([^.]+\\." +
    graft.operators.Dedup.MultiLabelSuffixRegex + ")$', 1)\n" +
    "    ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1) END"

  /** The min-label connected-components ground truth over the d06
    * near-dup pair graph (recursive reachability + per-node MIN) —
    * shared by d07 (label propagation) and d20 (star contraction):
    * both algorithms must land on the SAME fixed point. */
  private val MinLabelCcOracle: String =
    """WITH RECURSIVE n AS (SELECT vec_id, label, embedding,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS norm2 FROM embeddings),
      |p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
      |  list_reduce(list_transform(range(1, len(a.embedding)+1), i ->
      |    CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(b.norm2)) AS cosine
      | FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id),
      |pairs AS (SELECT vec_id_a, vec_id_b FROM p WHERE cosine >= 0.35),
      |edges AS (SELECT vec_id_a AS u, vec_id_b AS v FROM pairs
      |  UNION SELECT vec_id_b, vec_id_a FROM pairs),
      |reach AS (
      |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
      |SELECT u AS vec_id, min(v) AS cluster_id,
      | (u = min(v)) AS is_canonical
      |FROM reach GROUP BY u ORDER BY u""".stripMargin

  /** s01's exact brute-force top-10 — also the ground-truth side of the
    * recall evals (s13 wraps it as a nested-WITH subquery). */
  /** s01's exact-cosine CTE chain WITHOUT the leading `WITH`: norms,
    * 5-query workload, full-corpus scored cross, deterministic rank.
    * Shared by the brute-force oracle itself and s23's MMR greedy. */
  private val BruteCtes: String =
    """n AS (SELECT vec_id, label, embedding,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS norm2 FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS query_emb,
      |  norm2 AS qnorm2 FROM n WHERE vec_id < 5),
      |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
      |  list_reduce(list_transform(range(1, len(c.embedding)+1), i ->
      |    CAST(c.embedding[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (sqrt(c.norm2) * sqrt(q.qnorm2)) AS cosine
      | FROM n c CROSS JOIN q WHERE c.vec_id <> q.query_id),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      | FROM scored)""".stripMargin

  private val BruteTopKOracle: String =
    s"WITH $BruteCtes\n" +
    """SELECT query_id, neighbor_id, cosine, rank FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** s41: BruteCtes' n/q frames, raw-dot scoring (no norm division in
    * the ranking), rank by (dot DESC, id ASC); the reduction witness
    * aug_cos = dot/(M·‖q‖) rides along from the 1-row max-norm CTE. */
  private val MipsOracle: String =
    s"""WITH n AS (SELECT vec_id, label, embedding,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS norm2 FROM embeddings),
      |m AS (SELECT MAX(norm2) AS m2 FROM n),
      |q AS (SELECT vec_id AS query_id, embedding AS query_emb,
      |  norm2 AS qnorm2 FROM n WHERE vec_id < 5),
      |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id, q.qnorm2,
      |  list_reduce(list_transform(range(1, len(c.embedding)+1), i ->
      |    CAST(c.embedding[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
      |    (x, y) -> x + y) AS dot
      | FROM n c CROSS JOIN q WHERE c.vec_id <> q.query_id),
      |r AS (SELECT query_id, neighbor_id, dot, qnorm2,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY dot DESC, neighbor_id ASC) AS BIGINT) AS rank
      | FROM scored)
      |SELECT query_id, neighbor_id, dot,
      |  dot / (sqrt(m.m2) * sqrt(qnorm2)) AS aug_cos, rank
      |FROM r CROSS JOIN m
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** s23: the MMR greedy unrolled to k=5 CTE steps over the s01
    * candidates — relevance and pairwise cosines quantized to integer
    * micros ONCE, then every selection is an exact-long argmax with
    * (mmr desc, id asc) tie-breaks; step i scores each remaining
    * candidate against the accumulated selection a(i−1). Mirrors the
    * Spark driver loop CTE-for-iteration. */
  private val MmrOracle: String = {
    val steps = (2 to 5).map { i =>
      val prev = if (i == 2) "s1" else s"a${i - 1}"
      s"""r$i AS (SELECT c.query_id, c.vec_id,
         |  c.qmu * 7 - MAX(p.pmu) * 3 AS mmr_mu
         |  FROM cand c JOIN ps p ON p.query_id = c.query_id
         |    AND p.va = c.vec_id
         |  JOIN $prev s ON s.query_id = p.query_id AND s.vec_id = p.vb
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |    WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
         |  GROUP BY c.query_id, c.vec_id, c.qmu),
         |s$i AS (SELECT query_id, vec_id, CAST($i AS BIGINT) AS step,
         |    mmr_mu
         |  FROM (SELECT query_id, vec_id, mmr_mu,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY mmr_mu DESC, vec_id) AS rn FROM r$i)
         |  WHERE rn = 1),
         |a$i AS (SELECT * FROM $prev UNION ALL SELECT * FROM s$i)"""
        .stripMargin
    }.mkString(",\n")
    s"WITH $BruteCtes,\n" +
    """cand AS (SELECT query_id, neighbor_id AS vec_id,
      |  CAST(floor(cosine * 1000000.0) AS BIGINT) AS qmu
      |  FROM r WHERE rank <= 10),
      |ce AS (SELECT c.query_id, c.vec_id, n.embedding, n.norm2
      |  FROM cand c JOIN n ON c.vec_id = n.vec_id),
      |ps AS (SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
      |  CAST(floor(list_reduce(
      |    list_transform(range(1, len(a.embedding)+1), i ->
      |      CAST(a.embedding[i] AS DOUBLE)
      |        * CAST(b.embedding[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(b.norm2))
      |    * 1000000.0) AS BIGINT) AS pmu
      |  FROM ce a JOIN ce b ON a.query_id = b.query_id
      |    AND a.vec_id <> b.vec_id),
      |s1 AS (SELECT query_id, vec_id, CAST(1 AS BIGINT) AS step,
      |    qmu * 7 AS mmr_mu
      |  FROM (SELECT query_id, vec_id, qmu,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY qmu DESC, vec_id) AS rn FROM cand)
      |  WHERE rn = 1),
      |""".stripMargin + steps + "\n" +
    """SELECT query_id, vec_id AS neighbor_id, step, mmr_mu FROM a5
      |ORDER BY query_id, step""".stripMargin
  }

  /** s20: coarse rank by PREFIX-16 cosine (same fold arithmetic as the
    * brute oracle restricted to the first 16 dims), kCoarse=30
    * survivors reranked by full-dim cosine. Both tiers tie-break on
    * neighbor id, mirroring TopKByScore. */
  private val MatryoshkaOracle: String =
    """WITH n AS (SELECT vec_id, embedding,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS norm2,
      |  list_reduce(list_transform(range(1, 17), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS pnorm2 FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qemb,
      |  norm2 AS qnorm2, pnorm2 AS qpnorm2 FROM n WHERE vec_id < 5),
      |coarse AS (SELECT q.query_id, c.vec_id AS neighbor_id,
      |  c.embedding AS nemb, c.norm2 AS nnorm2, q.qemb, q.qnorm2,
      |  list_reduce(list_transform(range(1, 17), i ->
      |    CAST(c.embedding[i] AS DOUBLE) * CAST(q.qemb[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (sqrt(c.pnorm2) * sqrt(q.qpnorm2)) AS pcos
      | FROM n c CROSS JOIN q WHERE c.vec_id <> q.query_id),
      |cand AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY pcos DESC, neighbor_id ASC) AS crank FROM coarse),
      |re AS (SELECT query_id, neighbor_id,
      |  list_reduce(list_transform(range(1, len(nemb)+1), i ->
      |    CAST(nemb[i] AS DOUBLE) * CAST(qemb[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (sqrt(nnorm2) * sqrt(qnorm2)) AS cosine
      | FROM cand WHERE crank <= 30),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      | FROM re)
      |SELECT query_id, neighbor_id, cosine, rank FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** s11's flat PQ-ADC top-10: subspace-keyed rerun of s08's training
    * idiom (one median round), then ADC = sum of per-subspace LUT dots
    * quantized to integer micros BEFORE the sum (order-free). Also a
    * recall-eval side of s13. */
  private val PqAdcOracle: String =
    """WITH sn AS (SELECT vec_id, u.sub AS sub, u.semb AS semb,
      |    list_reduce(list_transform(range(1, len(u.semb)+1), i ->
      |      CAST(u.semb[i] AS DOUBLE) * CAST(u.semb[i] AS DOUBLE)),
      |      (a, b) -> a + b) AS snorm2
      |  FROM (SELECT vec_id, unnest(list_transform(range(0, 4), s ->
      |    {'sub': s, 'semb': embedding[s*16+1 : s*16+16]})) AS u
      |   FROM embeddings)),
      |c0 AS (SELECT sub, vec_id AS code, semb AS cemb,
      |    snorm2 AS cnorm2 FROM sn WHERE vec_id < 8),
      |a1 AS (SELECT vec_id, sub, code, semb FROM (
      |  SELECT vec_id, sub, code, semb,
      |    row_number() OVER (PARTITION BY vec_id, sub
      |      ORDER BY dist2 ASC, code ASC) AS rn
      |  FROM (SELECT v.vec_id, v.sub, c.code, v.semb,
      |    v.snorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.semb)+1), i ->
      |        CAST(v.semb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM sn v JOIN c0 c ON v.sub = c.sub)) WHERE rn = 1),
      |ex1 AS (SELECT sub, code, vec_id, u.dim AS dim, u.val AS val
      |  FROM (SELECT sub, code, vec_id,
      |    unnest(list_transform(range(1, len(semb)+1),
      |      i -> {'dim': i, 'val': semb[i]})) AS u FROM a1)),
      |med1 AS (SELECT sub, code, dim, val FROM (
      |  SELECT sub, code, dim, val,
      |    row_number() OVER (PARTITION BY sub, code, dim
      |      ORDER BY val ASC, vec_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY sub, code, dim) AS n
      |  FROM ex1) WHERE rn = (n + 1) // 2),
      |c1a AS (SELECT sub, code, list(val ORDER BY dim) AS cemb
      |  FROM med1 GROUP BY sub, code),
      |c1 AS (SELECT sub, code, cemb,
      |  list_reduce(list_transform(range(1, len(cemb)+1), i ->
      |    CAST(cemb[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS cnorm2 FROM c1a),
      |codes AS (SELECT vec_id, sub, code FROM (
      |  SELECT vec_id, sub, code,
      |    row_number() OVER (PARTITION BY vec_id, sub
      |      ORDER BY dist2 ASC, code ASC) AS rn
      |  FROM (SELECT v.vec_id, v.sub, c.code,
      |    v.snorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.semb)+1), i ->
      |        CAST(v.semb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM sn v JOIN c1 c ON v.sub = c.sub)) WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, sub, semb AS qsemb
      |  FROM sn WHERE vec_id < 5),
      |lut AS (SELECT q.query_id, c.sub, c.code,
      |  CAST(floor(list_reduce(list_transform(range(1, len(c.cemb)+1),
      |    i -> CAST(q.qsemb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |    (x, y) -> x + y) * 1000000.0) AS BIGINT) AS pdot_fp
      |  FROM q JOIN c1 c ON q.sub = c.sub),
      |adc AS (SELECT l.query_id, co.vec_id AS neighbor_id,
      |  CAST(SUM(l.pdot_fp) AS BIGINT) AS adc_fp
      |  FROM codes co JOIN lut l ON co.sub = l.sub AND co.code = l.code
      |  WHERE co.vec_id <> l.query_id GROUP BY 1, 2),
      |r AS (SELECT query_id, neighbor_id, adc_fp,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc_fp DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM adc)
      |SELECT query_id, neighbor_id, adc_fp, rank FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** The IVF-PQ CTE chain WITHOUT the leading `WITH` and without the
    * final own-cell ADC: coarse training/assignment (cc-/ca-prefixed),
    * subspace PQ training + codes (p-prefixed), per-query LUT. Shared
    * by [[IvfPqOracle]] (own-cell ADC suffix) and s16's nprobe curve
    * (cell-ranked probe suffix). */
  private val IvfPqCtes: String =
    """cv AS (SELECT vec_id, embedding AS emb,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS vnorm2 FROM embeddings),
      |cc0 AS (SELECT vec_id AS cluster_id, embedding AS cemb,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS cnorm2 FROM embeddings WHERE vec_id < 8),
      |ca1 AS (SELECT vec_id, emb, vnorm2, cluster_id FROM (
      |  SELECT vec_id, emb, vnorm2, cluster_id,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist2 ASC, cluster_id ASC) AS rn
      |  FROM (SELECT v.vec_id, v.emb, v.vnorm2, c.cluster_id,
      |    v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.emb)+1), i ->
      |        CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM cv v CROSS JOIN cc0 c)) WHERE rn = 1),
      |cex1 AS (SELECT cluster_id, vec_id, u.dim AS dim, u.val AS val
      |  FROM (SELECT cluster_id, vec_id,
      |    unnest(list_transform(range(1, len(emb)+1),
      |      i -> {'dim': i, 'val': emb[i]})) AS u FROM ca1)),
      |cmed1 AS (SELECT cluster_id, dim, val FROM (
      |  SELECT cluster_id, dim, val,
      |    row_number() OVER (PARTITION BY cluster_id, dim
      |      ORDER BY val ASC, vec_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY cluster_id, dim) AS n
      |  FROM cex1) WHERE rn = (n + 1) // 2),
      |cc1a AS (SELECT cluster_id, list(val ORDER BY dim) AS cemb
      |  FROM cmed1 GROUP BY cluster_id),
      |cc1 AS (SELECT cluster_id, cemb,
      |  list_reduce(list_transform(range(1, len(cemb)+1), i ->
      |    CAST(cemb[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS cnorm2 FROM cc1a),
      |ca2 AS (SELECT vec_id, cluster_id FROM (
      |  SELECT vec_id, cluster_id,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist2 ASC, cluster_id ASC) AS rn
      |  FROM (SELECT v.vec_id, c.cluster_id,
      |    v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.emb)+1), i ->
      |        CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM cv v CROSS JOIN cc1 c)) WHERE rn = 1),
      |sn AS (SELECT vec_id, u.sub AS sub, u.semb AS semb,
      |    list_reduce(list_transform(range(1, len(u.semb)+1), i ->
      |      CAST(u.semb[i] AS DOUBLE) * CAST(u.semb[i] AS DOUBLE)),
      |      (a, b) -> a + b) AS snorm2
      |  FROM (SELECT vec_id, unnest(list_transform(range(0, 4), s ->
      |    {'sub': s, 'semb': embedding[s*16+1 : s*16+16]})) AS u
      |   FROM embeddings)),
      |p0 AS (SELECT sub, vec_id AS code, semb AS cemb,
      |    snorm2 AS cnorm2 FROM sn WHERE vec_id < 8),
      |pa1 AS (SELECT vec_id, sub, code, semb FROM (
      |  SELECT vec_id, sub, code, semb,
      |    row_number() OVER (PARTITION BY vec_id, sub
      |      ORDER BY dist2 ASC, code ASC) AS rn
      |  FROM (SELECT v.vec_id, v.sub, c.code, v.semb,
      |    v.snorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.semb)+1), i ->
      |        CAST(v.semb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM sn v JOIN p0 c ON v.sub = c.sub)) WHERE rn = 1),
      |pex1 AS (SELECT sub, code, vec_id, u.dim AS dim, u.val AS val
      |  FROM (SELECT sub, code, vec_id,
      |    unnest(list_transform(range(1, len(semb)+1),
      |      i -> {'dim': i, 'val': semb[i]})) AS u FROM pa1)),
      |pmed1 AS (SELECT sub, code, dim, val FROM (
      |  SELECT sub, code, dim, val,
      |    row_number() OVER (PARTITION BY sub, code, dim
      |      ORDER BY val ASC, vec_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY sub, code, dim) AS n
      |  FROM pex1) WHERE rn = (n + 1) // 2),
      |pc1a AS (SELECT sub, code, list(val ORDER BY dim) AS cemb
      |  FROM pmed1 GROUP BY sub, code),
      |pc1 AS (SELECT sub, code, cemb,
      |  list_reduce(list_transform(range(1, len(cemb)+1), i ->
      |    CAST(cemb[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS cnorm2 FROM pc1a),
      |pcodes AS (SELECT vec_id, sub, code FROM (
      |  SELECT vec_id, sub, code,
      |    row_number() OVER (PARTITION BY vec_id, sub
      |      ORDER BY dist2 ASC, code ASC) AS rn
      |  FROM (SELECT v.vec_id, v.sub, c.code,
      |    v.snorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.semb)+1), i ->
      |        CAST(v.semb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM sn v JOIN pc1 c ON v.sub = c.sub)) WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, sub, semb AS qsemb
      |  FROM sn WHERE vec_id < 5),
      |lut AS (SELECT q.query_id, c.sub, c.code,
      |  CAST(floor(list_reduce(list_transform(range(1, len(c.cemb)+1),
      |    i -> CAST(q.qsemb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |    (x, y) -> x + y) * 1000000.0) AS BIGINT) AS pdot_fp
      |  FROM q JOIN pc1 c ON q.sub = c.sub)""".stripMargin

  /** s12's IVF-PQ top-10: [[IvfPqCtes]] + ADC scoring restricted to
    * each query's own coarse cell. Shared verbatim by s15 (the serving
    * form is results-identical by construction) and the ivfpq side of
    * s13. */
  /** The own-cell ADC tail shared by the raw (s12) and residual (s30)
    * IVF-PQ oracles — both CTE chains end in the same ca2/pcodes/lut
    * names, so the scoring suffix is identical text. */
  private val IvfPqAdcSuffix: String =
    """qc AS (SELECT vec_id AS query_id, cluster_id AS qcell
      |  FROM ca2 WHERE vec_id < 5),
      |adc AS (SELECT l.query_id, qc.qcell, co.vec_id AS neighbor_id,
      |  CAST(SUM(l.pdot_fp) AS BIGINT) AS adc_fp
      |  FROM pcodes co
      |  JOIN ca2 ce ON co.vec_id = ce.vec_id
      |  JOIN lut l ON co.sub = l.sub AND co.code = l.code
      |  JOIN qc ON l.query_id = qc.query_id
      |  WHERE ce.cluster_id = qc.qcell AND co.vec_id <> l.query_id
      |  GROUP BY 1, 2, 3),
      |r AS (SELECT query_id, qcell, neighbor_id, adc_fp,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc_fp DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM adc)
      |SELECT query_id, qcell AS cell, neighbor_id, adc_fp, rank FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private val IvfPqOracle: String =
    s"WITH $IvfPqCtes,\n" + IvfPqAdcSuffix

  /** s30: [[IvfPqCtes]] with the PQ half re-pointed at residuals —
    * text surgery on the shared chain so the two oracles cannot drift:
    * the coarse half (cv…ca2) is reused verbatim; a residual CTE
    * (rv/rres: one double subtract of two input floats, rounded once
    * back to FLOAT) is inserted; the PQ half then trains/encodes over
    * `rres` instead of `embeddings`, except the query LUT side (q),
    * which stays RAW (qsn) — the q·centroid term is cell-constant and
    * drops out of the within-cell ranking. */
  private val IvfPqResidualOracle: String = {
    val idx = IvfPqCtes.indexOf("sn AS (")
    require(idx > 0, "IvfPqCtes drifted: no `sn AS (` anchor")
    val coarse = IvfPqCtes.substring(0, idx)
    val pq = IvfPqCtes.substring(idx)
      .replace("FROM embeddings)", "FROM rres)")
      .replace("FROM sn WHERE vec_id < 5)", "FROM qsn WHERE vec_id < 5)")
    require(pq.contains("FROM rres)") && pq.contains("FROM qsn"),
      "IvfPqCtes drifted: residual rewrite anchors missing")
    "WITH " + coarse +
      """rv AS (SELECT a.vec_id, a.cluster_id,
        |  list_transform(range(1, len(v.emb)+1), i ->
        |    CAST(CAST(v.emb[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE)
        |      AS FLOAT)) AS remb
        |  FROM ca2 a JOIN cv v ON a.vec_id = v.vec_id
        |  JOIN cc1 c ON a.cluster_id = c.cluster_id),
        |rres AS (SELECT vec_id, remb AS embedding FROM rv),
        |qsn AS (SELECT vec_id, u.sub AS sub, u.semb AS semb
        |  FROM (SELECT vec_id, unnest(list_transform(range(0, 4), s ->
        |    {'sub': s, 'semb': embedding[s*16+1 : s*16+16]})) AS u
        |   FROM embeddings)),
        |""".stripMargin + pq + ",\n" + IvfPqAdcSuffix
  }

  /** g08: the walk recursion unrolled to walkLen=3 step CTEs, each
    * re-proving the argmin choice (row_number over the same md5 seed
    * string, dst tie-break) against the s21 edge set. */
  // lazy: declared above KnnGraphCtes in file order — a strict val
  // would read it as null at object init
  private lazy val GraphWalksOracle: String = {
    def stepCte(i: Int): String =
      s"""f$i AS (SELECT start_id, walk_no, node FROM (
         |  SELECT f.start_id, f.walk_no, e.dst AS node,
         |    row_number() OVER (PARTITION BY f.start_id, f.walk_no
         |      ORDER BY md5(concat_ws(':', f.start_id, f.walk_no, $i,
         |        f.node, e.dst)), e.dst) AS rn
         |  FROM f${i - 1} f JOIN knn e ON f.node = e.src) WHERE rn = 1)"""
        .stripMargin
    s"WITH $KnnGraphCtes,\n" +
      """knn AS (SELECT vec_id AS src, neighbor_id AS dst FROM r
        |  WHERE rank <= 5),
        |w0 AS (SELECT DISTINCT src AS start_id FROM knn),
        |f0 AS (SELECT start_id, wn AS walk_no, start_id AS node
        |  FROM w0, UNNEST(range(0, 2)) AS u(wn)),
        |""".stripMargin +
      (1 to 3).map(stepCte).mkString(",\n") + "\n" +
      (0 to 3).map(i =>
        s"SELECT start_id, walk_no, CAST($i AS BIGINT) AS step, node" +
          s" FROM f$i")
        .mkString("", "\nUNION ALL ", "\n") +
      "ORDER BY start_id, walk_no, step"
  }

  /** p19 (shared with p20's nesting): the MW loop unrolled to 4
    * (u, s, w) CTE levels — each uN is read twice (normalizer + next
    * round) so they are MATERIALIZED (the exponential-inline gotcha);
    * folds in source-ASC order. */
  private lazy val DomainReweightOracle: String = {
    def round(i: Int): String = {
      val prev = if (i == 1) "b" else s"w${i - 1}"
      s"""u$i AS MATERIALIZED (SELECT source, n_tokens, ttr, excess,
         |  w * (1.0 + 0.5 * excess) AS u FROM $prev),
         |s$i AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list(u ORDER BY source)), (a, b) -> a + b) AS s FROM u$i),
         |w$i AS (SELECT source, n_tokens, ttr, excess,
         |  u / s$i.s AS w FROM u$i CROSS JOIN s$i)""".stripMargin
    }
    """WITH tk AS (SELECT source,
      |  unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
      |  FROM tk GROUP BY source),
      |t AS (SELECT source, n_tokens,
      |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr
      |  FROM ps),
      |m AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list(ttr ORDER BY source)), (a, b) -> a + b)
      |    / CAST(COUNT(*) AS DOUBLE) AS mean_ttr,
      |  CAST(COUNT(*) AS BIGINT) AS n_sources FROM t),
      |b AS (SELECT source, n_tokens, ttr,
      |  GREATEST(CAST(0.0 AS DOUBLE), m.mean_ttr - ttr) AS excess,
      |  CAST(1.0 AS DOUBLE) / CAST(m.n_sources AS DOUBLE) AS w
      |  FROM t CROSS JOIN m),
      |""".stripMargin +
      (1 to 4).map(round).mkString(",\n") + "\n" +
      """SELECT source, n_tokens, ttr, excess, w AS weight
        |FROM w4 ORDER BY source""".stripMargin
  }

  /** g10: the g04 fixed-point PageRank CTE unrolling with seed-pinned
    * teleport over the s21 edge set — r0 seeds at scale 10⁹, three
    * (contrib, rank) levels, the same `//` floor divisions; knn is
    * MATERIALIZED (referenced by every level + degrees + nodes). */
  private lazy val PprOracle: String = {
    def iter(i: Int): String =
      s"""pc$i AS (SELECT e.dst,
         |  CAST(SUM(pr${i - 1}.r // od.deg) AS BIGINT) AS sc
         |  FROM knn e JOIN od ON e.src = od.src
         |  JOIN pr${i - 1} ON pr${i - 1}.node = e.src GROUP BY e.dst),
         |pr$i AS (SELECT n0.node, CAST(
         |  (CASE WHEN n0.node % 50 = 0 THEN 150000000 ELSE 0 END)
         |  + (85 * COALESCE(pc$i.sc, 0)) // 100 AS BIGINT) AS r
         |  FROM n0 LEFT JOIN pc$i ON n0.node = pc$i.dst)""".stripMargin
    s"WITH $KnnGraphCtes,\n" +
      """knn AS MATERIALIZED (SELECT vec_id AS src, neighbor_id AS dst
        |  FROM r WHERE rank <= 5),
        |n0 AS (SELECT DISTINCT src AS node FROM knn),
        |od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM knn GROUP BY src),
        |pr0 AS (SELECT node, CAST(CASE WHEN node % 50 = 0
        |  THEN 1000000000 ELSE 0 END AS BIGINT) AS r FROM n0),
        |""".stripMargin +
      (1 to 3).map(iter).mkString(",\n") + "\n" +
      """SELECT node, node % 50 = 0 AS is_seed, r AS rank_fp,
        |  CAST(r AS DOUBLE) / 1000000000.0 AS ppr
        |FROM pr3 WHERE r > 0
        |ORDER BY rank_fp DESC, node""".stripMargin
  }

  /** s31: recall@10 of the raw vs residual IVF-PQ tiers vs the s01
    * exact truth — the s13 nesting pattern; tiers sort raw < residual
    * matching the Spark ORDER BY. */
  private val ResidualRecallOracle: String =
    s"""WITH tiers AS (SELECT 'ivfpq_raw' AS tier UNION ALL
      |  SELECT 'ivfpq_residual' AS tier),
      |ap AS (
      |  SELECT 'ivfpq_raw' AS tier, query_id, neighbor_id
      |    FROM ($IvfPqOracle) rx
      |  UNION ALL
      |  SELECT 'ivfpq_residual' AS tier, query_id, neighbor_id
      |    FROM ($IvfPqResidualOracle) sx),
      |ex AS (SELECT t.tier, b.query_id, b.neighbor_id
      |  FROM ($BruteTopKOracle) b CROSS JOIN tiers t)
      |SELECT e.tier, e.query_id, count(a.neighbor_id) AS n_hits,
      |  CAST(count(a.neighbor_id) AS DOUBLE) / 10.0 AS recall
      |FROM ex e LEFT JOIN ap a ON e.tier = a.tier
      |  AND e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      |GROUP BY e.tier, e.query_id
      |ORDER BY e.tier, e.query_id""".stripMargin

  /** s08's trained-IVF CTE chain, WITHOUT the leading `WITH`: seed
    * centroids c0 (vec_id < 8), one component-wise lower-median
    * refinement round (ex1/med1/c1a → c1), final assignment a2
    * retaining emb/vnorm2 — [[graft.operators.Clustering]]'s exact
    * training pipeline in SQL. Prefix shared by the s08 own-cell probe
    * and s14's nprobe recall curve (which ranks cells against the same
    * trained c1). */
  private val IvfTrainCtes: String =
    """v AS (SELECT vec_id, embedding AS emb,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS vnorm2 FROM embeddings),
      |c0 AS (SELECT vec_id AS cluster_id, embedding AS cemb,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS cnorm2 FROM embeddings WHERE vec_id < 8),
      |a1 AS (SELECT vec_id, emb, vnorm2, cluster_id, dist2 FROM (
      |  SELECT vec_id, emb, vnorm2, cluster_id, dist2,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist2 ASC, cluster_id ASC) AS rn
      |  FROM (SELECT v.vec_id, v.emb, v.vnorm2, c.cluster_id,
      |    v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.emb)+1), i ->
      |        CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM v CROSS JOIN c0 c)) WHERE rn = 1),
      |ex1 AS (SELECT cluster_id, vec_id, u.dim AS dim, u.val AS val
      |  FROM (SELECT cluster_id, vec_id,
      |    unnest(list_transform(range(1, len(emb)+1),
      |      i -> {'dim': i, 'val': emb[i]})) AS u FROM a1)),
      |med1 AS (SELECT cluster_id, dim, val FROM (
      |  SELECT cluster_id, dim, val,
      |    row_number() OVER (PARTITION BY cluster_id, dim
      |      ORDER BY val ASC, vec_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY cluster_id, dim) AS n
      |  FROM ex1) WHERE rn = (n + 1) // 2),
      |c1a AS (SELECT cluster_id, list(val ORDER BY dim) AS cemb
      |  FROM med1 GROUP BY cluster_id),
      |c1 AS (SELECT cluster_id, cemb,
      |  list_reduce(list_transform(range(1, len(cemb)+1), i ->
      |    CAST(cemb[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS cnorm2 FROM c1a),
      |a2 AS (SELECT vec_id, emb, vnorm2, cluster_id FROM (
      |  SELECT vec_id, emb, vnorm2, cluster_id,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist2 ASC, cluster_id ASC) AS rn
      |  FROM (SELECT v.vec_id, v.emb, v.vnorm2, c.cluster_id,
      |    v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.emb)+1), i ->
      |        CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM v CROSS JOIN c1 c)) WHERE rn = 1)""".stripMargin

  /** `.replace` with a drift guard: requires the anchor text to be
    * present FIRST, so an edit to a shared CTE chain fails loudly at
    * class-init instead of silently no-opping and surfacing only as
    * an indirect oracle mismatch (the s30/s32 anchor discipline,
    * applied to every shared-CTE patch site). */
  private def replaceAnchored(text: String, anchor: String,
      replacement: String): String = {
    require(text.contains(anchor),
      s"shared CTE drifted: anchor `$anchor` missing")
    text.replace(anchor, replacement)
  }

  /** s21's kNN-graph CTE chain, WITHOUT the leading `WITH`:
    * [[IvfTrainCtes]] with the seed predicate widened to K=32 (the
    * only K reference in the CTE text), within-cell self-join `sc`,
    * per-vector rank `r` with the (cosine desc, id asc) tie-break.
    * Shared by the s21 graph itself and g06's triangle census over
    * its edges. */
  private val KnnGraphCtes: String =
    replaceAnchored(IvfTrainCtes,
      "WHERE vec_id < 8", "WHERE vec_id < 32") + ",\n" +
    """sc AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
      |  list_reduce(list_transform(range(1, len(a.emb)+1), i ->
      |    CAST(a.emb[i] AS DOUBLE) * CAST(b.emb[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (sqrt(a.vnorm2) * sqrt(b.vnorm2)) AS cosine
      |  FROM a2 a JOIN a2 b ON a.cluster_id = b.cluster_id
      |    AND a.vec_id <> b.vec_id),
      |r AS (SELECT vec_id, neighbor_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      | FROM sc)""".stripMargin

  /** s21: the kNN graph blocked by the SAME trained quantizer at K=32,
    * within-cell self-join, per-vector top-5 by exact cosine. */
  private val KnnGraphOracle: String =
    s"WITH $KnnGraphCtes\n" +
    """SELECT vec_id, neighbor_id, cosine, rank FROM r
      |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin

  /** s47: the MULTI-ASSIGN build — s21's training CTEs, assignment
    * widened to rn <= 2 (each vector in its two nearest cells, the
    * same (dist2 asc, id asc) tie-break as the Spark TopKByScore
    * argselect), candidate pairs de-duplicated with DISTINCT (the
    * cosine recomputes bitwise-identically on both join branches, so
    * DISTINCT collapses a both-cells pair to one row in both
    * engines). The unused single-assign `a2` CTE stays in the chain —
    * never referenced, never evaluated. */
  private val KnnGraphMultiOracle: String =
    s"WITH $KnnGraphCtes,\n" +
    """a2m AS (SELECT vec_id, emb, vnorm2, cluster_id FROM (
      |  SELECT vec_id, emb, vnorm2, cluster_id,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist2 ASC, cluster_id ASC) AS rn
      |  FROM (SELECT v.vec_id, v.emb, v.vnorm2, c.cluster_id,
      |    v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.emb)+1), i ->
      |        CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM v CROSS JOIN c1 c)) WHERE rn <= 2),
      |scm AS (SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id,
      |  list_reduce(list_transform(range(1, len(a.emb)+1), i ->
      |    CAST(a.emb[i] AS DOUBLE) * CAST(b.emb[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (sqrt(a.vnorm2) * sqrt(b.vnorm2)) AS cosine
      |  FROM a2m a JOIN a2m b ON a.cluster_id = b.cluster_id
      |    AND a.vec_id <> b.vec_id),
      |rm AS (SELECT vec_id, neighbor_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      | FROM scm)
      |SELECT vec_id, neighbor_id, cosine, rank FROM rm
      |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin

  /** g06: triangle census over the symmetrized s21 edges — undirected
    * a<b edge set, id-ordered wedge join closed by an EXISTS probe
    * (each triangle counted once at its smallest vertex), corners
    * exploded via UNION ALL for per-node counts; coefficient is the
    * one double division of exact longs. */
  private val KnnTriangleOracle: String =
    s"WITH $KnnGraphCtes,\n" +
    """knn AS (SELECT vec_id, neighbor_id FROM r WHERE rank <= 5),
      |und AS (SELECT DISTINCT LEAST(vec_id, neighbor_id) AS ea,
      |  GREATEST(vec_id, neighbor_id) AS eb FROM knn),
      |tri AS (SELECT x.ea AS ta, x.eb AS tb, y.eb AS tc
      |  FROM und x JOIN und y ON x.ea = y.ea AND x.eb < y.eb
      |  WHERE EXISTS (SELECT 1 FROM und e
      |    WHERE e.ea = x.eb AND e.eb = y.eb)),
      |pn AS (SELECT vec_id, COUNT(*) AS n_triangles FROM (
      |  SELECT ta AS vec_id FROM tri
      |  UNION ALL SELECT tb AS vec_id FROM tri
      |  UNION ALL SELECT tc AS vec_id FROM tri) GROUP BY vec_id),
      |deg AS (SELECT vec_id, COUNT(*) AS degree FROM (
      |  SELECT ea AS vec_id FROM und
      |  UNION ALL SELECT eb AS vec_id FROM und) GROUP BY vec_id)
      |SELECT d.vec_id, d.degree,
      |  COALESCE(pn.n_triangles, 0) AS n_triangles,
      |  CASE WHEN d.degree <= 1 THEN 0.0
      |    ELSE CAST(COALESCE(pn.n_triangles, 0) * 2 AS DOUBLE) /
      |      CAST(d.degree * (d.degree - 1) AS DOUBLE) END
      |    AS clustering_coeff
      |FROM deg d LEFT JOIN pn ON d.vec_id = pn.vec_id
      |ORDER BY d.vec_id""".stripMargin

  /** s43: beam search over the s21 graph, unrolled — symmetrized edge
    * set, entry = min vec id of the query's trained cell, three hop
    * blocks (candidates = frontier ∪ one graph expansion, re-scored
    * and cut to beam 8 with the (cosine desc, id asc) tie-break),
    * final top-5 excluding the query itself; recall against the s01
    * brute truth. Frontier CTEs are MATERIALIZED — each hop reads its
    * predecessor twice (kept side + expansion side), which would
    * otherwise inline exponentially (the g10/d13 chained-CTE rule). */
  private val BeamCos: String =
    "list_reduce(list_transform(range(1, len(v.emb)+1), " +
      "i -> CAST(v.emb[i] AS DOUBLE) * CAST(q.qemb[i] AS DOUBLE)), " +
      "(x, y) -> x + y) / (sqrt(v.vnorm2) * sqrt(q.qnorm2))"

  /** Final top-5 cut of frontier `src` (query excluded), named `name` —
    * shared by the s43 single answer and s44's per-hop answers. */
  private def beamFinCte(name: String, src: String): String =
    s"$name AS (SELECT query_id, node FROM (\n" +
      "  SELECT c.query_id, c.node, row_number() OVER (\n" +
      "    PARTITION BY c.query_id\n" +
      s"    ORDER BY $BeamCos DESC, c.node ASC) AS rn\n" +
      s"  FROM $src c JOIN a2 v ON v.vec_id = c.node\n" +
      "  JOIN bq q ON q.query_id = c.query_id\n" +
      "  WHERE c.node <> c.query_id) w WHERE rn <= 5)"

  /** s43/s44 shared traversal CTEs, WITHOUT the leading `WITH`:
    * [[KnnGraphCtes]] + symmetrized edges, query batch, cell-anchor
    * entry, and the three unrolled hop frontiers bf1..bf3 (each
    * MATERIALIZED — read twice per hop, the chained-CTE rule). */
  private lazy val BeamCtes: String = {
    def hop(h: Int): String =
      s"bc$h AS (SELECT DISTINCT query_id, node FROM (\n" +
        s"  SELECT query_id, node FROM bf${h - 1}\n" +
        "  UNION ALL\n" +
        s"  SELECT f.query_id, s.dst AS node FROM bf${h - 1} f\n" +
        "  JOIN bsym s ON s.src = f.node) u),\n" +
        s"bf$h AS MATERIALIZED (SELECT query_id, node FROM (\n" +
        "  SELECT c.query_id, c.node, row_number() OVER (\n" +
        "    PARTITION BY c.query_id\n" +
        s"    ORDER BY $BeamCos DESC, c.node ASC) AS rn\n" +
        s"  FROM bc$h c JOIN a2 v ON v.vec_id = c.node\n" +
        "  JOIN bq q ON q.query_id = c.query_id) w WHERE rn <= 8)"
    s"$KnnGraphCtes,\n" +
      "bknn AS MATERIALIZED (SELECT vec_id AS src, neighbor_id AS dst\n" +
      "  FROM r WHERE rank <= 5),\n" +
      "bsym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (\n" +
      "  SELECT src, dst FROM bknn\n" +
      "  UNION ALL SELECT dst AS src, src AS dst FROM bknn) u),\n" +
      "bq AS (SELECT vec_id AS query_id, emb AS qemb,\n" +
      "  vnorm2 AS qnorm2, cluster_id AS qcell FROM a2\n" +
      "  WHERE vec_id < 5),\n" +
      "bent AS (SELECT q.query_id, MIN(a.vec_id) AS node FROM bq q\n" +
      "  JOIN a2 a ON a.cluster_id = q.qcell GROUP BY q.query_id),\n" +
      "bf0 AS MATERIALIZED (SELECT query_id, node FROM bent),\n" +
      (1 to 3).map(hop).mkString(",\n")
  }

  private lazy val BeamSearchRecallOracle: String =
    s"WITH $BeamCtes,\n" +
      beamFinCte("bfin", "bf3") + ",\n" +
      s"bex AS (SELECT query_id, neighbor_id FROM ($BruteTopKOracle) bt\n" +
      "  WHERE rank <= 5)\n" +
      "SELECT e.query_id, CAST(COUNT(a.node) AS BIGINT) AS n_hits,\n" +
      "  CAST(COUNT(a.node) AS DOUBLE) / 5.0 AS recall\n" +
      "FROM bex e LEFT JOIN bfin a ON e.query_id = a.query_id\n" +
      "  AND e.neighbor_id = a.node\n" +
      "GROUP BY e.query_id ORDER BY e.query_id"

  /** s44: the same traversal read at every depth — per-hop finals from
    * bf1/bf2/bf3, recall per (hop, query) vs the s01 truth crossed
    * with the 3-row hop table. */
  private lazy val BeamHopsRecallOracle: String =
    s"WITH $BeamCtes,\n" +
      (1 to 3).map(h => beamFinCte(s"bfin$h", s"bf$h"))
        .mkString(",\n") + ",\n" +
      "bfa AS (" +
      (1 to 3).map(h =>
        s"SELECT CAST($h AS BIGINT) AS hop, query_id, node FROM bfin$h")
        .mkString("\n  UNION ALL ") + "),\n" +
      s"bex AS (SELECT query_id, neighbor_id FROM ($BruteTopKOracle) bt\n" +
      "  WHERE rank <= 5),\n" +
      "bhx AS (SELECT h.hop, e.query_id, e.neighbor_id FROM bex e\n" +
      "  CROSS JOIN (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS hop) h)\n" +
      "SELECT x.hop, x.query_id,\n" +
      "  CAST(COUNT(a.node) AS BIGINT) AS n_hits,\n" +
      "  CAST(COUNT(a.node) AS DOUBLE) / 5.0 AS recall\n" +
      "FROM bhx x LEFT JOIN bfa a ON x.hop = a.hop\n" +
      "  AND x.query_id = a.query_id AND x.neighbor_id = a.node\n" +
      "GROUP BY x.hop, x.query_id ORDER BY x.hop, x.query_id"

  /** s46's PREFILTER truth, standalone (nested as a subquery — its
    * BruteCtes names `n`/`q`/`scored`/`r` collide with the beam chain's
    * `r`): exact top-5 over the predicate-matching corpus only. */
  private lazy val FilteredBruteTruth: String =
    s"WITH $BruteCtes\n" +
    """SELECT query_id, neighbor_id FROM (
      |  SELECT s.query_id, s.neighbor_id,
      |    row_number() OVER (PARTITION BY s.query_id
      |      ORDER BY s.cosine DESC, s.neighbor_id ASC) AS rk
      |  FROM scored s JOIN n ON s.neighbor_id = n.vec_id
      |  WHERE n.label % 2 = 0) WHERE rk <= 5""".stripMargin

  /** s46: filtered-DiskANN serve — the s43 traversal verbatim, then
    * the answer set = predicate-matching members of the VISITED beam
    * (bf1 ∪ bf2 ∪ bf3) re-ranked to top-5 by the shared final cut;
    * recall against the nested prefilter truth. */
  private lazy val FilteredBeamRecallOracle: String =
    s"WITH $BeamCtes,\n" +
    """bva AS (SELECT DISTINCT query_id, node FROM (
      |  SELECT query_id, node FROM bf1
      |  UNION ALL SELECT query_id, node FROM bf2
      |  UNION ALL SELECT query_id, node FROM bf3) u),
      |bvm AS (SELECT v.query_id, v.node FROM bva v
      |  JOIN embeddings e ON e.vec_id = v.node
      |  WHERE e.label % 2 = 0 AND v.node <> v.query_id),""".stripMargin +
      "\n" + beamFinCte("bffin", "bvm") + ",\n" +
      s"bftr AS (SELECT query_id, neighbor_id\n" +
      s"  FROM ($FilteredBruteTruth) ft)\n" +
      """SELECT e.query_id, CAST(COUNT(a.node) AS BIGINT) AS n_hits,
        |  CAST(COUNT(a.node) AS DOUBLE) / 5.0 AS recall
        |FROM bftr e LEFT JOIN bffin a ON e.query_id = a.query_id
        |  AND e.neighbor_id = a.node
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** s22: trained per-dim SQ8 — stats/encode/weight CTEs mirror the
    * Spark expression trees exactly (same IEEE shapes, floor-to-long,
    * micros-quantized weights), ADC is an exact BIGINT sum. */
  private val Sq8Oracle: String =
    """WITH ex AS (SELECT vec_id, u.pos AS pos, u.val AS val
      |  FROM (SELECT vec_id,
      |    unnest(list_transform(range(1, len(embedding)+1),
      |      i -> {'pos': i, 'val': CAST(embedding[i] AS DOUBLE)})) AS u
      |  FROM embeddings)),
      |st AS (SELECT pos, MIN(val) AS vmin, MAX(val) AS vmax
      |  FROM ex GROUP BY pos),
      |cd AS (SELECT e.vec_id, e.pos,
      |  CASE WHEN st.vmax = st.vmin THEN CAST(0 AS BIGINT)
      |    ELSE LEAST(CAST(255 AS BIGINT),
      |      CAST(floor((e.val - st.vmin) * 255.0 /
      |        (st.vmax - st.vmin)) AS BIGINT)) END AS code
      |  FROM ex e JOIN st ON e.pos = st.pos),
      |qw AS (SELECT e.vec_id AS query_id, e.pos,
      |  CAST(floor(e.val * (st.vmax - st.vmin) * 1000000.0) AS BIGINT)
      |    AS wq
      |  FROM ex e JOIN st ON e.pos = st.pos WHERE e.vec_id < 5),
      |sc AS (SELECT q.query_id, c.vec_id,
      |  CAST(SUM(q.wq * (c.code * 2 + 1)) AS BIGINT) AS adc
      |  FROM cd c JOIN qw q ON c.pos = q.pos AND c.vec_id <> q.query_id
      |  GROUP BY q.query_id, c.vec_id),
      |r AS (SELECT query_id, vec_id AS neighbor_id, adc,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc DESC, vec_id ASC) AS BIGINT) AS rank FROM sc)
      |SELECT query_id, neighbor_id, adc, rank FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** s13: recall@10 of the two PQ serving tiers vs the s01 exact
    * ground truth — each tier's full oracle nested as a derived-table
    * subquery (DuckDB scopes inner WITHs to the subquery, so the three
    * pipelines' CTE names never collide). Tier strings sort
    * ivfpq < pq_adc, matching the Spark side's ORDER BY. */
  private val PqRecallOracle: String =
    s"""WITH tiers AS (SELECT 'ivfpq' AS tier UNION ALL
      |  SELECT 'pq_adc' AS tier),
      |ap AS (
      |  SELECT 'pq_adc' AS tier, query_id, neighbor_id
      |    FROM ($PqAdcOracle) px
      |  UNION ALL
      |  SELECT 'ivfpq' AS tier, query_id, neighbor_id
      |    FROM ($IvfPqOracle) ix),
      |ex AS (SELECT t.tier, b.query_id, b.neighbor_id
      |  FROM ($BruteTopKOracle) b CROSS JOIN tiers t)
      |SELECT e.tier, e.query_id, count(a.neighbor_id) AS n_hits,
      |  CAST(count(a.neighbor_id) AS DOUBLE) / 10.0 AS recall
      |FROM ex e LEFT JOIN ap a ON e.tier = a.tier
      |  AND e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      |GROUP BY e.tier, e.query_id
      |ORDER BY e.tier, e.query_id""".stripMargin

  /** s14: recall@10 of the trained-IVF probe per n_probe (1..2) —
    * [[IvfTrainCtes]] trains/assigns, pr ranks every trained cell per
    * query by squared L2 (ties toward the lower cluster_id, the
    * assignment order, so cell_rank 1 is the query's own cell), config
    * n probes cell_rank ≤ n. Exact side = s01's brute top-10, nested. */
  /** s42: the augmented table built in SQL (list_append of the
    * float32 sqrt coordinate), IvfTrainCtes retargeted at it via the
    * anchored replace, s14's probe/score/rank chain with zero-padded
    * raw queries, recall against the s41 exact-dot truth. */
  private lazy val MipsIvfRecallOracle: String = {
    val trainOnAug = replaceAnchored(IvfTrainCtes,
      "FROM embeddings", "FROM aug")
    s"""WITH nrm AS (SELECT vec_id, label, embedding,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS norm2 FROM embeddings),
      |mm AS (SELECT MAX(norm2) AS m2 FROM nrm),
      |aug AS (SELECT vec_id, label,
      |  list_append(embedding, CAST(sqrt(greatest(mm.m2 - norm2, 0.0))
      |    AS REAL)) AS embedding
      |  FROM nrm CROSS JOIN mm),
      |$trainOnAug,
      |q AS (SELECT query_id, query_emb,
      |  list_reduce(list_transform(range(1, len(query_emb)+1), i ->
      |    CAST(query_emb[i] AS DOUBLE) * CAST(query_emb[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS qnorm2
      |  FROM (SELECT vec_id AS query_id,
      |    list_append(embedding, CAST(0.0 AS REAL)) AS query_emb
      |    FROM nrm WHERE vec_id < 5) qq),
      |pr AS (SELECT query_id, cluster_id AS cell,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY dist2 ASC, cluster_id ASC) AS cell_rank
      |  FROM (SELECT q.query_id, c.cluster_id,
      |    q.qnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(q.query_emb)+1), i ->
      |        CAST(q.query_emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM q CROSS JOIN c1 c)),
      |pb AS (SELECT query_id, cell FROM pr WHERE cell_rank <= 2),
      |sc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
      |  list_reduce(list_transform(range(1, len(c.emb)+1), i ->
      |    CAST(c.emb[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (sqrt(c.vnorm2) * sqrt(q.qnorm2)) AS cosine
      |  FROM a2 c JOIN pb p ON c.cluster_id = p.cell
      |  JOIN q ON p.query_id = q.query_id
      |  WHERE c.vec_id <> p.query_id),
      |r AS (SELECT query_id, neighbor_id,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM sc),
      |ap AS (SELECT query_id, neighbor_id, 1 AS hit FROM r
      |  WHERE rank <= 10),
      |ex AS (SELECT query_id, neighbor_id FROM ($MipsOracle) tt)
      |SELECT e.query_id, CAST(COUNT(a.hit) AS BIGINT) AS n_hits,
      |  CAST(COUNT(a.hit) AS DOUBLE) / 10.0 AS recall
      |FROM ex e LEFT JOIN ap a ON e.query_id = a.query_id
      |  AND e.neighbor_id = a.neighbor_id
      |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
  }

  private val NProbeRecallOracle: String =
    s"WITH $IvfTrainCtes,\n" +
    s"""q AS (SELECT vec_id AS query_id, emb AS query_emb,
      |  vnorm2 AS qnorm2 FROM a2 WHERE vec_id < 5),
      |pr AS (SELECT query_id, cluster_id AS cell,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY dist2 ASC, cluster_id ASC) AS cell_rank
      |  FROM (SELECT q.query_id, c.cluster_id,
      |    q.qnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(q.query_emb)+1), i ->
      |        CAST(q.query_emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM q CROSS JOIN c1 c)),
      |cf AS (SELECT unnest(range(1, 3)) AS n_probe),
      |pb AS (SELECT cf.n_probe, pr.query_id, pr.cell
      |  FROM pr JOIN cf ON pr.cell_rank <= cf.n_probe),
      |sc AS (SELECT p.n_probe, p.query_id, c.vec_id AS neighbor_id,
      |  list_reduce(list_transform(range(1, len(c.emb)+1), i ->
      |    CAST(c.emb[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (sqrt(c.vnorm2) * sqrt(q.qnorm2)) AS cosine
      |  FROM a2 c JOIN pb p ON c.cluster_id = p.cell
      |  JOIN q ON p.query_id = q.query_id
      |  WHERE c.vec_id <> p.query_id),
      |r AS (SELECT n_probe, query_id, neighbor_id,
      |  row_number() OVER (PARTITION BY n_probe, query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM sc),
      |ap AS (SELECT n_probe, query_id, neighbor_id, 1 AS hit FROM r
      |  WHERE rank <= 10),
      |ex AS (SELECT cf.n_probe, b.query_id, b.neighbor_id
      |  FROM ($BruteTopKOracle) b CROSS JOIN cf)
      |SELECT e.n_probe, e.query_id, count(a.hit) AS n_hits,
      |  CAST(count(a.hit) AS DOUBLE) / 10.0 AS recall
      |FROM ex e LEFT JOIN ap a ON e.n_probe = a.n_probe
      |  AND e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      |GROUP BY e.n_probe, e.query_id
      |ORDER BY e.n_probe, e.query_id""".stripMargin

  /** s24: cell-pruned range search — [[IvfTrainCtes]] trains/assigns,
    * s14's probe schedule restricted to cell_rank ≤ 2, and the final
    * WHERE is the similarity bar itself (identical IEEE cosine tree,
    * so the ≥ tau cut is bitwise consistent cross-engine). */
  private val RangeSearchOracle: String =
    s"WITH $IvfTrainCtes,\n" +
    """q AS (SELECT vec_id AS query_id, emb AS query_emb,
      |  vnorm2 AS qnorm2 FROM a2 WHERE vec_id < 5),
      |pr AS (SELECT query_id, cluster_id AS cell,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY dist2 ASC, cluster_id ASC) AS cell_rank
      |  FROM (SELECT q.query_id, c.cluster_id,
      |    q.qnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(q.query_emb)+1), i ->
      |        CAST(q.query_emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM q CROSS JOIN c1 c)),
      |pb AS (SELECT query_id, cell FROM pr WHERE cell_rank <= 2),
      |sc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
      |  list_reduce(list_transform(range(1, len(c.emb)+1), i ->
      |    CAST(c.emb[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (sqrt(c.vnorm2) * sqrt(q.qnorm2)) AS cosine
      |  FROM a2 c JOIN pb p ON c.cluster_id = p.cell
      |  JOIN q ON p.query_id = q.query_id
      |  WHERE c.vec_id <> p.query_id)
      |SELECT query_id, neighbor_id, cosine FROM sc
      |WHERE cosine >= 0.25 ORDER BY query_id, neighbor_id""".stripMargin

  /** s26: filtered-search recall — [[BruteCtes]]' unfiltered rank `r`
    * postfiltered per overfetch factor (candidates rank ≤ k·f, label
    * parity kept, first k by original rank), scored against the
    * prefilter truth (the same `scored` restricted to matching
    * labels, re-ranked). One ranked sweep serves every factor. */
  private val FilteredRecallOracle: String =
    s"WITH $BruteCtes,\n" +
    """fx AS (SELECT unnest([1, 2, 4]) AS factor),
      |tr AS (SELECT query_id, neighbor_id FROM (
      |  SELECT s.query_id, s.neighbor_id,
      |    row_number() OVER (PARTITION BY s.query_id
      |      ORDER BY s.cosine DESC, s.neighbor_id ASC) AS rk
      |  FROM scored s JOIN n ON s.neighbor_id = n.vec_id
      |  WHERE n.label % 2 = 0) WHERE rk <= 10),
      |po AS (SELECT fx.factor, r.query_id, r.neighbor_id,
      |    row_number() OVER (PARTITION BY fx.factor, r.query_id
      |      ORDER BY r.rank) AS prk
      |  FROM r JOIN n ON r.neighbor_id = n.vec_id CROSS JOIN fx
      |  WHERE r.rank <= 10 * fx.factor AND n.label % 2 = 0),
      |sel AS (SELECT factor, query_id, neighbor_id FROM po
      |  WHERE prk <= 10),
      |cfg AS (SELECT fx.factor, q.query_id FROM fx CROSS JOIN q)
      |SELECT cfg.factor, cfg.query_id,
      |  CAST(COUNT(s.neighbor_id) AS BIGINT) AS n_returned,
      |  CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits,
      |  CAST(COUNT(t.neighbor_id) AS DOUBLE) / 10.0 AS recall
      |FROM cfg
      |LEFT JOIN sel s ON cfg.factor = s.factor
      |  AND cfg.query_id = s.query_id
      |LEFT JOIN tr t ON s.query_id = t.query_id
      |  AND s.neighbor_id = t.neighbor_id
      |GROUP BY cfg.factor, cfg.query_id
      |ORDER BY cfg.factor, cfg.query_id""".stripMargin

  /** s16: recall@10 of the IVF-PQ tier per n_probe — [[IvfPqCtes]]'
    * trained pipeline with s14's probe-schedule suffix: pr ranks every
    * coarse cell per query against the refined centroids cc1 (ties
    * toward the lower cluster_id, the assignment order), config n ADC-
    * scores the vectors in cell_rank ≤ n. Exact side = s01, nested. */
  private val PqNProbeRecallOracle: String =
    s"WITH $IvfPqCtes,\n" +
    s"""pr AS (SELECT query_id, cluster_id AS cell,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY dist2 ASC, cluster_id ASC) AS cell_rank
      |  FROM (SELECT v.vec_id AS query_id, c.cluster_id,
      |    v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.emb)+1), i ->
      |        CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM cv v CROSS JOIN cc1 c WHERE v.vec_id < 5)),
      |cf AS (SELECT unnest(range(1, 3)) AS n_probe),
      |pb AS (SELECT cf.n_probe, pr.query_id, pr.cell
      |  FROM pr JOIN cf ON pr.cell_rank <= cf.n_probe),
      |adc AS (SELECT p.n_probe, l.query_id, co.vec_id AS neighbor_id,
      |  CAST(SUM(l.pdot_fp) AS BIGINT) AS adc_fp
      |  FROM pcodes co
      |  JOIN ca2 ce ON co.vec_id = ce.vec_id
      |  JOIN lut l ON co.sub = l.sub AND co.code = l.code
      |  JOIN pb p ON l.query_id = p.query_id AND ce.cluster_id = p.cell
      |  WHERE co.vec_id <> l.query_id
      |  GROUP BY 1, 2, 3),
      |r AS (SELECT n_probe, query_id, neighbor_id,
      |  row_number() OVER (PARTITION BY n_probe, query_id
      |    ORDER BY adc_fp DESC, neighbor_id ASC) AS rank FROM adc),
      |ap AS (SELECT n_probe, query_id, neighbor_id, 1 AS hit FROM r
      |  WHERE rank <= 10),
      |ex AS (SELECT cf.n_probe, b.query_id, b.neighbor_id
      |  FROM ($BruteTopKOracle) b CROSS JOIN cf)
      |SELECT e.n_probe, e.query_id, count(a.hit) AS n_hits,
      |  CAST(count(a.hit) AS DOUBLE) / 10.0 AS recall
      |FROM ex e LEFT JOIN ap a ON e.n_probe = a.n_probe
      |  AND e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      |GROUP BY e.n_probe, e.query_id
      |ORDER BY e.n_probe, e.query_id""".stripMargin

  /** s17: IVF-PQ ADC candidates (top-25 over the 2 nearest cells) →
    * exact-cosine rerank → top-10. [[IvfPqCtes]] + s16's probe suffix
    * at a fixed n_probe=2, then the s10 rerank recipe over `cv`. */
  private val IvfPqRerankOracle: String =
    s"WITH $IvfPqCtes,\n" +
    """pr AS (SELECT query_id, cluster_id AS cell,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY dist2 ASC, cluster_id ASC) AS cell_rank
      |  FROM (SELECT v.vec_id AS query_id, c.cluster_id,
      |    v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.emb)+1), i ->
      |        CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM cv v CROSS JOIN cc1 c WHERE v.vec_id < 5)),
      |pb AS (SELECT query_id, cell FROM pr WHERE cell_rank <= 2),
      |adc AS (SELECT l.query_id, co.vec_id AS neighbor_id,
      |  CAST(SUM(l.pdot_fp) AS BIGINT) AS adc_fp
      |  FROM pcodes co
      |  JOIN ca2 ce ON co.vec_id = ce.vec_id
      |  JOIN lut l ON co.sub = l.sub AND co.code = l.code
      |  JOIN pb p ON l.query_id = p.query_id AND ce.cluster_id = p.cell
      |  WHERE co.vec_id <> l.query_id
      |  GROUP BY 1, 2),
      |cand AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_fp DESC, neighbor_id ASC) AS rn FROM adc)
      |  WHERE rn <= 25),
      |qv AS (SELECT vec_id AS query_id, emb AS query_emb,
      |  vnorm2 AS qnorm2 FROM cv WHERE vec_id < 5),
      |rr AS (SELECT c.query_id, c.neighbor_id,
      |  list_reduce(list_transform(range(1, len(n.emb)+1), i ->
      |    CAST(n.emb[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (sqrt(n.vnorm2) * sqrt(q.qnorm2)) AS cosine
      |  FROM cand c JOIN cv n ON c.neighbor_id = n.vec_id
      |  JOIN qv q ON c.query_id = q.query_id),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM rr)
      |SELECT query_id, neighbor_id, cosine, rank FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** s18: the append form — [[IvfPqCtes]]' chain with every TRAINING
    * input restricted to the base corpus (vec_id % 5 <> 0; seeds
    * therefore {1,2,3,4,6,7}) while the ENCODE/assign passes (ca2,
    * pcodes) and the query/LUT/ADC suffix run over the full corpus:
    * the frozen-model append semantics, base-trained quantizers coding
    * vectors they never saw. */
  private val IvfPqAppendOracle: String =
    """WITH cv AS (SELECT vec_id, embedding AS emb,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS vnorm2 FROM embeddings),
      |cb AS (SELECT vec_id, emb, vnorm2 FROM cv WHERE vec_id % 5 <> 0),
      |cc0 AS (SELECT vec_id AS cluster_id, embedding AS cemb,
      |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
      |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS cnorm2 FROM embeddings
      |  WHERE vec_id < 8 AND vec_id % 5 <> 0),
      |ca1 AS (SELECT vec_id, emb, vnorm2, cluster_id FROM (
      |  SELECT vec_id, emb, vnorm2, cluster_id,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist2 ASC, cluster_id ASC) AS rn
      |  FROM (SELECT v.vec_id, v.emb, v.vnorm2, c.cluster_id,
      |    v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.emb)+1), i ->
      |        CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM cb v CROSS JOIN cc0 c)) WHERE rn = 1),
      |cex1 AS (SELECT cluster_id, vec_id, u.dim AS dim, u.val AS val
      |  FROM (SELECT cluster_id, vec_id,
      |    unnest(list_transform(range(1, len(emb)+1),
      |      i -> {'dim': i, 'val': emb[i]})) AS u FROM ca1)),
      |cmed1 AS (SELECT cluster_id, dim, val FROM (
      |  SELECT cluster_id, dim, val,
      |    row_number() OVER (PARTITION BY cluster_id, dim
      |      ORDER BY val ASC, vec_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY cluster_id, dim) AS n
      |  FROM cex1) WHERE rn = (n + 1) // 2),
      |cc1a AS (SELECT cluster_id, list(val ORDER BY dim) AS cemb
      |  FROM cmed1 GROUP BY cluster_id),
      |cc1 AS (SELECT cluster_id, cemb,
      |  list_reduce(list_transform(range(1, len(cemb)+1), i ->
      |    CAST(cemb[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS cnorm2 FROM cc1a),
      |ca2 AS (SELECT vec_id, cluster_id FROM (
      |  SELECT vec_id, cluster_id,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist2 ASC, cluster_id ASC) AS rn
      |  FROM (SELECT v.vec_id, c.cluster_id,
      |    v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.emb)+1), i ->
      |        CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM cv v CROSS JOIN cc1 c)) WHERE rn = 1),
      |sn AS (SELECT vec_id, u.sub AS sub, u.semb AS semb,
      |    list_reduce(list_transform(range(1, len(u.semb)+1), i ->
      |      CAST(u.semb[i] AS DOUBLE) * CAST(u.semb[i] AS DOUBLE)),
      |      (a, b) -> a + b) AS snorm2
      |  FROM (SELECT vec_id, unnest(list_transform(range(0, 4), s ->
      |    {'sub': s, 'semb': embedding[s*16+1 : s*16+16]})) AS u
      |   FROM embeddings)),
      |snb AS (SELECT vec_id, sub, semb, snorm2 FROM sn
      |  WHERE vec_id % 5 <> 0),
      |p0 AS (SELECT sub, vec_id AS code, semb AS cemb,
      |    snorm2 AS cnorm2 FROM sn
      |  WHERE vec_id < 8 AND vec_id % 5 <> 0),
      |pa1 AS (SELECT vec_id, sub, code, semb FROM (
      |  SELECT vec_id, sub, code, semb,
      |    row_number() OVER (PARTITION BY vec_id, sub
      |      ORDER BY dist2 ASC, code ASC) AS rn
      |  FROM (SELECT v.vec_id, v.sub, c.code, v.semb,
      |    v.snorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.semb)+1), i ->
      |        CAST(v.semb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM snb v JOIN p0 c ON v.sub = c.sub)) WHERE rn = 1),
      |pex1 AS (SELECT sub, code, vec_id, u.dim AS dim, u.val AS val
      |  FROM (SELECT sub, code, vec_id,
      |    unnest(list_transform(range(1, len(semb)+1),
      |      i -> {'dim': i, 'val': semb[i]})) AS u FROM pa1)),
      |pmed1 AS (SELECT sub, code, dim, val FROM (
      |  SELECT sub, code, dim, val,
      |    row_number() OVER (PARTITION BY sub, code, dim
      |      ORDER BY val ASC, vec_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY sub, code, dim) AS n
      |  FROM pex1) WHERE rn = (n + 1) // 2),
      |pc1a AS (SELECT sub, code, list(val ORDER BY dim) AS cemb
      |  FROM pmed1 GROUP BY sub, code),
      |pc1 AS (SELECT sub, code, cemb,
      |  list_reduce(list_transform(range(1, len(cemb)+1), i ->
      |    CAST(cemb[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE)),
      |    (a, b) -> a + b) AS cnorm2 FROM pc1a),
      |pcodes AS (SELECT vec_id, sub, code FROM (
      |  SELECT vec_id, sub, code,
      |    row_number() OVER (PARTITION BY vec_id, sub
      |      ORDER BY dist2 ASC, code ASC) AS rn
      |  FROM (SELECT v.vec_id, v.sub, c.code,
      |    v.snorm2 + c.cnorm2 - 2.0 * list_reduce(
      |      list_transform(range(1, len(v.semb)+1), i ->
      |        CAST(v.semb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS dist2
      |    FROM sn v JOIN pc1 c ON v.sub = c.sub)) WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, sub, semb AS qsemb
      |  FROM sn WHERE vec_id < 5),
      |lut AS (SELECT q.query_id, c.sub, c.code,
      |  CAST(floor(list_reduce(list_transform(range(1, len(c.cemb)+1),
      |    i -> CAST(q.qsemb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
      |    (x, y) -> x + y) * 1000000.0) AS BIGINT) AS pdot_fp
      |  FROM q JOIN pc1 c ON q.sub = c.sub),
      |qc AS (SELECT vec_id AS query_id, cluster_id AS qcell
      |  FROM ca2 WHERE vec_id < 5),
      |adc AS (SELECT l.query_id, qc.qcell, co.vec_id AS neighbor_id,
      |  CAST(SUM(l.pdot_fp) AS BIGINT) AS adc_fp
      |  FROM pcodes co
      |  JOIN ca2 ce ON co.vec_id = ce.vec_id
      |  JOIN lut l ON co.sub = l.sub AND co.code = l.code
      |  JOIN qc ON l.query_id = qc.query_id
      |  WHERE ce.cluster_id = qc.qcell AND co.vec_id <> l.query_id
      |  GROUP BY 1, 2, 3),
      |r AS (SELECT query_id, qcell, neighbor_id, adc_fp,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY adc_fp DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM adc)
      |SELECT query_id, qcell AS cell, neighbor_id, adc_fp, rank FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Shared by l04 (relational merge) and l07 (merge through the
    * snapshot commit path): both must equal this exact-SQL form. */
  private val CdcMergeOracle: String =
    """WITH up AS (SELECT o_orderkey, 'U' AS o_orderstatus,
      |  o_totalprice + 1.0 AS o_totalprice FROM orders
      |  WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0),
      |keep AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 13 <> 0)
      |SELECT * FROM (SELECT * FROM up UNION ALL SELECT * FROM keep)
      |ORDER BY o_orderkey""".stripMargin

  /** The t35/t36 synthetic page render as a DuckDB CTE chain ending in
    * `lines(doc_id, line_no, line)` — the SQL twin of
    * [[graft.operators.TextAnalysis.syntheticLines]]: 6-token lines,
    * (doc_id+line_no)-keyed decoration, one boilerplate extra per doc. */
  private val PageLinesCtes: String =
    """pg AS (SELECT doc_id,
      |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |basel AS (SELECT doc_id, ln AS line_no,
      |  array_to_string(toks[ln*6+1 : ln*6+6], ' ') AS line
      |  FROM pg, UNNEST(range(0, (len(toks) - 1) // 6 + 1)) AS u(ln)),
      |deco AS (SELECT doc_id, line_no,
      |  CASE WHEN (doc_id + line_no) % 3 = 0 THEN line || '.'
      |       WHEN (doc_id + line_no) % 7 = 1 THEN line || '...'
      |       WHEN (doc_id + line_no) % 5 = 2 THEN '- ' || line
      |       ELSE line END AS line FROM basel),
      |extras AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS line_no,
      |  CASE doc_id % 4 WHEN 0 THEN 'lorem ipsum dolor sit amet.'
      |       WHEN 1 THEN 'function() { return 42; }'
      |       WHEN 2 THEN '# header ## section 42'
      |       ELSE 'subscribe to the newsletter and share with friends.' END AS line
      |  FROM documents),
      |lines AS (SELECT * FROM deco UNION ALL SELECT * FROM extras)"""
      .stripMargin

  private val GopherRulesOracle: String =
    (s"WITH $PageLinesCtes,\n" +
        """la AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
          |  CAST(SUM(CASE WHEN left(line, 2) = '- ' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS bullet_lines,
          |  CAST(SUM(CASE WHEN right(line, 3) = '...' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS ellipsis_lines,
          |  CAST(SUM(length(line) - length(replace(line, '#', '')))
          |    AS BIGINT) AS hash_marks,
          |  CAST(SUM(length(line) - length(replace(line, '...', '')))
          |    // 3 AS BIGINT) AS ellipsis_marks
          |  FROM lines GROUP BY doc_id),
          |wrd AS (SELECT doc_id, unnest(string_split(line, ' ')) AS w
          |  FROM lines),
          |wa AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          |  CAST(SUM(length(w)) AS BIGINT) AS sum_word_chars,
          |  CAST(SUM(CASE WHEN regexp_matches(w, '[A-Za-z]')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS alpha_words,
          |  CAST(COUNT(DISTINCT CASE WHEN w IN ('the','be','to','of',
          |    'and','that','have','with') THEN w END) AS BIGINT)
          |    AS n_required_stops
          |  FROM wrd GROUP BY doc_id),
          |m AS (SELECT doc_id, n_lines, n_words,
          |  CAST(sum_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
          |    AS mean_word_len,
          |  CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE)
          |    AS alpha_frac,
          |  CAST(hash_marks + ellipsis_marks AS DOUBLE)
          |    / CAST(n_words AS DOUBLE) AS symbol_ratio,
          |  CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
          |    AS bullet_frac,
          |  CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
          |    AS ellipsis_frac,
          |  n_required_stops
          |  FROM wa JOIN la USING (doc_id))
          |SELECT doc_id, n_lines, n_words, mean_word_len, alpha_frac,
          |  symbol_ratio, bullet_frac, ellipsis_frac, n_required_stops,
          |  (n_words >= 50 AND n_words <= 100000) AS r_word_count,
          |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_word_len,
          |  (symbol_ratio <= 0.1) AS r_symbol,
          |  (bullet_frac <= 0.9) AS r_bullet,
          |  (ellipsis_frac <= 0.3) AS r_ellipsis,
          |  (alpha_frac >= 0.8) AS r_alpha,
          |  (n_required_stops >= 2) AS r_stop,
          |  (n_words >= 50 AND n_words <= 100000
          |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
          |   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
          |   AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
          |   AND n_required_stops >= 2) AS keep
          |FROM m ORDER BY doc_id""".stripMargin)

  private val C4LineFilterOracle: String =
    (s"WITH $PageLinesCtes,\n" +
        """k AS (SELECT doc_id, line_no, line,
          |  (right(line, 1) = '.' AND len(string_split(line, ' ')) >= 4
          |   AND NOT contains(line, '{')
          |   AND NOT contains(line, 'lorem ipsum')) AS keepl
          |  FROM lines),
          |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
          |  CAST(SUM(CASE WHEN keepl THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_kept,
          |  COALESCE(string_agg(line, chr(10) ORDER BY line_no)
          |    FILTER (WHERE keepl), '') AS clean
          |  FROM k GROUP BY doc_id)
          |SELECT doc_id, n_lines, n_kept,
          |  CAST(n_kept AS DOUBLE) / CAST(n_lines AS DOUBLE) AS kept_frac,
          |  CAST(length(clean) AS BIGINT) AS n_clean_chars,
          |  md5(clean) AS clean_md5
          |FROM a ORDER BY doc_id""".stripMargin)

  private val CcnetBucketsOracle: String =
    (s"WITH u AS (SELECT doc_id, n_tokens, mean_bits FROM (\n" +
        s"$UnigramSurpriseOracle) xu),\n" +
        """r AS (SELECT doc_id, n_tokens, mean_bits,
          |  CAST(row_number() OVER (ORDER BY mean_bits, doc_id)
          |    AS BIGINT) AS ppl_rank,
          |  CAST(COUNT(*) OVER () AS BIGINT) AS n FROM u)
          |SELECT doc_id, n_tokens, mean_bits, ppl_rank,
          |  CASE WHEN (ppl_rank - 1) * 3 < n THEN 'head'
          |       WHEN (ppl_rank - 1) * 3 < n * 2 THEN 'middle'
          |       ELSE 'tail' END AS ppl_bucket
          |FROM r ORDER BY doc_id""".stripMargin)

  private val DsirWeightsOracle: String =
    """WITH tok AS (SELECT doc_id, source,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |f AS (SELECT tok,
        |  CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tf_t,
        |  CAST(SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END)
        |    AS BIGINT) AS tf_r
        |  FROM tok GROUP BY tok),
        |tt AS (SELECT CAST(SUM(tf_t) AS BIGINT) AS n_t,
        |  CAST(SUM(tf_r) AS BIGINT) AS n_r FROM f),
        |b AS (SELECT t.doc_id, t.source,
        |  (CAST(length(bin(f.tf_t + 1)) - 1 AS BIGINT)
        |     - CAST(length(bin(tt.n_t)) - 1 AS BIGINT))
        |  - (CAST(length(bin(f.tf_r + 1)) - 1 AS BIGINT)
        |     - CAST(length(bin(tt.n_r)) - 1 AS BIGINT)) AS bits
        | FROM tok t JOIN f USING (tok) CROSS JOIN tt)
        |SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
        |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mean_bits
        |FROM b GROUP BY doc_id, source ORDER BY doc_id""".stripMargin

  /** s32/s33: the OPQ-lite permutation CTEs (variance rank via the
    * same integer-micro sums, snake deal, per-vector rebuild), then
    * [[PqAdcOracle]] re-pointed at the permuted frame by text surgery
    * (the s30 discipline — the chains cannot drift). */
  private val OpqPermCtes: String =
    """exo AS (SELECT vec_id, i - 1 AS dim, embedding[i] AS v,
      |  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
      |    AS micro
      |  FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)),
      |vst AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(micro) AS BIGINT) AS s,
      |  SUM(micro * micro) AS sq
      |  FROM exo GROUP BY dim),
      |vsc AS (SELECT dim,
      |  CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
      |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) AS vscore FROM vst),
      |vrk AS (SELECT dim,
      |  row_number() OVER (ORDER BY vscore DESC, dim) - 1 AS r0
      |  FROM vsc),
      |vmp AS (SELECT dim,
      |  (CASE WHEN (r0 // 4) % 2 = 0 THEN r0 % 4
      |    ELSE 3 - (r0 % 4) END) * 16 + (r0 // 4) AS newdim FROM vrk),
      |perm AS (SELECT vec_id, list(v ORDER BY newdim) AS embedding
      |  FROM exo JOIN vmp ON exo.dim = vmp.dim GROUP BY vec_id)"""
      .stripMargin

  private val OpqPqOracle: String = {
    val body = PqAdcOracle.stripPrefix("WITH ")
      .replace("FROM embeddings)", "FROM perm)")
    require(body.contains("FROM perm)"),
      "PqAdcOracle drifted: opq rewrite anchor missing")
    s"WITH $OpqPermCtes,\n" + body
  }

  /** s37: the [[OpqPermCtes]] chain + the per-subspace Walsh–Hadamard
    * rotation CTE over `perm`, then [[PqAdcOracle]] re-pointed at
    * `rot` (the s30/s32 text-surgery rule — chains cannot drift).
    * Signs are integer bit parity; each output dim is one ascending
    * list_reduce fold × 0.25 rounded once to FLOAT — the identical
    * fixed-fold arithmetic as the Spark side. */
  private val RotPqOracle: String = {
    val body = replaceAnchored(PqAdcOracle.stripPrefix("WITH "),
      "FROM embeddings)", "FROM rot)")
    s"WITH $OpqPermCtes,\n" +
    """rot AS (SELECT vec_id,
      |  list_transform(range(0, 64), j ->
      |    CAST(list_reduce(list_transform(range(0, 16), i ->
      |      (CASE WHEN bit_count((j % 16) & i) % 2 = 0
      |        THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)
      |      * CAST(embedding[(j // 16) * 16 + i + 1] AS DOUBLE)),
      |      (x, y) -> x + y) * CAST(0.25 AS DOUBLE) AS FLOAT))
      |    AS embedding
      |  FROM perm),""".stripMargin + "\n" + body
  }

  private val OpqRecallOracle: String =
    s"""WITH tiers AS (SELECT 'pq_opq' AS tier UNION ALL
      |  SELECT 'pq_raw' AS tier),
      |ap AS (
      |  SELECT 'pq_raw' AS tier, query_id, neighbor_id
      |    FROM ($PqAdcOracle) px
      |  UNION ALL
      |  SELECT 'pq_opq' AS tier, query_id, neighbor_id
      |    FROM ($OpqPqOracle) ox),
      |ex AS (SELECT t.tier, b.query_id, b.neighbor_id
      |  FROM ($BruteTopKOracle) b CROSS JOIN tiers t)
      |SELECT e.tier, e.query_id, count(a.neighbor_id) AS n_hits,
      |  CAST(count(a.neighbor_id) AS DOUBLE) / 10.0 AS recall
      |FROM ex e LEFT JOIN ap a ON e.tier = a.tier
      |  AND e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      |GROUP BY e.tier, e.query_id
      |ORDER BY e.tier, e.query_id""".stripMargin

  /** s38: [[OpqRecallOracle]]'s shape with the third tier — all three
    * serving chains nested as derived tables (the s13 precedent). */
  private val RotationRecallOracle: String =
    s"""WITH tiers AS (SELECT 'pq_opq' AS tier UNION ALL
      |  SELECT 'pq_opqrot' AS tier UNION ALL
      |  SELECT 'pq_raw' AS tier),
      |ap AS (
      |  SELECT 'pq_raw' AS tier, query_id, neighbor_id
      |    FROM ($PqAdcOracle) px
      |  UNION ALL
      |  SELECT 'pq_opq' AS tier, query_id, neighbor_id
      |    FROM ($OpqPqOracle) ox
      |  UNION ALL
      |  SELECT 'pq_opqrot' AS tier, query_id, neighbor_id
      |    FROM ($RotPqOracle) rx),
      |ex AS (SELECT t.tier, b.query_id, b.neighbor_id
      |  FROM ($BruteTopKOracle) b CROSS JOIN tiers t)
      |SELECT e.tier, e.query_id, count(a.neighbor_id) AS n_hits,
      |  CAST(count(a.neighbor_id) AS DOUBLE) / 10.0 AS recall
      |FROM ex e LEFT JOIN ap a ON e.tier = a.tier
      |  AND e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      |GROUP BY e.tier, e.query_id
      |ORDER BY e.tier, e.query_id""".stripMargin

  /** s39: [[RotationRecallOracle]] re-pointed wholesale at the
    * anisotropic view — one text surgery (`FROM embeddings` →
    * `FROM aniso`, word-bounded) plus the view CTE prepended, so the
    * three serving chains and the ground truth are character-identical
    * to s38's and can never drift from it. The view arithmetic is the
    * identical left-associated (double·ramp + double·0.25) chain as
    * the Spark expression, rounded once to FLOAT. */
  private lazy val AnisoRotationRecallOracle: String = {
    val repointed = RotationRecallOracle
      .replaceAll("FROM embeddings\\b", "FROM aniso")
    require(!repointed.contains("FROM embeddings"),
      "s39 surgery incomplete: a base-table reference survived")
    val view =
      """aniso AS MATERIALIZED (SELECT vec_id, label,
        |  list_transform(range(0, 64), i -> CAST((
        |    CAST(embedding[i + 1] AS DOUBLE)
        |      * (1.0 + 3.0 * CAST(i % 16 AS DOUBLE) / 15.0)
        |    + CAST(embedding[(i + 1) % 64 + 1] AS DOUBLE)
        |      * 0.25) AS FLOAT)) AS embedding
        |  FROM embeddings)""".stripMargin
    val out = repointed.replaceFirst("^WITH ",
      java.util.regex.Matcher.quoteReplacement(s"WITH $view,\n"))
    require(out.startsWith("WITH aniso AS MATERIALIZED"),
      "s39 surgery failed: view CTE not prepended")
    out
  }

  /** p10: the FROM-SCRATCH build over the union corpus — the equality
    * claim incremental pipelines must prove. Stages mirror the audited
    * single-operator oracles: d18's canon SQL (over the union, copies
    * included), arrival-ordered URL keep (min by batch, doc_id), d01's
    * digest keep with the same arrival order, p05's minhash-band chain
    * over the RAW union as the decontamination reference, and p04's
    * quality + budget window. The Spark side computes this
    * incrementally (stored indexes + delta frames); equal output IS
    * the correctness statement. */
  private lazy val IncrementalBuildOracle: String =
    """WITH uni AS MATERIALIZED (
      |  SELECT doc_id, text, lang,
      |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS batch
      |  FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text, lang, 1
      |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1),
      |u AS (SELECT doc_id, text, lang, batch,
      |  CASE WHEN doc_id % 5 = 0 THEN 'https://EXAMPLE' ||
      |    CAST(doc_id // 50 AS VARCHAR) || '.COM/Page/' ||
      |    CAST(doc_id // 5 AS VARCHAR)
      |  WHEN doc_id % 5 = 1 THEN 'https://www.example' ||
      |    CAST(doc_id // 50 AS VARCHAR) || '.com/Page/' ||
      |    CAST(doc_id // 5 AS VARCHAR) || '/'
      |  WHEN doc_id % 5 = 2 THEN 'http://example' ||
      |    CAST(doc_id // 50 AS VARCHAR) || '.com/Page/' ||
      |    CAST(doc_id // 5 AS VARCHAR) || '?utm_source=feed&ref=rss'
      |  WHEN doc_id % 5 = 3 THEN 'https://example' ||
      |    CAST(doc_id // 50 AS VARCHAR) || '.com/Page/' ||
      |    CAST(doc_id // 5 AS VARCHAR) ||
      |    '?ref=rss&utm_campaign=x#section-2'
      |  ELSE 'https://blog.example' ||
      |    CAST(doc_id // 50 AS VARCHAR) || '.com/Page/' ||
      |    CAST(doc_id // 5 AS VARCHAR) END AS url FROM uni),
      |cn AS (SELECT doc_id, text, lang, batch,
      |  regexp_replace(lower(regexp_extract(url,
      |    '^[a-zA-Z]+://([^/?#]+)', 1)), '^www\.', '') ||
      |  regexp_replace(regexp_extract(url,
      |    '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/$', '') ||
      |  CASE WHEN array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(url, '^[^?#]*\?([^#]*)', 1),
      |        '&'), x -> x <> '' AND NOT starts_with(x, 'utm_'))),
      |      '&') <> ''
      |    THEN '?' || array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(url, '^[^?#]*\?([^#]*)', 1),
      |        '&'), x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&')
      |    ELSE '' END AS canon_url FROM u),
      |uk AS (SELECT doc_id, text, lang, batch FROM (
      |  SELECT *, row_number() OVER (PARTITION BY canon_url
      |    ORDER BY batch, doc_id) AS rn FROM cn) WHERE rn = 1),
      |dk AS MATERIALIZED (SELECT doc_id, text, lang, batch FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY md5(regexp_replace(trim(text), '\s+', ' ', 'g'))
      |    ORDER BY batch, doc_id) AS rn FROM uk) WHERE rn = 1),
      |t AS (SELECT doc_id,
      |  string_split_regex(trim(text), '\s+') AS toks FROM uni),
      |s AS (SELECT doc_id, list_distinct(
      |  CASE WHEN len(toks) >= 3 THEN
      |    list_transform(range(0, len(toks)-2),
      |      i -> array_to_string(toks[i+1:i+3], ' '))
      |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
      |g AS (SELECT doc_id, list_transform(range(0, 12), j ->
      |  list_min(list_transform(sh, x ->
      |    md5(concat(CAST(j AS VARCHAR), ':', x))))) AS sig FROM s),
      |b AS (SELECT doc_id, list_transform(range(0, 4), k ->
      |  md5(array_to_string(sig[k*3+1:k*3+3], '|'))) AS bands FROM g),
      |e AS MATERIALIZED (SELECT doc_id, k AS band, bands[k+1] AS digest
      |  FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS k) x),
      |bench AS (SELECT DISTINCT band, digest FROM e
      |  WHERE doc_id % 10 = 0),
      |contam AS (SELECT DISTINCT tr.doc_id FROM e tr
      |  JOIN bench be ON tr.band = be.band AND tr.digest = be.digest
      |  WHERE tr.doc_id % 10 <> 0),
      |pool AS (SELECT dk.* FROM dk WHERE dk.doc_id % 10 <> 0
      |  AND dk.doc_id NOT IN (SELECT doc_id FROM contam)),
      |tq AS (SELECT doc_id, lang, batch,
      |  string_split_regex(trim(text), '\s+') AS toks, text FROM pool),
      |q AS (SELECT doc_id, lang, batch,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  least(1.0, CAST(len(toks) AS DOUBLE)/64.0)*0.4 +
      |  (1.0 - CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
      |      AS DOUBLE) / CAST(length(text) AS DOUBLE))*0.2 +
      |  (CAST(len(list_filter(toks, t -> list_contains(
      |    ['the','a','and','of','to','in','is','it'], lower(t))))
      |      AS DOUBLE) / CAST(len(toks) AS DOUBLE))*0.2 +
      |  (CAST(len(list_distinct(toks)) AS DOUBLE)
      |    / CAST(len(toks) AS DOUBLE))*0.2 AS quality
      | FROM tq),
      |budg AS (SELECT lang, doc_id, (batch = 1) AS is_delta, n_tokens,
      |  quality,
      |  CAST(SUM(n_tokens) OVER (PARTITION BY lang
      |    ORDER BY quality DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_tokens
      | FROM q)
      |SELECT lang, doc_id, is_delta, n_tokens, quality, cum_tokens
      |FROM budg WHERE cum_tokens <= 3000
      |ORDER BY lang, cum_tokens""".stripMargin

  /** t43: the oracle TRAINS its own 8 merges — eight CTE levels, each
    * counting weighted adjacent pairs over the current delimited-string
    * vocabulary, picking the bpeTrain argmax (count DESC, a ASC, b ASC)
    * and replaying it with ONE `replace` — then encodes, exactly the
    * Spark pipeline's train→replay shape. Fully self-contained SQL: no
    * pinned merge literals that could drift from a live training run.
    * The delimited-string replay (sentinel space each end, two spaces
    * between symbols) is the same representation bpeEncode documents;
    * `replace`'s left-to-right non-overlapping scan is the greedy fold
    * in both engines. */
  private lazy val BpeTrainCtes: String = {
    val levels = (1 to 8).map { i =>
      val p = i - 1
      // NO inner stripMargin: the outer template strips once over the
      // joined result — a second pass would eat the `||` concat
      // operators at continuation-line starts.
      s"""m$i AS MATERIALIZED (SELECT a, b
         |  FROM (SELECT l[i] AS a, l[i+1] AS b,
         |    CAST(SUM(wf) AS BIGINT) AS c
         |  FROM (SELECT wf, string_split(trim(s, ' '), '  ') AS l
         |    FROM v$p) t, UNNEST(range(1, len(l))) AS u(i)
         |  GROUP BY 1, 2) z
         |  ORDER BY c DESC, a ASC, b ASC LIMIT 1),
         |v$i AS MATERIALIZED (SELECT w, wf, replace(s,
         |    ' ' || (SELECT a FROM m$i) || '  ' || (SELECT b FROM m$i)
         |      || ' ',
         |    ' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ')
         |  AS s FROM v$p)"""
    }.mkString(",\n")
    // fully stripped HERE (once): t43/t46/t47 compose it by plain
    // concatenation, so no second stripMargin pass ever runs over the
    // `||` concat operators inside.
    s"""toks AS MATERIALIZED (SELECT doc_id, tok AS w
       |  FROM (SELECT doc_id,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents) x WHERE tok <> ''),
       |v0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS wf,
       |    ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s
       |  FROM toks GROUP BY w),
       |$levels""".stripMargin
  }

  private lazy val BpeEncodeOracle: String =
    s"WITH $BpeTrainCtes,\n" +
    "enc AS (SELECT w, CAST(len(string_split(trim(s, ' '), '  '))\n" +
    "    AS BIGINT) AS n_pieces FROM v8),\n" +
    "agg AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,\n" +
    "    CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,\n" +
    "    CAST(SUM(length(t.w)) AS BIGINT) AS n_chars\n" +
    "  FROM toks t JOIN enc e USING (w) GROUP BY t.doc_id)\n" +
    "SELECT doc_id, n_tokens, n_pieces, n_chars,\n" +
    "  CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)\n" +
    "    AS chars_per_piece\n" +
    "FROM agg ORDER BY doc_id"

  /** t46: the longest-match encode — vocab symbols from the trained
    * merge rows, per-position longest hit (the substring join is the
    * trie), greedy cursor walk via a RECURSIVE CTE (the SQL twin of the
    * Spark side's aggregate fold), then t43's fertility rollup. */
  private lazy val BpeLongestMatchOracle: String =
    s"WITH RECURSIVE $BpeTrainCtes,\n" +
    "syms AS MATERIALIZED (SELECT DISTINCT a || b AS sym FROM (\n" +
    (1 to 8).map(i => s"  SELECT a, b FROM m$i")
      .mkString("", " UNION ALL\n", ") mm),\n") +
    "words AS MATERIALIZED (SELECT DISTINCT w FROM toks),\n" +
    "pos AS (SELECT w, CAST(i AS INT) AS pos FROM words,\n" +
    "  UNNEST(range(1, length(w) + 1)) AS u(i)),\n" +
    "mt AS (SELECT p.w, p.pos,\n" +
    "    CAST(MAX(length(s.sym)) AS INT) AS mstep\n" +
    "  FROM pos p JOIN syms s\n" +
    "    ON substr(p.w, p.pos, length(s.sym)) = s.sym\n" +
    "  GROUP BY p.w, p.pos),\n" +
    "st AS MATERIALIZED (SELECT p.w, p.pos,\n" +
    "    COALESCE(mt.mstep, 1) AS step\n" +
    "  FROM pos p LEFT JOIN mt ON p.w = mt.w AND p.pos = mt.pos),\n" +
    "wk AS (SELECT w, 1 AS pos FROM words\n" +
    "  UNION ALL SELECT wk.w, wk.pos + st.step\n" +
    "  FROM wk JOIN st ON st.w = wk.w AND st.pos = wk.pos),\n" +
    "enc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_pieces\n" +
    "  FROM wk WHERE pos <= length(w) GROUP BY w),\n" +
    "agg AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,\n" +
    "    CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,\n" +
    "    CAST(SUM(length(t.w)) AS BIGINT) AS n_chars\n" +
    "  FROM toks t JOIN enc e USING (w) GROUP BY t.doc_id)\n" +
    "SELECT doc_id, n_tokens, n_pieces, n_chars,\n" +
    "  CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)\n" +
    "    AS chars_per_piece\n" +
    "FROM agg ORDER BY doc_id"

  /** t50: the oracle TRAINS its own unigram-LM vocab — candidate
    * substring counts, top-24 seed, then per round: the t46
    * longest-match machinery (position max-step join, RECURSIVE cursor
    * walk) re-pointed at the current vocab CTE, usage-keyed M-step agg,
    * prune to 16 then 12; final segmentation under the survivor vocab
    * yields usage/total and the half-bit integer costs via
    * length(bin(x²))−1 — the same libm-free floor(2·log2 x) the Spark
    * side computes. Walk/usage CTEs are MATERIALIZED (each is read
    * twice downstream — the chained-CTE inlining rule). */
  /** The t50 trainer's full CTE chain (seed → EM prune rounds → final
    * usage + total), shared verbatim by the t50 and t51 oracles so the
    * trained model both score against is one SQL text. Ends at `utot`;
    * round 3's `ust3`/`uwk3` ARE the final-vocab segmentation of every
    * distinct word (cursor steps + visited positions), which t51's
    * scorer reads directly. */
  private lazy val UnigramCtes: String = {
    def round(r: Int, limitNext: Option[Int]): String =
      s"umt$r AS (SELECT p.w, p.pos,\n" +
        "    CAST(MAX(length(s.piece)) AS INT) AS mstep\n" +
        s"  FROM upos p JOIN uv$r s\n" +
        "    ON substr(p.w, p.pos, length(s.piece)) = s.piece\n" +
        "  GROUP BY p.w, p.pos),\n" +
        s"ust$r AS MATERIALIZED (SELECT p.w, p.pos,\n" +
        s"    COALESCE(umt$r.mstep, 1) AS step\n" +
        s"  FROM upos p LEFT JOIN umt$r\n" +
        s"    ON p.w = umt$r.w AND p.pos = umt$r.pos),\n" +
        s"uwk$r AS (SELECT w, 1 AS pos FROM uw\n" +
        s"  UNION ALL SELECT uwk$r.w, uwk$r.pos + ust$r.step\n" +
        s"  FROM uwk$r JOIN ust$r\n" +
        s"    ON ust$r.w = uwk$r.w AND ust$r.pos = uwk$r.pos),\n" +
        s"uus$r AS MATERIALIZED (SELECT piece,\n" +
        "    CAST(SUM(wf) AS BIGINT) AS usage FROM (\n" +
        s"  SELECT substr(k.w, k.pos, t.step) AS piece, uw.wf\n" +
        s"  FROM uwk$r k JOIN ust$r t ON t.w = k.w AND t.pos = k.pos\n" +
        "  JOIN uw ON uw.w = k.w\n" +
        "  WHERE k.pos <= length(k.w)) z GROUP BY piece)" +
        limitNext.map(n =>
          s",\nuv${r + 1} AS MATERIALIZED (SELECT piece FROM uus$r\n" +
          "  WHERE length(piece) > 1\n" +
          s"  ORDER BY usage DESC, piece ASC LIMIT $n)").getOrElse("")
    "WITH RECURSIVE\n" +
      "ut AS MATERIALIZED (SELECT tok AS w FROM (SELECT\n" +
      "    unnest(string_split_regex(trim(text), '\\s+')) AS tok\n" +
      "  FROM documents) x WHERE tok <> ''),\n" +
      "uw AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS wf\n" +
      "  FROM ut GROUP BY w),\n" +
      "upos AS MATERIALIZED (SELECT w, CAST(i AS INT) AS pos\n" +
      "  FROM uw, UNNEST(range(1, length(w) + 1)) AS u(i)),\n" +
      "ucand AS (SELECT piece, CAST(SUM(wf) AS BIGINT) AS c FROM (\n" +
      "  SELECT substr(p.w, p.pos, CAST(g.l AS INT)) AS piece, uw.wf\n" +
      "  FROM upos p JOIN uw ON p.w = uw.w,\n" +
      "    UNNEST(range(2, 5)) AS g(l)\n" +
      "  WHERE p.pos + g.l - 1 <= length(p.w)) z GROUP BY piece),\n" +
      "uv1 AS MATERIALIZED (SELECT piece FROM ucand\n" +
      "  ORDER BY c DESC, piece ASC LIMIT 24),\n" +
      round(1, Some(16)) + ",\n" +
      round(2, Some(12)) + ",\n" +
      round(3, None) + ",\n" +
      "utot AS (SELECT CAST(SUM(usage) AS BIGINT) AS total FROM uus3)"
  }

  private lazy val UnigramTrainOracle: String =
    UnigramCtes + "\n" +
      "SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, usage,\n" +
      "  utot.total,\n" +
      "  CAST((length(bin(utot.total * utot.total)) - 1) -\n" +
      "    (length(bin(usage * usage)) - 1) AS BIGINT) AS cost_half_bits\n" +
      "FROM uus3 CROSS JOIN utot\n" +
      "ORDER BY cost_half_bits ASC, piece ASC"

  /** t51: scoring rides the trainer's own round-3 segmentation
    * (`uwk3`/`ust3` — the cursor walk under the final vocab), so the
    * per-word piece stream needs no re-derivation; model costs and the
    * unseen-piece fallback come from `uus3`/`utot` by the same
    * length(bin(x²))−1 identity; doc totals are exact BIGINT sums and
    * the keep law is the cross-multiplied integer compare. */
  private lazy val UnigramScoreOracle: String =
    UnigramCtes + ",\n" +
      """uwp AS (SELECT k.w, substr(k.w, k.pos, t.step) AS piece
        |  FROM uwk3 k JOIN ust3 t ON t.w = k.w AND t.pos = k.pos
        |  WHERE k.pos <= length(k.w)),
        |um AS (SELECT piece,
        |    CAST((length(bin(utot.total * utot.total)) - 1) -
        |      (length(bin(usage * usage)) - 1) AS BIGINT) AS cost
        |  FROM uus3 CROSS JOIN utot),
        |uoov AS (SELECT CAST(MAX(length(bin(total * total)) - 1)
        |    AS BIGINT) AS oov_cost FROM utot),
        |uwc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS w_pieces,
        |    CAST(SUM(COALESCE(um.cost, uoov.oov_cost)) AS BIGINT)
        |      AS w_cost
        |  FROM uwp LEFT JOIN um USING (piece) CROSS JOIN uoov
        |  GROUP BY w),
        |utp AS (SELECT doc_id, tok AS w FROM (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents) x WHERE tok <> ''),
        |udoc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(w_pieces) AS BIGINT) AS n_pieces,
        |    CAST(SUM(w_cost) AS BIGINT) AS cost_half_bits
        |  FROM utp JOIN uwc USING (w) GROUP BY doc_id),
        |uct AS (SELECT CAST(SUM(cost_half_bits) AS BIGINT) AS tot_cost,
        |    CAST(SUM(n_pieces) AS BIGINT) AS tot_pieces FROM udoc)
        |SELECT doc_id, n_tokens, n_pieces, cost_half_bits,
        |  CAST(cost_half_bits AS DOUBLE)
        |    / CAST(n_pieces * 2 AS DOUBLE) AS bits_per_piece,
        |  (cost_half_bits * tot_pieces <= tot_cost * n_pieces) AS keep
        |FROM udoc CROSS JOIN uct ORDER BY doc_id""".stripMargin

  /** t47: decode = delete every delimiter space from the replay string
    * (symbols never contain spaces, so that IS piece concatenation);
    * reassemble per doc in original token order, md5 both sides. */
  private lazy val DetokRoundTripOracle: String =
    s"WITH $BpeTrainCtes,\n" +
    "tp AS (SELECT doc_id, l[i] AS w, CAST(i AS BIGINT) AS pos\n" +
    "  FROM (SELECT doc_id,\n" +
    "    string_split_regex(trim(text), '\\s+') AS l FROM documents) t,\n" +
    "  UNNEST(range(1, len(l) + 1)) AS u(i) WHERE l[i] <> ''),\n" +
    "dec AS (SELECT w, replace(s, ' ', '') AS w_decoded FROM v8),\n" +
    "agg AS (SELECT tp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,\n" +
    "    md5(string_agg(tp.w, ' ' ORDER BY tp.pos)) AS original_md5,\n" +
    "    md5(string_agg(d.w_decoded, ' ' ORDER BY tp.pos))\n" +
    "      AS decoded_md5\n" +
    "  FROM tp JOIN dec d USING (w) GROUP BY tp.doc_id)\n" +
    "SELECT doc_id, n_tokens, original_md5, decoded_md5,\n" +
    "  (original_md5 = decoded_md5) AS round_trip_ok\n" +
    "FROM agg ORDER BY doc_id"

  /** t41: oracle assembled FROM the Scala-side map and injection vals
    * so the byte sequences can never drift between engines. */
  private lazy val MojibakeOracle: String = {
    val m = graft.operators.TextAnalysis.MojibakeMap
    val ia = graft.operators.TextAnalysis.MojiInjectA
    val ib = graft.operators.TextAnalysis.MojiInjectB
    val counts = m.map { case (pat, _) =>
      s"(length(raw) - length(replace(raw, '$pat', ''))) // ${pat.length}"
    }.mkString(" + ")
    val fixed = m.foldLeft("raw") { case (inner, (pat, rep)) =>
      s"replace($inner, '$pat', '$rep')"
    }
    s"""WITH r AS (SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN text || '$ia'
       |       WHEN doc_id % 3 = 1 THEN text || '$ib'
       |       ELSE text END AS raw FROM documents),
       |f AS (SELECT doc_id, raw,
       |  CAST($counts AS BIGINT) AS n_mojibake,
       |  $fixed AS fixed FROM r)
       |SELECT doc_id, n_mojibake,
       |  CAST(length(raw) AS BIGINT) AS raw_len,
       |  CAST(length(fixed) AS BIGINT) AS fixed_len,
       |  (length(raw) <> length(fixed)) AS changed,
       |  md5(fixed) AS fixed_md5
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** s34: s03's plane/projection CTEs at 16 bits, packed to a BIGINT,
    * xor+bit_count ranking with the (distance asc, id asc) order. */
  private val HammingOracle: String =
    """WITH c1 AS (SELECT vec_id, embedding,
      |  unnest(range(0, len(embedding))) AS i FROM embeddings),
      |c2 AS (SELECT vec_id, CAST(i AS INT) AS i, embedding[i+1] AS v
      |  FROM c1),
      |planes AS (SELECT a.i, b.j,
      |  CASE WHEN (strpos('0123456789abcdef',
      |    substr(md5(a.i || ':' || b.j), 1, 1)) - 1) % 2 = 1
      |  THEN 1 ELSE -1 END AS s
      |  FROM (SELECT unnest(range(0, 4096)) AS i) a
      |  CROSS JOIN (SELECT unnest(range(0, 16)) AS j) b),
      |proj AS (SELECT c2.vec_id, p.j,
      |  SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * p.s)
      |    AS pr
      |  FROM c2 JOIN planes p ON c2.i = p.i GROUP BY 1, 2),
      |codes AS (SELECT vec_id,
      |  CAST(SUM(CASE WHEN pr > 0
      |    THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS code
      |  FROM proj GROUP BY vec_id),
      |q AS (SELECT vec_id AS query_id, code AS qcode FROM codes
      |  WHERE vec_id < 5),
      |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
      |  CAST(bit_count(xor(c.code, q.qcode)) AS BIGINT) AS hamming
      |  FROM codes c CROSS JOIN q WHERE c.vec_id <> q.query_id),
      |r AS (SELECT query_id, neighbor_id, hamming,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY hamming ASC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM sc)
      |SELECT query_id, neighbor_id, hamming, rank FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private val Bm25Oracle: String =
    """WITH d AS (SELECT doc_id,
      |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |dd AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dd),
      |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dd) u
      |  WHERE term IN ('vector', 'spark', 'join', 'scan')
      |  GROUP BY doc_id, dl, term),
      |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM tf GROUP BY term),
      |sc AS (SELECT tf.doc_id, tf.term,
      |  ((CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE)
      |      + CAST(0.5 AS DOUBLE))
      |    / (CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |  * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |  / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |        + CAST(0.75 AS DOUBLE) * CAST(tf.dl AS DOUBLE)
      |          / (CAST(st.sum_dl AS DOUBLE)
      |             / CAST(st.n_docs AS DOUBLE)))) AS score_t
      |  FROM tf JOIN dfq USING (term) CROSS JOIN st)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
      | COALESCE(SUM(CASE WHEN term = 'vector' THEN score_t END),
      |   CAST(0.0 AS DOUBLE))
      | + COALESCE(SUM(CASE WHEN term = 'spark' THEN score_t END),
      |   CAST(0.0 AS DOUBLE))
      | + COALESCE(SUM(CASE WHEN term = 'join' THEN score_t END),
      |   CAST(0.0 AS DOUBLE))
      | + COALESCE(SUM(CASE WHEN term = 'scan' THEN score_t END),
      |   CAST(0.0 AS DOUBLE)) AS score
      |FROM sc GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  /** b02: b01's oracle nested for the lexical list (rank via
    * row_number — equal to the Spark side's sorted-array fold), the
    * s01 chain restricted to query 0 / top-20 for the dense list,
    * fixed-order two-term RRF sum. */
  private lazy val RrfOracle: String = {
    val dense = replaceAnchored(BruteCtes,
      "WHERE vec_id < 5", "WHERE vec_id < 1")
    s"""WITH bm AS (SELECT doc_id,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc_id)
       |    AS BIGINT) AS bm25_rank FROM ($Bm25Oracle) xb),
       |dn AS (SELECT doc_id, dense_rank FROM (
       |WITH $dense
       |SELECT neighbor_id AS doc_id, rank AS dense_rank FROM r
       |WHERE rank <= 20) xd)
       |SELECT COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
       |  bm.bm25_rank, dn.dense_rank,
       |  COALESCE(1.0 / (60 + bm.bm25_rank), CAST(0.0 AS DOUBLE))
       |  + COALESCE(1.0 / (60 + dn.dense_rank), CAST(0.0 AS DOUBLE))
       |    AS rrf_score
       |FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id
       |ORDER BY rrf_score DESC, COALESCE(bm.doc_id, dn.doc_id)
       |LIMIT 10""".stripMargin
  }

  /** b03: the full PRF chain in SQL — feedback pass IS Bm25Oracle
    * (LIMIT surgically narrowed to the feedback depth), expansion
    * terms mined with the same exclusion list the Scala side builds
    * (interpolated from the SAME Seq values — the lists cannot
    * drift), and the re-rank's fixed-order sum realized as a
    * term-ASC-ordered list fold with a prepended 0.0 (bitwise equal
    * to the Spark side's COALESCE-slot chain because x + 0.0 == x
    * for the positive partials). */
  private lazy val PrfOracle: String = {
    val fbPass = replaceAnchored(Bm25Oracle,
      "ORDER BY score DESC, doc_id ASC LIMIT 20",
      "ORDER BY score DESC, doc_id ASC LIMIT 10")
    val excluded = (graft.operators.Ranking.DefaultTerms ++
      (graft.operators.TextAnalysis.StopEn ++
        graft.operators.TextAnalysis.StopEs ++
        graft.operators.TextAnalysis.StopDe ++
        graft.operators.TextAnalysis.StopFr).distinct)
      .map(t => s"'$t'").mkString(", ")
    val origVals = graft.operators.Ranking.DefaultTerms
      .map(t => s"('$t')").mkString(", ")
    s"""WITH fb AS (SELECT doc_id FROM ($fbPass) xfb),
       |d AS (SELECT doc_id,
       |  string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |dd AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dd),
       |cand AS (SELECT DISTINCT u.doc_id, u.term FROM
       |  (SELECT dd.doc_id, unnest(dd.toks) AS term
       |   FROM dd JOIN fb USING (doc_id)) u
       |  WHERE u.term NOT IN ($excluded)),
       |expt AS (SELECT term FROM (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_fb
       |  FROM cand GROUP BY term
       |  ORDER BY df_fb DESC, term ASC LIMIT 5) xe),
       |allt AS (SELECT term, CAST(1.0 AS DOUBLE) AS w
       |    FROM (VALUES $origVals) vo(term)
       |  UNION ALL
       |  SELECT term, CAST(0.5 AS DOUBLE) AS w FROM expt),
       |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dd) u
       |  WHERE term IN (SELECT term FROM allt)
       |  GROUP BY doc_id, dl, term),
       |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
       |  FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id, tf.term, allt.w *
       |  (((CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE)
       |      + CAST(0.5 AS DOUBLE))
       |    / (CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |  * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
       |  / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
       |     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
       |        + CAST(0.75 AS DOUBLE) * CAST(tf.dl AS DOUBLE)
       |          / (CAST(st.sum_dl AS DOUBLE)
       |             / CAST(st.n_docs AS DOUBLE))))) AS w_t
       |  FROM tf JOIN dfq USING (term) JOIN allt USING (term)
       |  CROSS JOIN st)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list(w_t ORDER BY term)), (a, b) -> a + b) AS score
       |FROM sc GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  /** b04: relevance = term in the first-10-token title zone
    * (DISTINCT per doc); candidates via Bm25Oracle's tf/df/score CTEs
    * restricted per term; per-term rank by (score desc, doc_id asc);
    * AP's sum realized as the rank-ordered list fold with a prepended
    * 0.0 (non-relevant ranks contribute a bitwise-free +0.0 — the b03
    * fold contract). */
  /** b04/b05 shared CTE chain, WITHOUT the leading `WITH`: tokenized
    * docs, corpus stats, title-zone qrels `rel`/`nr`, per-term BM25
    * candidates, top-10 rank, and the judged frame `j (term, rank,
    * rel)` — [[graft.operators.Ranking]]'s judgedRanking in SQL. */
  private val RetrievalJudgedCtes: String =
    """d AS (SELECT doc_id,
      |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |dd AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dd),
      |rel AS (SELECT DISTINCT doc_id, term FROM (
      |  SELECT doc_id, unnest(toks[1:10]) AS term FROM dd) u
      |  WHERE term IN ('vector', 'spark', 'join', 'scan')),
      |nr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_rel
      |  FROM rel GROUP BY term),
      |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dd) u
      |  WHERE term IN ('vector', 'spark', 'join', 'scan')
      |  GROUP BY doc_id, dl, term),
      |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM tf GROUP BY term),
      |sc AS (SELECT tf.doc_id, tf.term,
      |  ((CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE)
      |      + CAST(0.5 AS DOUBLE))
      |    / (CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |  * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |  / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |        + CAST(0.75 AS DOUBLE) * CAST(tf.dl AS DOUBLE)
      |          / (CAST(st.sum_dl AS DOUBLE)
      |             / CAST(st.n_docs AS DOUBLE)))) AS score_t
      |  FROM tf JOIN dfq USING (term) CROSS JOIN st),
      |rk AS (SELECT term, doc_id,
      |  CAST(row_number() OVER (PARTITION BY term
      |    ORDER BY score_t DESC, doc_id ASC) AS BIGINT) AS rank
      |  FROM sc),
      |top AS (SELECT term, doc_id, rank FROM rk WHERE rank <= 10),
      |j AS (SELECT t.term, t.rank,
      |  CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS rel
      |  FROM top t LEFT JOIN rel r
      |    ON t.term = r.term AND t.doc_id = r.doc_id)""".stripMargin

  private val RetrievalEvalOracle: String =
    s"WITH $RetrievalJudgedCtes,\n" +
    """cu AS (SELECT term, rank, rel,
      |  CAST(SUM(rel) OVER (PARTITION BY term ORDER BY rank)
      |    AS BIGINT) AS cum FROM j),
      |co AS (SELECT term, rank, rel,
      |  CASE WHEN rel = 1
      |    THEN CAST(cum AS DOUBLE) / CAST(rank AS DOUBLE)
      |    ELSE CAST(0.0 AS DOUBLE) END AS contrib FROM cu),
      |pt AS (SELECT term, CAST(SUM(rel) AS BIGINT) AS n_hits,
      |  COALESCE(1.0 / CAST(MIN(CASE WHEN rel = 1 THEN rank END)
      |    AS DOUBLE), CAST(0.0 AS DOUBLE)) AS mrr,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list(contrib ORDER BY rank)), (a, b) -> a + b) AS ap_num
      |  FROM co GROUP BY term)
      |SELECT pt.term, COALESCE(nr.n_rel, 0) AS n_rel, pt.n_hits,
      |  CAST(pt.n_hits AS DOUBLE) / 10.0 AS p_at_k,
      |  CASE WHEN COALESCE(nr.n_rel, 0) = 0 THEN CAST(0.0 AS DOUBLE)
      |    ELSE CAST(pt.n_hits AS DOUBLE) / CAST(nr.n_rel AS DOUBLE)
      |    END AS r_at_k,
      |  pt.mrr,
      |  CASE WHEN COALESCE(nr.n_rel, 0) = 0 THEN CAST(0.0 AS DOUBLE)
      |    ELSE pt.ap_num / CAST(LEAST(nr.n_rel, 10) AS DOUBLE)
      |    END AS ap_at_k
      |FROM pt LEFT JOIN nr USING (term)
      |ORDER BY term""".stripMargin

  /** b05: nDCG@10 over the shared judged chain. The discount table
    * 1/log2(1+r) and the ideal-DCG prefix sums are rendered here from
    * the SAME driver-computed doubles the Spark plan broadcasts
    * ([[graft.operators.Ranking.ndcgDiscounts]]/ndcgIdeals) — log2 is
    * libm, so neither engine evaluates it; `Double.toString` is the
    * shortest round-trip rendering, so DuckDB parses back the
    * identical bits. DCG is the b03/b04 rank-ordered list fold. */
  private lazy val RetrievalNdcgOracle: String = {
    def fmt(d: Double): String = java.lang.Double.toString(d)
    val discVals = graft.operators.Ranking.ndcgDiscounts(10).zipWithIndex
      .map { case (d, i) => s"(${i + 1}, CAST(${fmt(d)} AS DOUBLE))" }
      .mkString(", ")
    val idealVals = graft.operators.Ranking.ndcgIdeals(10).zipWithIndex
      .map { case (s, m) => s"($m, CAST(${fmt(s)} AS DOUBLE))" }
      .mkString(", ")
    s"WITH $RetrievalJudgedCtes,\n" +
      s"dt(rnk, disc) AS (SELECT * FROM (VALUES $discVals)\n" +
      "  t(rnk, disc)),\n" +
      s"it(m, idcg) AS (SELECT * FROM (VALUES $idealVals) t(m, idcg)),\n" +
      "co AS (SELECT j.term, j.rank, j.rel,\n" +
      "  CASE WHEN j.rel = 1 THEN dt.disc\n" +
      "    ELSE CAST(0.0 AS DOUBLE) END AS contrib\n" +
      "  FROM j JOIN dt ON j.rank = dt.rnk),\n" +
      "pt AS (SELECT term, CAST(SUM(rel) AS BIGINT) AS n_hits,\n" +
      "  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),\n" +
      "    list(contrib ORDER BY rank)), (a, b) -> a + b) AS dcg\n" +
      "  FROM co GROUP BY term)\n" +
      "SELECT pt.term,\n" +
      "  CAST(COALESCE(nr.n_rel, 0) AS BIGINT) AS n_rel, pt.n_hits,\n" +
      "  pt.dcg,\n" +
      "  CASE WHEN COALESCE(nr.n_rel, 0) = 0 THEN CAST(0.0 AS DOUBLE)\n" +
      "    ELSE pt.dcg / it.idcg END AS ndcg_at_k\n" +
      "FROM pt LEFT JOIN nr USING (term)\n" +
      "JOIN it ON LEAST(COALESCE(nr.n_rel, 0), 10) = it.m\n" +
      "ORDER BY pt.term"
  }

  /** c04: the all-integer Dirichlet factor per (doc, term) — products
    * and sums in BIGINT, ONE double division per factor, the term-order
    * product left-associated exactly as the Spark side's reduceLeft. */
  private val QlDirichletOracle: String = {
    val terms = graft.operators.Ranking.DefaultTerms
    val mu = graft.operators.Ranking.DefaultMu
    def cfCol(t: String) =
      s"  CAST(COALESCE(SUM(CASE WHEN term = '$t' THEN tf END), 0)\n" +
        s"    AS BIGINT) AS cf_$t"
    def tfCol(t: String) =
      s"  CAST(COALESCE(SUM(CASE WHEN term = '$t' THEN tf END), 0)\n" +
        s"    AS BIGINT) AS tf_$t"
    def factor(t: String) =
      s"(CAST(COALESCE(tf_$t, 0) * c_total + $mu * cf_$t AS DOUBLE)\n" +
        s"   / CAST(c_total * (dl + $mu) AS DOUBLE))"
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (SELECT doc_id,
       |  string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |dd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
       |  FROM d),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM dd) u
       |  WHERE term IN ($inList)
       |  GROUP BY doc_id, term),
       |lm AS (SELECT
       |${terms.map(cfCol).mkString(",\n")},
       |  (SELECT CAST(SUM(dl) AS BIGINT) FROM dd) AS c_total FROM tf),
       |tp AS (SELECT doc_id,
       |${terms.map(tfCol).mkString(",\n")}
       |  FROM tf GROUP BY doc_id)
       |SELECT dd.doc_id,
       |  CAST(${terms.map(t =>
            s"CASE WHEN COALESCE(tf_$t, 0) > 0 THEN 1 ELSE 0 END")
            .mkString("\n    + ")} AS BIGINT) AS n_terms,
       |  dd.dl,
       |  ${terms.map(factor).mkString("\n  * ")} AS score
       |FROM dd LEFT JOIN tp USING (doc_id) CROSS JOIN lm
       |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  /** b06: the b04 judged chain + AP fold verbatim for the BM25 side;
    * the QL side scores EVERY (doc, term) pair by the same integer
    * Dirichlet factor c04 uses, ranks via row_number (score DESC,
    * doc_id ASC — the TopKByScore order), and runs the identical AP
    * fold; delta is one double subtraction, sign exact. */
  private lazy val RankerCompareOracle: String = {
    val mu = graft.operators.Ranking.DefaultMu
    def apFold(p: String, judged: String) =
      s"""${p}cu AS (SELECT term, rank, rel,
         |  CAST(SUM(rel) OVER (PARTITION BY term ORDER BY rank)
         |    AS BIGINT) AS cum FROM $judged),
         |${p}co AS (SELECT term, rank, rel,
         |  CASE WHEN rel = 1
         |    THEN CAST(cum AS DOUBLE) / CAST(rank AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END AS contrib FROM ${p}cu),
         |${p}pt AS (SELECT term,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(contrib ORDER BY rank)), (a, b) -> a + b) AS ap_num
         |  FROM ${p}co GROUP BY term),
         |${p}ap AS (SELECT pt.term,
         |  CAST(COALESCE(nr.n_rel, 0) AS BIGINT) AS n_rel,
         |  CASE WHEN COALESCE(nr.n_rel, 0) = 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE pt.ap_num / CAST(LEAST(nr.n_rel, 10) AS DOUBLE)
         |    END AS ap
         |  FROM ${p}pt pt LEFT JOIN nr USING (term))""".stripMargin
    s"WITH $RetrievalJudgedCtes,\n" +
      apFold("b", "j") + ",\n" +
      s"""qcf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf
         |  FROM tf GROUP BY term),
         |qct AS (SELECT CAST(SUM(dl) AS BIGINT) AS c_total FROM dd),
         |qsc AS (SELECT dd.doc_id, qcf.term,
         |  CAST(COALESCE(tf.tf, 0) * qct.c_total + $mu * qcf.cf
         |      AS DOUBLE)
         |    / CAST(qct.c_total * (dd.dl + $mu) AS DOUBLE) AS qls
         |  FROM dd CROSS JOIN qcf
         |  LEFT JOIN tf ON tf.doc_id = dd.doc_id AND tf.term = qcf.term
         |  CROSS JOIN qct),
         |qrk AS (SELECT term, doc_id,
         |  CAST(row_number() OVER (PARTITION BY term
         |    ORDER BY qls DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM qsc),
         |qj AS (SELECT t.term, t.rank,
         |  CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS rel
         |  FROM (SELECT term, doc_id, rank FROM qrk WHERE rank <= 10) t
         |  LEFT JOIN rel r
         |    ON t.term = r.term AND t.doc_id = r.doc_id),
         |""".stripMargin +
      apFold("q", "qj") + "\n" +
      """SELECT term, bap.n_rel, bap.ap AS ap_bm25, qap.ap AS ap_ql,
        |  (qap.ap - bap.ap) AS delta,
        |  CAST(CASE WHEN qap.ap - bap.ap > 0 THEN 1
        |    WHEN qap.ap - bap.ap < 0 THEN -1 ELSE 0 END AS BIGINT)
        |    AS sign
        |FROM bap JOIN qap USING (term)
        |ORDER BY term""".stripMargin
  }

  /** g11: the g04 edge CTEs + 4 unrolled HITS half-steps. Each
    * half-step is one weighted-sum agg (CAST from DuckDB's HUGEINT
    * back to BIGINT) + the max + the integer right-shift — the same
    * exact-arithmetic law the Spark side executes. */
  private lazy val HitsOracle: String = {
    // authority half-steps read hubs along in-edges (group by dst);
    // hub half-steps read authorities along out-edges (group by src)
    def half(out: String, in: String, edgeKey: String,
        otherKey: String): String =
      s"""${out}r AS (SELECT n0.node,
         |    CAST(COALESCE(SUM($in.x * c.w), 0) AS BIGINT) AS x
         |  FROM n0 LEFT JOIN c ON c.$edgeKey = n0.node
         |  LEFT JOIN $in ON $in.node = c.$otherKey
         |  GROUP BY n0.node),
         |${out}m AS (SELECT CAST(MAX(x) AS BIGINT) AS m FROM ${out}r),
         |$out AS MATERIALIZED (SELECT node,
         |    x >> CAST(GREATEST(0, length(bin(m)) - 31) AS INT) AS x
         |  FROM ${out}r CROSS JOIN ${out}m)""".stripMargin
    """WITH s AS (SELECT user_id, event_type AS dst,
      |  lag(event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS src FROM events),
      |c AS MATERIALIZED (SELECT src, dst,
      |    CAST(COUNT(*) AS BIGINT) AS w
      |  FROM s WHERE src IS NOT NULL GROUP BY src, dst),
      |n0 AS MATERIALIZED (SELECT DISTINCT node FROM (
      |  SELECT src AS node FROM c UNION ALL SELECT dst FROM c)),
      |h0 AS (SELECT node, CAST(1073741824 AS BIGINT) AS x FROM n0),
      |""".stripMargin +
      half("a1", "h0", "dst", "src") + ",\n" +
      half("h1", "a1", "src", "dst") + ",\n" +
      half("a2", "h1", "dst", "src") + ",\n" +
      half("h2", "a2", "src", "dst") + "\n" +
      """SELECT node, a2.x AS auth_fp, h2.x AS hub_fp,
        |  CAST(a2.x AS DOUBLE) / 1073741824.0 AS auth,
        |  CAST(h2.x AS DOUBLE) / 1073741824.0 AS hub
        |FROM a2 JOIN h2 USING (node)
        |ORDER BY auth_fp DESC, node""".stripMargin
  }

  /** l19/l20: the expected round-trip identity, computed from the
    * PARQUET ground truth with the SAME injected tail the Spark side
    * appends before writing — the tail literal is rendered from
    * [[graft.sources.FormatFidelity.HardSuffix]] itself (the t41
    * shared-injection contract), so the two engines cannot drift. A
    * hash match therefore proves the interchange format preserved
    * every byte. */
  private lazy val FormatFidelityOracle: String = {
    val tail = "'" +
      graft.sources.FormatFidelity.HardSuffix.replace("'", "''") + "'"
    s"SELECT doc_id, lang, source,\n" +
      s"  CAST(length(text || $tail) AS BIGINT) AS rt_chars,\n" +
      s"  md5(text || $tail) AS text_md5\n" +
      "FROM documents ORDER BY doc_id"
  }

  /** b07: b06's oracle nested whole (MATERIALIZED — it is read once
    * but carries its own recursive-free WITH), then the exact 2^K
    * flip enumeration: term-ordered delta list, per-assignment signed
    * fold via the 1-based list_transform index (the Spark side's
    * 0-based counter walks the same sorted order), one ÷K tree shared
    * by every mean, p as one division of exact longs. The final WHERE
    * mirrors the Spark side's `nq > 0` guard: on a corpus where no
    * probe term is judged both engines agree on EMPTY instead of the
    * oracle emitting a degenerate (0, NULL) row. */
  private lazy val SignPermutationOracle: String =
    "WITH dl AS MATERIALIZED (SELECT term, delta FROM (\n" +
      RankerCompareOracle + "\n) z),\n" +
      """ob AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(delta ORDER BY term)), (a, b) -> a + b) AS sum_obs
        |  FROM dl),
        |xs AS (SELECT list(delta ORDER BY term) AS ds FROM dl),
        |fl AS (SELECT unnest(range(0,
        |  (SELECT 1 << CAST(nq AS INT) FROM ob))) AS m),
        |sm AS (SELECT m, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |  list_transform(ds, (x, i) -> CASE WHEN (m >> (i - 1)) % 2 = 1
        |    THEN -x ELSE x END)), (a, b) -> a + b) AS sum_m
        |  FROM fl CROSS JOIN xs),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_flips,
        |  CAST(SUM(CASE WHEN abs(sum_m / CAST(nq AS DOUBLE))
        |      >= abs(sum_obs / CAST(nq AS DOUBLE)) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_extreme
        |  FROM sm CROSS JOIN ob)
        |SELECT ob.nq AS n_queries,
        |  ob.sum_obs / CAST(ob.nq AS DOUBLE) AS mean_delta,
        |  ag.n_flips, ag.n_extreme,
        |  CAST(ag.n_extreme AS DOUBLE) / CAST(ag.n_flips AS DOUBLE)
        |    AS p_value,
        |  (CAST(ag.n_extreme AS DOUBLE) / CAST(ag.n_flips AS DOUBLE))
        |    <= 0.05 AS significant
        |FROM ob CROSS JOIN ag
        |WHERE ob.nq > 0""".stripMargin

  /** c03: b01's oracle with the rank/limit surgically removed for the
    * unranked base; proximity = lag-window gaps over query-term
    * positions, different-term rows only, MIN per doc; rational boost
    * + ONE two-term add. */
  private lazy val ProximityOracle: String = {
    val base = replaceAnchored(Bm25Oracle,
      "ORDER BY score DESC, doc_id ASC LIMIT 20", "")
    s"""WITH base AS ($base),
       |dpos AS (SELECT doc_id,
       |  string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |po AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |  toks[i] AS term
       |  FROM (SELECT doc_id, toks,
       |    unnest(range(1, len(toks)+1)) AS i FROM dpos) u
       |  WHERE toks[i] IN ('vector', 'spark', 'join', 'scan')),
       |pr AS (SELECT doc_id, term,
       |  lag(term) OVER w AS pterm, pos - lag(pos) OVER w AS gap
       |  FROM po WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |mg AS (SELECT doc_id, CAST(MIN(gap) AS BIGINT) AS min_pair_dist
       |  FROM pr WHERE pterm IS NOT NULL AND term <> pterm
       |  GROUP BY doc_id)
       |SELECT b.doc_id, b.n_terms, b.score,
       |  COALESCE(mg.min_pair_dist, -1) AS min_pair_dist,
       |  b.score + (CASE WHEN mg.doc_id IS NULL THEN CAST(0.0 AS DOUBLE)
       |    ELSE 1.0 / CAST(1 + mg.min_pair_dist AS DOUBLE) END)
       |    AS prox_score
       |FROM base b LEFT JOIN mg USING (doc_id)
       |ORDER BY prox_score DESC, doc_id LIMIT 20""".stripMargin
  }

  /** s35: one plane/projection pass at 24 bits; narrower tiers are
    * `code % 2^n` masks of the same codes; rank per (n_bits, query);
    * truth = the s01 chain. */
  private lazy val HammingRecallOracle: String =
    s"""WITH c1 AS (SELECT vec_id, embedding,
      |  unnest(range(0, len(embedding))) AS i FROM embeddings),
      |c2 AS (SELECT vec_id, CAST(i AS INT) AS i, embedding[i+1] AS v
      |  FROM c1),
      |planes AS (SELECT a.i, b.j,
      |  CASE WHEN (strpos('0123456789abcdef',
      |    substr(md5(a.i || ':' || b.j), 1, 1)) - 1) % 2 = 1
      |  THEN 1 ELSE -1 END AS s
      |  FROM (SELECT unnest(range(0, 4096)) AS i) a
      |  CROSS JOIN (SELECT unnest(range(0, 24)) AS j) b),
      |proj AS (SELECT c2.vec_id, p.j,
      |  SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * p.s)
      |    AS pr
      |  FROM c2 JOIN planes p ON c2.i = p.i GROUP BY 1, 2),
      |codes AS (SELECT vec_id,
      |  CAST(SUM(CASE WHEN pr > 0
      |    THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS code
      |  FROM proj GROUP BY vec_id),
      |cf AS (SELECT unnest([8, 16, 24]) AS n_bits),
      |mk AS (SELECT cf.n_bits, c.vec_id,
      |  c.code % CAST(power(2, cf.n_bits) AS BIGINT) AS mcode
      |  FROM codes c CROSS JOIN cf),
      |q AS (SELECT n_bits, vec_id AS query_id, mcode AS qcode FROM mk
      |  WHERE vec_id < 5),
      |sc AS (SELECT q.n_bits, q.query_id, m.vec_id AS neighbor_id,
      |  CAST(bit_count(xor(m.mcode, q.qcode)) AS BIGINT) AS hamming
      |  FROM mk m JOIN q ON m.n_bits = q.n_bits
      |  WHERE m.vec_id <> q.query_id),
      |rk AS (SELECT n_bits, query_id, neighbor_id,
      |  row_number() OVER (PARTITION BY n_bits, query_id
      |    ORDER BY hamming ASC, neighbor_id ASC) AS rn FROM sc),
      |ap AS (SELECT n_bits, query_id, neighbor_id FROM rk
      |  WHERE rn <= 10),
      |ex AS (SELECT cf.n_bits, b.query_id, b.neighbor_id
      |  FROM ($BruteTopKOracle) b CROSS JOIN cf)
      |SELECT CAST(e.n_bits AS BIGINT) AS n_bits, e.query_id,
      |  count(a.neighbor_id) AS n_hits,
      |  CAST(count(a.neighbor_id) AS DOUBLE) / 10.0 AS recall
      |FROM ex e LEFT JOIN ap a ON e.n_bits = a.n_bits
      |  AND e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      |GROUP BY e.n_bits, e.query_id
      |ORDER BY n_bits, e.query_id""".stripMargin

  /** p12's per-doc shard CTEs (b: key/tokens/digest hex; c: shard,
    * marker, 15-hex big-endian digest parse — WITH doc_id carried so
    * joins can attach phases) WITHOUT the leading WITH — shared by the
    * p12 manifest and p13 schedule so the shard law cannot drift. */
  private val ShardBaseOracleCtes: String =
    "b AS (SELECT doc_id,\n" +
    "  substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS key,\n" +
    "  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)\n" +
    "    AS n_tokens,\n" +
    "  substr(md5(text), 1, 15) AS dh FROM documents),\n" +
    "c AS (SELECT doc_id, substr(key, 1, 1) AS shard, key,\n" +
    "  key || ':' || lpad(CAST(doc_id AS VARCHAR), 10, '0')\n" +
    "    AS marker,\n" +
    "  n_tokens,\n" +
    "  list_reduce(list_transform(range(1, 16), i ->\n" +
    "    CAST(strpos('0123456789abcdef',\n" +
    "      substr(dh, CAST(i AS INT), 1)) - 1 AS BIGINT)),\n" +
    "    (a, b) -> a * 16 + b) AS digest FROM b)"

  /** p12's manifest SQL — shared verbatim with p17 (incremental merge
    * must equal from-scratch recompute). */
  private lazy val ShardManifestOracle: String =
    s"WITH $ShardBaseOracleCtes\n" +
    "SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,\n" +
    "  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,\n" +
    "  MIN(key) AS min_key, MAX(key) AS max_key,\n" +
    "  MIN(marker) AS first_marker, MAX(marker) AS last_marker,\n" +
    "  lpad(CAST(SUM(CAST(digest AS HUGEINT)) AS VARCHAR), 39, '0')\n" +
    "    AS content_checksum\n" +
    "FROM c GROUP BY shard ORDER BY shard"

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_quantity) AS avg_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_extendedprice) AS avg_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |  AND l_shipdate <  TIMESTAMP '2000-02-01' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_top_revenue_orders" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND orders.o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, orders.o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q04_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q05_region_revenue" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q06_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_discount >= CAST(0.05 AS DOUBLE)
        |  AND l_discount <= CAST(0.07 AS DOUBLE) AND l_quantity < 24""".stripMargin,
    "q07_customer_order_stats" ->
      """SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS order_count,
        | COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin,
    "q08_customers_without_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND year(o_orderdate) = 1995)
        |ORDER BY c_custkey""".stripMargin,
    "q09_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin,
    "q10_distinct_segments" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    "q11_order_stats_by_status" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        | COUNT(DISTINCT o_custkey) AS n_customers,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q12_revenue_rollup" ->
      """SELECT COALESCE(r_name, 'ALL') AS region_name,
        | COALESCE(n_name, 'ALL') AS nation_name,
        | CAST(GROUPING(r_name) AS INTEGER) AS g_region,
        | CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY g_region, g_nation, region_name, nation_name""".stripMargin,
    "q13_lineitem_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        | COALESCE(l_linestatus, 'ALL') AS linestatus,
        | CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        | CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, returnflag, linestatus""".stripMargin,
    "q14_set_ops" ->
      """WITH y1995 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |     y2000 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000)
        |SELECT set_kind, custkey FROM (
        |  SELECT 'both' AS set_kind, o_custkey AS custkey
        |  FROM (SELECT o_custkey FROM y1995 INTERSECT SELECT o_custkey FROM y2000)
        |  UNION ALL
        |  SELECT 'only_1995', o_custkey
        |  FROM (SELECT o_custkey FROM y1995 EXCEPT SELECT o_custkey FROM y2000)
        |  UNION ALL
        |  SELECT 'only_2000', o_custkey
        |  FROM (SELECT o_custkey FROM y2000 EXCEPT SELECT o_custkey FROM y1995)
        |) ORDER BY set_kind, custkey""".stripMargin,
    "q15_scalar_showcase" ->
      """SELECT p_partkey,
        | upper(p_brand) AS brand_upper,
        | lower(p_type) AS type_lower,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | substr(p_name, 1, 8) AS name_prefix,
        | CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
        | regexp_replace(p_type, '[aeiou]', '_', 'g') AS type_devowel,
        | trim(concat('  ', p_brand, '  ')) AS brand_trim,
        | ends_with(p_brand, '1') AS brand_ends_1,
        | concat_ws('|', p_brand, p_type) AS brand_type,
        | CAST(p_size AS BIGINT) AS size_long,
        | CASE WHEN p_retailprice > 1500 THEN 'premium'
        |      WHEN p_retailprice > 800 THEN 'standard'
        |      ELSE 'budget' END AS price_tier
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q16_date_showcase" ->
      """SELECT o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        | CAST(year(o_orderdate) AS BIGINT) AS order_year,
        | CAST(month(o_orderdate) AS BIGINT) AS order_month,
        | CAST(day(o_orderdate) AS BIGINT) AS order_day,
        | CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
        | strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3_months,
        | CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q17_props_json" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS DOUBLE)
        |   / COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS avg_k,
        | MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        | MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q19_asof_join" ->
      """WITH ticks AS (SELECT o_custkey AS user_id, o_orderdate,
        |  max(o_orderkey) AS last_orderkey,
        |  count(*) AS n_orders_that_day
        | FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, t.last_orderkey,
        | strftime(t.o_orderdate, '%Y-%m-%d') AS order_date,
        | t.n_orders_that_day
        |FROM events e ASOF LEFT JOIN ticks t
        |  ON e.user_id = t.user_id AND t.o_orderdate <= e.ts
        |ORDER BY e.event_id""".stripMargin,
    "q20_range_join" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |  THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, event_id,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_n
        | FROM g),
        |sess AS (SELECT user_id, session_n, min(ts) AS st, max(ts) AS en
        | FROM s GROUP BY user_id, session_n)
        |SELECT e.event_id, e.user_id, CAST(x.session_n AS BIGINT) AS session_n
        |FROM events e JOIN sess x ON e.user_id = x.user_id
        |  AND e.ts >= x.st AND e.ts <= x.en
        |ORDER BY e.event_id""".stripMargin,
    "q21_grouping_sets_sql" ->
      """SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
        | COALESCE(o_orderstatus, 'ALL') AS status,
        | CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
        | CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price,
        | COUNT(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
        |ORDER BY g_seg, g_st, segment, status""".stripMargin,
    "q22_json_construct" ->
      """SELECT p_partkey,
        | CAST(to_json(struct_pack(brand := p_brand, size := p_size,
        |   type := p_type)) AS VARCHAR) AS part_json
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q23_percentiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS median_qty,
        | quantile_cont(l_extendedprice, 0.25) AS price_p25,
        | quantile_cont(l_extendedprice, 0.75) AS price_p75
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q29_percentiles_dist" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.25) AS qty_p25,
        | quantile_cont(l_quantity, 0.5) AS median_qty,
        | quantile_cont(l_quantity, 0.75) AS qty_p75
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q26_approx_percentiles" ->
      """SELECT l_returnflag,
        | quantile_disc(l_quantity, 0.5) AS median_qty,
        | quantile_disc(l_extendedprice, 0.25) AS price_p25,
        | quantile_disc(l_extendedprice, 0.75) AS price_p75
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q24_array_showcase" ->
      """SELECT vec_id,
        | len(embedding) AS n_dims,
        | embedding[1] AS first_dim,
        | list_max(embedding) AS vmax,
        | list_min(embedding) AS vmin,
        | list_reduce(list_transform(embedding[1:4],
        |   x -> CAST(x AS DOUBLE)), (a, b) -> a + b) AS head4_sum,
        | list_sort(embedding, 'DESC')[1] AS top1,
        | list_sort(embedding, 'DESC')[2] AS top2,
        | list_sort(embedding, 'DESC')[3] AS top3
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "w07_window_showcase" ->
      """SELECT user_id, event_id,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | percent_rank() OVER w AS prank,
        | cume_dist() OVER w AS cdist,
        | first_value(event_id) OVER w AS first_event,
        | last_value(event_id) OVER wf AS last_event,
        | nth_value(event_id, 2) OVER wf AS second_event
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        | wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin,
    "q28_correlated_exists" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q27_pivot" ->
      """SELECT o_orderpriority,
        | CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
        | CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
        | CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q25_bottomk_sketch" ->
      """WITH h AS (SELECT DISTINCT o_orderstatus,
        |  md5(CAST(o_custkey AS VARCHAR)) AS h FROM orders)
        |SELECT o_orderstatus,
        | array_to_string((list_sort(list(h)))[1:8], '|') AS bottom8,
        | count(*) AS exact_distinct
        |FROM h GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "w01_rank_events" ->
      """SELECT user_id, event_id, event_type, rn, rnk, drnk FROM (
        |  SELECT user_id, event_id, event_type,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    CAST(rank() OVER w AS BIGINT) AS rnk,
        |    CAST(dense_rank() OVER w AS BIGINT) AS drnk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
        |) WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    "w02_session_gaps" ->
      """SELECT user_id, event_id,
        | lag(event_id, 1) OVER w AS prev_event_id,
        | lead(event_id, 1) OVER w AS next_event_id,
        | epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_micros
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    // w23: the running high-watermark over arrival order (event_id as
    // the ingest sequence), exact micros lateness, fixed delay buckets
    "w23_watermark_lateness" ->
      """WITH l AS (SELECT event_type,
        |  epoch_us(MAX(ts) OVER (PARTITION BY event_type ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    - epoch_us(ts) AS late_us
        |  FROM events),
        |b AS (SELECT event_type,
        |  CASE WHEN late_us = 0 THEN 'b0_on_time'
        |       WHEN late_us <= 60000000 THEN 'b1_under_1m'
        |       WHEN late_us <= 300000000 THEN 'b2_under_5m'
        |       WHEN late_us <= 3600000000 THEN 'b3_under_1h'
        |       ELSE 'b4_over_1h' END AS late_bucket, late_us
        |  FROM l)
        |SELECT event_type, late_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MAX(late_us) AS BIGINT) AS max_late_us
        |FROM b GROUP BY event_type, late_bucket
        |ORDER BY event_type, late_bucket""".stripMargin,
    "w03_running_totals" ->
      """SELECT user_id, event_id,
        | CAST(SUM(CAST(value AS DECIMAL(18,6)))
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS running_value,
        | COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        |   AS neighborhood_n
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "w04_value_share" ->
      """SELECT user_id, event_id,
        | CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) /
        |   CAST(SUM(CAST(value AS DECIMAL(18,6)))
        |        OVER (PARTITION BY user_id) AS DOUBLE) AS value_share
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "w05_event_windows" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
        | count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Each event belongs to exactly windowLen/slide = 2 sliding windows:
    // starts time_bucket(5min, ts) and that minus 5min. Both engines
    // epoch-align 5-minute buckets, so starts agree bitwise.
    "w09_sliding_windows" ->
      """WITH x AS (SELECT event_type, value,
        |  time_bucket(INTERVAL '5 minutes', ts)
        |    - j * (INTERVAL '5 minutes') AS wstart
        | FROM events CROSS JOIN range(0, 2) t(j))
        |SELECT wstart, wstart + INTERVAL '10 minutes' AS wend, event_type,
        | count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,
    "w06_sessionization" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |  THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, event_id,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_n
        | FROM g)
        |SELECT user_id, CAST(session_n AS BIGINT) AS session_n, count(*) AS n_events,
        | min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY user_id, s.session_n
        |ORDER BY user_id, s.session_n""".stripMargin,
    "w08_native_session_windows" ->
      """WITH g AS (SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |  THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_n
        | FROM g)
        |SELECT user_id, min(ts) AS session_start,
        | max(ts) + INTERVAL 30 MINUTE AS session_end,
        | count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_n
        |ORDER BY user_id, session_start""".stripMargin,
    "w10_rolling_hour" ->
      """SELECT user_id, event_id, ts,
        | COUNT(*) OVER w AS n_1h,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "w11_gap_fill" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |  COUNT(*) AS n FROM events GROUP BY 1, 2),
        |slots AS (SELECT event_type,
        |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        | FROM (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
        |       FROM hourly GROUP BY 1))
        |SELECT s.event_type, s.h, COALESCE(n.n, 0) AS n_events
        |FROM slots s LEFT JOIN hourly n
        |  ON s.event_type = n.event_type AND s.h = n.h
        |ORDER BY s.event_type, s.h""".stripMargin,
    "t01_token_stats" ->
      """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |SELECT doc_id,
        | len(toks) AS n_ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |   AS n_bpe_tokens,
        | len(list_distinct(toks)) AS n_distinct_words,
        | CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |   / CAST(len(toks) AS DOUBLE) AS mean_token_chars
        |FROM t ORDER BY doc_id""".stripMargin,
    "t02_quality_score" ->
      QualityScoreOracle,
    "t03_language_id" ->
      """WITH t AS (SELECT doc_id, lang,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, lang,
        |  len(list_filter(toks, t -> list_contains(
        |    ['the','a','and','of','to','in','is','it'], lower(t)))) AS c_en,
        |  len(list_filter(toks, t -> list_contains(
        |    ['el','la','de','que','y','en','un','es'], lower(t)))) AS c_es,
        |  len(list_filter(toks, t -> list_contains(
        |    ['der','die','und','das','ist','ein','zu','den'], lower(t)))) AS c_de,
        |  len(list_filter(toks, t -> list_contains(
        |    ['le','la','et','les','des','un','une','est'], lower(t)))) AS c_fr
        | FROM t)
        |SELECT doc_id, lang AS labeled_lang,
        | c_en AS score_en, c_es AS score_es, c_de AS score_de, c_fr AS score_fr,
        | CASE WHEN greatest(c_en, c_es, c_de, c_fr) = 0 THEN 'unknown'
        |      WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
        |      WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
        |      WHEN c_de >= c_fr THEN 'de'
        |      ELSE 'fr' END AS predicted_lang
        |FROM c ORDER BY doc_id""".stripMargin,
    "t04_fingerprints" ->
      """WITH t AS (SELECT doc_id,
        |  regexp_replace(trim(text), '\s+', ' ', 'g') AS norm,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, norm,
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END AS sh
        | FROM t)
        |SELECT doc_id, md5(norm) AS content_md5,
        | list_min(list_transform(sh, x -> md5(x))) AS winnow_min,
        | len(list_distinct(sh)) AS n_shingles
        |FROM s ORDER BY doc_id""".stripMargin,
    "t05_top_bigrams" ->
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |b AS (SELECT unnest(CASE WHEN len(toks) >= 2 THEN
        |    list_transform(range(0, len(toks)-1),
        |      i -> array_to_string(toks[i+1:i+2], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS bigram FROM t)
        |SELECT bigram, count(*) AS n FROM b GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,
    "t07_repetition_stats" ->
      """WITH d AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |p AS (SELECT doc_id, pos, toks[pos + 1] AS tok
        | FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS pos FROM d)),
        |r AS (SELECT doc_id, pos, tok,
        |  CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
        |    IS DISTINCT FROM tok THEN 1 ELSE 0 END AS chg FROM p),
        |g AS (SELECT doc_id, SUM(chg) OVER (PARTITION BY doc_id
        |  ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS grp FROM r),
        |runs AS (SELECT doc_id, max(rl) AS max_run FROM
        |  (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS rl
        |   FROM g GROUP BY doc_id, grp) GROUP BY doc_id),
        |tt AS (SELECT doc_id, max(c) AS top_token_n FROM
        |  (SELECT doc_id, tok, count(*) AS c FROM p GROUP BY 1, 2)
        | GROUP BY 1),
        |bg AS (SELECT doc_id, max(c) AS top_bigram_n FROM
        |  (SELECT doc_id, bigram, count(*) AS c FROM
        |    (SELECT doc_id, tok || ' ' ||
        |       lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        |     FROM p)
        |   WHERE bigram IS NOT NULL GROUP BY 1, 2) GROUP BY 1),
        |lens AS (SELECT doc_id, len(toks) AS n_tokens FROM d)
        |SELECT l.doc_id, l.n_tokens, tt.top_token_n,
        | CAST(tt.top_token_n AS DOUBLE) / CAST(l.n_tokens AS DOUBLE)
        |   AS top_token_frac,
        | runs.max_run, bg.top_bigram_n,
        | CAST(bg.top_bigram_n AS DOUBLE)
        |   / CAST(nullif(l.n_tokens - 1, 0) AS DOUBLE) AS top_bigram_frac,
        | (runs.max_run >= 8 OR CAST(tt.top_token_n AS DOUBLE)
        |   / CAST(l.n_tokens AS DOUBLE) > 0.3) AS flag_repetitive
        |FROM lens l JOIN tt USING (doc_id) JOIN runs USING (doc_id)
        |LEFT JOIN bg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "t10_heavy_hitters" ->
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |b AS (SELECT unnest(CASE WHEN len(toks) >= 2 THEN
        |    list_transform(range(0, len(toks)-1),
        |      i -> array_to_string(toks[i+1:i+2], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS bigram FROM t)
        |SELECT bigram, count(*) AS n FROM b GROUP BY bigram
        |HAVING count(*) >= 40
        |ORDER BY n DESC, bigram""".stripMargin,
    "t09_bigram_rarity" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
        |    list_transform(range(0, len(toks)-1),
        |      i -> array_to_string(toks[i+1:i+2], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS bigram FROM t),
        |f AS (SELECT bigram, count(*) AS bg_n FROM b GROUP BY 1),
        |j AS (SELECT doc_id, bg_n FROM b JOIN f USING (bigram))
        |SELECT doc_id, count(*) AS n_bigrams,
        | CAST(SUM(bg_n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_df,
        | CAST(min(bg_n) AS BIGINT) AS min_df,
        | CAST(SUM(CASE WHEN bg_n <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS rare_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Thresholds are hexThreshold(rate) = floor(rate * 16^8) as 8-digit
    // lowercase hex: en 0.5, es 0.25, de 0.75, fr 1.0 ("g" > any hex
    // digit keeps all), default 0.1. DuckDB md5(VARCHAR) hashes the same
    // UTF-8 bytes as Spark md5(cast(cast(doc_id as string) as binary)).
    "t08_stratified_sample" ->
      """WITH s AS (SELECT doc_id, lang,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
        | FROM documents)
        |SELECT doc_id, lang, sample_key FROM s
        |WHERE sample_key < CASE lang
        |  WHEN 'en' THEN '80000000' WHEN 'es' THEN '40000000'
        |  WHEN 'de' THEN 'c0000000' WHEN 'fr' THEN 'g'
        |  ELSE '19999999' END
        |ORDER BY doc_id""".stripMargin,
    "p03_token_budget_mix" ->
      """WITH t AS (SELECT doc_id, lang, text,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, lang,
        |  CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS punct,
        |  CAST(len(list_filter(toks, t -> list_contains(
        |    ['the','a','and','of','to','in','is','it'], lower(t)))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS stop,
        |  CAST(len(list_distinct(toks)) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS diversity
        | FROM t),
        |q AS (SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tokens,
        |  least(1.0, n_tok/64.0)*0.4 + (1.0-punct)*0.2 + stop*0.2
        |    + diversity*0.2 AS quality FROM c),
        |m AS (SELECT lang, doc_id, n_tokens, quality,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens
        | FROM q)
        |SELECT lang, doc_id, n_tokens, quality, cum_tokens FROM m
        |WHERE cum_tokens <= 5000
        |ORDER BY lang, cum_tokens""".stripMargin,
    "t11_source_caps" ->
      """SELECT source, doc_id, n_chars,
        | CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rk
        |FROM documents QUALIFY rk <= 50
        |ORDER BY source, rk""".stripMargin,
    "t12_sequence_packing" ->
      """WITH t AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |    AS n_tokens
        | FROM documents),
        |b AS (SELECT doc_id, substr(h, 1, 1) AS shard,
        |  substr(h, 1, 8) AS shuffle_key, n_tokens FROM t),
        |c AS (SELECT shard, doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
        |    ORDER BY shuffle_key, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS cum_before
        | FROM b)
        |SELECT shard, CAST(cum_before // 512 AS BIGINT) AS seq_id, doc_id,
        | n_tokens, cum_before
        |FROM c ORDER BY shard, cum_before""".stripMargin,
    "p01_data_prep_pipeline" ->
      """WITH doubled AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, lang FROM documents),
        |tq AS (SELECT doc_id, text, lang,
        |  string_split_regex(trim(text), '\s+') AS toks FROM doubled),
        |c AS (SELECT doc_id, text, lang,
        |  CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS punct,
        |  CAST(len(list_filter(toks, t -> list_contains(
        |    ['the','a','and','of','to','in','is','it'], lower(t)))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS stop,
        |  CAST(len(list_distinct(toks)) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS diversity
        | FROM tq),
        |kept AS (SELECT doc_id, text, lang FROM c
        |  WHERE least(1.0, n_tok/64.0)*0.4 + (1.0-punct)*0.2 + stop*0.2
        |    + diversity*0.2 >= 0.5),
        |d AS (SELECT
        |  md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS content_md5,
        |  min(doc_id) AS doc_id, min(lang) AS lang, min(text) AS text
        | FROM kept GROUP BY 1)
        |SELECT lang, count(*) AS n_docs,
        | CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "t06_redact_pii" ->
      """WITH w AS (SELECT doc_id,
        |  text || ' contact: user' || doc_id || '@example.com or +1-555-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        | FROM documents)
        |SELECT doc_id,
        | len(regexp_extract_all(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        | len(regexp_extract_all(text,
        |   '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
        | regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text
        |FROM w ORDER BY doc_id""".stripMargin,
    "p02_decontamination" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM s
        |  WHERE doc_id % 100 = 0),
        |train AS (SELECT doc_id, unnest(sh) AS shingle FROM s
        |  WHERE doc_id % 100 <> 0),
        |hits AS (SELECT t2.doc_id, count(*) AS n_hits FROM train t2
        |  JOIN bench b ON t2.shingle = b.shingle GROUP BY 1),
        |sz AS (SELECT doc_id, len(sh) AS n_shingles FROM s
        |  WHERE doc_id % 100 <> 0)
        |SELECT doc_id, n_hits, n_shingles,
        | CAST(n_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE)
        |   AS contamination
        |FROM hits JOIN sz USING (doc_id) ORDER BY doc_id""".stripMargin,
    // p04 composes the p01/d01/p02/p03 CTE idioms verbatim: doubled
    // corpus, t02 quality filter, digest dedup (min per column), exact
    // 3-gram postings vs the benchmark split, then the per-lang
    // quality-ranked running token budget
    "p04_pretrain_corpus" ->
      """WITH doubled AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, lang FROM documents),
        |tq AS (SELECT doc_id, text, lang,
        |  string_split_regex(trim(text), '\s+') AS toks FROM doubled),
        |c AS (SELECT doc_id, text, lang,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS punct,
        |  CAST(len(list_filter(toks, t -> list_contains(
        |    ['the','a','and','of','to','in','is','it'], lower(t)))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS stop,
        |  CAST(len(list_distinct(toks)) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS diversity
        | FROM tq),
        |kept AS (SELECT doc_id, text, lang, n_tokens,
        |  least(1.0, n_tok/64.0)*0.4 + (1.0-punct)*0.2 + stop*0.2
        |    + diversity*0.2 AS quality
        | FROM c
        | WHERE least(1.0, n_tok/64.0)*0.4 + (1.0-punct)*0.2 + stop*0.2
        |    + diversity*0.2 >= 0.5),
        |d AS (SELECT
        |  md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS content_md5,
        |  min(doc_id) AS doc_id, min(lang) AS lang, min(text) AS text,
        |  min(n_tokens) AS n_tokens, min(quality) AS quality
        | FROM kept GROUP BY 1),
        |ds AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 3 THEN
        |    list_transform(
        |      range(0, len(string_split_regex(trim(text), '\s+'))-2),
        |      i -> array_to_string(
        |        string_split_regex(trim(text), '\s+')[i+1:i+3], ' '))
        |  ELSE [array_to_string(
        |    string_split_regex(trim(text), '\s+'), ' ')] END) AS sh
        | FROM doubled),
        |bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM ds
        |  WHERE doc_id % 100 = 0),
        |hits AS (SELECT t2.doc_id FROM
        |  (SELECT doc_id, unnest(sh) AS shingle FROM ds
        |    WHERE doc_id % 100 <> 0) t2
        |  JOIN bench b ON t2.shingle = b.shingle GROUP BY 1),
        |train AS (SELECT d.* FROM d
        |  WHERE d.doc_id % 100 <> 0
        |    AND d.doc_id NOT IN (SELECT doc_id FROM hits)),
        |budg AS (SELECT lang, doc_id, n_tokens, quality,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens
        | FROM train)
        |SELECT lang, doc_id, n_tokens, quality, cum_tokens FROM budg
        |WHERE cum_tokens <= 3000 ORDER BY lang, cum_tokens""".stripMargin,
    "d01_exact_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |h AS (SELECT doc_id,
        |  md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS content_md5
        | FROM corpus)
        |SELECT min(doc_id) AS kept_doc_id, content_md5, count(*) AS n_copies
        |FROM h GROUP BY content_md5 ORDER BY kept_doc_id""".stripMargin,
    // canonicalized dedup: NFC + RE2 tokenization (the t14 pattern)
    // collapse the NFD / spacing variants that byte hashing keeps apart;
    // chr(769) = U+0301 combining acute (decomposed é)
    "d08_normalized_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text || ' café.' AS raw FROM documents
        |  UNION ALL SELECT doc_id + 1000000,
        |    text || ' cafe' || chr(769) || ' .' FROM documents
        |  UNION ALL SELECT doc_id + 2000000, text || '  café.'
        |    FROM documents),
        |h AS (SELECT doc_id,
        |  md5(array_to_string(regexp_extract_all(nfc_normalize(raw),
        |    '\p{Han}|[^\P{L}\p{Han}]+|\p{Nd}+|[^\p{L}\p{Nd}\s]'), ' '))
        |    AS content_md5,
        |  md5(raw) AS raw_md5 FROM corpus)
        |SELECT min(doc_id) AS kept_doc_id, content_md5,
        | count(*) AS n_copies,
        | count(DISTINCT raw_md5) AS n_raw_variants
        |FROM h GROUP BY content_md5 ORDER BY kept_doc_id""".stripMargin,
    // blocked fuzzy matching, two selective passes (prefix-8 + suffix-8
    // keys, unioned + deduped): an edit outside one zone is caught by
    // the other pass; the injected typo (3rd char -> 'x') preserves the
    // suffix block by construction. Codegen levenshtein refines.
    "d09_fuzzy_pairs" ->
      """WITH base AS (SELECT doc_id, substr(text, 1, 30) AS title
        |  FROM documents),
        |typo AS (SELECT doc_id + 1000000 AS doc_id,
        |  substr(title, 1, 2) || 'x' || substr(title, 4, 27) AS title
        | FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM typo),
        |b AS (
        |  SELECT doc_id, title, 'p:' || substr(title, 1, 8) || ':' ||
        |    CAST(length(title) AS VARCHAR) AS block FROM corpus
        |  UNION ALL
        |  SELECT doc_id, title, 's:' || substr(title, 23, 8) || ':' ||
        |    CAST(length(title) AS VARCHAR) AS block FROM corpus)
        |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
        | CAST(levenshtein(a.title, c.title) AS BIGINT) AS dist
        |FROM b a JOIN b c ON a.block = c.block AND a.doc_id < c.doc_id
        |WHERE levenshtein(a.title, c.title) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // d04's band CTEs feed d07's recursive-CTE connected components:
    // the full MinHash -> LSH -> CC pipeline replayed exactly
    "d13_lsh_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |g AS (SELECT doc_id, list_transform(range(0, 12), j ->
        |  list_min(list_transform(sh, x ->
        |    md5(concat(CAST(j AS VARCHAR), ':', x))))) AS sig FROM s),
        |b AS (SELECT doc_id, list_transform(range(0, 4), k ->
        |  md5(array_to_string(sig[k*3+1:k*3+3], '|'))) AS bands FROM g),
        |e AS (SELECT doc_id, k AS band, bands[k+1] AS digest
        |      FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS k) u),
        |pairs AS (SELECT a.doc_id AS u0, b2.doc_id AS v0
        |  FROM e a JOIN e b2 ON a.band = b2.band AND a.digest = b2.digest
        |    AND a.doc_id < b2.doc_id
        |  GROUP BY 1, 2),
        |edges AS (SELECT u0 AS u, v0 AS v FROM pairs
        |  UNION SELECT v0, u0 FROM pairs),
        |reach AS (
        |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u)
        |SELECT u AS doc_id, min(v) AS cluster_id,
        | (u = min(v)) AS is_canonical
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    // containment = inter/|A| (asymmetric, directed): same shingle
    // recipe as d02, denominator is the LEFT side's shingle count
    "d12_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substr(text, 1, 200) FROM documents),
        |t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM corpus),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |sz AS (SELECT doc_id, len(sh) AS n_sh FROM s),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS inter
        |  FROM e a JOIN e b ON a.shingle = b.shingle
        |    AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |c AS (SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(x.n_sh AS DOUBLE) AS containment
        | FROM p JOIN sz x ON doc_a = x.doc_id)
        |SELECT doc_a, doc_b, containment FROM c
        |WHERE containment >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
    // d12 with the posting cap applied oracle-side too: shingles with
    // df > 10 over the DOUBLED corpus are dropped BEFORE pairing, and
    // the |A| denominator counts only surviving shingles — mirroring
    // shinglePostings + the sizes-from-capped-postings order in
    // containmentPairs exactly
    "d14_containment_capped" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substr(text, 1, 200) FROM documents),
        |t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM corpus),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |e0 AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |hot AS (SELECT shingle FROM e0 GROUP BY shingle
        |  HAVING count(*) > 10),
        |e AS (SELECT doc_id, shingle FROM e0
        |  WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM e GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS inter
        |  FROM e a JOIN e b ON a.shingle = b.shingle
        |    AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |c AS (SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(x.n_sh AS DOUBLE) AS containment
        | FROM p JOIN sz x ON doc_a = x.doc_id)
        |SELECT doc_a, doc_b, containment FROM c
        |WHERE containment >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
    "d02_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |sz AS (SELECT doc_id, len(sh) AS n_sh FROM s),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM e a JOIN e b ON a.shingle = b.shingle
        |        AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(x.n_sh + y.n_sh - inter AS DOUBLE)
        |    AS jaccard
        | FROM p JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d03_minhash_signatures" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |g AS (SELECT doc_id, list_transform(range(0, 12), j ->
        |  list_min(list_transform(sh, x ->
        |    md5(concat(CAST(j AS VARCHAR), ':', x))))) AS sig FROM s),
        |b AS (SELECT doc_id, sig, list_transform(range(0, 4), k ->
        |  md5(array_to_string(sig[k*3+1:k*3+3], '|'))) AS bands FROM g)
        |SELECT doc_id, array_to_string(sig, '|') AS signature,
        | array_to_string(bands, '|') AS band_digests
        |FROM b ORDER BY doc_id""".stripMargin,
    "d04_lsh_candidates" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |g AS (SELECT doc_id, list_transform(range(0, 12), j ->
        |  list_min(list_transform(sh, x ->
        |    md5(concat(CAST(j AS VARCHAR), ':', x))))) AS sig FROM s),
        |b AS (SELECT doc_id, list_transform(range(0, 4), k ->
        |  md5(array_to_string(sig[k*3+1:k*3+3], '|'))) AS bands FROM g),
        |e AS (SELECT doc_id, k AS band, bands[k+1] AS digest
        |      FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS k) u)
        |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        | count(*) AS n_shared_bands
        |FROM e a JOIN e b2 ON a.band = b2.band AND a.digest = b2.digest
        |  AND a.doc_id < b2.doc_id
        |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,
    "d05_simhash" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |SELECT doc_id,
        | array_to_string(list_transform(range(0, 64), j ->
        |  CASE WHEN list_reduce(list_transform(toks, t ->
        |    CASE WHEN
        |      ((strpos('0123456789abcdef', substr(md5(t), 1 + (j // 4), 1))
        |         - 1)
        |        // (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
        |            WHEN 2 THEN 2 ELSE 1 END)) % 2 = 1
        |    THEN 1 ELSE -1 END), (a, b) -> a + b) > 0
        |  THEN '1' ELSE '0' END), '') AS simhash64
        |FROM t ORDER BY doc_id""".stripMargin,
    "d06_embedding_near_dups" ->
      """WITH n AS (SELECT vec_id, label, embedding,
        |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
        |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b) AS norm2 FROM embeddings),
        |p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        |  a.label AS bucket,
        |  list_reduce(list_transform(range(1, len(a.embedding)+1), i ->
        |    CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(b.norm2)) AS cosine
        | FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT vec_id_a, vec_id_b, bucket, cosine FROM p
        |WHERE cosine >= 0.35 ORDER BY vec_id_a, vec_id_b""".stripMargin,
    // d15: IvfTrainCtes trains/assigns (a2 IS the trained-cluster
    // blocker the Spark side loads from the model cache); a vector is
    // dropped iff an earlier same-cluster member clears the cosine bar
    "d15_semantic_dedup" ->
      (s"WITH $IvfTrainCtes,\n" +
      """dup AS (SELECT DISTINCT a.vec_id
        |  FROM a2 a JOIN a2 b ON a.cluster_id = b.cluster_id
        |    AND b.vec_id < a.vec_id
        |  WHERE list_reduce(list_transform(range(1, len(a.emb)+1), i ->
        |      CAST(a.emb[i] AS DOUBLE) * CAST(b.emb[i] AS DOUBLE)),
        |      (x, y) -> x + y) / (sqrt(a.vnorm2) * sqrt(b.vnorm2))
        |    >= 0.35)
        |SELECT a2.vec_id, a2.cluster_id, dup.vec_id IS NULL AS is_kept
        |FROM a2 LEFT JOIN dup ON a2.vec_id = dup.vec_id
        |ORDER BY a2.vec_id""".stripMargin),
    // Transitive closure of the d06 pair graph via recursive CTE: reach
    // enumerates every node reachable from u, min over it = the
    // min-label-propagation fixpoint the Spark side iterates to.
    "d07_dedup_clusters" -> MinLabelCcOracle,
    // d20: SAME oracle as d07 by design — star contraction and label
    // propagation are different ALGORITHMS for the same fixed point
    // (cluster_id = min component member); sharing the text makes the
    // equivalence the checked statement
    "d20_cc_star" -> MinLabelCcOracle,
    "s01_brute_topk" -> BruteTopKOracle,
    "s41_mips_topk" -> MipsOracle,
    "s42_mips_ivf_recall" -> MipsIvfRecallOracle,
    "s43_graph_beam_recall" -> BeamSearchRecallOracle,
    "s44_beam_hops_recall" -> BeamHopsRecallOracle,
    "s46_filtered_beam_recall" -> FilteredBeamRecallOracle,
    // s45 serves the SAME graph content from its at-rest form — the
    // oracle is s43's by identity (the spec asserts frame equality)
    "s45_stored_graph_serve" -> BeamSearchRecallOracle,
    "s02_ivf_topk" ->
      """WITH n AS (SELECT vec_id, label, embedding,
        |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
        |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b) AS norm2 FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS query_label,
        |  embedding AS query_emb, norm2 AS qnorm2 FROM n WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, c.label, c.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, len(c.embedding)+1), i ->
        |    CAST(c.embedding[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(c.norm2) * sqrt(q.qnorm2)) AS cosine
        | FROM n c JOIN q ON c.label = q.query_label
        |   AND c.vec_id <> q.query_id),
        |r AS (SELECT query_id, label, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
        | FROM scored)
        |SELECT query_id, label, neighbor_id, cosine, rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "s03_lsh_buckets" ->
      """WITH c1 AS (SELECT vec_id, embedding,
        |  unnest(range(0, len(embedding))) AS i FROM embeddings),
        |c2 AS (SELECT vec_id, CAST(i AS INT) AS i, embedding[i+1] AS v
        |  FROM c1),
        |planes AS (SELECT a.i, b.j,
        |  CASE WHEN (strpos('0123456789abcdef',
        |    substr(md5(a.i || ':' || b.j), 1, 1)) - 1) % 2 = 1
        |  THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(0, 4096)) AS i) a
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) b),
        |proj AS (SELECT c2.vec_id, p.j,
        |  SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * p.s)
        |    AS pr
        |  FROM c2 JOIN planes p ON c2.i = p.i GROUP BY 1, 2)
        |SELECT vec_id, string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END,
        |  '' ORDER BY j) AS bucket
        |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "s04_lsh_ann_topk" ->
      """WITH c1 AS (SELECT vec_id, embedding,
        |  unnest(range(0, len(embedding))) AS i FROM embeddings),
        |c2 AS (SELECT vec_id, CAST(i AS INT) AS i, embedding[i+1] AS v
        |  FROM c1),
        |planes AS (SELECT a.i, b.j,
        |  CASE WHEN (strpos('0123456789abcdef',
        |    substr(md5(a.i || ':' || b.j), 1, 1)) - 1) % 2 = 1
        |  THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(0, 4096)) AS i) a
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS j) b),
        |proj AS (SELECT c2.vec_id, p.j,
        |  SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * p.s)
        |    AS pr
        |  FROM c2 JOIN planes p ON c2.i = p.i GROUP BY 1, 2),
        |buckets AS (SELECT vec_id,
        |  string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END,
        |    '' ORDER BY j) AS bucket
        | FROM proj GROUP BY vec_id),
        |n AS (SELECT e.vec_id, b.bucket, e.embedding,
        |  list_reduce(list_transform(range(1, len(e.embedding)+1), i ->
        |    CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
        |    (a, b2) -> a + b2) AS norm2
        | FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
        |q AS (SELECT vec_id AS query_id, bucket AS query_bucket,
        |  embedding AS query_emb, norm2 AS qnorm2 FROM n WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, c.bucket, c.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, len(c.embedding)+1), i ->
        |    CAST(c.embedding[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(c.norm2) * sqrt(q.qnorm2)) AS cosine
        | FROM n c JOIN q ON c.bucket = q.query_bucket
        |   AND c.vec_id <> q.query_id),
        |r AS (SELECT query_id, bucket, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
        | FROM scored)
        |SELECT query_id, bucket, neighbor_id, cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // recall@5 of s04's LSH candidates vs s01's exact top-5: the s01 and
    // s04 oracle pipelines composed (brute-force CTEs renamed b*), joined
    // on (query_id, neighbor_id), hits counted per query
    "s05_ann_recall" ->
      """WITH bn AS (SELECT vec_id, label, embedding,
        |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
        |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b) AS norm2 FROM embeddings),
        |bq AS (SELECT vec_id AS query_id, embedding AS query_emb,
        |  norm2 AS qnorm2 FROM bn WHERE vec_id < 5),
        |bscored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, len(c.embedding)+1), i ->
        |    CAST(c.embedding[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(c.norm2) * sqrt(q.qnorm2)) AS cosine
        | FROM bn c CROSS JOIN bq q WHERE c.vec_id <> q.query_id),
        |br AS (SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
        | FROM bscored),
        |ex AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5),
        |c1 AS (SELECT vec_id, embedding,
        |  unnest(range(0, len(embedding))) AS i FROM embeddings),
        |c2 AS (SELECT vec_id, CAST(i AS INT) AS i, embedding[i+1] AS v
        |  FROM c1),
        |planes AS (SELECT a.i, b.j,
        |  CASE WHEN (strpos('0123456789abcdef',
        |    substr(md5(a.i || ':' || b.j), 1, 1)) - 1) % 2 = 1
        |  THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(0, 4096)) AS i) a
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS j) b),
        |proj AS (SELECT c2.vec_id, p.j,
        |  SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * p.s)
        |    AS pr
        |  FROM c2 JOIN planes p ON c2.i = p.i GROUP BY 1, 2),
        |buckets AS (SELECT vec_id,
        |  string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END,
        |    '' ORDER BY j) AS bucket
        | FROM proj GROUP BY vec_id),
        |n AS (SELECT e.vec_id, b.bucket, e.embedding,
        |  list_reduce(list_transform(range(1, len(e.embedding)+1), i ->
        |    CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
        |    (a, b2) -> a + b2) AS norm2
        | FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
        |q AS (SELECT vec_id AS query_id, bucket AS query_bucket,
        |  embedding AS query_emb, norm2 AS qnorm2 FROM n WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, len(c.embedding)+1), i ->
        |    CAST(c.embedding[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(c.norm2) * sqrt(q.qnorm2)) AS cosine
        | FROM n c JOIN q ON c.bucket = q.query_bucket
        |   AND c.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
        | FROM scored),
        |ap AS (SELECT query_id, neighbor_id, 1 AS hit FROM r
        | WHERE rank <= 5)
        |SELECT e.query_id, count(a.hit) AS n_hits,
        | CAST(count(a.hit) AS DOUBLE) / 5.0 AS recall
        |FROM ex e LEFT JOIN ap a ON e.query_id = a.query_id
        |  AND e.neighbor_id = a.neighbor_id
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    // recall per LSH table count: one 8-bit bucket computation sliced
    // into two 4-bit tables (table 0 = s04's planes); config n probes
    // tables {0..n-1}, candidates dedup by (query, neighbor) via
    // min(cosine) over identical exact doubles, then rank + recall vs
    // the s01 exact top-5 (brute-force CTEs renamed b*)
    "s07_recall_multi_table" ->
      """WITH c1 AS (SELECT vec_id, embedding,
        |  unnest(range(0, len(embedding))) AS i FROM embeddings),
        |c2 AS (SELECT vec_id, CAST(i AS INT) AS i, embedding[i+1] AS v
        |  FROM c1),
        |planes AS (SELECT a.i, b.j,
        |  CASE WHEN (strpos('0123456789abcdef',
        |    substr(md5(a.i || ':' || b.j), 1, 1)) - 1) % 2 = 1
        |  THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(0, 4096)) AS i) a
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) b),
        |proj AS (SELECT c2.vec_id, p.j,
        |  SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * p.s)
        |    AS pr
        |  FROM c2 JOIN planes p ON c2.i = p.i GROUP BY 1, 2),
        |buckets AS (SELECT vec_id,
        |  string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END,
        |    '' ORDER BY j) AS bucket
        | FROM proj GROUP BY vec_id),
        |n AS (SELECT e.vec_id, b.bucket, e.embedding,
        |  list_reduce(list_transform(range(1, len(e.embedding)+1), i ->
        |    CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
        |    (a, b2) -> a + b2) AS norm2
        | FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
        |sl AS (SELECT vec_id, embedding, norm2, bucket,
        |  unnest(range(0, 2)) AS t FROM n),
        |sl2 AS (SELECT vec_id, embedding, norm2, t,
        |  substr(bucket, CAST(t * 4 + 1 AS INT), 4) AS sub FROM sl),
        |qs AS (SELECT vec_id AS query_id, t AS qt, sub AS qsub,
        |  embedding AS query_emb, norm2 AS qnorm2 FROM sl2
        |  WHERE vec_id < 5),
        |sc AS (SELECT c.t, q.query_id, c.vec_id,
        |  list_reduce(list_transform(range(1, len(c.embedding)+1), i ->
        |    CAST(c.embedding[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(c.norm2) * sqrt(q.qnorm2)) AS cosine
        | FROM sl2 c JOIN qs q ON c.t = q.qt AND c.sub = q.qsub
        |   AND c.vec_id <> q.query_id),
        |cf AS (SELECT unnest(range(1, 3)) AS n_tables),
        |cands AS (SELECT cf.n_tables, sc.query_id, sc.vec_id,
        |  min(cosine) AS cosine
        | FROM sc JOIN cf ON sc.t < cf.n_tables GROUP BY 1, 2, 3),
        |r AS (SELECT n_tables, query_id, vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY n_tables, query_id
        |    ORDER BY cosine DESC, vec_id ASC) AS rank
        | FROM cands),
        |ap AS (SELECT n_tables, query_id, neighbor_id, 1 AS hit FROM r
        | WHERE rank <= 5),
        |bn AS (SELECT vec_id, embedding,
        |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
        |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b) AS norm2 FROM embeddings),
        |bq AS (SELECT vec_id AS query_id, embedding AS query_emb,
        |  norm2 AS qnorm2 FROM bn WHERE vec_id < 5),
        |bscored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, len(c.embedding)+1), i ->
        |    CAST(c.embedding[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(c.norm2) * sqrt(q.qnorm2)) AS cosine
        | FROM bn c CROSS JOIN bq q WHERE c.vec_id <> q.query_id),
        |br AS (SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
        | FROM bscored),
        |ex AS (SELECT cf.n_tables, b.query_id, b.neighbor_id
        | FROM br b CROSS JOIN cf WHERE b.rank <= 5)
        |SELECT e.n_tables, e.query_id, count(a.hit) AS n_hits,
        | CAST(count(a.hit) AS DOUBLE) / 5.0 AS recall
        |FROM ex e LEFT JOIN ap a ON e.n_tables = a.n_tables
        |  AND e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        |GROUP BY e.n_tables, e.query_id
        |ORDER BY e.n_tables, e.query_id""".stripMargin,
    // multi-probe recall: radius 0 = s04's own-bucket candidates;
    // radius 1 adds every Hamming-1 bucket (flip bit p of the 4-bit
    // query bucket); candidate superset -> monotone recall
    "s09_recall_multiprobe" ->
      """WITH c1 AS (SELECT vec_id, embedding,
        |  unnest(range(0, len(embedding))) AS i FROM embeddings),
        |c2 AS (SELECT vec_id, CAST(i AS INT) AS i, embedding[i+1] AS v
        |  FROM c1),
        |planes AS (SELECT a.i, b.j,
        |  CASE WHEN (strpos('0123456789abcdef',
        |    substr(md5(a.i || ':' || b.j), 1, 1)) - 1) % 2 = 1
        |  THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(0, 4096)) AS i) a
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS j) b),
        |proj AS (SELECT c2.vec_id, p.j,
        |  SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * p.s)
        |    AS pr
        |  FROM c2 JOIN planes p ON c2.i = p.i GROUP BY 1, 2),
        |buckets AS (SELECT vec_id,
        |  string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END,
        |    '' ORDER BY j) AS bucket
        | FROM proj GROUP BY vec_id),
        |n AS (SELECT e.vec_id, b.bucket, e.embedding,
        |  list_reduce(list_transform(range(1, len(e.embedding)+1), i ->
        |    CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
        |    (a, b2) -> a + b2) AS norm2
        | FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
        |q AS (SELECT vec_id AS query_id, bucket AS qb,
        |  embedding AS query_emb, norm2 AS qnorm2 FROM n WHERE vec_id < 5),
        |pr2 AS (SELECT query_id, query_emb, qnorm2, p,
        |  CASE WHEN p = 0 THEN qb
        |  ELSE substr(qb, 1, CAST(p - 1 AS INT)) ||
        |    (CASE WHEN substr(qb, CAST(p AS INT), 1) = '1'
        |      THEN '0' ELSE '1' END) ||
        |    substr(qb, CAST(p + 1 AS INT)) END AS probe_key
        | FROM (SELECT *, unnest(range(0, 5)) AS p FROM q)),
        |sc AS (SELECT pr2.p, pr2.query_id, c.vec_id,
        |  list_reduce(list_transform(range(1, len(c.embedding)+1), i ->
        |    CAST(c.embedding[i] AS DOUBLE) *
        |      CAST(pr2.query_emb[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(c.norm2) * sqrt(pr2.qnorm2)) AS cosine
        | FROM n c JOIN pr2 ON c.bucket = pr2.probe_key
        |   AND c.vec_id <> pr2.query_id),
        |rd AS (SELECT unnest(range(0, 2)) AS radius),
        |cands AS (SELECT rd.radius, sc.query_id, sc.vec_id, sc.cosine
        | FROM sc JOIN rd ON sc.p = 0 OR rd.radius = 1),
        |r AS (SELECT radius, query_id, vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY radius, query_id
        |    ORDER BY cosine DESC, vec_id ASC) AS rank
        | FROM cands),
        |ap AS (SELECT radius, query_id, neighbor_id, 1 AS hit FROM r
        | WHERE rank <= 5),
        |bn AS (SELECT vec_id, embedding,
        |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
        |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b) AS norm2 FROM embeddings),
        |bq AS (SELECT vec_id AS query_id, embedding AS query_emb,
        |  norm2 AS qnorm2 FROM bn WHERE vec_id < 5),
        |bscored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, len(c.embedding)+1), i ->
        |    CAST(c.embedding[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(c.norm2) * sqrt(q.qnorm2)) AS cosine
        | FROM bn c CROSS JOIN bq q WHERE c.vec_id <> q.query_id),
        |br AS (SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
        | FROM bscored),
        |ex AS (SELECT rd.radius, b.query_id, b.neighbor_id
        | FROM br b CROSS JOIN rd WHERE b.rank <= 5)
        |SELECT e.radius, e.query_id, count(a.hit) AS n_hits,
        | CAST(count(a.hit) AS DOUBLE) / 5.0 AS recall
        |FROM ex e LEFT JOIN ap a ON e.radius = a.radius
        |  AND e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        |GROUP BY e.radius, e.query_id
        |ORDER BY e.radius, e.query_id""".stripMargin,
    "l01_marker_split" ->
      """WITH w AS (SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN text
        |  ELSE 'Title: doc ' || doc_id || chr(10) || 'Author: ' || source
        |    || chr(10)
        |    || (CASE WHEN doc_id % 3 = 0
        |        THEN '*** START OF THIS PROJECT GUTENBERG EBOOK'
        |        ELSE '*** START OF THE PROJECT GUTENBERG EBOOK' END)
        |    || ' Doc ' || doc_id || ' ***' || chr(10) || text || chr(10)
        |    || (CASE WHEN doc_id % 3 = 0
        |        THEN '*** END OF THIS PROJECT GUTENBERG EBOOK'
        |        ELSE '*** END OF THE PROJECT GUTENBERG EBOOK' END)
        |    || ' Doc ' || doc_id || ' ***' || chr(10) || 'End of transcript.'
        |  END AS text FROM documents),
        |p AS (SELECT doc_id, text,
        |  CASE
        |   WHEN strpos(text, '*** START OF THE PROJECT GUTENBERG EBOOK') > 0
        |   THEN strpos(text, '*** START OF THE PROJECT GUTENBERG EBOOK') - 1
        |     + length('*** START OF THE PROJECT GUTENBERG EBOOK')
        |   WHEN strpos(text, '*** START OF THIS PROJECT GUTENBERG EBOOK') > 0
        |   THEN strpos(text, '*** START OF THIS PROJECT GUTENBERG EBOOK') - 1
        |     + length('*** START OF THIS PROJECT GUTENBERG EBOOK')
        |   ELSE -1 END AS s,
        |  CASE
        |   WHEN strpos(text, '*** END OF THE PROJECT GUTENBERG EBOOK') > 0
        |   THEN strpos(text, '*** END OF THE PROJECT GUTENBERG EBOOK') - 1
        |   WHEN strpos(text, '*** END OF THIS PROJECT GUTENBERG EBOOK') > 0
        |   THEN strpos(text, '*** END OF THIS PROJECT GUTENBERG EBOOK') - 1
        |   ELSE -1 END AS e
        | FROM w)
        |SELECT doc_id, (s >= 0 AND e >= 0 AND e > s) AS split_ok,
        | CASE WHEN s >= 0 AND e >= 0 AND e > s
        |   THEN trim(substr(text, 1, s),
        |     ' ' || chr(9) || chr(10) || chr(13)) END AS header,
        | CASE WHEN s >= 0 AND e >= 0 AND e > s
        |   THEN trim(substr(text, s + 1, e - s),
        |     ' ' || chr(9) || chr(10) || chr(13)) END AS body
        |FROM p ORDER BY doc_id""".stripMargin,
    "l02_lake_roundtrip" ->
      """SELECT DISTINCT doc_id AS book_id, '20260115' AS date,
        | '10' AS hour
        |FROM documents ORDER BY book_id""".stripMargin,
    "l03_lake_exists" ->
      """SELECT v.book_id, d.doc_id IS NOT NULL AS available
        |FROM (VALUES (-1), (0), (1), (17), (499), (999999)) v(book_id)
        |LEFT JOIN (SELECT DISTINCT doc_id FROM documents) d
        |  ON v.book_id = d.doc_id
        |ORDER BY v.book_id""".stripMargin,
    "q30_incremental_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // FK rules use NOT EXISTS, not NOT IN: with any NULL key NOT IN
    // yields NULL (counting 0 orphans) while the Spark audit's
    // full-outer classification counts null-key groups as violations —
    // NOT EXISTS has the null-safe anti-join semantics both agree on.
    "dq01_constraint_audit" ->
      """SELECT rule, n_violations FROM (
        |  SELECT 'orders_null_key' AS rule, COUNT(*) AS n_violations
        |  FROM orders WHERE o_orderkey IS NULL OR o_custkey IS NULL
        |  UNION ALL
        |  SELECT 'orders_dup_key', COUNT(*) FROM (
        |    SELECT o_orderkey FROM orders GROUP BY o_orderkey
        |    HAVING COUNT(*) > 1)
        |  UNION ALL
        |  SELECT 'lineitem_neg_price', COUNT(*) FROM lineitem
        |  WHERE l_extendedprice < 0 OR l_quantity <= 0
        |  UNION ALL
        |  SELECT 'lineitem_discount_range', COUNT(*) FROM lineitem
        |  WHERE l_discount < 0 OR l_discount > 1
        |  UNION ALL
        |  SELECT 'lineitem_orphan_fk', COUNT(*) FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'orders_without_lineitems', COUNT(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                    WHERE l.l_orderkey = o.o_orderkey))
        |ORDER BY rule""".stripMargin,
    // per-column profile with deterministic null/blank injections; sums
    // cast to BIGINT (DuckDB SUM(int) is HUGEINT), count(DISTINCT)
    // excludes nulls in both engines, '' is a distinct value in both
    "dq03_completeness_profile" ->
      """WITH d AS (SELECT
        |  CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |    ELSE CAST(o_custkey AS VARCHAR) END AS custkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN '' ELSE o_orderstatus END
        |    AS status,
        |  o_orderpriority AS priority FROM orders),
        |a AS (SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_custkey,
        |  CAST(sum(CASE WHEN custkey = '' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS blank_custkey,
        |  CAST(count(DISTINCT custkey) AS BIGINT) AS dist_custkey,
        |  CAST(sum(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_status,
        |  CAST(sum(CASE WHEN status = '' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS blank_status,
        |  CAST(count(DISTINCT status) AS BIGINT) AS dist_status,
        |  CAST(sum(CASE WHEN priority IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS null_priority,
        |  CAST(sum(CASE WHEN priority = '' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS blank_priority,
        |  CAST(count(DISTINCT priority) AS BIGINT) AS dist_priority
        | FROM d)
        |SELECT 'custkey' AS col_name, n_rows, null_custkey AS n_null,
        |  blank_custkey AS n_blank, dist_custkey AS n_distinct FROM a
        |UNION ALL SELECT 'priority', n_rows, null_priority,
        |  blank_priority, dist_priority FROM a
        |UNION ALL SELECT 'status', n_rows, null_status, blank_status,
        |  dist_status FROM a
        |ORDER BY col_name""".stripMargin,
    // integer fixed-point stats (x100) and ceil-rank percentiles — no
    // float division anywhere, so both engines agree bitwise
    "dq02_skew_audit" ->
      """WITH a AS (
        |  SELECT 'orders' AS tbl, 'o_custkey' AS key_col, o_custkey AS k
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', 'l_orderkey', l_orderkey FROM lineitem
        |  UNION ALL
        |  SELECT 'events', 'user_id', user_id FROM events),
        |s AS (SELECT tbl, key_col, k, COUNT(*) AS gsize
        |      FROM a GROUP BY tbl, key_col, k),
        |d AS (SELECT tbl, key_col, gsize, COUNT(*) AS nk
        |      FROM s GROUP BY tbl, key_col, gsize),
        |w AS (SELECT tbl, key_col, gsize, nk,
        |  CAST(SUM(nk) OVER (PARTITION BY tbl, key_col ORDER BY gsize)
        |    AS BIGINT) AS cum,
        |  CAST(SUM(nk) OVER (PARTITION BY tbl, key_col) AS BIGINT) AS tot
        |  FROM d)
        |SELECT tbl, key_col,
        | CAST(SUM(gsize * nk) AS BIGINT) AS n_rows,
        | CAST(SUM(nk) AS BIGINT) AS n_keys,
        | MAX(gsize) AS max_group,
        | MIN(CASE WHEN cum >= (tot * 50 + 99) // 100 THEN gsize END)
        |   AS p50_group,
        | MIN(CASE WHEN cum >= (tot * 99 + 99) // 100 THEN gsize END)
        |   AS p99_group,
        | CAST((SUM(gsize * nk) * 100) // SUM(nk) AS BIGINT)
        |   AS avg_group_x100,
        | CAST((MAX(gsize) * 100 * SUM(nk)) // SUM(gsize * nk) AS BIGINT)
        |   AS skew_x100
        |FROM w GROUP BY tbl, key_col ORDER BY tbl, key_col""".stripMargin,
    "l08_compaction_plan" ->
      """WITH inv AS (SELECT strftime(o_orderdate, '%Y-%m') AS pmonth,
        |  strftime(o_orderdate, '%Y-%m-%d') AS file_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM orders GROUP BY 1, 2),
        |b AS (SELECT pmonth, file_id, n_rows,
        |  CAST(SUM(n_rows) OVER (PARTITION BY pmonth ORDER BY file_id)
        |    AS BIGINT) AS cum_rows FROM inv),
        |p AS (SELECT pmonth, file_id, n_rows,
        |  (cum_rows - n_rows) // 5000 AS bin_id FROM b)
        |SELECT pmonth, bin_id, CAST(COUNT(*) AS BIGINT) AS n_files,
        | CAST(SUM(n_rows) AS BIGINT) AS bin_rows,
        | MIN(file_id) AS first_file, MAX(file_id) AS last_file
        |FROM p GROUP BY pmonth, bin_id ORDER BY pmonth, bin_id""".stripMargin,
    "c01_doc_chunking" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |  unnest(generate_series(0, greatest(len(toks) - 1, 0), 48))
        |    AS chunk_start FROM t),
        |c AS (SELECT doc_id, chunk_start // 48 AS chunk_idx, chunk_start,
        |  toks[(chunk_start + 1):(chunk_start + 64)] AS chunk FROM s)
        |SELECT doc_id, chunk_idx, chunk_start,
        | len(chunk) AS n_chunk_tokens,
        | array_to_string(chunk, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // k-MEDIANS, not k-means: centroid update is component-wise median
    // SELECTION (no float summation → no accumulation-order drift), so
    // two full Lloyd rounds stay bitwise-comparable across engines;
    // distances reuse the s01 list_reduce dot idiom
    "k01_kmedians_assign" -> (KMediansA2 +
      "\nSELECT vec_id, cluster_id, dist2 FROM a2\nORDER BY vec_id"),
    // k08: the k01 chain at K=64 — the BRUTE mirror of the Spark
    // side's two-level pruned assignment (bitwise-equal by design)
    "k08_pruned_assign" -> (kMediansA2At(64) +
      "\nSELECT vec_id, cluster_id, dist2 FROM a2\nORDER BY vec_id"),
    // per-cluster inertia over a2: dist2 doubles are bitwise
    // cross-engine, so integer-micro quantization BEFORE the sum makes
    // the total order-free
    "k02_cluster_inertia" -> (KMediansA2 + """
        |SELECT cluster_id, n_vectors, inertia_fp,
        |  (CAST(inertia_fp AS DOUBLE) / 1000000.0)
        |    / CAST(n_vectors AS DOUBLE) AS mean_dist2
        |FROM (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(SUM(CAST(floor(dist2 * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS inertia_fp
        |  FROM a2 GROUP BY cluster_id)
        |ORDER BY cluster_id""".stripMargin),
    // k03: four K-tiers of the k01 pipeline as derived-table subqueries
    // (inner WITHs scope per subquery — the s13 nesting precedent),
    // seed predicate replaced per tier; micros-quantized totals
    "k03_elbow_curve" -> {
      val tiers = Seq(2, 4, 8, 16).map { k =>
        val inner =
          replaceAnchored(KMediansA2,
            "WHERE vec_id < 8", s"WHERE vec_id < $k") +
          s"""
            |SELECT CAST($k AS BIGINT) AS k,
            |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
            |  CAST(SUM(CAST(floor(dist2 * 1000000.0) AS BIGINT))
            |    AS BIGINT) AS inertia_fp
            |FROM a2""".stripMargin
        s"SELECT * FROM ($inner) t$k"
      }.mkString("\nUNION ALL\n")
      s"""SELECT k, n_vectors, inertia_fp,
         |  (CAST(inertia_fp AS DOUBLE) / 1000000.0)
         |    / CAST(n_vectors AS DOUBLE) AS mean_dist2
         |FROM ($tiers)
         |ORDER BY k""".stripMargin
    },
    // IVF probe over TRAINED cells: k01's exact training CTEs (v..c1),
    // final assignment keeps emb/vnorm2, queries probe their own cell,
    // exact-cosine refine + rank inside the cell (s02's probe shape
    // with the trained quantizer instead of the fixture label)
    "s08_ivf_trained_topk" ->
      (s"WITH $IvfTrainCtes,\n" +
        """q AS (SELECT vec_id AS query_id, cluster_id AS qcell,
        |  emb AS query_emb, vnorm2 AS qnorm2 FROM a2 WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, c.cluster_id AS cell,
        |  c.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, len(c.emb)+1), i ->
        |    CAST(c.emb[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(c.vnorm2) * sqrt(q.qnorm2)) AS cosine
        | FROM a2 c JOIN q ON c.cluster_id = q.qcell
        |   AND c.vec_id <> q.query_id),
        |r AS (SELECT query_id, cell, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
        | FROM scored)
        |SELECT query_id, cell, neighbor_id, cosine, rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    "s11_pq_adc_topk" -> PqAdcOracle,
    "s12_ivfpq_topk" -> IvfPqOracle,
    "s13_pq_recall" -> PqRecallOracle,
    "s14_nprobe_recall" -> NProbeRecallOracle,
    // the serving form is results-identical to s12 by construction:
    // same trained artifacts, same ADC arithmetic, only the training
    // lineage is materialized out of the query
    "s15_ivfpq_serve" -> IvfPqOracle,
    "s16_pq_nprobe_recall" -> PqNProbeRecallOracle,
    "s17_ivfpq_rerank" -> IvfPqRerankOracle,
    "s18_ivfpq_append" -> IvfPqAppendOracle,
    // s36: the s18 oracle with the s27 tombstone injected into its ADC
    // scan — frozen-base model, append encoded, deletes pruned, served
    "s36_index_lifecycle" ->
      replaceAnchored(IvfPqAppendOracle, "AND co.vec_id <> l.query_id",
        "AND co.vec_id <> l.query_id AND co.vec_id % 7 <> 0"),
    // the stored-codes form is results-identical to s12/s15 by
    // construction: same artifacts, same codes (lossless integer
    // parquet round-trip), same ADC arithmetic — only WHERE the codes
    // come from changes (precomputed cell-partitioned table vs
    // in-query encode)
    "s19_ivfpq_stored_serve" -> IvfPqOracle,
    "s20_matryoshka_rerank" -> MatryoshkaOracle,
    "s21_knn_graph" -> KnnGraphOracle,
    "s47_knn_graph_multi" -> KnnGraphMultiOracle,
    "s22_sq8_topk" -> Sq8Oracle,
    "s23_mmr_diversify" -> MmrOracle,
    "s24_range_search" -> RangeSearchOracle,
    "s26_filtered_recall" -> FilteredRecallOracle,
    // s12's oracle with deleted candidates pruned from the ADC scan —
    // the frozen model trains on the FULL corpus (that IS the contract)
    "s27_delete_serve" ->
      replaceAnchored(IvfPqOracle, "AND co.vec_id <> l.query_id",
        "AND co.vec_id <> l.query_id AND co.vec_id % 7 <> 0"),
    // majority vote over the nested s01 top-10; (votes desc, label asc)
    "s25_knn_classify" ->
      (s"""WITH nb AS (SELECT query_id, neighbor_id
         |  FROM ($BruteTopKOracle) b),
         |""".stripMargin +
       """v AS (SELECT nb.query_id, e.label,
         |  CAST(COUNT(*) AS BIGINT) AS votes
         |  FROM nb JOIN embeddings e ON nb.neighbor_id = e.vec_id
         |  GROUP BY nb.query_id, e.label),
         |p AS (SELECT query_id, label AS predicted_label,
         |  votes AS n_votes FROM (
         |  SELECT query_id, label, votes, row_number() OVER (
         |    PARTITION BY query_id ORDER BY votes DESC, label ASC) AS rn
         |  FROM v) WHERE rn = 1)
         |SELECT p.query_id, p.predicted_label, p.n_votes,
         |  e.label AS true_label,
         |  p.predicted_label = e.label AS is_correct
         |FROM p JOIN embeddings e ON p.query_id = e.vec_id
         |ORDER BY p.query_id""".stripMargin),
    "q31_lateral_topn" ->
      """SELECT n.n_name AS nation, t.c_name, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY nation, c_acctbal DESC, c_name""".stripMargin,
    // chr(769)=U+0301 combining acute, chr(776)=U+0308 diaeresis: the
    // same decomposed suffixes the Spark side injects; nfc_normalize and
    // java.text.Normalizer implement the same Unicode composition
    "t13_nfc_normalize" ->
      """WITH w AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || ' cafe' || chr(769)
        |       WHEN doc_id % 3 = 1 THEN text || ' u' || chr(776) || 'ber'
        |       ELSE text END AS raw FROM documents),
        |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM w)
        |SELECT doc_id, length(raw) AS raw_len, length(nfc) AS nfc_len,
        | length(raw) <> length(nfc) AS changed,
        | right(nfc, 8) AS nfc_tail
        |FROM n ORDER BY doc_id""".stripMargin,
    // RE2 twin of the graft_tokens code-point scanner (UnicodeTokens
    // class doc documents the class-by-class agreement): Han chars
    // single, non-Han letter runs, Nd digit runs, other non-space
    // single; \s is RE2's 5-char set in both engines
    "t14_unicode_tokens" ->
      """WITH w AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || ' Héllo, 漢字!'
        |       WHEN doc_id % 3 = 1 THEN text || ' déjà vu 2026'
        |       ELSE text || ' foo_bar42' END AS raw FROM documents),
        |t AS (SELECT doc_id, regexp_extract_all(raw,
        |  '\p{Han}|[^\P{L}\p{Han}]+|\p{Nd}+|[^\p{L}\p{Nd}\s]') AS toks
        | FROM w)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        | toks[1] AS first_token, toks[len(toks)] AS last_token,
        | md5(array_to_string(toks, ' ')) AS tok_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    // token-class composition from the SAME class definitions as
    // graft_tokens; sums cast to BIGINT (DuckDB SUM(int) is HUGEINT)
    "t15_script_profile" ->
      """WITH w AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || ' Héllo, 漢字!'
        |       WHEN doc_id % 3 = 1 THEN text || ' déjà vu 2026'
        |       ELSE text || ' foo_bar42' END AS raw FROM documents),
        |t AS (SELECT doc_id, unnest(regexp_extract_all(raw,
        |  '\p{Han}|[^\P{L}\p{Han}]+|\p{Nd}+|[^\p{L}\p{Nd}\s]')) AS tok
        | FROM w),
        |c AS (SELECT doc_id,
        |  CASE WHEN regexp_matches(tok, '^\p{Han}') THEN 'han'
        |       WHEN regexp_matches(tok, '^\p{L}') THEN 'word'
        |       WHEN regexp_matches(tok, '^\p{Nd}') THEN 'num'
        |       ELSE 'other' END AS cls FROM t)
        |SELECT doc_id, count(*) AS n_tokens,
        | CAST(sum(CASE WHEN cls = 'han' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_han,
        | CAST(sum(CASE WHEN cls = 'word' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_word,
        | CAST(sum(CASE WHEN cls = 'num' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_num,
        | CAST(sum(CASE WHEN cls = 'other' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_other
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // rational-form idf and fixed-order per-term addition: only IEEE
    // +-*/ (correctly rounded in both engines), never ln() or a
    // float SUM whose accumulation order the engine chooses
    "b01_bm25_rank" -> Bm25Oracle,
    "l04_cdc_merge" -> CdcMergeOracle,
    // the same merge, executed through the snapshot commit path — the
    // published on-disk v1 must equal the relational merge bitwise
    "l07_snapshot_merge" -> CdcMergeOracle,
    "l05_scd2_history" ->
      """SELECT user_id, event_id, value, ts AS valid_from,
        | lead(ts, 1) OVER w AS valid_to,
        | lead(ts, 1) OVER w IS NULL AS is_current
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "l06_zorder_stats" ->
      s"""WITH t AS (SELECT l_partkey % 1024 AS a, l_suppkey % 1024 AS b
         |  FROM lineitem),
         |z AS (SELECT a, b,
         |  ${graft.lake.Layout.zValueSql("a", "b", 10)} AS z FROM t)
         |SELECT z >> 14 AS zbucket, COUNT(*) AS n,
         | MIN(a) AS min_part, MAX(a) AS max_part,
         | MIN(b) AS min_supp, MAX(b) AS max_supp
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin,
    "l09_zorder3_stats" ->
      s"""WITH t AS (SELECT l_partkey % 256 AS a, l_suppkey % 256 AS b,
         |  l_orderkey % 256 AS c FROM lineitem),
         |z AS (SELECT a, b, c,
         |  ${graft.lake.Layout.zValueSqlN(Seq("a", "b", "c"), 8)} AS z
         | FROM t)
         |SELECT z >> 18 AS zbucket, COUNT(*) AS n,
         | MIN(a) AS min_part, MAX(a) AS max_part,
         | MIN(b) AS min_supp, MAX(b) AS max_supp,
         | MIN(c) AS min_ord, MAX(c) AS max_ord
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin,
    "s06_quantized_topk" ->
      """WITH qz AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS qemb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, qemb AS q_qemb FROM qz
        |  WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, len(c.qemb)+1),
        |    i -> c.qemb[i] * q.q_qemb[i]), (x, y) -> x + y) AS qdot
        | FROM qz c CROSS JOIN q WHERE c.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, qdot,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY qdot DESC, neighbor_id ASC) AS BIGINT) AS rank
        | FROM scored)
        |SELECT query_id, neighbor_id, qdot, rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "m01_media_metadata" ->
      """WITH a AS (SELECT doc_id AS asset_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)]
        |    AS media_type,
        |  octet_length(encode(text)) AS n_bytes, md5(text) AS content_md5
        | FROM documents)
        |SELECT asset_id, media_type, n_bytes, content_md5,
        | CAST(16 * strpos('0123456789abcdef', substr(content_md5, 1, 1))
        |   AS INT) AS width,
        | CAST(9 * strpos('0123456789abcdef', substr(content_md5, 2, 1))
        |   AS INT) AS height,
        | n_bytes * 40 AS duration_ms,
        | CAST(ceil(n_bytes / 256.0) AS BIGINT) AS n_frames
        |FROM a ORDER BY asset_id""".stripMargin,
    "m02_frame_sample" ->
      """WITH a AS (SELECT doc_id AS asset_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)]
        |    AS media_type,
        |  text,
        |  CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT)
        |    AS n_frames
        | FROM documents),
        |f AS (SELECT asset_id, media_type, text,
        |  unnest(range(0, n_frames)) AS frame_idx FROM a)
        |SELECT asset_id, media_type, frame_idx,
        | md5(substr(hex(encode(text)),
        |   CAST(frame_idx * 512 + 1 AS INT), 512)) AS frame_md5
        |FROM f WHERE frame_idx % 4 = 0
        |ORDER BY asset_id, frame_idx""".stripMargin,
    // pseudo-features = hex-digit values of two salted digests of the
    // payload digest (64 dims, 0..15 each) — exact in float, so the
    // integer dot score matches DuckDB's double fold bit for bit
    "m04_media_retrieval" ->
      """WITH a AS (SELECT doc_id AS asset_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)]
        |    AS media_type,
        |  md5(text) AS d FROM documents),
        |h AS (SELECT asset_id, media_type,
        |  md5(d || ':0') || md5(d || ':1') AS hx FROM a),
        |f AS (SELECT asset_id, media_type,
        |  list_transform(range(1, 65), i ->
        |    CAST(strpos('0123456789abcdef',
        |      substr(hx, CAST(i AS INT), 1)) - 1 AS DOUBLE)) AS features
        |  FROM h),
        |q AS (SELECT asset_id AS query_id, features AS qf FROM f
        |  WHERE asset_id < 5),
        |s AS (SELECT q.query_id, c.asset_id AS neighbor_id,
        |  c.media_type,
        |  CAST(list_reduce(list_transform(range(1, 65), i ->
        |    c.features[i] * q.qf[i]), (x, y) -> x + y) AS BIGINT)
        |    AS score
        |  FROM f c CROSS JOIN q WHERE c.asset_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, media_type, score,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, media_type, score, rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // payload digest = md5 of the text's UTF-8 bytes on both sides
    // (Spark hashes the binary column, DuckDB the varchar's bytes)
    "m03_media_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |a AS (SELECT doc_id AS asset_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)]
        |    AS media_type,
        |  md5(text) AS content_md5 FROM corpus)
        |SELECT min(asset_id) AS kept_asset_id, content_md5,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies,
        |  CAST(COUNT(DISTINCT media_type) AS BIGINT) AS n_claimed_types
        |FROM a GROUP BY content_md5 ORDER BY kept_asset_id""".stripMargin,
    // m05: the blockhash loop re-derived char-by-char — unicode(substr)
    // equals the payload byte for the ASCII fixture (the d19 reliance);
    // bands (identity-free striped band values excluded, buckets >256
    // postings dropped — the m06-class filter + d11-style cap,
    // mirrored), candidate join, and Hamming verify mirror the Spark
    // plan so the banded-candidate semantics are what the oracle checks
    "m05_perceptual_dedup" ->
      """WITH c1 AS (SELECT doc_id AS asset_id, text,
        |  CAST(length(text) AS BIGINT) AS n FROM documents),
        |b1 AS (SELECT asset_id, n,
        |  CAST(unicode(substr(text, CAST(i + 1 AS INT), 1)) AS BIGINT)
        |    AS v,
        |  i * 64 // n AS blk
        |  FROM c1, UNNEST(range(0, n)) AS u(i)),
        |s1 AS (SELECT asset_id, blk, SUM(v) AS bsum,
        |  CAST(COUNT(*) AS BIGINT) AS blen
        |  FROM b1 GROUP BY asset_id, blk),
        |g AS (SELECT asset_id, n, SUM(v) AS total
        |  FROM b1 GROUP BY asset_id, n),
        |bits AS (SELECT g.asset_id,
        |  string_agg(CASE WHEN COALESCE(s1.bsum, 0) * g.n >
        |      g.total * COALESCE(s1.blen, 0) THEN '1' ELSE '0' END,
        |    '' ORDER BY r.b) AS sig
        |  FROM g CROSS JOIN (SELECT unnest(range(0, 64)) AS b) r
        |  LEFT JOIN s1 ON s1.asset_id = g.asset_id AND s1.blk = r.b
        |  GROUP BY g.asset_id),
        |bands AS (SELECT * FROM (SELECT asset_id, sig, b AS band,
        |    substr(sig, CAST(b * 16 + 1 AS INT), 16) AS band_val
        |    FROM bits, UNNEST(range(0, 4)) AS u(b)) x
        |  WHERE band_val NOT IN ('0000000000000000',
        |    '1111111111111111', '0101010101010101',
        |    '1010101010101010')),
        |bcnt AS (SELECT band, band_val FROM bands
        |  GROUP BY band, band_val HAVING COUNT(*) <= 256),
        |bandsf AS (SELECT bands.* FROM bands
        |  JOIN bcnt USING (band, band_val)),
        |cand AS (SELECT DISTINCT a.asset_id AS asset_id_a,
        |    b.asset_id AS asset_id_b, a.sig AS sig_a, b.sig AS sig_b
        |  FROM bandsf a JOIN bandsf b ON a.band = b.band
        |    AND a.band_val = b.band_val AND a.asset_id < b.asset_id),
        |h AS (SELECT asset_id_a, asset_id_b,
        |  CAST(len(list_filter(range(1, 65), i ->
        |    substr(sig_a, CAST(i AS INT), 1) <>
        |    substr(sig_b, CAST(i AS INT), 1))) AS BIGINT) AS hamming
        |  FROM cand)
        |SELECT asset_id_a, asset_id_b, hamming FROM h
        |WHERE hamming <= 16 ORDER BY asset_id_a, asset_id_b""".stripMargin,
    // m06: the m05 blockhash loop applied PER SAMPLED FRAME (m02's
    // slicing: 128-byte frames, stride 2) over the video slice of a
    // tripled corpus (+3M byte-identical, +6M the reversed-opening
    // outro appended — offsets ≡ 0 mod 3 keep the id-derived type),
    // blank (all-'0') signatures excluded from the index, then
    // set-Jaccard over distinct per-video signatures with the exact
    // cross-multiplied 50% keep
    "m06_video_frame_dedup" ->
      """WITH trip AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 3000000, text FROM documents
        |  UNION ALL SELECT doc_id + 6000000,
        |    text || reverse(substr(text, 1, 128)) FROM documents),
        |vids AS (SELECT doc_id AS asset_id, text,
        |  CAST(length(text) AS BIGINT) AS n
        |  FROM trip WHERE doc_id % 3 = 2),
        |fr AS (SELECT asset_id, text, f,
        |  CASE WHEN n - f * 128 < 128 THEN n - f * 128 ELSE 128 END
        |    AS flen
        |  FROM vids, UNNEST(range(0, (n + 127) // 128)) AS u(f)
        |  WHERE f % 2 = 0),
        |b1 AS (SELECT asset_id, f, flen,
        |  CAST(unicode(substr(text, CAST(f * 128 + j + 1 AS INT), 1))
        |    AS BIGINT) AS v,
        |  j * 64 // flen AS blk
        |  FROM fr, UNNEST(range(0, flen)) AS u(j)),
        |s1 AS (SELECT asset_id, f, flen, blk, SUM(v) AS bsum,
        |  CAST(COUNT(*) AS BIGINT) AS blen
        |  FROM b1 GROUP BY asset_id, f, flen, blk),
        |g AS (SELECT asset_id, f, flen, SUM(v) AS total
        |  FROM b1 GROUP BY asset_id, f, flen),
        |bits AS (SELECT g.asset_id,
        |  string_agg(CASE WHEN COALESCE(s1.bsum, 0) * g.flen >
        |      g.total * COALESCE(s1.blen, 0) THEN '1' ELSE '0' END,
        |    '' ORDER BY r.b) AS sig
        |  FROM g CROSS JOIN (SELECT unnest(range(0, 64)) AS b) r
        |  LEFT JOIN s1 ON s1.asset_id = g.asset_id AND s1.f = g.f
        |    AND s1.blk = r.b
        |  GROUP BY g.asset_id, g.f),
        |sigs AS (SELECT DISTINCT asset_id, sig FROM bits
        |  WHERE sig LIKE '%1%'),
        |sz AS (SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_sigs
        |  FROM sigs GROUP BY asset_id),
        |cm AS (SELECT a.asset_id AS video_a, b.asset_id AS video_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM sigs a JOIN sigs b ON a.sig = b.sig
        |    AND a.asset_id < b.asset_id
        |  GROUP BY 1, 2)
        |SELECT cm.video_a, cm.video_b, cm.n_common,
        |  sa.n_sigs AS n_a, sb.n_sigs AS n_b,
        |  CAST(cm.n_common AS DOUBLE) /
        |    CAST(sa.n_sigs + sb.n_sigs - cm.n_common AS DOUBLE) AS jaccard
        |FROM cm JOIN sz sa ON sa.asset_id = cm.video_a
        |JOIN sz sb ON sb.asset_id = cm.video_b
        |WHERE cm.n_common * 100 >= (sa.n_sigs + sb.n_sigs - cm.n_common) * 50
        |ORDER BY cm.video_a, cm.video_b""".stripMargin,
    // m07: the m06 per-frame blockhash machinery UNSTRIDED over the
    // rotation corpus (+9M recut at the frame boundary mid =
    // (len div 2·fb)·fb), set candidates at the exact 50% keep, plus
    // the lead()-shingle sequence Jaccard LEFT-joined on
    "m07_sequence_dedup" ->
      """WITH trip AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 3000000, text FROM documents
        |  UNION ALL SELECT doc_id + 9000000,
        |    substr(text, CAST((length(text) // 256) * 128 + 1 AS INT))
        |      || substr(text, 1, CAST((length(text) // 256) * 128 AS INT))
        |    FROM documents),
        |vids AS (SELECT doc_id AS asset_id, text,
        |  CAST(length(text) AS BIGINT) AS n
        |  FROM trip WHERE doc_id % 3 = 2),
        |fr AS (SELECT asset_id, text, f,
        |  CASE WHEN n - f * 128 < 128 THEN n - f * 128 ELSE 128 END
        |    AS flen
        |  FROM vids, UNNEST(range(0, (n + 127) // 128)) AS u(f)),
        |b1 AS (SELECT asset_id, f, flen,
        |  CAST(unicode(substr(text, CAST(f * 128 + j + 1 AS INT), 1))
        |    AS BIGINT) AS v,
        |  j * 64 // flen AS blk
        |  FROM fr, UNNEST(range(0, flen)) AS u(j)),
        |s1 AS (SELECT asset_id, f, flen, blk, SUM(v) AS bsum,
        |  CAST(COUNT(*) AS BIGINT) AS blen
        |  FROM b1 GROUP BY asset_id, f, flen, blk),
        |g AS (SELECT asset_id, f, flen, SUM(v) AS total
        |  FROM b1 GROUP BY asset_id, f, flen),
        |bits AS (SELECT g.asset_id, g.f,
        |  string_agg(CASE WHEN COALESCE(s1.bsum, 0) * g.flen >
        |      g.total * COALESCE(s1.blen, 0) THEN '1' ELSE '0' END,
        |    '' ORDER BY r.b) AS sig
        |  FROM g CROSS JOIN (SELECT unnest(range(0, 64)) AS b) r
        |  LEFT JOIN s1 ON s1.asset_id = g.asset_id AND s1.f = g.f
        |    AND s1.blk = r.b
        |  GROUP BY g.asset_id, g.f),
        |sets AS (SELECT DISTINCT asset_id, sig FROM bits
        |  WHERE sig LIKE '%1%'),
        |sz AS (SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_sigs
        |  FROM sets GROUP BY asset_id),
        |cm AS (SELECT a.asset_id AS video_a, b.asset_id AS video_b,
        |  CAST(COUNT(*) AS BIGINT) AS set_common
        |  FROM sets a JOIN sets b ON a.sig = b.sig
        |    AND a.asset_id < b.asset_id
        |  GROUP BY 1, 2),
        |cand AS (SELECT cm.video_a, cm.video_b, cm.set_common,
        |  sa.n_sigs AS n_a, sb.n_sigs AS n_b
        |  FROM cm JOIN sz sa ON sa.asset_id = cm.video_a
        |  JOIN sz sb ON sb.asset_id = cm.video_b
        |  WHERE cm.set_common * 100 >=
        |    (sa.n_sigs + sb.n_sigs - cm.set_common) * 50),
        |sq AS (SELECT asset_id, f, sig,
        |  lead(sig) OVER (PARTITION BY asset_id ORDER BY f) AS nxt
        |  FROM bits),
        |sh AS (SELECT DISTINCT asset_id, sig || '|' || nxt AS sh FROM sq
        |  WHERE nxt IS NOT NULL
        |    AND (sig LIKE '%1%' OR nxt LIKE '%1%')),
        |shs AS (SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_sh
        |  FROM sh GROUP BY asset_id),
        |shc AS (SELECT a.asset_id AS video_a, b.asset_id AS video_b,
        |  CAST(COUNT(*) AS BIGINT) AS seq_common
        |  FROM sh a JOIN sh b ON a.sh = b.sh
        |    AND a.asset_id < b.asset_id
        |  GROUP BY 1, 2)
        |SELECT c.video_a, c.video_b, c.set_common, c.n_a, c.n_b,
        |  COALESCE(shc.seq_common, 0) AS seq_common,
        |  COALESCE(sa.n_sh, 0) AS sh_a, COALESCE(sb.n_sh, 0) AS sh_b,
        |  CAST(c.set_common AS DOUBLE) /
        |    CAST(c.n_a + c.n_b - c.set_common AS DOUBLE) AS set_jaccard,
        |  CASE WHEN COALESCE(sa.n_sh, 0) + COALESCE(sb.n_sh, 0)
        |      - COALESCE(shc.seq_common, 0) = 0 THEN 0.0
        |    ELSE CAST(COALESCE(shc.seq_common, 0) AS DOUBLE) /
        |      CAST(COALESCE(sa.n_sh, 0) + COALESCE(sb.n_sh, 0)
        |        - COALESCE(shc.seq_common, 0) AS DOUBLE) END
        |    AS seq_jaccard
        |FROM cand c
        |LEFT JOIN shc ON shc.video_a = c.video_a
        |  AND shc.video_b = c.video_b
        |LEFT JOIN shs sa ON sa.asset_id = c.video_a
        |LEFT JOIN shs sb ON sb.asset_id = c.video_b
        |ORDER BY c.video_a, c.video_b""".stripMargin,
    // m08: t12's packing law with per-modality token costs read off
    // m01's envelope laws (duration = bytes·40, frames = ceil(bytes/256))
    "m08_multimodal_packing" ->
      """WITH t AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |    AS text_tokens,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)]
        |    AS media_type
        | FROM documents),
        |m AS (SELECT *, n_bytes * 40 AS duration_ms,
        |  CAST(ceil(CAST(n_bytes AS DOUBLE) / 256.0) AS BIGINT)
        |    AS n_frames FROM t),
        |i AS (SELECT doc_id, media_type, text_tokens,
        |  CAST(CASE WHEN media_type = 'image' THEN 576
        |       WHEN media_type = 'audio' THEN duration_ms // 80
        |       ELSE n_frames * 64 END AS BIGINT) AS media_tokens,
        |  substr(h, 1, 1) AS shard, substr(h, 1, 8) AS shuffle_key
        | FROM m),
        |c AS (SELECT *, text_tokens + media_tokens AS item_tokens FROM i),
        |d AS (SELECT *, CAST(COALESCE(SUM(item_tokens) OVER (
        |    PARTITION BY shard ORDER BY shuffle_key, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS cum_before FROM c)
        |SELECT shard, CAST(cum_before // 2048 AS BIGINT) AS seq_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(COALESCE(SUM(CASE WHEN media_type = 'image' THEN 1 END),
        |    0) AS BIGINT) AS n_image,
        |  CAST(COALESCE(SUM(CASE WHEN media_type = 'audio' THEN 1 END),
        |    0) AS BIGINT) AS n_audio,
        |  CAST(COALESCE(SUM(CASE WHEN media_type = 'video' THEN 1 END),
        |    0) AS BIGINT) AS n_video,
        |  CAST(SUM(text_tokens) AS BIGINT) AS text_tokens,
        |  CAST(SUM(media_tokens) AS BIGINT) AS media_tokens,
        |  CAST(SUM(item_tokens) AS BIGINT) AS total_tokens
        |FROM d GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin,
    // the bloom pre-filter has no false negatives, so the pruned join
    // must equal this plain join bitwise — the oracle knows nothing
    // about the bloom
    "j01_bloom_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the incremental union must equal the full recompute — the
    // view-maintenance identity the Spark side exploits
    "q32_incremental_join" ->
      """SELECT c_custkey, o_orderkey, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    // identical IEEE expression tree on both sides: same input bits +
    // same ops = same bin ids and bin_lo bits (floor/least coerce to
    // BIGINT at the end in both engines)
    "dq04_price_histogram" ->
      """WITH b AS (SELECT CAST(min(o_totalprice) AS DOUBLE) AS mn,
        |  CAST(max(o_totalprice) AS DOUBLE) AS mx FROM orders),
        |c AS (SELECT CAST(least(floor((CAST(o_totalprice AS DOUBLE) - mn)
        |    / ((mx - mn) / 20)), 19) AS BIGINT) AS bin_id
        |  FROM orders CROSS JOIN b),
        |g AS (SELECT bin_id, COUNT(*) AS n_rows FROM c GROUP BY bin_id)
        |SELECT r.bin_id, mn + r.bin_id * ((mx - mn) / 20) AS bin_lo,
        |  COALESCE(g.n_rows, 0) AS n_rows
        |FROM (SELECT unnest(range(0, 20)) AS bin_id) r CROSS JOIN b
        |LEFT JOIN g ON r.bin_id = g.bin_id
        |ORDER BY r.bin_id""".stripMargin,
    // d07's transitive-closure clusters + singleton completion, keep =
    // longest member (max n_chars, tie lowest doc_id) — all-integer
    // decision, no float comparison
    "d10_canonical_keep" ->
      """WITH RECURSIVE n AS (SELECT vec_id, label, embedding,
        |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
        |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b) AS norm2 FROM embeddings),
        |p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        |  list_reduce(list_transform(range(1, len(a.embedding)+1), i ->
        |    CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(a.norm2) * sqrt(b.norm2)) AS cosine
        | FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id),
        |pairs AS (SELECT vec_id_a, vec_id_b FROM p WHERE cosine >= 0.35),
        |edges AS (SELECT vec_id_a AS u, vec_id_b AS v FROM pairs
        |  UNION SELECT vec_id_b, vec_id_a FROM pairs),
        |reach AS (
        |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |cl AS (SELECT u AS vec_id, min(v) AS cluster_id
        |  FROM reach GROUP BY u),
        |dc AS (SELECT d.doc_id, d.n_chars,
        |  COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        | FROM documents d LEFT JOIN cl c ON d.doc_id = c.vec_id),
        |best AS (SELECT cluster_id, COUNT(*) AS n_members,
        |  max(n_chars) AS max_chars FROM dc GROUP BY cluster_id),
        |keep AS (SELECT dc.cluster_id, min(dc.doc_id) AS keep_id
        |  FROM dc JOIN best USING (cluster_id)
        |  WHERE dc.n_chars = best.max_chars GROUP BY dc.cluster_id)
        |SELECT dc.doc_id, dc.cluster_id, best.n_members,
        |  dc.doc_id = keep.keep_id AS is_kept
        |FROM dc JOIN best USING (cluster_id) JOIN keep USING (cluster_id)
        |ORDER BY dc.doc_id""".stripMargin,
    // pruning-invariant: a skipped file provably holds no matching key,
    // so the manifest-driven scan equals the plain filter
    "l10_file_skipping" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey >= 1000 AND o_orderkey <= 3000
        |ORDER BY o_orderkey""".stripMargin,
    // the diff re-derives l04's change feed from the two published
    // versions: updates are %7-not-%13 (price +1.0), deletes are %13
    "l11_snapshot_diff" ->
      """SELECT o_orderkey, 'update' AS change_type,
        |  o_totalprice AS old_price, o_totalprice + 1.0 AS new_price
        |FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'delete', o_totalprice, CAST(NULL AS DOUBLE)
        |FROM orders WHERE o_orderkey % 13 = 0
        |ORDER BY o_orderkey""".stripMargin,
    // the l04 merge with an o_channel column only the updates carry:
    // evolution widens the schema, untouched base rows read null
    "l12_schema_evolution" ->
      """WITH up AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |  o_totalprice + 1.0 AS o_totalprice, 'web' AS o_channel
        |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0),
        |keep AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(NULL AS VARCHAR) AS o_channel FROM orders
        |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 13 <> 0)
        |SELECT * FROM (SELECT * FROM up UNION ALL SELECT * FROM keep)
        |ORDER BY o_orderkey""".stripMargin,
    // alpha = 1/2 via sqrt (correctly rounded -> identical bits), integer
    // quantized weights (exact order-free sum), one double division, and
    // the identical hex/lpad/lower threshold tree on both engines
    "t16_temperature_mix" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_l,
        |  CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT)
        |    AS sq_l
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(SUM(sq_l) AS BIGINT) AS tot FROM c),
        |r AS (SELECT lang,
        |  least(1.0, CAST(250 * sq_l AS DOUBLE)
        |    / CAST(tot * n_l AS DOUBLE)) AS rate
        |  FROM c CROSS JOIN t),
        |thr AS (SELECT lang, CASE WHEN rate >= 1.0 THEN 'g'
        |  ELSE lower(lpad(hex(CAST(floor(rate * 4294967296.0) AS BIGINT)),
        |    8, '0')) END AS threshold FROM r)
        |SELECT d.doc_id, d.lang FROM documents d JOIN thr USING (lang)
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |  < thr.threshold
        |ORDER BY d.doc_id""".stripMargin,
    // the bounded-aggregate group top-k must reproduce the window
    // ranking bitwise (score desc, id asc tie-break)
    "q33_group_topk" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT)
        |    AS rank
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice, rank FROM r
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,
    // strict event-time order: each step's first qualifying event must
    // be AFTER the user's previous-step time
    "w12_conversion_funnel" ->
      """WITH e1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |e2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN e1 ON e.user_id = e1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > e1.t
        |  GROUP BY e.user_id),
        |e3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN e2 ON e.user_id = e2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > e2.t
        |  GROUP BY e.user_id)
        |SELECT 'step1_view' AS stage, COUNT(*) AS n_users FROM e1
        |UNION ALL SELECT 'step2_click', COUNT(*) FROM e2
        |UNION ALL SELECT 'step3_purchase', COUNT(*) FROM e3
        |ORDER BY stage""".stripMargin,
    // surprise in WHOLE BITS: floor(log2) via binary-string length is
    // exact integer arithmetic in both engines (no libm log whose last
    // bits could differ), so the per-doc sums are order-free bigints
    "t17_unigram_surprise" ->
      UnigramSurpriseOracle,
    // t31: whole-bit log-likelihood ratio (target LM vs rest LM, add-one
    // smoothed) — integer ilog2 in both engines, order-free bigint sums
    "t31_dsir_weights" -> DsirWeightsOracle,
    // chi-squared, not KL: its float ops are all IEEE exact-rounded
    // (x, /, -), so the identical expression tree gives identical bits;
    // each term quantized to 1e-6 before an order-free bigint sum
    "t18_source_divergence" ->
      """WITH tok AS (SELECT source,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_t
        |  FROM tok GROUP BY tok),
        |s AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n_st
        |  FROM tok GROUP BY source, tok),
        |st AS (SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_s
        |  FROM s GROUP BY source),
        |t AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n FROM c),
        |g AS (SELECT st.source, st.n_s, c.tok, c.n_t
        |  FROM c CROSS JOIN st),
        |j AS (SELECT g.source, g.n_s, g.n_t, s.n_st
        |  FROM g LEFT JOIN s ON g.source = s.source AND g.tok = s.tok),
        |term AS (SELECT source, n_s,
        |  CASE WHEN n_st IS NOT NULL THEN 1 ELSE 0 END AS present,
        |  CAST(floor(
        |    (CAST(COALESCE(n_st, 0) AS DOUBLE)
        |      - CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE)
        |        / CAST(t.n AS DOUBLE))
        |    * (CAST(COALESCE(n_st, 0) AS DOUBLE)
        |      - CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE)
        |        / CAST(t.n AS DOUBLE))
        |    / (CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE)
        |        / CAST(t.n AS DOUBLE))
        |    * 1000000.0) AS BIGINT) AS term_fp
        |  FROM j CROSS JOIN t)
        |SELECT source, n_s AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  CAST(SUM(present) AS BIGINT) AS n_present,
        |  CAST(SUM(term_fp) AS DOUBLE) / 1000000.0 AS chi2
        |FROM term GROUP BY source, n_s ORDER BY source""".stripMargin,
    // rolling COUNT(DISTINCT) is not sum-decomposable; both engines
    // compute set membership over the trailing 3h explicitly
    "w13_rolling_active" ->
      """WITH p AS (SELECT DISTINCT user_id,
        |  date_trunc('hour', ts) AS hbin FROM events),
        |b AS (SELECT DISTINCT hbin FROM p)
        |SELECT b.hbin AS wend,
        |  CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS active_users
        |FROM b JOIN p
        |  ON p.hbin BETWEEN b.hbin - INTERVAL 2 HOUR AND b.hbin
        |GROUP BY b.hbin ORDER BY wend""".stripMargin,
    // moments over integer hundredths (order-free sums); mean/variance/
    // threshold are the identical scalar float tree in both engines
    // (one correctly-rounded sqrt, no libm)
    "dq05_value_outliers" ->
      """WITH b AS (SELECT event_type, value,
        |  CAST(floor(value * 100.0) AS BIGINT) AS vc FROM events),
        |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(vc) AS BIGINT) AS s1,
        |  CAST(SUM(vc * vc) AS BIGINT) AS s2
        |  FROM b GROUP BY event_type),
        |j AS (SELECT b.event_type, b.value,
        |  abs(CAST(b.vc AS DOUBLE)
        |      - CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
        |    > 2.0 * sqrt(CAST(s.s2 AS DOUBLE) / CAST(s.n AS DOUBLE)
        |      - (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
        |        * (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE)))
        |    AS is_out
        |  FROM b JOIN s USING (event_type))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  MIN(CASE WHEN is_out THEN value END) AS out_min,
        |  MAX(CASE WHEN is_out THEN value END) AS out_max
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,
    // dq17: lower medians over the quantized-value DISTRIBUTION (rank
    // (n+1)//2 via cumulative counts — the q29 trick), MAD the same on
    // exact |vc - med| longs, the Hampel flag compares pure integers
    "dq17_mad_outliers" ->
      """WITH b AS (SELECT event_type,
        |  CAST(floor(value * 100.0) AS BIGINT) AS vc FROM events),
        |c1 AS (SELECT event_type, vc AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM b GROUP BY event_type, vc),
        |cu1 AS (SELECT event_type, v, c,
        |  CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v)
        |    AS BIGINT) AS cum,
        |  CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM c1),
        |med AS (SELECT event_type, v AS med FROM cu1
        |  WHERE cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum),
        |d AS (SELECT b.event_type, b.vc, abs(b.vc - med.med) AS adc
        |  FROM b JOIN med USING (event_type)),
        |c2 AS (SELECT event_type, adc AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM d GROUP BY event_type, adc),
        |cu2 AS (SELECT event_type, v, c,
        |  CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v)
        |    AS BIGINT) AS cum,
        |  CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM c2),
        |mad AS (SELECT event_type, v AS mad FROM cu2
        |  WHERE cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum)
        |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(med.med) AS DOUBLE) / 100.0 AS median_value,
        |  CAST(MIN(mad.mad) AS DOUBLE) / 100.0 AS mad_value,
        |  CAST(SUM(CASE WHEN d.adc > 3 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  CAST(SUM(CASE WHEN d.adc > 3 * mad.mad THEN 1 ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS outlier_share
        |FROM d JOIN med USING (event_type) JOIN mad USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    // multiset semantics: duplicity is min(l,r) for INTERSECT ALL and
    // l-r clamped at 0 for EXCEPT ALL; identical rows make sort
    // stability irrelevant to the hash compare
    "q34_set_ops_all" ->
      """WITH y1995 AS (SELECT o_custkey FROM orders
        |  WHERE year(o_orderdate) = 1995),
        |     y2000 AS (SELECT o_custkey FROM orders
        |  WHERE year(o_orderdate) = 2000)
        |SELECT set_kind, custkey FROM (
        |  SELECT 'both' AS set_kind, o_custkey AS custkey
        |  FROM (SELECT o_custkey FROM y1995
        |        INTERSECT ALL SELECT o_custkey FROM y2000)
        |  UNION ALL
        |  SELECT 'only_1995', o_custkey
        |  FROM (SELECT o_custkey FROM y1995
        |        EXCEPT ALL SELECT o_custkey FROM y2000)
        |  UNION ALL
        |  SELECT 'only_2000', o_custkey
        |  FROM (SELECT o_custkey FROM y2000
        |        EXCEPT ALL SELECT o_custkey FROM y1995)
        |) ORDER BY set_kind, custkey""".stripMargin,
    // merge-on-read chain: v1 deletes keys %10==3 without rewriting v0,
    // v2 appends back the %20==3 half with a +5 price bump; the read
    // resolves marker chain -> anti-join -> union
    "l13_mor_chain" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 3
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice + 5.0
        |  AS o_totalprice FROM orders WHERE o_orderkey % 20 = 3
        |ORDER BY o_orderkey""".stripMargin,
    // per-user top-4 items by count (event_type tie-break), then the
    // capped self-join; lift = one double division of exact longs
    "g01_covisitation" ->
      """WITH pu AS (SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY user_id, event_type),
        |cap AS (SELECT user_id, event_type FROM (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY c DESC, event_type) AS rn
        |  FROM pu) WHERE rn <= 4),
        |iu AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nu
        |  FROM cap GROUP BY event_type),
        |tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u
        |  FROM cap),
        |pr AS (SELECT a.event_type AS item_a, b.event_type AS item_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM cap a JOIN cap b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type)
        |SELECT item_a, item_b, n_users, na.nu AS n_a, nb.nu AS n_b,
        |  CAST(n_users * u AS DOUBLE)
        |    / CAST(na.nu * nb.nu AS DOUBLE) AS lift
        |FROM pr CROSS JOIN tot
        |JOIN iu na ON pr.item_a = na.event_type
        |JOIN iu nb ON pr.item_b = nb.event_type
        |ORDER BY item_a, item_b""".stripMargin,
    // COUNT(DISTINCT) OVER rewritten identically on both sides: first
    // sighting within (user, type) marks 1, running sum over the
    // user's (ts, event_id) timeline is the cumulative distinct count
    "w14_cumulative_distinct" ->
      """SELECT user_id, event_id, event_type, is_first,
        |  CAST(SUM(is_first) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS distinct_types
        |FROM (SELECT user_id, event_id, ts, event_type,
        |  CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) = 1 THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS is_first FROM events)
        |ORDER BY user_id, event_id""".stripMargin,
    // per-row keep threshold = weight*2^32 div maxWeight — integer
    // products and a floor division, exact in both engines; the md5
    // sample key is the same draw as t08's
    "t19_weighted_sample" ->
      """WITH b AS (SELECT doc_id, lang, n_chars,
        |  least(n_chars, 400) AS weight,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
        |  FROM documents),
        |t AS (SELECT doc_id, lang, n_chars, weight, sample_key,
        |  CASE WHEN weight >= 400 THEN 'g'
        |    ELSE lower(lpad(hex(weight * 4294967296 // 400), 8, '0'))
        |  END AS threshold FROM b)
        |SELECT doc_id, lang, n_chars, weight FROM t
        |WHERE sample_key < threshold ORDER BY doc_id""".stripMargin,
    // rank/cumsum run over the TYPE table (|vocab| rows), not the
    // corpus; coverage is one double division of exact longs
    "t20_vocab_coverage" ->
      """WITH toks AS (SELECT unnest(string_split_regex(trim(text),
        |    '\s+')) AS tok FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM toks GROUP BY tok),
        |r AS (SELECT tok, n, CAST(row_number() OVER (
        |  ORDER BY n DESC, tok ASC) AS BIGINT) AS rk FROM c),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM c),
        |s AS (SELECT CAST(unnest([5, 10, 15, 20, 25]) AS BIGINT)
        |  AS vocab_size),
        |cov AS (SELECT vocab_size, CAST(SUM(n) AS BIGINT)
        |    AS covered_tokens
        |  FROM r JOIN s ON r.rk <= s.vocab_size GROUP BY vocab_size)
        |SELECT vocab_size, covered_tokens, total_tokens,
        |  CAST(covered_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
        |    AS coverage
        |FROM cov CROSS JOIN tot ORDER BY vocab_size""".stripMargin,
    // one exact count-distinct per rule, rolled up to counters only —
    // violations are counted, never materialized
    "dq06_fd_audit" ->
      """WITH v1 AS (SELECT user_id AS x,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS variants
        |  FROM events GROUP BY user_id),
        |v2 AS (SELECT l_partkey AS x,
        |    CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS variants
        |  FROM lineitem GROUP BY l_partkey),
        |v3 AS (SELECT o_custkey AS x,
        |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS variants
        |  FROM orders GROUP BY o_custkey),
        |u AS (
        |  SELECT 'events_user_type' AS rule,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    MAX(variants) AS max_variants FROM v1
        |  UNION ALL
        |  SELECT 'lineitem_part_supp', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    MAX(variants) FROM v2
        |  UNION ALL
        |  SELECT 'orders_cust_priority', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    MAX(variants) FROM v3)
        |SELECT rule, n_keys, n_violating, max_variants,
        |  n_violating = 0 AS holds
        |FROM u ORDER BY rule""".stripMargin,
    // g01's edge list symmetrized by union-swap, ranked per item by
    // (lift desc, support desc, neighbor) — both engines rank the same
    // bitwise-identical lift doubles
    "g02_item_neighbors" ->
      """WITH pu AS (SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY user_id, event_type),
        |cap AS (SELECT user_id, event_type FROM (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY c DESC, event_type) AS rn
        |  FROM pu) WHERE rn <= 4),
        |iu AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nu
        |  FROM cap GROUP BY event_type),
        |tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u
        |  FROM cap),
        |pr AS (SELECT a.event_type AS item_a, b.event_type AS item_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM cap a JOIN cap b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type),
        |e AS (SELECT item_a, item_b, n_users,
        |  CAST(n_users * u AS DOUBLE)
        |    / CAST(na.nu * nb.nu AS DOUBLE) AS lift
        |  FROM pr CROSS JOIN tot
        |  JOIN iu na ON pr.item_a = na.event_type
        |  JOIN iu nb ON pr.item_b = nb.event_type),
        |sym AS (SELECT item_a AS item, item_b AS neighbor, n_users, lift
        |  FROM e
        |  UNION ALL
        |  SELECT item_b, item_a, n_users, lift FROM e)
        |SELECT item, neighbor, n_users, lift, rank FROM (
        |  SELECT item, neighbor, n_users, lift,
        |    CAST(row_number() OVER (PARTITION BY item
        |      ORDER BY lift DESC, n_users DESC, neighbor) AS BIGINT)
        |      AS rank
        |  FROM sym)
        |WHERE rank <= 3 ORDER BY item, rank""".stripMargin,
    // first-order Markov model: lag per user, (src,dst) counts, one
    // double division for the row-normalized probability
    "g03_transition_matrix" ->
      """WITH s AS (SELECT user_id, event_type AS dst,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS src FROM events),
        |c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM s WHERE src IS NOT NULL GROUP BY src, dst),
        |t AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_src
        |  FROM c GROUP BY src)
        |SELECT c.src, c.dst, c.n, t.n_src,
        |  CAST(c.n AS DOUBLE) / CAST(t.n_src AS DOUBLE) AS p
        |FROM c JOIN t USING (src) ORDER BY src, dst""".stripMargin,
    // fixed-point PageRank (scale 1e9), 3 synchronous iterations
    // unrolled: every step is an exact integer product/floor-division,
    // so both engines produce identical longs — no float drift
    "g04_event_pagerank" ->
      """WITH s AS (SELECT user_id, event_type AS dst,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS src FROM events),
        |c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM s WHERE src IS NOT NULL GROUP BY src, dst),
        |n0 AS (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM c UNION ALL SELECT dst FROM c)),
        |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS w_out
        |  FROM c GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM n0),
        |c1 AS (SELECT c.dst,
        |    CAST(SUM((r0.r * c.w) // ow.w_out) AS BIGINT) AS sc
        |  FROM c JOIN ow USING (src) JOIN r0 ON r0.node = c.src
        |  GROUP BY c.dst),
        |r1 AS (SELECT n0.node, CAST(150000000
        |    + (85 * COALESCE(c1.sc, 0)) // 100 AS BIGINT) AS r
        |  FROM n0 LEFT JOIN c1 ON n0.node = c1.dst),
        |c2 AS (SELECT c.dst,
        |    CAST(SUM((r1.r * c.w) // ow.w_out) AS BIGINT) AS sc
        |  FROM c JOIN ow USING (src) JOIN r1 ON r1.node = c.src
        |  GROUP BY c.dst),
        |r2 AS (SELECT n0.node, CAST(150000000
        |    + (85 * COALESCE(c2.sc, 0)) // 100 AS BIGINT) AS r
        |  FROM n0 LEFT JOIN c2 ON n0.node = c2.dst),
        |c3 AS (SELECT c.dst,
        |    CAST(SUM((r2.r * c.w) // ow.w_out) AS BIGINT) AS sc
        |  FROM c JOIN ow USING (src) JOIN r2 ON r2.node = c.src
        |  GROUP BY c.dst),
        |r3 AS (SELECT n0.node, CAST(150000000
        |    + (85 * COALESCE(c3.sc, 0)) // 100 AS BIGINT) AS r
        |  FROM n0 LEFT JOIN c3 ON n0.node = c3.dst)
        |SELECT node, r AS rank_fp,
        |  CAST(r AS DOUBLE) / 1000000000.0 AS rank
        |FROM r3 ORDER BY rank_fp DESC, node""".stripMargin,
    // g11: fixed-point HITS (scale 2^30), 2 iterations = 4 half-steps
    // unrolled; normalization is the exact integer right-shift by
    // max(0, length(bin(max)) - 31) — no libm L2 norm in either engine
    "g11_hits" -> HitsOracle,
    // t52: octave = length(bin(f)) - 1 per term, exact integer
    // masses, cumulative share via the octave-DESC window (the Spark
    // side folds the same <= 63-row array in the same order)
    "t52_zipf_profile" ->
      """WITH tf AS (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+'))
        |    AS tok FROM documents) x
        |  WHERE tok <> '' GROUP BY tok),
        |oc AS (SELECT CAST(length(bin(f)) - 1 AS BIGINT) AS octave,
        |    CAST(COUNT(*) AS BIGINT) AS n_terms,
        |    CAST(SUM(f) AS BIGINT) AS token_mass
        |  FROM tf GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_terms) AS BIGINT) AS v_total,
        |    CAST(SUM(token_mass) AS BIGINT) AS t_total FROM oc),
        |cm AS (SELECT octave, n_terms, token_mass,
        |    CAST(SUM(token_mass) OVER (ORDER BY octave DESC)
        |      AS BIGINT) AS cum_mass FROM oc)
        |SELECT octave,
        |  (CAST(1 AS BIGINT) << CAST(octave AS INT)) AS f_lo,
        |  n_terms, token_mass,
        |  CAST(n_terms AS DOUBLE) / CAST(v_total AS DOUBLE)
        |    AS type_frac,
        |  CAST(token_mass AS DOUBLE) / CAST(t_total AS DOUBLE)
        |    AS mass_frac,
        |  CAST(cum_mass AS DOUBLE) / CAST(t_total AS DOUBLE)
        |    AS cum_mass_frac
        |FROM cm CROSS JOIN tt ORDER BY octave""".stripMargin,
    // hash-range split: thresholds at 0.8/0.9 of the 2^32 key space —
    // the same md5 draw as t08/t19, disjoint + exhaustive by
    // construction
    "t21_split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |      < 'cccccccc' THEN 'train'
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |      < 'e6666666' THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // equi-depth buckets on the value DISTRIBUTION: bucket =
    // rows_before * B div n — exact integers, tie-groups whole
    "dq07_equidepth_hist" ->
      """WITH c AS (SELECT l_returnflag, l_quantity AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY l_returnflag, l_quantity),
        |cu AS (SELECT l_returnflag, v, c,
        |  CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v)
        |    AS BIGINT) AS cum FROM c),
        |t AS (SELECT l_returnflag, CAST(MAX(cum) AS BIGINT) AS n
        |  FROM cu GROUP BY l_returnflag)
        |SELECT cu.l_returnflag, ((cum - c) * 4) // n AS bucket,
        |  CAST(SUM(c) AS BIGINT) AS n_rows,
        |  MIN(v) AS v_min, MAX(v) AS v_max
        |FROM cu JOIN t USING (l_returnflag)
        |GROUP BY cu.l_returnflag, ((cum - c) * 4) // n
        |ORDER BY l_returnflag, bucket""".stripMargin,
    // Σ_k cA(k)·cB(k) over the per-key count tables — the join's
    // exact output size without running the join
    "dq08_join_cardinality" ->
      """WITH la AS (SELECT o_orderkey AS k,
        |    CAST(COUNT(*) AS BIGINT) AS ca FROM orders GROUP BY 1),
        |ra AS (SELECT l_orderkey AS k,
        |    CAST(COUNT(*) AS BIGINT) AS cb FROM lineitem GROUP BY 1),
        |j AS (SELECT la.k, ca * cb AS rows_k FROM la JOIN ra USING (k))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
        |  CAST(SUM(rows_k) AS BIGINT) AS est_join_rows,
        |  CAST(MAX(rows_k) AS BIGINT) AS max_key_rows
        |FROM j""".stripMargin,
    // round-robin over sources: per-source shuffle rank, global
    // (rank, source) order materialized only for the LIMIT prefix
    "t22_interleave" ->
      """WITH r AS (SELECT source, doc_id,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8),
        |      doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT source, doc_id, rk FROM r
        |ORDER BY rk, source LIMIT 60""".stripMargin,
    // exactly-N sample = the N smallest shuffle keys (doc_id
    // tie-break); deterministic, rerun-stable
    "t23_exact_sample" ->
      """SELECT doc_id, lang,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
        |FROM documents
        |ORDER BY sample_key, doc_id LIMIT 100""".stripMargin,
    // e^PMI ratio c_xy*N/(c_x*c_y): two exact-rounded multiplies + one
    // division over exact longs — no libm log, identical bits
    "t24_pmi_collocations" ->
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |uni AS (SELECT unnest(toks) AS tok FROM t),
        |uc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM uni GROUP BY tok),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc),
        |pr AS (SELECT toks[i+1] AS w1, toks[i+2] AS w2 FROM (
        |  SELECT toks, unnest(range(len(toks) - 1)) AS i
        |  FROM t WHERE len(toks) >= 2)),
        |bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
        |  FROM pr GROUP BY w1, w2 HAVING COUNT(*) >= 3)
        |SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
        |  CAST(c_xy AS DOUBLE) * CAST(n.n AS DOUBLE)
        |    / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS pmi_ratio
        |FROM bc JOIN uc u1 ON bc.w1 = u1.tok
        |JOIN uc u2 ON bc.w2 = u2.tok CROSS JOIN n
        |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 20""".stripMargin,
    // α=1/2 EWMA unrolled to power-of-two weights over 8 lags: exact
    // long numerator/denominator, one double division; short histories
    // renormalize by the present weight mass
    "w15_ewma" ->
      """WITH b AS (SELECT user_id, event_id, ts,
        |  CAST(floor(value * 100.0) AS BIGINT) AS vc FROM events),
        |l AS (SELECT user_id, event_id, ts, vc,
        |  lag(vc, 1) OVER w AS l1, lag(vc, 2) OVER w AS l2,
        |  lag(vc, 3) OVER w AS l3, lag(vc, 4) OVER w AS l4,
        |  lag(vc, 5) OVER w AS l5, lag(vc, 6) OVER w AS l6,
        |  lag(vc, 7) OVER w AS l7
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, ts, vc,
        |  CAST(COALESCE(vc, 0) * 128 + COALESCE(l1, 0) * 64
        |    + COALESCE(l2, 0) * 32 + COALESCE(l3, 0) * 16
        |    + COALESCE(l4, 0) * 8 + COALESCE(l5, 0) * 4
        |    + COALESCE(l6, 0) * 2 + COALESCE(l7, 0) AS DOUBLE)
        |  / CAST(CASE WHEN vc IS NOT NULL THEN 128 ELSE 0 END
        |    + CASE WHEN l1 IS NOT NULL THEN 64 ELSE 0 END
        |    + CASE WHEN l2 IS NOT NULL THEN 32 ELSE 0 END
        |    + CASE WHEN l3 IS NOT NULL THEN 16 ELSE 0 END
        |    + CASE WHEN l4 IS NOT NULL THEN 8 ELSE 0 END
        |    + CASE WHEN l5 IS NOT NULL THEN 4 ELSE 0 END
        |    + CASE WHEN l6 IS NOT NULL THEN 2 ELSE 0 END
        |    + CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END AS DOUBLE)
        |    AS ewma_centi
        |FROM l ORDER BY user_id, event_id""".stripMargin,
    // unpivot = the pivot's inverse: the wide grid folds back to
    // (priority, status, n) long form
    "q36_unpivot" ->
      """WITH p AS (SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_p
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, 'F' AS o_orderstatus, n_f AS n FROM p
        |UNION ALL
        |SELECT o_orderpriority, 'O', n_o FROM p
        |UNION ALL
        |SELECT o_orderpriority, 'P', n_p FROM p
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,
    // vc > factor·(num/den) cross-multiplied to the exact integer test
    // vc·den_prev > factor·num_prev — zero float arithmetic
    "w16_ewma_spikes" ->
      """WITH b AS (SELECT user_id, event_id, ts,
        |  CAST(floor(value * 100.0) AS BIGINT) AS vc FROM events),
        |l AS (SELECT user_id, event_id, ts, vc,
        |  lag(vc, 1) OVER w AS l1, lag(vc, 2) OVER w AS l2,
        |  lag(vc, 3) OVER w AS l3, lag(vc, 4) OVER w AS l4,
        |  lag(vc, 5) OVER w AS l5, lag(vc, 6) OVER w AS l6,
        |  lag(vc, 7) OVER w AS l7
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |f AS (SELECT user_id, event_id, ts, vc,
        |  COALESCE(vc, 0) * 128 + COALESCE(l1, 0) * 64
        |    + COALESCE(l2, 0) * 32 + COALESCE(l3, 0) * 16
        |    + COALESCE(l4, 0) * 8 + COALESCE(l5, 0) * 4
        |    + COALESCE(l6, 0) * 2 + COALESCE(l7, 0) AS num,
        |  CASE WHEN vc IS NOT NULL THEN 128 ELSE 0 END
        |    + CASE WHEN l1 IS NOT NULL THEN 64 ELSE 0 END
        |    + CASE WHEN l2 IS NOT NULL THEN 32 ELSE 0 END
        |    + CASE WHEN l3 IS NOT NULL THEN 16 ELSE 0 END
        |    + CASE WHEN l4 IS NOT NULL THEN 8 ELSE 0 END
        |    + CASE WHEN l5 IS NOT NULL THEN 4 ELSE 0 END
        |    + CASE WHEN l6 IS NOT NULL THEN 2 ELSE 0 END
        |    + CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END AS den
        |  FROM l),
        |p AS (SELECT user_id, event_id, ts, vc,
        |  lag(num, 1) OVER w AS prev_num, lag(den, 1) OVER w AS prev_den
        |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, ts, vc,
        |  COALESCE(vc * prev_den > 2 * prev_num, FALSE) AS is_spike
        |FROM p ORDER BY user_id, event_id""".stripMargin,
    // line sums are decimal-exact; the relative difference is the same
    // two-op float tree over those exact sums in both engines
    "dq09_reconciliation" ->
      """WITH s AS (SELECT l_orderkey,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS line_total
        |  FROM lineitem GROUP BY l_orderkey),
        |b AS (SELECT CASE WHEN s.line_total IS NULL THEN 'no_lineitems'
        |  WHEN abs(CAST(o.o_totalprice AS DOUBLE)
        |      - CAST(s.line_total AS DOUBLE))
        |    / CAST(o.o_totalprice AS DOUBLE) <= 0.01 THEN 'within_1pct'
        |  WHEN abs(CAST(o.o_totalprice AS DOUBLE)
        |      - CAST(s.line_total AS DOUBLE))
        |    / CAST(o.o_totalprice AS DOUBLE) <= 0.10 THEN 'within_10pct'
        |  WHEN abs(CAST(o.o_totalprice AS DOUBLE)
        |      - CAST(s.line_total AS DOUBLE))
        |    / CAST(o.o_totalprice AS DOUBLE) <= 0.50 THEN 'within_50pct'
        |  ELSE 'beyond_50pct' END AS band
        |  FROM orders o LEFT JOIN s ON o.o_orderkey = s.l_orderkey)
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM b GROUP BY band ORDER BY band""".stripMargin,
    // p02's contamination CTEs feed the quarantine arm; the rest is
    // t21's hash-range CASE
    "t25_safe_split" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM s
        |  WHERE doc_id % 100 = 0),
        |train AS (SELECT doc_id, unnest(sh) AS shingle FROM s
        |  WHERE doc_id % 100 <> 0),
        |hits AS (SELECT t2.doc_id FROM train t2
        |  JOIN bench b ON t2.shingle = b.shingle GROUP BY t2.doc_id)
        |SELECT d.doc_id, d.lang,
        |  CASE WHEN d.doc_id % 100 = 0 THEN 'benchmark'
        |    WHEN h.doc_id IS NOT NULL THEN 'quarantine'
        |    WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < 'cccccccc' THEN 'train'
        |    WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < 'e6666666' THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // integer-exact matrix square of the transition graph: path counts
    // multiply and sum exactly; probabilities would float-drift
    "g05_two_step" ->
      """WITH st AS (SELECT user_id, event_type AS dst,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS src FROM events),
        |c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM st WHERE src IS NOT NULL GROUP BY src, dst),
        |p AS (SELECT a.src, b.dst, CAST(SUM(a.n * b.n) AS BIGINT)
        |    AS n_paths
        |  FROM c a JOIN c b ON a.dst = b.src GROUP BY a.src, b.dst),
        |t AS (SELECT src, CAST(SUM(n_paths) AS BIGINT) AS n_src
        |  FROM p GROUP BY src)
        |SELECT p.src, p.dst, p.n_paths,
        |  CAST(p.n_paths AS DOUBLE) / CAST(t.n_src AS DOUBLE) AS share
        |FROM p JOIN t USING (src) ORDER BY src, dst""".stripMargin,
    // tier 1 = s06's integer scan kept wide (rank <= 20); tier 2 =
    // exact cosine (s01's fold order) over candidates only
    "s10_rerank" ->
      """WITH qz AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS qemb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, qemb AS q_qemb FROM qz
        |  WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, len(c.qemb)+1),
        |    i -> c.qemb[i] * q.q_qemb[i]), (x, y) -> x + y) AS qdot
        | FROM qz c CROSS JOIN q WHERE c.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY qdot DESC, neighbor_id ASC) AS BIGINT) AS crank
        | FROM scored),
        |cand AS (SELECT query_id, neighbor_id FROM r WHERE crank <= 20),
        |v AS (SELECT vec_id, embedding AS emb,
        |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
        |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b) AS norm2 FROM embeddings),
        |ex AS (SELECT c.query_id, c.neighbor_id,
        |  list_reduce(list_transform(range(1, len(nv.emb)+1), i ->
        |    CAST(nv.emb[i] AS DOUBLE) * CAST(qv.emb[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(nv.norm2) * sqrt(qv.norm2))
        |    AS cosine
        |  FROM cand c JOIN v nv ON c.neighbor_id = nv.vec_id
        |  JOIN v qv ON c.query_id = qv.vec_id),
        |rr AS (SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
        |  FROM ex)
        |SELECT query_id, neighbor_id, cosine, rank FROM rr
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // exact pairs (d02's CTEs) joined to signature agreement (d03's
    // CTEs): the estimator calibration table
    "d11_minhash_eval" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |sz AS (SELECT doc_id, len(sh) AS n_sh FROM s),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS inter
        |  FROM e a JOIN e b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(x.n_sh + y.n_sh - inter AS DOUBLE)
        |    AS jaccard
        | FROM p JOIN sz x ON doc_a = x.doc_id
        | JOIN sz y ON doc_b = y.doc_id),
        |jp AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5),
        |g AS (SELECT doc_id, list_transform(range(0, 12), jj ->
        |  list_min(list_transform(sh, x ->
        |    md5(concat(CAST(jj AS VARCHAR), ':', x))))) AS sig FROM s),
        |ag AS (SELECT jp.doc_a, jp.doc_b, jp.jaccard,
        |  CAST(list_sum(list_transform(range(1, 13), i ->
        |    CASE WHEN ga.sig[i] = gb.sig[i] THEN 1 ELSE 0 END))
        |    AS BIGINT) AS n_agree
        |  FROM jp JOIN g ga ON jp.doc_a = ga.doc_id
        |  JOIN g gb ON jp.doc_b = gb.doc_id)
        |SELECT doc_a, doc_b, jaccard, n_agree,
        |  CAST(n_agree AS DOUBLE) / 12.0 AS est_jaccard
        |FROM ag ORDER BY doc_a, doc_b""".stripMargin,
    // same correlated scalar subqueries; the cross-multiplied integer
    // comparison keeps the threshold exact in both engines
    "q37_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE CAST(floor(o_totalprice * 100) AS BIGINT) * 2 *
        |  (SELECT COUNT(*) FROM orders i
        |     WHERE i.o_custkey = o.o_custkey) >
        |  3 * (SELECT CAST(SUM(CAST(floor(i.o_totalprice * 100)
        |     AS BIGINT)) AS BIGINT)
        |     FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,
    // <=> matches NULL keys; = drops them — the pair-count difference
    // IS the silent data loss a plain join hides
    "q39_nullsafe_join" ->
      """WITH a AS (SELECT CASE WHEN o_custkey % 50 = 0 THEN NULL
        |    ELSE o_custkey % 1000 END AS ka FROM orders
        |  WHERE year(o_orderdate) = 1995),
        |b AS (SELECT CASE WHEN o_custkey % 50 = 0 THEN NULL
        |    ELSE o_custkey % 1000 END AS kb FROM orders
        |  WHERE year(o_orderdate) = 2000)
        |SELECT join_kind, n_pairs FROM (
        |  SELECT 'nullsafe' AS join_kind, CAST(COUNT(*) AS BIGINT)
        |    AS n_pairs
        |  FROM a JOIN b ON a.ka IS NOT DISTINCT FROM b.kb
        |  UNION ALL
        |  SELECT 'plain', CAST(COUNT(*) AS BIGINT)
        |  FROM a JOIN b ON a.ka = b.kb)
        |ORDER BY join_kind""".stripMargin,
    // depth=3, width=256; bucket = first 2 hex chars of md5(d:tok) —
    // string labels, no hex->int engine differences; estimate >= truth
    "t26_cms_estimate" ->
      """WITH toks AS (SELECT unnest(string_split_regex(trim(text),
        |    '\s+')) AS tok FROM documents),
        |exact AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_count
        |  FROM toks GROUP BY tok),
        |occ AS (SELECT tok, unnest(range(0, 3)) AS d FROM toks),
        |grid AS (SELECT d,
        |    substr(md5(concat(CAST(d AS VARCHAR), ':', tok)), 1, 2)
        |      AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM occ GROUP BY 1, 2),
        |probes AS (SELECT tok, true_count, d,
        |    substr(md5(concat(CAST(d AS VARCHAR), ':', tok)), 1, 2)
        |      AS bucket
        |  FROM exact CROSS JOIN (SELECT unnest(range(0, 3)) AS d))
        |SELECT p.tok, p.true_count,
        |  CAST(MIN(g.c) AS BIGINT) AS cms_estimate,
        |  CAST(MIN(g.c) - p.true_count AS BIGINT) AS overestimate
        |FROM probes p JOIN grid g ON p.d = g.d AND p.bucket = g.bucket
        |GROUP BY p.tok, p.true_count
        |ORDER BY p.tok""".stripMargin,
    // rational idf (tf*N/df) — log is monotone so the ranking matches
    // the textbook form without a libm log in the compare
    "t27_tfidf_keywords" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY doc_id, tok),
        |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM tf GROUP BY tok),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |  CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)
        |    AS tfidf
        |  FROM tf JOIN df USING (tok) CROSS JOIN n),
        |r AS (SELECT doc_id, tok, tf, df, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, tok ASC) AS BIGINT) AS rk FROM s)
        |SELECT doc_id, tok, tf, df, tfidf, rk FROM r
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // gaps-and-islands: day - rank(day) is constant within a
    // consecutive run; all arithmetic is dates and integers
    "w17_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
        |    AS INTEGER) AS rn
        |  FROM d),
        |i AS (SELECT user_id, day - rn AS island,
        |    CAST(COUNT(*) AS BIGINT) AS len, MIN(day) AS start_day
        |  FROM r GROUP BY user_id, day - rn),
        |p AS (SELECT user_id, len, start_day,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY len DESC, start_day ASC) AS pick FROM i)
        |SELECT user_id,
        |  MAX(CASE WHEN pick = 1 THEN len END) AS longest_streak,
        |  MAX(CASE WHEN pick = 1 THEN start_day END) AS streak_start,
        |  CAST(COUNT(*) AS BIGINT) AS n_streaks
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    // lag = integer microsecond difference floor-divided to minutes
    "dq10_freshness" ->
      """WITH p AS (SELECT event_type, CAST(COUNT(*) AS BIGINT)
        |    AS n_events, MAX(ts) AS last_seen FROM events
        |  GROUP BY event_type),
        |g AS (SELECT MAX(last_seen) AS global_last FROM p)
        |SELECT event_type, n_events, last_seen,
        |  CAST((epoch_us(global_last) - epoch_us(last_seen)) // 60000000
        |    AS BIGINT) AS lag_minutes
        |FROM p CROSS JOIN g ORDER BY event_type""".stripMargin,
    // v0 = the base snapshot, v1 = the l04 CDC merge (keys %13==0
    // deleted) — the same feed CdcMergeOracle reconstructs
    "l14_version_history" ->
      """SELECT version, n_rows FROM (
        |  SELECT CAST(0 AS BIGINT) AS version,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |ORDER BY version""".stripMargin,
    // first digit from the DECIMAL STRING of the floored long —
    // integer-to-string is engine-stable, no log10/float formatting
    "dq11_digit_profile" ->
      """WITH c AS (SELECT substr(CAST(CAST(floor(o_totalprice)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
        |SELECT digit, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
        |  AS share
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin,
    // weekday Monday=0 in both engines: Spark weekday(), DuckDB
    // isodow-1 — dow numbering is a classic cross-engine mismatch
    "w18_time_of_week" ->
      """SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow,
        |  CAST(hour(ts) AS BIGINT) AS hod,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin,
    // per-bucket missing = occupied span − observed keys: exact BIGINT
    // arithmetic, // is DuckDB's integer division (Spark: div)
    "dq12_sequence_gaps" ->
      """WITH k AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |b AS (SELECT k // 1000 AS bucket, CAST(COUNT(*) AS BIGINT)
        |    AS n_keys, MIN(k) AS key_min, MAX(k) AS key_max
        |  FROM k GROUP BY 1)
        |SELECT bucket, n_keys, key_min, key_max,
        |  key_max - key_min + 1 - n_keys AS missing_in_span
        |FROM b ORDER BY bucket""".stripMargin,
    // symbol counting via nested literal replace (no regex dialects);
    // integer cross-multiply threshold, boolean label in both engines
    "t28_code_detect" ->
      CodeDetectOracle,
    // inner join on day-1 drops the first day: every row exact non-null
    // BIGINT arithmetic; drift flag is an integer cross-multiply
    "dq13_partition_drift" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY 1)
        |SELECT c.day, c.n_events, p.n_events AS prev_n,
        |  c.n_events - p.n_events AS delta,
        |  abs(c.n_events - p.n_events) * 10 > p.n_events AS drift_flag
        |FROM d c JOIN d p ON p.day = c.day - 1
        |ORDER BY c.day""".stripMargin,
    // interval-overlap concurrency: +1/-1 endpoint deltas, prefix sum
    // over days — the oracle uses the window form the Spark side
    // deliberately avoids (sorted-array fold, no global window funnel)
    "w19_open_shipments" ->
      """WITH d AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day, CAST(1 AS BIGINT)
        |    AS delta FROM lineitem
        |  UNION ALL
        |  SELECT CAST(l_shipdate AS DATE)
        |      + CAST(l_orderkey % 30 + 1 AS INTEGER),
        |    CAST(-1 AS BIGINT) FROM lineitem),
        |g AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS delta
        |  FROM d GROUP BY 1)
        |SELECT day, CAST(SUM(delta) OVER (ORDER BY day) AS BIGINT)
        |  AS open_shipments
        |FROM g ORDER BY day""".stripMargin,
    // direct (non-rolling) Rabin–Karp per window, mod 2^31-1: the
    // oracle recomputes each window hash from the DEFINITION, so a
    // match also proves the engine's rolling recurrence correct;
    // list_prepend(0) supplies the fold's init (DuckDB list_reduce
    // seeds from the first element)
    "t30_rolling_fingerprints" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |h AS (SELECT doc_id, list_transform(toks, s ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(s)+1),
        |        i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 2147483647)) AS th FROM t),
        |w AS (SELECT doc_id, CASE WHEN len(th) >= 5 THEN
        |      list_transform(range(0, len(th)-4), i ->
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), th[i+1:i+5]),
        |          (a, b) -> (a * 257 + b) % 2147483647))
        |    ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), th),
        |          (a, b) -> (a * 257 + b) % 2147483647)] END AS wh
        |  FROM h)
        |SELECT doc_id, CAST(len(wh) AS BIGINT) AS n_windows,
        |  list_min(wh) AS min_hash, wh[1] AS first_hash
        |FROM w ORDER BY doc_id""".stripMargin,
    // boilerplate share = fraction of a doc's distinct shingles with
    // corpus df >= 2; d02's shingle recipe, no self-join
    "t29_novelty_profile" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |d AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM e GROUP BY 1),
        |m AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared
        | FROM e JOIN d USING (shingle) GROUP BY e.doc_id)
        |SELECT doc_id, n_shingles, n_shared,
        |  CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE)
        |    AS boilerplate_share
        |FROM m ORDER BY doc_id""".stripMargin,
    // top bigram ties toward the lexicographically smallest (count
    // desc, gram asc — row_number mirrors the Spark min_by struct
    // order); dup fractions are exact-long ratios divided once in
    // double, no libm
    "t32_repetition_profile" ->
      RepetitionProfileOracle,
    // total-variation drift: exact-integer cross-multiplied numerator,
    // one double division 2.0*t*(n-t) with the same associativity as
    // the Spark side
    "dq14_distribution_drift" ->
      """WITH b AS (SELECT source, n_chars // 100 AS bucket
        |  FROM documents),
        |sb AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM b GROUP BY source, bucket),
        |tb AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS ct
        |  FROM sb GROUP BY bucket),
        |ts AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t
        |  FROM sb GROUP BY source),
        |n AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM tb),
        |grid AS (SELECT s.source, tb.bucket, tb.ct
        |  FROM (SELECT DISTINCT source FROM sb) s CROSS JOIN tb),
        |j AS (SELECT g.source, g.bucket, COALESCE(sb.c, 0) AS c_s,
        |    g.ct - COALESCE(sb.c, 0) AS c_r
        |  FROM grid g LEFT JOIN sb
        |    ON g.source = sb.source AND g.bucket = sb.bucket)
        |SELECT j.source, ts.t AS n_docs, n.n - ts.t AS n_rest,
        |  CAST(SUM(ABS(c_s * (n.n - ts.t) - c_r * ts.t)) AS BIGINT)
        |    AS tv_num,
        |  CAST(SUM(ABS(c_s * (n.n - ts.t) - c_r * ts.t)) AS DOUBLE)
        |    / (2.0 * ts.t * (n.n - ts.t)) AS tv
        |FROM j JOIN ts ON j.source = ts.source CROSS JOIN n
        |GROUP BY j.source, ts.t, n.n ORDER BY j.source""".stripMargin,
    "g06_knn_triangles" -> KnnTriangleOracle,
    // g09: the g06 symmetrized edge set + a2's cell assignment; every
    // term an exact BIGINT (q_num = 4*m*e_c - deg_c^2), the overall Q
    // summed over the per-cell LONGS, single double divisions at the end
    "g09_cell_modularity" ->
      (s"WITH $KnnGraphCtes,\n" +
        """knn AS (SELECT vec_id, neighbor_id FROM r WHERE rank <= 5),
          |und AS (SELECT DISTINCT LEAST(vec_id, neighbor_id) AS ea,
          |  GREATEST(vec_id, neighbor_id) AS eb FROM knn),
          |ec AS (SELECT u.ea, u.eb, ca.cluster_id AS cell_a,
          |    cb.cluster_id AS cell_b
          |  FROM und u JOIN a2 ca ON u.ea = ca.vec_id
          |  JOIN a2 cb ON u.eb = cb.vec_id),
          |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM und),
          |dg AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS deg_sum FROM (
          |  SELECT cell_a AS cell FROM ec
          |  UNION ALL SELECT cell_b AS cell FROM ec) GROUP BY cell),
          |ia AS (SELECT cell_a AS cell, CAST(COUNT(*) AS BIGINT)
          |    AS e_intra
          |  FROM ec WHERE cell_a = cell_b GROUP BY cell_a),
          |nn AS (SELECT cluster_id AS cell, CAST(COUNT(*) AS BIGINT)
          |    AS n_nodes FROM a2 GROUP BY cluster_id),
          |qn AS (SELECT nn.cell, nn.n_nodes,
          |  COALESCE(ia.e_intra, 0) AS e_intra,
          |  COALESCE(dg.deg_sum, 0) AS deg_sum,
          |  COALESCE(ia.e_intra, 0) * 4 * t.m_edges -
          |    COALESCE(dg.deg_sum, 0) * COALESCE(dg.deg_sum, 0) AS q_num,
          |  t.m_edges AS m_edges
          |  FROM nn LEFT JOIN dg ON nn.cell = dg.cell
          |  LEFT JOIN ia ON nn.cell = ia.cell CROSS JOIN tot t),
          |qt AS (SELECT CAST(SUM(q_num) AS BIGINT) AS q_total FROM qn)
          |SELECT cell, n_nodes, e_intra, deg_sum,
          |  CAST(q_num AS BIGINT) AS q_num,
          |  CAST(q_num AS DOUBLE) / (4.0 * CAST(m_edges AS DOUBLE) *
          |    CAST(m_edges AS DOUBLE)) AS q_term,
          |  CAST(q_total AS DOUBLE) / (4.0 * CAST(m_edges AS DOUBLE) *
          |    CAST(m_edges AS DOUBLE)) AS modularity
          |FROM qn CROSS JOIN qt ORDER BY cell""".stripMargin),
    // bigram LM with add-one smoothing; whole-bit surprises via bin()
    // length (exact in both engines), one final double division
    "t33_bigram_surprise" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
        |bg AS (SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 1)) AS i
        |    FROM b)),
        |lm AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM bg GROUP BY w1, w2),
        |cx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cu
        |  FROM bg GROUP BY w1),
        |vb AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+'))
        |    AS tok FROM documents)),
        |s AS (SELECT g.doc_id,
        |  CAST(length(bin(c.cu + vb.v)) - 1 AS BIGINT)
        |    - CAST(length(bin(l.cb + 1)) - 1 AS BIGINT) AS bits
        |  FROM bg g JOIN lm l ON g.w1 = l.w1 AND g.w2 = l.w2
        |  JOIN cx c ON g.w1 = c.w1 CROSS JOIN vb)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
        |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mean_bits,
        |  CAST(MAX(bits) AS BIGINT) AS max_bits
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // d04's signature/band CTE chain, split train/bench on the p02
    // predicate, bipartite band-collision join
    "p05_fuzzy_decontam" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |g AS (SELECT doc_id, list_transform(range(0, 12), j ->
        |  list_min(list_transform(sh, x ->
        |    md5(concat(CAST(j AS VARCHAR), ':', x))))) AS sig FROM s),
        |b AS (SELECT doc_id, list_transform(range(0, 4), k ->
        |  md5(array_to_string(sig[k*3+1:k*3+3], '|'))) AS bands FROM g),
        |e AS (SELECT doc_id, k AS band, bands[k+1] AS digest
        |      FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS k) u),
        |bench AS (SELECT doc_id AS bench_id, band, digest FROM e
        |  WHERE doc_id % 10 = 0),
        |train AS (SELECT doc_id, band, digest FROM e
        |  WHERE doc_id % 10 <> 0)
        |SELECT tr.doc_id,
        |  CAST(COUNT(DISTINCT be.bench_id) AS BIGINT) AS n_bench_matches,
        |  CAST(COUNT(*) AS BIGINT) AS n_band_hits,
        |  MIN(be.bench_id) AS first_bench_id
        |FROM train tr JOIN bench be
        |  ON tr.band = be.band AND tr.digest = be.digest
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    // per-vector flags in one scan; modal width via (count desc, dim)
    // LIMIT 1; zero-norm is the exact dot fold compared to 0.0
    "dq15_embedding_audit" ->
      """WITH f AS (SELECT vec_id, embedding IS NULL AS is_null,
        |  len(embedding) AS dim,
        |  CASE WHEN embedding IS NULL THEN FALSE ELSE
        |    len(list_filter(embedding, x -> isnan(x))) > 0 END AS has_nan,
        |  CASE WHEN embedding IS NULL THEN FALSE ELSE
        |    len(list_filter(embedding, x -> isinf(x))) > 0 END AS has_inf,
        |  CASE WHEN embedding IS NULL THEN FALSE ELSE
        |    list_reduce(list_transform(range(1, len(embedding)+1), i ->
        |      CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (a, b) -> a + b) = 0.0 END AS zero_norm
        |  FROM embeddings),
        |m AS (SELECT CAST(dim AS BIGINT) AS modal_dim FROM (
        |  SELECT dim, COUNT(*) AS c FROM f WHERE NOT is_null
        |  GROUP BY dim) ORDER BY c DESC, dim ASC LIMIT 1)
        |SELECT rule, n FROM (
        |  SELECT 'dup_vec_id' AS rule,
        |    CAST(COUNT(*) - COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM f
        |  UNION ALL SELECT 'inf_component',
        |    CAST(COUNT(*) FILTER (has_inf) AS BIGINT) FROM f
        |  UNION ALL SELECT 'modal_dim',
        |    CAST(MIN(modal_dim) AS BIGINT) FROM m
        |  UNION ALL SELECT 'n_vectors', CAST(COUNT(*) AS BIGINT) FROM f
        |  UNION ALL SELECT 'nan_component',
        |    CAST(COUNT(*) FILTER (has_nan) AS BIGINT) FROM f
        |  UNION ALL SELECT 'null_embedding',
        |    CAST(COUNT(*) FILTER (is_null) AS BIGINT) FROM f
        |  UNION ALL SELECT 'wrong_dim', CAST(COUNT(*) AS BIGINT)
        |    FROM f CROSS JOIN m
        |    WHERE NOT is_null AND CAST(dim AS BIGINT) <> modal_dim
        |  UNION ALL SELECT 'zero_norm',
        |    CAST(COUNT(*) FILTER (zero_norm) AS BIGINT) FROM f)
        |ORDER BY rule""".stripMargin,
    // t30's token/window fingerprint CTEs verbatim, distinct postings,
    // the 1000-cap mirrored, a<b pair counts + TRUE pre-cap sizes
    "d16_substring_dups" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |h AS (SELECT doc_id, list_transform(toks, s ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(s)+1),
        |        i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 2147483647)) AS th FROM t),
        |w AS (SELECT doc_id, CASE WHEN len(th) >= 5 THEN
        |      list_transform(range(0, len(th)-4), i ->
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), th[i+1:i+5]),
        |          (a, b) -> (a * 257 + b) % 2147483647))
        |    ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), th),
        |          (a, b) -> (a * 257 + b) % 2147483647)] END AS wh
        |  FROM h),
        |e AS (SELECT DISTINCT doc_id, unnest(wh) AS wh FROM w),
        |hot AS (SELECT wh FROM (SELECT wh, COUNT(*) AS df FROM e
        |  GROUP BY wh) WHERE df > 1000),
        |p AS (SELECT doc_id, wh FROM e
        |  WHERE wh NOT IN (SELECT wh FROM hot)),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nw
        |  FROM e GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM p a JOIN p b ON a.wh = b.wh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT pr.doc_a, pr.doc_b, pr.n_shared,
        |  sa.nw AS n_a, sb.nw AS n_b,
        |  CAST(pr.n_shared AS DOUBLE)
        |    / CAST(LEAST(sa.nw, sb.nw) AS DOUBLE) AS containment
        |FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id
        |JOIN sz sb ON pr.doc_b = sb.doc_id
        |ORDER BY pr.doc_a, pr.doc_b""".stripMargin,
    // open/close via (ts, event_id)-ordered row_number — the window
    // mirror of min_by/max_by selection; values are picked, not summed
    "w20_ohlc_bars" ->
      """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |  ts, event_id, value FROM events),
        |o AS (SELECT event_type, hour, value AS open FROM (
        |  SELECT event_type, hour, value, row_number() OVER (
        |    PARTITION BY event_type, hour ORDER BY ts, event_id) AS rn
        |  FROM e) WHERE rn = 1),
        |c AS (SELECT event_type, hour, value AS close FROM (
        |  SELECT event_type, hour, value, row_number() OVER (
        |    PARTITION BY event_type, hour
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM e) WHERE rn = 1),
        |g AS (SELECT event_type, hour, MAX(value) AS high,
        |  MIN(value) AS low, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY event_type, hour)
        |SELECT g.event_type, g.hour, o.open, g.high, g.low, c.close,
        |  g.n_events
        |FROM g JOIN o ON g.event_type = o.event_type AND g.hour = o.hour
        |JOIN c ON g.event_type = c.event_type AND g.hour = c.hour
        |ORDER BY g.event_type, g.hour""".stripMargin,
    "t34_stratified_exact_n" ->
      """WITH k AS (SELECT lang, doc_id,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
        |  FROM documents),
        |r AS (SELECT lang, doc_id, sample_key,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY sample_key, doc_id) AS BIGINT) AS rank FROM k)
        |SELECT lang, doc_id, sample_key, rank FROM r
        |WHERE rank <= 20 ORDER BY lang, rank""".stripMargin,
    // t25's safe-split CTEs restricted to the test slice, then t34's
    // per-lang exact-N suffix over the survivors
    "p06_eval_set" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM s
        |  WHERE doc_id % 100 = 0),
        |train AS (SELECT doc_id, unnest(sh) AS shingle FROM s
        |  WHERE doc_id % 100 <> 0),
        |hits AS (SELECT t2.doc_id FROM train t2
        |  JOIN bench b ON t2.shingle = b.shingle GROUP BY t2.doc_id),
        |sp AS (SELECT d.doc_id, d.lang,
        |  CASE WHEN d.doc_id % 100 = 0 THEN 'benchmark'
        |    WHEN h.doc_id IS NOT NULL THEN 'quarantine'
        |    WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < 'cccccccc' THEN 'train'
        |    WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < 'e6666666' THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id),
        |k AS (SELECT lang, doc_id,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
        |  FROM sp WHERE split = 'test'),
        |r AS (SELECT lang, doc_id, sample_key,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY sample_key, doc_id) AS BIGINT) AS rank FROM k)
        |SELECT lang, doc_id, sample_key, rank FROM r
        |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,
    // each signal's full oracle nested as a derived-table subquery
    // (inner WITHs scope per subquery — the s13 precedent); t32 LEFT
    // (its <4-token exclusion is the honest NULL); t28's code-ified
    // +1000000 ids drop at the base join
    // NOTE: assembled by concatenation, NOT an outer stripMargin — the
    // embedded oracles contain `||` concats a margin strip would mangle
    "p07_quality_features" ->
      ("WITH b AS (SELECT doc_id, lang, source FROM documents),\n" +
       s"q AS (SELECT doc_id, quality FROM ($QualityScoreOracle) xq),\n" +
       s"u AS (SELECT doc_id, mean_bits FROM ($UnigramSurpriseOracle) xu),\n" +
       s"rp AS (SELECT doc_id, dup2_frac FROM ($RepetitionProfileOracle) xr),\n" +
       s"cd AS (SELECT doc_id, is_code FROM ($CodeDetectOracle) xc)\n" +
       "SELECT b.doc_id, b.lang, b.source, q.quality, u.mean_bits,\n" +
       "  rp.dup2_frac, cd.is_code\n" +
       "FROM b JOIN q ON b.doc_id = q.doc_id\n" +
       "JOIN u ON b.doc_id = u.doc_id\n" +
       "LEFT JOIN rp ON b.doc_id = rp.doc_id\n" +
       "JOIN cd ON b.doc_id = cd.doc_id\n" +
       "ORDER BY b.doc_id"),
    // the SAME recursive SQL text the Spark side runs, over `events`
    "q40_recursive_paths" -> RecursivePathsSql("events"),
    "dq16_label_balance" ->
      """WITH c AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors
        |  FROM embeddings GROUP BY label),
        |t AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS total,
        |  CAST(COUNT(*) AS BIGINT) AS n_labels FROM c)
        |SELECT c.label, c.n_vectors,
        |  CAST(c.n_vectors AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
        |  c.n_vectors * t.n_labels > t.total * 2 AS over_represented
        |FROM c CROSS JOIN t ORDER BY c.label""".stripMargin,
    // t35: every metric is a long/long ratio divided once in double,
    // so the rule booleans compare bitwise across engines
    "t35_gopher_rules" -> GopherRulesOracle,
    // t36: kept lines reassemble in line_no order on both engines;
    // zero-kept docs coalesce to '' so the md5 stays comparable
    "t36_c4_line_filter" -> C4LineFilterOracle,
    // t37: the two-level distributed rank must equal this row_number
    // over (mean_bits, doc_id); terciles are integer cross-multiplies
    "t37_ccnet_buckets" -> CcnetBucketsOracle,
    // t38: vocabulary-weighted adjacent char pairs — substr(w,i,2)
    // IS the pair at char-level symbols; total order (count, pair)
    "t38_bpe_pairs" ->
      """WITH wf AS (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS wf
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+'))
        |    AS tok FROM documents) x GROUP BY tok),
        |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, wf FROM wf,
        |  UNNEST(range(1, length(w))) AS t(i) WHERE length(w) >= 2),
        |c AS (SELECT pair, CAST(SUM(wf) AS BIGINT) AS pair_count
        |  FROM p GROUP BY pair)
        |SELECT pair, pair_count FROM c
        |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin,
    // s28: s01's exact-cosine chain with the query label carried and
    // the rank window keyed (query, role)
    "s28_hard_negatives" ->
      """WITH n AS (SELECT vec_id, label, embedding,
        |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
        |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b) AS norm2 FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS query_label,
        |  embedding AS query_emb, norm2 AS qnorm2 FROM n
        |  WHERE vec_id < 5),
        |scored AS (SELECT q.query_id,
        |  CASE WHEN c.label = q.query_label THEN 'positive'
        |       ELSE 'hard_negative' END AS role,
        |  c.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, len(c.embedding)+1), i ->
        |    CAST(c.embedding[i] AS DOUBLE) * CAST(q.query_emb[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (sqrt(c.norm2) * sqrt(q.qnorm2)) AS cosine
        |  FROM n c CROSS JOIN q WHERE c.vec_id <> q.query_id),
        |r AS (SELECT query_id, role, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id, role
        |    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT query_id, role, neighbor_id, cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, role, rank""".stripMargin,
    // s29: integer-micro class sums; the only float op is the final
    // per-class mean, argmax/margin on those doubles with label ties
    "s29_centroid_classify" ->
      """WITH ex AS (SELECT vec_id, label, i - 1 AS pos,
        |  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
        |    AS micro
        |  FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)),
        |sums AS (SELECT label, pos, CAST(SUM(micro) AS BIGINT) AS s_micro
        |  FROM ex GROUP BY label, pos),
        |cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM embeddings GROUP BY label),
        |qs AS (SELECT vec_id AS query_id, label AS true_label, pos,
        |  micro FROM ex WHERE vec_id < 5),
        |dots AS (SELECT q.query_id, q.true_label, s.label,
        |  CAST(SUM(q.micro * s.s_micro) AS BIGINT) AS dot_sum
        |  FROM qs q JOIN sums s ON q.pos = s.pos
        |  GROUP BY q.query_id, q.true_label, s.label),
        |sc AS (SELECT d.query_id, d.true_label, d.label,
        |  CAST(d.dot_sum AS DOUBLE) / CAST(c.n AS DOUBLE) AS score
        |  FROM dots d JOIN cnt c ON d.label = c.label),
        |rk AS (SELECT query_id, true_label, label, score,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, label ASC) AS rn FROM sc)
        |SELECT a.query_id, a.true_label, a.label AS predicted_label,
        |  a.score AS best_score, a.score - b.score AS margin,
        |  (a.label = a.true_label) AS is_correct
        |FROM rk a LEFT JOIN rk b ON a.query_id = b.query_id AND b.rn = 2
        |WHERE a.rn = 1 ORDER BY a.query_id""".stripMargin,
    // g07: inverted index on the shared out-neighbor over s21's edges;
    // jaccard is one double division of exact longs
    "g07_shared_neighbors" ->
      (s"WITH $KnnGraphCtes,\n" +
        """knn AS (SELECT vec_id, neighbor_id FROM r WHERE rank <= 5),
          |pr AS (SELECT x.vec_id AS a, y.vec_id AS b,
          |  CAST(COUNT(*) AS BIGINT) AS n_shared
          |  FROM knn x JOIN knn y ON x.neighbor_id = y.neighbor_id
          |    AND x.vec_id < y.vec_id
          |  GROUP BY x.vec_id, y.vec_id),
          |deg AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS deg
          |  FROM knn GROUP BY vec_id)
          |SELECT pr.a, pr.b, pr.n_shared, da.deg AS deg_a,
          |  db.deg AS deg_b,
          |  CAST(pr.n_shared AS DOUBLE) /
          |    CAST(da.deg + db.deg - pr.n_shared AS DOUBLE) AS jaccard
          |FROM pr JOIN deg da ON pr.a = da.vec_id
          |JOIN deg db ON pr.b = db.vec_id
          |WHERE pr.n_shared >= 2 ORDER BY pr.a, pr.b""".stripMargin),
    // p08: the three gate oracles nested as subqueries (the p07
    // precedent); verdict CASE order = gate order, first failure wins.
    // Assembled by concatenation — the embedded oracles contain `||`.
    "p08_curated_corpus" ->
      (s"WITH g AS (SELECT doc_id, keep AS gopher_keep FROM (\n" +
        s"$GopherRulesOracle) xg),\n" +
        s"c AS (SELECT doc_id, n_kept, n_clean_chars FROM (\n" +
        s"$C4LineFilterOracle) xc),\n" +
        s"b AS (SELECT doc_id, ppl_bucket FROM (\n" +
        s"$CcnetBucketsOracle) xb)\n" +
        "SELECT d.doc_id, d.lang, d.source, g.gopher_keep, c.n_kept,\n" +
        "  c.n_clean_chars, b.ppl_bucket,\n" +
        "  CASE WHEN NOT g.gopher_keep THEN 'drop_gopher'\n" +
        "       WHEN c.n_kept = 0 THEN 'drop_empty'\n" +
        "       WHEN b.ppl_bucket = 'tail' THEN 'drop_ppl'\n" +
        "       ELSE 'keep' END AS verdict\n" +
        "FROM documents d JOIN g ON d.doc_id = g.doc_id\n" +
        "JOIN c ON d.doc_id = c.doc_id\n" +
        "JOIN b ON d.doc_id = b.doc_id\n" +
        "ORDER BY d.doc_id"),
    "s30_ivfpq_residual" -> IvfPqResidualOracle,
    "s31_residual_recall" -> ResidualRecallOracle,
    // d17: df-ascending rank, prefix postings, length filter, then
    // candidate-restricted exact verification — d02's shingle CTEs
    "d17_ppjoin_pairs" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM s),
        |df AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM e GROUP BY shingle),
        |rk AS (SELECT e.doc_id, e.shingle,
        |  CAST(row_number() OVER (PARTITION BY e.doc_id
        |    ORDER BY df.df, e.shingle) AS BIGINT) AS rk
        |  FROM e JOIN df ON e.shingle = df.shingle),
        |pref AS (SELECT rk.doc_id, rk.shingle
        |  FROM rk JOIN sz ON rk.doc_id = sz.doc_id
        |  WHERE rk.rk <= sz.n_sh
        |    - CAST(CEIL(0.5 * sz.n_sh) AS BIGINT) + 1),
        |cand AS (SELECT doc_a, doc_b FROM (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pref a JOIN pref b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id) c
        |  JOIN sz x ON c.doc_a = x.doc_id
        |  JOIN sz y ON c.doc_b = y.doc_id
        |  WHERE 0.5 * x.n_sh <= y.n_sh AND 0.5 * y.n_sh <= x.n_sh),
        |itc AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM cand c
        |  JOIN e ea ON c.doc_a = ea.doc_id
        |  JOIN e eb ON c.doc_b = eb.doc_id AND ea.shingle = eb.shingle
        |  GROUP BY c.doc_a, c.doc_b),
        |j AS (SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(x.n_sh + y.n_sh - inter AS DOUBLE)
        |    AS jaccard
        |  FROM itc JOIN sz x ON doc_a = x.doc_id
        |  JOIN sz y ON doc_b = y.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // w21: DATE-DATE is integer days in DuckDB; datediff div 7 on the
    // Spark side — same exact-long age, one double division
    "w21_retention_cohorts" ->
      """WITH fe AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY user_id),
        |ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |m AS (SELECT f.cohort_day,
        |  CAST((ud.day - f.cohort_day) // 7 AS BIGINT) AS age_weeks,
        |  CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS active_users
        |  FROM ud JOIN fe f ON ud.user_id = f.user_id
        |  GROUP BY 1, 2),
        |cs AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |  FROM fe GROUP BY cohort_day)
        |SELECT m.cohort_day, m.age_weeks, m.active_users, cs.cohort_size,
        |  CAST(m.active_users AS DOUBLE) / CAST(cs.cohort_size AS DOUBLE)
        |    AS retention
        |FROM m JOIN cs ON m.cohort_day = cs.cohort_day
        |ORDER BY m.cohort_day, m.age_weeks""".stripMargin,
    "g08_graph_walks" -> GraphWalksOracle,
    "g10_ppr_expansion" -> PprOracle,
    // t39: keeper = order-free MIN over the encoded first-occurrence
    // key, never a per-line window (hot boilerplate lines at scale)
    "t39_global_line_dedup" ->
      (s"WITH $PageLinesCtes,\n" +
        """occ AS (SELECT doc_id, line_no, line,
          |  doc_id * 2000000 + line_no AS occ FROM lines),
          |kp AS (SELECT line, CAST(MIN(occ) AS BIGINT) AS first_occ
          |  FROM occ GROUP BY line),
          |sv AS (SELECT o.doc_id, o.line_no, o.line,
          |  (o.occ = k.first_occ) AS survives
          |  FROM occ o JOIN kp k ON o.line = k.line)
          |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
          |  CAST(SUM(CASE WHEN survives THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_kept,
          |  CAST(COUNT(*) - SUM(CASE WHEN survives THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_dropped,
          |  md5(COALESCE(string_agg(line, chr(10) ORDER BY line_no)
          |    FILTER (WHERE survives), '')) AS clean_md5
          |FROM sv GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // p09: t31's oracle nested; ranked cut (mean_bits desc, id)
    "p09_dsir_select" ->
      (s"WITH w AS (SELECT doc_id, source, n_tokens, mean_bits FROM (\n" +
        s"$DsirWeightsOracle) xw)\n" +
        """SELECT doc_id, source, n_tokens, mean_bits FROM w
          |WHERE source <> 'src0'
          |ORDER BY mean_bits DESC, doc_id LIMIT 100""".stripMargin),
    "s32_opq_pq_topk" -> OpqPqOracle,
    "s33_opq_recall" -> OpqRecallOracle,
    "s37_rotated_pq" -> RotPqOracle,
    "s38_rotation_recall" -> RotationRecallOracle,
    // s39: s38's oracle re-pointed at the anisotropic view CTE
    "s39_aniso_rotation_recall" -> AnisoRotationRecallOracle,
    // k05: the k01 training CTEs, all K distances per point (sqrt of
    // the clamped norm expansion — the identical IEEE tree), argmin +
    // runner-up by (d, cluster_id), micros-quantized per-point
    // silhouette summed per cluster (the k02 order-free recipe)
    "k05_silhouette" ->
      (s"WITH $IvfTrainCtes,\n" +
        """dd AS (SELECT v.vec_id, c.cluster_id,
          |  sqrt(greatest(v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
          |    list_transform(range(1, len(v.emb)+1), i ->
          |      CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
          |    (x, y) -> x + y), 0.0)) AS d
          |  FROM v CROSS JOIN c1 c),
          |r AS (SELECT vec_id, cluster_id, d,
          |  row_number() OVER (PARTITION BY vec_id
          |    ORDER BY d ASC, cluster_id ASC) AS rn FROM dd),
          |p AS (SELECT a.vec_id, a.cluster_id, a.d AS a_d, b.d AS b_d
          |  FROM r a JOIN r b ON a.vec_id = b.vec_id
          |  WHERE a.rn = 1 AND b.rn = 2),
          |s AS (SELECT cluster_id,
          |  CAST(floor((CASE WHEN greatest(a_d, b_d) = 0.0 THEN 0.0
          |    ELSE (b_d - a_d) / greatest(a_d, b_d) END) * 1000000.0)
          |    AS BIGINT) AS s_fp FROM p)
          |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
          |  CAST(SUM(s_fp) AS BIGINT) AS sil_fp_sum,
          |  (CAST(SUM(s_fp) AS DOUBLE) / 1000000.0) /
          |    CAST(COUNT(*) AS DOUBLE) AS mean_sil
          |FROM s GROUP BY cluster_id ORDER BY cluster_id""".stripMargin),
    // k06: k05's dd/own-cluster CTEs for the scatter (micros-quantized
    // exact sums), K² centroid distances over c1, (r DESC, j ASC)
    // row_number argmax, cluster-ordered fold for the index
    "k06_davies_bouldin" ->
      (s"WITH $IvfTrainCtes,\n" +
        """dd AS (SELECT v.vec_id, c.cluster_id,
          |  sqrt(greatest(v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
          |    list_transform(range(1, len(v.emb)+1), i ->
          |      CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
          |    (x, y) -> x + y), 0.0)) AS d
          |  FROM v CROSS JOIN c1 c),
          |own AS (SELECT vec_id, cluster_id, d FROM (
          |  SELECT vec_id, cluster_id, d,
          |    row_number() OVER (PARTITION BY vec_id
          |      ORDER BY d ASC, cluster_id ASC) AS rn FROM dd)
          |  WHERE rn = 1),
          |sc AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
          |  CAST(SUM(CAST(floor(d * 1000000.0) AS BIGINT)) AS BIGINT)
          |    AS s_fp FROM own GROUP BY cluster_id),
          |scat AS (SELECT cluster_id, n_vectors,
          |  (CAST(s_fp AS DOUBLE) / 1000000.0)
          |    / CAST(n_vectors AS DOUBLE) AS scatter FROM sc),
          |cdm AS (SELECT i.cluster_id AS ci, j.cluster_id AS cj,
          |  sqrt(greatest(i.cnorm2 + j.cnorm2 - 2.0 * list_reduce(
          |    list_transform(range(1, len(i.cemb)+1), x ->
          |      CAST(i.cemb[x] AS DOUBLE) * CAST(j.cemb[x] AS DOUBLE)),
          |    (x, y) -> x + y), 0.0)) AS dij
          |  FROM c1 i JOIN c1 j ON i.cluster_id <> j.cluster_id),
          |rr AS (SELECT cdm.ci AS cluster_id, cdm.cj,
          |  (si.scatter + sj.scatter) / cdm.dij AS r
          |  FROM cdm JOIN scat si ON si.cluster_id = cdm.ci
          |  JOIN scat sj ON sj.cluster_id = cdm.cj),
          |tp AS (SELECT cluster_id, cj AS worst_other, r AS r_max FROM (
          |  SELECT cluster_id, cj, r,
          |    row_number() OVER (PARTITION BY cluster_id
          |      ORDER BY r DESC, cj ASC) AS rn FROM rr) WHERE rn = 1),
          |db AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |  list(r_max ORDER BY cluster_id)), (a, b) -> a + b)
          |  / CAST(COUNT(*) AS DOUBLE) AS db_index FROM tp)
          |SELECT s.cluster_id, s.n_vectors, s.scatter, t.worst_other,
          |  t.r_max, db.db_index
          |FROM scat s JOIN tp t USING (cluster_id) CROSS JOIN db
          |ORDER BY s.cluster_id""".stripMargin),
    // k07: k06's assignment chain on SQUARED distances (micros-
    // quantized WGSS), pairwise-identity BGSS folded in (ci, cj)
    // order, fixed CH division tree
    "k07_calinski_harabasz" ->
      (s"WITH $IvfTrainCtes,\n" +
        """dd AS (SELECT v.vec_id, c.cluster_id,
          |  greatest(v.vnorm2 + c.cnorm2 - 2.0 * list_reduce(
          |    list_transform(range(1, len(v.emb)+1), i ->
          |      CAST(v.emb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
          |    (x, y) -> x + y), 0.0) AS d2
          |  FROM v CROSS JOIN c1 c),
          |own AS (SELECT vec_id, cluster_id, d2 FROM (
          |  SELECT vec_id, cluster_id, d2,
          |    row_number() OVER (PARTITION BY vec_id
          |      ORDER BY d2 ASC, cluster_id ASC) AS rn FROM dd)
          |  WHERE rn = 1),
          |sc AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT)
          |    AS n_vectors,
          |  CAST(SUM(CAST(floor(d2 * 1000000.0) AS BIGINT)) AS BIGINT)
          |    AS w_fp FROM own GROUP BY cluster_id),
          |pr AS (SELECT i.cluster_id AS ci, j.cluster_id AS cj,
          |  CAST(si.n_vectors * sj.n_vectors AS DOUBLE) *
          |    greatest(i.cnorm2 + j.cnorm2 - 2.0 * list_reduce(
          |      list_transform(range(1, len(i.cemb)+1), x ->
          |        CAST(i.cemb[x] AS DOUBLE) * CAST(j.cemb[x] AS DOUBLE)),
          |      (x, y) -> x + y), 0.0) AS term
          |  FROM c1 i JOIN c1 j ON i.cluster_id <> j.cluster_id
          |  JOIN sc si ON si.cluster_id = i.cluster_id
          |  JOIN sc sj ON sj.cluster_id = j.cluster_id),
          |tt AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS n_total,
          |  CAST(COUNT(*) AS BIGINT) AS k_cells,
          |  CAST(SUM(w_fp) AS BIGINT) AS w_fp_total FROM sc),
          |bg AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |  list(term ORDER BY ci, cj)), (a, b) -> a + b) AS bgss_num
          |  FROM pr),
          |ix AS (SELECT
          |  bgss_num / (2.0 * CAST(n_total AS DOUBLE)) AS bgss,
          |  CAST(w_fp_total AS DOUBLE) / 1000000.0 AS wgss,
          |  n_total, k_cells FROM bg CROSS JOIN tt),
          |fx AS (SELECT bgss, wgss,
          |  CASE WHEN k_cells > 1 AND n_total > k_cells THEN
          |    (bgss / CAST(k_cells - 1 AS DOUBLE))
          |    / (wgss / CAST(n_total - k_cells AS DOUBLE))
          |  ELSE CAST(0.0 AS DOUBLE) END AS ch_index FROM ix)
          |SELECT sc.cluster_id, sc.n_vectors,
          |  CAST(sc.w_fp AS DOUBLE) / 1000000.0 AS wgss_k,
          |  fx.bgss, fx.wgss, fx.ch_index
          |FROM sc CROSS JOIN fx ORDER BY sc.cluster_id""".stripMargin),
    // s40: k01's trained assignment, exact cross-multiplied hot test
    // (n*K > total*factor), row_number seeds (2 lowest ids per hot
    // cell), nearest-of-two re-assignment with the (d2, sub) tie, skew
    // x100 via exact integer division (the dq02 idiom)
    "s40_cell_split" ->
      (s"WITH $IvfTrainCtes,\n" +
        """sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_before
          |  FROM a2 GROUP BY cluster_id),
          |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM a2),
          |hot AS (SELECT cluster_id FROM sz CROSS JOIN tt
          |  WHERE n_before * 8 > n_total * 2),
          |mem AS (SELECT a2.* FROM a2 JOIN hot USING (cluster_id)),
          |sd AS (SELECT cluster_id, CAST(rn AS BIGINT) AS sub_id,
          |    emb AS semb, vnorm2 AS snorm2
          |  FROM (SELECT cluster_id, emb, vnorm2,
          |    row_number() OVER (PARTITION BY cluster_id
          |      ORDER BY vec_id) AS rn FROM mem) WHERE rn <= 2),
          |sa AS (SELECT cluster_id, vec_id, sub_id FROM (
          |  SELECT m.cluster_id, m.vec_id, s.sub_id,
          |    row_number() OVER (PARTITION BY m.cluster_id, m.vec_id
          |      ORDER BY (m.vnorm2 + s.snorm2 - 2.0 * list_reduce(
          |        list_transform(range(1, len(m.emb)+1), i ->
          |          CAST(m.emb[i] AS DOUBLE) * CAST(s.semb[i] AS DOUBLE)),
          |        (x, y) -> x + y)) ASC, s.sub_id ASC) AS rk
          |  FROM mem m JOIN sd s USING (cluster_id)) WHERE rk = 1),
          |sp AS (SELECT cluster_id, sub_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS was_hot
          |  FROM sa GROUP BY cluster_id, sub_id),
          |cold AS (SELECT sz.cluster_id, CAST(0 AS BIGINT) AS sub_id,
          |  n_before AS n_vectors, FALSE AS was_hot
          |  FROM sz WHERE cluster_id NOT IN (SELECT cluster_id FROM hot)),
          |af AS (SELECT * FROM cold UNION ALL SELECT * FROM sp),
          |bs AS (SELECT MAX(n_before) AS max_before,
          |  CAST(COUNT(*) AS BIGINT) AS k_before FROM sz),
          |a3 AS (SELECT MAX(n_vectors) AS max_after,
          |  CAST(COUNT(*) AS BIGINT) AS k_after FROM af)
          |SELECT af.cluster_id, af.sub_id, af.n_vectors, af.was_hot,
          |  (bs.max_before * 100 * bs.k_before) // tt.n_total
          |    AS skew_before_x100,
          |  (a3.max_after * 100 * a3.k_after) // tt.n_total
          |    AS skew_after_x100
          |FROM af CROSS JOIN bs CROSS JOIN a3 CROSS JOIN tt
          |ORDER BY af.cluster_id, af.sub_id""".stripMargin),
    // k04: both trainings nested as scoped-WITH subqueries (the s13
    // precedent — CTE names never collide); Rand terms are exact longs
    "k04_cluster_agreement" ->
      (s"""WITH aa AS (SELECT vec_id, cluster_id AS cluster_a FROM (
         |WITH $IvfTrainCtes
         |SELECT vec_id, cluster_id FROM a2) xa),
         |bb AS (SELECT vec_id, cluster_id AS cluster_b FROM (
         |WITH ${replaceAnchored(IvfTrainCtes, "WHERE vec_id < 8",
             "WHERE vec_id >= 8 AND vec_id < 16")}
         |SELECT vec_id, cluster_id FROM a2) xb),""".stripMargin + "\n" +
        """ct AS (SELECT cluster_a, cluster_b,
          |  CAST(COUNT(*) AS BIGINT) AS n_ab
          |  FROM aa JOIN bb ON aa.vec_id = bb.vec_id GROUP BY 1, 2),
          |mj AS (SELECT CAST(SUM(n_ab * (n_ab - 1) // 2) AS BIGINT)
          |  AS same_both FROM ct),
          |ma AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS same_a
          |  FROM (SELECT COUNT(*) AS n FROM aa GROUP BY cluster_a)),
          |mb AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS same_b
          |  FROM (SELECT COUNT(*) AS n FROM bb GROUP BY cluster_b)),
          |nn AS (SELECT CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT)
          |  AS pairs FROM aa),
          |mt AS (SELECT CAST(pairs + 2 * same_both - same_a - same_b
          |    AS DOUBLE) / CAST(pairs AS DOUBLE) AS rand_index
          |  FROM nn CROSS JOIN mj CROSS JOIN ma CROSS JOIN mb)
          |SELECT ct.cluster_a, ct.cluster_b, ct.n_ab, mt.rand_index
          |FROM ct CROSS JOIN mt
          |ORDER BY ct.cluster_a, ct.cluster_b""".stripMargin),
    // t40: capped postings (the d14 stance — oracle applies the same
    // production cap); leak face vs distinct train shingles, breadth
    // face via the bipartite postings join
    "t40_contamination_report" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |df AS (SELECT shingle, COUNT(*) AS df FROM e GROUP BY shingle),
        |p AS (SELECT e.doc_id, e.shingle FROM e
        |  JOIN df ON e.shingle = df.shingle WHERE df.df <= 1000),
        |b AS (SELECT doc_id, shingle FROM p WHERE doc_id % 100 = 0),
        |tr AS (SELECT doc_id, shingle FROM p WHERE doc_id % 100 <> 0),
        |ts AS (SELECT DISTINCT shingle FROM tr),
        |lk AS (SELECT b.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_bench_shingles,
        |  CAST(SUM(CASE WHEN ts.shingle IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_leaked_shingles
        |  FROM b LEFT JOIN ts ON b.shingle = ts.shingle
        |  GROUP BY b.doc_id),
        |pc AS (SELECT b.doc_id,
        |  CAST(COUNT(DISTINCT tr.doc_id) AS BIGINT) AS n_train_docs
        |  FROM b JOIN tr ON b.shingle = tr.shingle GROUP BY b.doc_id)
        |SELECT lk.doc_id, lk.n_bench_shingles, lk.n_leaked_shingles,
        |  CAST(n_leaked_shingles AS DOUBLE)
        |    / CAST(n_bench_shingles AS DOUBLE) AS leak_frac,
        |  CAST(COALESCE(pc.n_train_docs, 0) AS BIGINT) AS n_train_docs
        |FROM lk LEFT JOIN pc ON lk.doc_id = pc.doc_id
        |ORDER BY lk.doc_id""".stripMargin,
    "t41_mojibake_repair" -> MojibakeOracle,
    "s34_hamming_topk" -> HammingOracle,
    "s35_hamming_recall" -> HammingRecallOracle,
    "b02_rrf_fusion" -> RrfOracle,
    // w22: micros-weighted exact-long sums, one division per mean;
    // date_diff('second') == unix-second floor difference
    "w22_twap_daily" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, ts,
        |  event_id,
        |  CAST(floor(value * 1000000) AS BIGINT) AS vmicro FROM events),
        |l AS (SELECT *, lead(ts) OVER (PARTITION BY event_type, day
        |  ORDER BY ts, event_id) AS next_ts FROM e),
        |i AS (SELECT event_type, day, vmicro,
        |  CAST(date_diff('second', ts, next_ts) AS BIGINT) AS dt
        |  FROM l WHERE next_ts IS NOT NULL),
        |g AS (SELECT event_type, day,
        |  CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  CAST(SUM(dt) AS BIGINT) AS sum_dt_s,
        |  CAST(SUM(vmicro * dt) AS BIGINT) AS sum_wv,
        |  CAST(SUM(vmicro) AS BIGINT) AS sum_v FROM i GROUP BY 1, 2)
        |SELECT event_type, day, n_intervals, sum_dt_s,
        |  CAST(sum_wv AS DOUBLE) / CAST(sum_dt_s AS DOUBLE)
        |    AS twap_micros,
        |  CAST(sum_v AS DOUBLE) / CAST(n_intervals AS DOUBLE)
        |    AS mean_micros
        |FROM g WHERE sum_dt_s > 0
        |ORDER BY event_type, day""".stripMargin,
    // l15: only the URGENT partition's rows change; double multiply is
    // one IEEE op, parquet round-trips it bitwise
    "l15_replace_where" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN o_totalprice * 0.9 ELSE o_totalprice END
        |    AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // d18: the same url synthesis + canonicalization rules expressed
    // in SQL — host lowercased, one leading www. stripped, trailing
    // slash stripped, fragment dropped, utm_* params dropped, the
    // rest sorted bytewise, scheme dropped; keeper = MIN doc_id.
    // Assembled by concatenation, not stripMargin — the SQL is full
    // of `||`, which a margin strip would mangle (the p08 precedent)
    "d18_url_dedup" ->
      ("WITH " + SynthUrlCte + ",\n" +
       "c AS (SELECT doc_id, url,\n" +
       "  regexp_replace(lower(regexp_extract(url,\n" +
       "    '^[a-zA-Z]+://([^/?#]+)', 1)), '^www\\.', '') AS host,\n" +
       "  regexp_replace(regexp_extract(url,\n" +
       "    '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/$', '') AS path,\n" +
       "  regexp_extract(url, '^[^?#]*\\?([^#]*)', 1) AS rawq FROM u),\n" +
       "p AS (SELECT doc_id, url, host, path,\n" +
       "  array_to_string(list_sort(list_filter(string_split(rawq, '&'),\n" +
       "    x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&')\n" +
       "    AS params FROM c),\n" +
       "n AS (SELECT doc_id, url,\n" +
       "  host || path || CASE WHEN params <> '' THEN '?' || params\n" +
       "    ELSE '' END AS canon_url,\n" +
       // PSL-lite domain: the regex alternation is assembled from the
       // SAME Scala list the Spark expression uses — cannot drift
       "  " + DomainCaseSql + "\n" +
       "    AS domain FROM p),\n" +
       "k AS (SELECT canon_url, CAST(MIN(doc_id) AS BIGINT)\n" +
       "    AS keep_doc_id,\n" +
       "  CAST(COUNT(*) AS BIGINT) AS n_dups FROM n GROUP BY canon_url)\n" +
       "SELECT n.doc_id, n.url, n.canon_url, n.domain, k.keep_doc_id,\n" +
       "  k.n_dups, (n.doc_id = k.keep_doc_id) AS is_kept\n" +
       "FROM n JOIN k USING (canon_url) ORDER BY n.doc_id"),
    // t45: per-type MIN(first-hex tier) + tiny tier histograms joined
    // to the nested thresholds — vocab at every prefix from one pass
    "t45_vocab_growth" ->
      """WITH d AS (SELECT doc_id, text,
        |  CAST(strpos('0123456789abcdef',
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT)
        |    AS hexv FROM documents),
        |tk AS (SELECT hexv,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok FROM d),
        |tm AS (SELECT tok, MIN(hexv) AS min_hexv FROM tk GROUP BY tok),
        |tmh AS (SELECT min_hexv, CAST(COUNT(*) AS BIGINT) AS n_types
        |  FROM tm GROUP BY min_hexv),
        |th AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT)
        |  AS prefix_16ths),
        |voc AS (SELECT th.prefix_16ths,
        |  CAST(SUM(n_types) AS BIGINT) AS vocab_types
        |  FROM tmh JOIN th ON tmh.min_hexv < th.prefix_16ths GROUP BY 1),
        |dh AS (SELECT hexv, CAST(COUNT(*) AS BIGINT) AS nd,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+')))
        |    AS BIGINT) AS nt_sum FROM d GROUP BY hexv),
        |dm AS (SELECT th.prefix_16ths, CAST(SUM(nd) AS BIGINT) AS n_docs,
        |  CAST(SUM(nt_sum) AS BIGINT) AS n_tokens
        |  FROM dh JOIN th ON dh.hexv < th.prefix_16ths GROUP BY 1)
        |SELECT dm.prefix_16ths, dm.n_docs, dm.n_tokens, voc.vocab_types,
        |  CAST(voc.vocab_types AS DOUBLE) / CAST(dm.n_tokens AS DOUBLE)
        |    AS type_token_ratio
        |FROM dm JOIN voc ON dm.prefix_16ths = voc.prefix_16ths
        |ORDER BY dm.prefix_16ths""".stripMargin,
    // t44: t39's line CTEs × d18's URL synthesis + PSL-lite domain;
    // in-domain line doc-frequency ≥ 2 = boilerplate; one double
    // division at the end (exact-integer counts everywhere else)
    "t44_domain_boilerplate" ->
      ("WITH " + PageLinesCtes + ",\n" +
       SynthUrlCte + ",\n" +
       "hh AS (SELECT doc_id,\n" +
       "  regexp_replace(lower(regexp_extract(url,\n" +
       "    '^[a-zA-Z]+://([^/?#]+)', 1)), '^www\\.', '') AS host\n" +
       "  FROM u),\n" +
       "dom AS (SELECT doc_id, " + DomainCaseSql + " AS domain\n" +
       "  FROM hh),\n" +
       "dl AS (SELECT dom.domain, l.line, l.doc_id\n" +
       "  FROM lines l JOIN dom ON l.doc_id = dom.doc_id),\n" +
       "ldf AS (SELECT domain, line,\n" +
       "    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS line_docs\n" +
       "  FROM dl GROUP BY domain, line),\n" +
       "pd AS (SELECT domain,\n" +
       "    CAST(COUNT(*) AS BIGINT) AS n_distinct_lines,\n" +
       "    CAST(SUM(CASE WHEN line_docs >= 2 THEN 1 ELSE 0 END)\n" +
       "      AS BIGINT) AS n_boilerplate_lines\n" +
       "  FROM ldf GROUP BY domain),\n" +
       "oc AS (SELECT dl.domain,\n" +
       "    CAST(COUNT(DISTINCT dl.doc_id) AS BIGINT) AS n_docs,\n" +
       "    CAST(COUNT(*) AS BIGINT) AS n_line_occurrences,\n" +
       "    CAST(SUM(CASE WHEN ldf.line_docs >= 2 THEN 1 ELSE 0 END)\n" +
       "      AS BIGINT) AS n_boilerplate_occurrences\n" +
       "  FROM dl JOIN ldf ON dl.domain = ldf.domain\n" +
       "    AND dl.line = ldf.line\n" +
       "  GROUP BY dl.domain)\n" +
       "SELECT oc.domain, n_docs, n_line_occurrences, n_distinct_lines,\n" +
       "  n_boilerplate_lines, n_boilerplate_occurrences,\n" +
       "  CAST(n_boilerplate_occurrences AS DOUBLE) /\n" +
       "    CAST(n_line_occurrences AS DOUBLE) AS boilerplate_frac\n" +
       "FROM oc JOIN pd ON oc.domain = pd.domain ORDER BY oc.domain"),
    // t42: the t33 bigram CTEs + unigram table + one-row (N+V+1)
    // frame; bits = floor-log2 of the exact interpolated rational
    // (lambda = 3/4, add-one OOV mass); terciles by global row_number
    // (the oracle may single-partition sort; the Spark side may not)
    "t42_lm_perplexity" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
        |bg AS (SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 1)) AS i
        |    FROM b)),
        |lm AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM bg GROUP BY w1, w2),
        |cx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cu
        |  FROM bg GROUP BY w1),
        |un AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cw
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+'))
        |    AS tok FROM documents) GROUP BY tok),
        |tt AS (SELECT CAST(SUM(cw) AS BIGINT) + CAST(COUNT(*) AS BIGINT)
        |    + 1 AS m FROM un),
        |s AS (SELECT g.doc_id,
        |  (CAST(length(bin(4 * c.cu * tt.m)) - 1 AS BIGINT)
        |   - CAST(length(bin(3 * l.cb * tt.m + c.cu * (un.cw + 1))) - 1
        |       AS BIGINT)) AS bits
        |  FROM bg g JOIN lm l ON g.w1 = l.w1 AND g.w2 = l.w2
        |  JOIN cx c ON g.w1 = c.w1 JOIN un ON g.w2 = un.tok
        |  CROSS JOIN tt),
        |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
        |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mean_bits FROM s GROUP BY doc_id),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d),
        |r AS (SELECT doc_id, n_bigrams, sum_bits, mean_bits,
        |  CAST(row_number() OVER (ORDER BY mean_bits, doc_id)
        |    AS BIGINT) AS ppl_rank FROM d)
        |SELECT doc_id, n_bigrams, sum_bits, mean_bits, ppl_rank,
        |  CASE WHEN (ppl_rank - 1) * 3 < nn.n_docs THEN 'head'
        |       WHEN (ppl_rank - 1) * 3 < nn.n_docs * 2 THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM r CROSS JOIN nn ORDER BY doc_id""".stripMargin,
    // d19: d16's rolling-hash CTEs + min-owner table + coverage union
    // + t36-style ordered reassembly; only n>=5 docs enter the postings
    "d19_span_removal" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |h AS (SELECT doc_id, toks, list_transform(toks, s ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(s)+1),
        |        i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 2147483647)) AS th FROM t),
        |e AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), th[i+1:i+5]),
        |      (a, b) -> (a * 257 + b) % 2147483647) AS wh
        |  FROM h, UNNEST(range(0, len(th)-4)) AS u(i)
        |  WHERE len(th) >= 5),
        |pd AS (SELECT DISTINCT doc_id, wh FROM e),
        |dup AS (SELECT wh, MIN(doc_id) AS owner FROM pd GROUP BY wh
        |  HAVING COUNT(*) >= 2),
        |fl AS (SELECT e.doc_id, e.start FROM e JOIN dup USING (wh)
        |  WHERE e.doc_id <> dup.owner),
        |dw AS (SELECT doc_id, CAST(COUNT(DISTINCT start) AS BIGINT)
        |    AS n_dup_windows FROM fl GROUP BY doc_id),
        |rp AS (SELECT DISTINCT doc_id, start + j AS pos FROM fl,
        |  UNNEST(range(0, 5)) AS v(j)),
        |rc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
        |  FROM rp GROUP BY doc_id),
        |tp AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i+1] AS tok
        |  FROM t, UNNEST(range(0, len(toks))) AS u2(i)),
        |kp AS (SELECT tp.doc_id,
        |    string_agg(tp.tok, ' ' ORDER BY tp.pos) AS kept_text
        |  FROM tp LEFT JOIN rp ON tp.doc_id = rp.doc_id
        |    AND tp.pos = rp.pos
        |  WHERE rp.pos IS NULL GROUP BY tp.doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  COALESCE(dw.n_dup_windows, CAST(0 AS BIGINT))
        |    AS n_dup_windows,
        |  COALESCE(rc.n_removed, CAST(0 AS BIGINT)) AS n_removed,
        |  md5(COALESCE(kp.kept_text, '')) AS kept_md5
        |FROM t LEFT JOIN dw USING (doc_id) LEFT JOIN rc USING (doc_id)
        |LEFT JOIN kp USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // t43: self-training oracle — 8 argmax+replace CTE levels, then the
    // same delimited-string encode and per-doc rollup
    "t43_bpe_encode" -> BpeEncodeOracle,
    "t46_bpe_longest_match" -> BpeLongestMatchOracle,
    "t47_detok_roundtrip" -> DetokRoundTripOracle,
    // t48: the v8 piece table rolled up by source instead of doc
    "t48_fertility_by_source" ->
      (s"WITH $BpeTrainCtes,\n" +
       "enc AS (SELECT w, CAST(len(string_split(trim(s, ' '), '  '))\n" +
       "    AS BIGINT) AS n_pieces FROM v8),\n" +
       "ts AS (SELECT t.doc_id, d.source, t.w FROM toks t\n" +
       "  JOIN (SELECT doc_id, source FROM documents) d USING (doc_id))\n" +
       "SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,\n" +
       "  CAST(COUNT(*) AS BIGINT) AS n_tokens,\n" +
       "  CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,\n" +
       "  CAST(SUM(length(w)) AS BIGINT) AS n_chars,\n" +
       "  CAST(SUM(length(w)) AS DOUBLE) / CAST(SUM(e.n_pieces) AS DOUBLE)\n" +
       "    AS chars_per_piece,\n" +
       "  CAST(SUM(e.n_pieces) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)\n" +
       "    AS pieces_per_token\n" +
       "FROM ts JOIN enc e USING (w) GROUP BY source ORDER BY source"),
    // p16: quantized-sqrt weights (t08/temperatureMix law), target =
    // floor(B · (w/Σw)) with the divide FIRST (same IEEE tree both
    // engines), integer ceil-div epochs capped at 4
    "p16_epoch_plan" ->
      """WITH c AS (SELECT source,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+')))
        |    AS BIGINT) AS n_tokens
        | FROM documents GROUP BY source),
        |w AS (SELECT source, n_tokens,
        |  CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
        |    AS BIGINT) AS weight_fp FROM c),
        |t AS (SELECT CAST(SUM(weight_fp) AS BIGINT) AS tot FROM w),
        |p AS (SELECT w.source, w.n_tokens, w.weight_fp,
        |  CAST(floor(60000.0 * (CAST(w.weight_fp AS DOUBLE) /
        |    CAST(t.tot AS DOUBLE))) AS BIGINT) AS target_tokens
        | FROM w CROSS JOIN t),
        |e AS (SELECT *, least(greatest(
        |    (target_tokens + n_tokens - 1) // n_tokens, 1), 4) AS epochs
        |  FROM p),
        |sv AS (SELECT *, least(target_tokens, epochs * n_tokens)
        |    AS served_tokens FROM e)
        |SELECT source, n_tokens, weight_fp, target_tokens,
        |  CAST(epochs AS BIGINT) AS epochs, served_tokens,
        |  target_tokens - served_tokens AS deficit,
        |  CASE WHEN served_tokens > 0 THEN
        |    CAST(served_tokens - least(served_tokens, n_tokens) AS DOUBLE)
        |      / CAST(served_tokens AS DOUBLE)
        |  ELSE 0.0 END AS repeat_frac
        |FROM sv ORDER BY source""".stripMargin,
    // p10: the from-scratch union build the incremental path must equal
    "p10_incremental_corpus" -> IncrementalBuildOracle,
    // p11: the identical left-associated margin over the p07 feature
    // fragments, the p08 verdict CASE, then the agreement rollup —
    // min/max extremes only (order-free), no float sums
    "p11_learned_filter" ->
      (s"WITH q AS (SELECT doc_id, quality FROM ($QualityScoreOracle) xq),\n" +
       s"u AS (SELECT doc_id, mean_bits FROM ($UnigramSurpriseOracle) xu),\n" +
       s"rp AS (SELECT doc_id, dup2_frac FROM ($RepetitionProfileOracle) xr),\n" +
       s"cd AS (SELECT doc_id, is_code FROM ($CodeDetectOracle) xc),\n" +
       s"g AS (SELECT doc_id, keep AS gopher_keep FROM (\n" +
       s"$GopherRulesOracle) xg),\n" +
       s"c AS (SELECT doc_id, n_kept FROM (\n" +
       s"$C4LineFilterOracle) xc2),\n" +
       s"b AS (SELECT doc_id, ppl_bucket FROM (\n" +
       s"$CcnetBucketsOracle) xb),\n" +
       "v AS (SELECT g.doc_id,\n" +
       "  CASE WHEN NOT g.gopher_keep THEN 'drop_gopher'\n" +
       "       WHEN c.n_kept = 0 THEN 'drop_empty'\n" +
       "       WHEN b.ppl_bucket = 'tail' THEN 'drop_ppl'\n" +
       "       ELSE 'keep' END AS verdict\n" +
       "FROM g JOIN c ON g.doc_id = c.doc_id\n" +
       "JOIN b ON g.doc_id = b.doc_id),\n" +
       "m AS (SELECT q.doc_id,\n" +
       "  6.0 * q.quality - 0.08 * u.mean_bits\n" +
       "    - 2.5 * coalesce(rp.dup2_frac, 0.0)\n" +
       "    - 1.5 * (CASE WHEN cd.is_code THEN 1.0 ELSE 0.0 END)\n" +
       "    - 3.2 AS margin, v.verdict\n" +
       "FROM q JOIN u ON q.doc_id = u.doc_id\n" +
       "LEFT JOIN rp ON q.doc_id = rp.doc_id\n" +
       "JOIN cd ON q.doc_id = cd.doc_id\n" +
       "JOIN v ON q.doc_id = v.doc_id)\n" +
       "SELECT verdict, margin > 0.0 AS learned_keep,\n" +
       "  CAST(COUNT(*) AS BIGINT) AS n_docs,\n" +
       "  MIN(margin) AS min_margin, MAX(margin) AS max_margin\n" +
       "FROM m GROUP BY verdict, learned_keep\n" +
       "ORDER BY verdict, learned_keep"),
    "b03_prf_expansion" -> PrfOracle,
    "b04_retrieval_eval" -> RetrievalEvalOracle,
    "b05_retrieval_ndcg" -> RetrievalNdcgOracle,
    // b06: b04's judged chain + the c04 factor per (doc, term); both
    // AP folds are the b04 tail verbatim, delta/sign exact
    "b06_ranker_compare" -> RankerCompareOracle,
    // b07: b06 nested + exact 2^K sign-flip enumeration, two-sided p
    "b07_sign_permutation" -> SignPermutationOracle,
    // l19/l20: both formats must reproduce the PARQUET ground truth
    // with the shared injected tail — one oracle, two round trips
    "l19_jsonl_fidelity" -> FormatFidelityOracle,
    "l20_csv_fidelity" -> FormatFidelityOracle,
    // l21: identical ground truth — the encode/decode pair must be
    // invisible in the published (chars, md5) frame
    "l21_csv_splittable_fidelity" -> FormatFidelityOracle,
    "c03_proximity_rank" -> ProximityOracle,
    // c04: all-integer Dirichlet factors, ONE division each, product
    // left-associated in fixed term order — no log in either engine
    "c04_ql_dirichlet" -> QlDirichletOracle,
    // c02: c01's chunk CTEs as the scoring unit, b01's exact BM25 law
    // verbatim (rational idf, fixed-order 4-term sum), maxP per doc
    // with min-chunk-idx tie break, b01's doc rank LEFT-joined on
    "c02_chunk_maxp" ->
      (s"""WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |  unnest(generate_series(0, greatest(len(toks) - 1, 0), 48))
        |    AS cs FROM t),
        |cd AS (SELECT doc_id, cs // 48 AS chunk_idx,
        |  CAST(len(toks[(cs + 1):(cs + 64)]) AS BIGINT) AS dl,
        |  toks[(cs + 1):(cs + 64)] AS chunk FROM s),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |  CAST(SUM(dl) AS BIGINT) AS sum_dl FROM cd),
        |tf AS (SELECT doc_id, chunk_idx, dl, term,
        |    CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, chunk_idx, dl, unnest(chunk) AS term
        |    FROM cd) u
        |  WHERE term IN ('vector', 'spark', 'join', 'scan')
        |  GROUP BY doc_id, chunk_idx, dl, term),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id, tf.chunk_idx, tf.term,
        |  ((CAST(st.n_units AS DOUBLE) - CAST(dfq.df AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE))
        |    / (CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
        |  * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
        |  / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |        + CAST(0.75 AS DOUBLE) * CAST(tf.dl AS DOUBLE)
        |          / (CAST(st.sum_dl AS DOUBLE)
        |             / CAST(st.n_units AS DOUBLE)))) AS score_t
        |  FROM tf JOIN dfq USING (term) CROSS JOIN st),
        |cscore AS (SELECT doc_id, chunk_idx,
        |  COALESCE(SUM(CASE WHEN term = 'vector' THEN score_t END),
        |    CAST(0.0 AS DOUBLE))
        |  + COALESCE(SUM(CASE WHEN term = 'spark' THEN score_t END),
        |    CAST(0.0 AS DOUBLE))
        |  + COALESCE(SUM(CASE WHEN term = 'join' THEN score_t END),
        |    CAST(0.0 AS DOUBLE))
        |  + COALESCE(SUM(CASE WHEN term = 'scan' THEN score_t END),
        |    CAST(0.0 AS DOUBLE)) AS score
        |  FROM sc GROUP BY doc_id, chunk_idx),
        |mp AS (SELECT doc_id, MAX(score) AS maxp_score,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks_matched
        |  FROM cscore GROUP BY doc_id),
        |bst AS (SELECT c.doc_id, mp.maxp_score, mp.n_chunks_matched,
        |  CAST(MIN(c.chunk_idx) AS BIGINT) AS best_chunk_idx
        |  FROM cscore c JOIN mp ON c.doc_id = mp.doc_id
        |    AND c.score = mp.maxp_score
        |  GROUP BY c.doc_id, mp.maxp_score, mp.n_chunks_matched),
        |dr AS (SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id)
        |    AS BIGINT) AS doc_rank FROM ($Bm25Oracle) xb)
        |SELECT b.doc_id, b.best_chunk_idx, b.n_chunks_matched,
        |  b.maxp_score, COALESCE(dr.doc_rank, 0) AS doc_rank
        |FROM bst b LEFT JOIN dr USING (doc_id)
        |ORDER BY b.maxp_score DESC, b.doc_id LIMIT 20""").stripMargin,
    // p12: md5 key/digest parity (the t08 sampleKey idiom + a 15-hex
    // big-endian parse fold); HUGEINT sum rendered as the fixed-width
    // 39-char decimal string both engines publish (decimal128 output
    // columns hash asymmetrically in the driver — the r15 lesson).
    // Assembled by concatenation — the SQL carries || concats (the
    // p08 precedent).
    "p12_shard_manifest" -> ShardManifestOracle,
    // p17: merged-incremental must equal recomputed-from-scratch bit
    // for bit — the oracle IS p12's whole-corpus SQL, verbatim
    "p17_incremental_manifest" -> ShardManifestOracle,
    // p19: the MW loop unrolled to 4 (u, s, w) CTE levels — each uN is
    // read twice (normalizer + next round) so they are MATERIALIZED
    // (the exponential-inline gotcha); folds in source-ASC order
    "p19_domain_reweight" -> DomainReweightOracle,
    // t49: per-window distinct counts are integers, their total an
    // order-free exact sum, mattr ONE division — short docs fall back
    // to whole-doc TTR with n_windows = 0
    "t49_mattr" ->
      """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
        |  CASE WHEN len(toks) >= 25
        |    THEN CAST(len(toks) - 24 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS n_windows,
        |  CAST(len(list_distinct(toks)) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS ttr,
        |  CASE WHEN len(toks) >= 25 THEN
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, len(toks) - 24), i ->
        |        CAST(len(list_distinct(toks[i+1:i+25])) AS BIGINT))),
        |      (a, b) -> a + b) AS DOUBLE)
        |    / CAST((len(toks) - 24) * 25 AS DOUBLE)
        |  ELSE CAST(len(list_distinct(toks)) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) END AS mattr
        |FROM (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // t50: self-trained unigram-LM vocab (seed → 2 EM prune rounds →
    // final usage), half-bit costs via length(bin(x²))−1
    "t50_unigram_train" -> UnigramTrainOracle,
    // t51: the t50 CTE chain + round-3 segmentation read back as the
    // per-word piece stream; integer half-bit costs, cross-multiplied
    // integer keep law, ONE division per doc
    "t51_unigram_score" -> UnigramScoreOracle,
    // p20: p19's chain nested verbatim, the t16 rate→threshold tree,
    // md5-prefix string compare at the cut line, source-keyed rollup
    "p20_mixture_manifest" ->
      (s"""WITH p19 AS ($DomainReweightOracle),
        |rt AS (SELECT source, n_tokens, weight,
        |  least(1.0, (12000.0 * weight) / CAST(n_tokens AS DOUBLE))
        |    AS rate FROM p19),
        |th AS (SELECT source, n_tokens, weight, rate,
        |  CASE WHEN rate >= 1.0 THEN 'g'
        |  ELSE lower(lpad(hex(CAST(floor(rate * 4294967296.0)
        |    AS BIGINT)), 8, '0')) END AS threshold FROM rt),
        |dk AS (SELECT source,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS k,
        |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
        |    AS ntok FROM documents),
        |j AS (SELECT dk.source, dk.ntok, dk.k < th.threshold AS keep
        |  FROM dk JOIN th USING (source))
        |SELECT j.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_kept,
        |  CAST(SUM(CASE WHEN keep THEN ntok ELSE 0 END) AS BIGINT)
        |    AS tokens_kept,
        |  CAST(MIN(th.n_tokens) AS BIGINT) AS n_tokens,
        |  MIN(th.weight) AS weight, MIN(th.rate) AS rate,
        |  MIN(th.threshold) AS threshold
        |FROM j JOIN th USING (source)
        |GROUP BY j.source ORDER BY j.source""".stripMargin),
    // p18: exact dot/norm folds, argmax via (cosine DESC, eval_id ASC)
    // row_number — bitwise the Spark side's min_by-on-struct pick
    "p18_semantic_decontam" ->
      """WITH v AS (SELECT vec_id, embedding,
        |  list_reduce(list_transform(range(1, len(embedding)+1), i ->
        |    CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b) AS norm2 FROM embeddings),
        |q AS (SELECT vec_id AS eval_id, embedding AS qemb,
        |  norm2 AS qnorm2 FROM v WHERE vec_id % 100 = 0),
        |t AS (SELECT vec_id, embedding, norm2 FROM v
        |  WHERE vec_id % 100 <> 0),
        |sc AS (SELECT t.vec_id, q.eval_id,
        |  list_reduce(list_transform(range(1, len(t.embedding)+1), i ->
        |    CAST(t.embedding[i] AS DOUBLE) * CAST(q.qemb[i] AS DOUBLE)),
        |    (x, y) -> x + y)
        |  / (sqrt(t.norm2) * sqrt(q.qnorm2)) AS cosine
        |  FROM t CROSS JOIN q),
        |r AS (SELECT vec_id, eval_id, cosine,
        |  row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosine DESC, eval_id ASC) AS rn FROM sc)
        |SELECT vec_id, eval_id AS nearest_eval_id, cosine AS max_cos,
        |  cosine >= 0.35 AS contaminated
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // l16: the WAP slices re-derived in SQL; delta2's duplicate check
    // runs against the CONDITIONALLY-published state (base ∪ delta1 iff
    // delta1's own audits are zero), and the publish verdicts are
    // DERIVED from the counts — the oracle encodes the law, not the
    // fixture's outcome
    "l16_wap_commit" ->
      """WITH cl AS (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 1),
        |dr AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * -1
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 2
        |  UNION ALL SELECT o_orderkey, o_totalprice FROM orders
        |    WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 = 0),
        |b0 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0),
        |a1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 END), 0)
        |    AS BIGINT) AS n_bad_price,
        |  CAST(COALESCE(SUM(CASE WHEN o_orderkey IN
        |    (SELECT o_orderkey FROM b0) THEN 1 END), 0) AS BIGINT)
        |    AS n_dup_keys
        |  FROM cl),
        |p2 AS (SELECT o_orderkey FROM b0
        |  UNION ALL SELECT o_orderkey FROM cl
        |    WHERE (SELECT n_bad_price + n_dup_keys FROM a1) = 0),
        |a2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 END), 0)
        |    AS BIGINT) AS n_bad_price,
        |  CAST(COALESCE(SUM(CASE WHEN o_orderkey IN
        |    (SELECT o_orderkey FROM p2) THEN 1 END), 0) AS BIGINT)
        |    AS n_dup_keys
        |  FROM dr),
        |led AS (SELECT 'delta1_clean' AS delta_id, n_rows, n_bad_price,
        |    n_dup_keys, (n_bad_price = 0 AND n_dup_keys = 0) AS published
        |  FROM a1
        |  UNION ALL SELECT 'delta2_dirty', n_rows, n_bad_price,
        |    n_dup_keys, (n_bad_price = 0 AND n_dup_keys = 0) FROM a2),
        |fin AS (SELECT o_orderkey FROM p2
        |  UNION ALL SELECT o_orderkey FROM dr
        |    WHERE (SELECT n_bad_price = 0 AND n_dup_keys = 0 FROM a2)),
        |ps AS (SELECT CAST(COUNT(*) AS BIGINT) AS published_rows,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS published_key_sum FROM fin)
        |SELECT led.delta_id, led.n_rows, led.n_bad_price,
        |  led.n_dup_keys, led.published, ps.published_rows,
        |  ps.published_key_sum
        |FROM led CROSS JOIN ps ORDER BY led.delta_id""".stripMargin,
    // p14: audited fragments re-aggregated by source — t02's quality,
    // p08's verdict chain, d01's digest law; counts exact, quality
    // micros-quantized before the sum, one division per output row
    "p14_dataset_card" ->
      (s"WITH q AS (SELECT doc_id, n_tokens, quality FROM " +
       s"($QualityScoreOracle) xq),\n" +
       s"g AS (SELECT doc_id, keep AS gopher_keep FROM (\n" +
       s"$GopherRulesOracle) xg),\n" +
       s"c AS (SELECT doc_id, n_kept FROM (\n" +
       s"$C4LineFilterOracle) xc2),\n" +
       s"b AS (SELECT doc_id, ppl_bucket FROM (\n" +
       s"$CcnetBucketsOracle) xb),\n" +
       "v AS (SELECT g.doc_id,\n" +
       "  CASE WHEN NOT g.gopher_keep THEN 'drop_gopher'\n" +
       "       WHEN c.n_kept = 0 THEN 'drop_empty'\n" +
       "       WHEN b.ppl_bucket = 'tail' THEN 'drop_ppl'\n" +
       "       ELSE 'keep' END AS verdict\n" +
       "FROM g JOIN c ON g.doc_id = c.doc_id\n" +
       "JOIN b ON g.doc_id = b.doc_id),\n" +
       "d AS (SELECT doc_id,\n" +
       "  md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS dg\n" +
       "  FROM documents),\n" +
       "dc AS (SELECT dg, CAST(COUNT(*) AS BIGINT) AS nc\n" +
       "  FROM d GROUP BY dg),\n" +
       "pd AS (SELECT d.doc_id, (dc.nc > 1) AS is_dup\n" +
       "  FROM d JOIN dc USING (dg)),\n" +
       "agg AS (SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_docs,\n" +
       "  CAST(SUM(q.n_tokens) AS BIGINT) AS n_tokens,\n" +
       "  CAST(COALESCE(SUM(CASE WHEN v.verdict = 'keep' THEN 1 END),\n" +
       "    0) AS BIGINT) AS n_keep,\n" +
       "  CAST(COALESCE(SUM(CASE WHEN v.verdict = 'drop_gopher'\n" +
       "    THEN 1 END), 0) AS BIGINT) AS n_drop_gopher,\n" +
       "  CAST(COALESCE(SUM(CASE WHEN v.verdict = 'drop_empty'\n" +
       "    THEN 1 END), 0) AS BIGINT) AS n_drop_empty,\n" +
       "  CAST(COALESCE(SUM(CASE WHEN v.verdict = 'drop_ppl'\n" +
       "    THEN 1 END), 0) AS BIGINT) AS n_drop_ppl,\n" +
       "  CAST(SUM(CAST(floor(q.quality * 1000000.0) AS BIGINT))\n" +
       "    AS BIGINT) AS quality_fp_sum,\n" +
       "  CAST(COALESCE(SUM(CASE WHEN pd.is_dup THEN 1 END), 0)\n" +
       "    AS BIGINT) AS n_dup_docs\n" +
       "FROM (SELECT doc_id, source FROM documents) s\n" +
       "JOIN q ON s.doc_id = q.doc_id\n" +
       "JOIN v ON s.doc_id = v.doc_id\n" +
       "JOIN pd ON s.doc_id = pd.doc_id\n" +
       "GROUP BY s.source)\n" +
       "SELECT source, n_docs, n_tokens, n_keep, n_drop_gopher,\n" +
       "  n_drop_empty, n_drop_ppl, quality_fp_sum, n_dup_docs,\n" +
       "  CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS keep_frac\n" +
       "FROM agg ORDER BY source"),
    // l17: both refs' contents re-derived as set algebra over orders —
    // the oracle encodes isolation (main shows no ×2 correction, the
    // branch shows no main-only keys)
    "l17_branch_refs" ->
      """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0),
        |mn AS (SELECT * FROM base
        |  UNION ALL SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0),
        |br AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0
        |  UNION ALL SELECT o_orderkey, o_totalprice * 2 FROM base
        |  WHERE o_orderkey % 7 = 0),
        |u AS (SELECT 'fix' AS ref, o_orderkey, o_totalprice FROM br
        |  UNION ALL SELECT 'main', o_orderkey, o_totalprice FROM mn)
        |SELECT ref, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents_sum
        |FROM u GROUP BY ref ORDER BY ref""".stripMargin,
    // l18: the fixture's version algebra re-derived — v0 expired under
    // the v1 full rewrite, v1 live as v2's delete-marker base, v2 kept;
    // counts straight from orders
    "l18_vacuum_plan" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
        |  CAST(SUM(CASE WHEN o_orderkey % 10 <> 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept FROM orders)
        |SELECT version, kind, base_version, n_rows, retained, reason
        |FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, 'full' AS kind,
        |    CAST(-1 AS BIGINT) AS base_version, n_all AS n_rows,
        |    FALSE AS retained, 'expired' AS reason FROM n
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), 'full', CAST(-1 AS BIGINT), n_all,
        |    TRUE, 'mor_base' FROM n
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'mor_delete', CAST(1 AS BIGINT),
        |    n_kept, TRUE, 'kept_recent' FROM n
        |) ORDER BY version""".stripMargin,
    // p15: d04's minhash-band CTEs + the d11 cap (HAVING <= 1000),
    // distinct pairs attributed to unordered source pairs; diagonal
    // rows count the involved-doc UNION on both sides
    "p15_source_overlap" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(0, len(toks)-2),
        |      i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [array_to_string(toks, ' ')] END) AS sh FROM t),
        |g AS (SELECT doc_id, list_transform(range(0, 12), j ->
        |  list_min(list_transform(sh, x ->
        |    md5(concat(CAST(j AS VARCHAR), ':', x))))) AS sig FROM s),
        |b AS (SELECT doc_id, list_transform(range(0, 4), k ->
        |  md5(array_to_string(sig[k*3+1:k*3+3], '|'))) AS bands FROM g),
        |e AS (SELECT doc_id, k AS band, bands[k+1] AS digest
        |      FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS k) u),
        |keepb AS (SELECT band, digest FROM e
        |  GROUP BY band, digest HAVING COUNT(*) <= 1000),
        |ec AS (SELECT e.* FROM e JOIN keepb USING (band, digest)),
        |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        |  FROM ec a JOIN ec b2 ON a.band = b2.band
        |    AND a.digest = b2.digest AND a.doc_id < b2.doc_id),
        |sd AS (SELECT doc_id, source FROM documents),
        |ws AS (SELECT least(x.source, y.source) AS source_a,
        |    greatest(x.source, y.source) AS source_b,
        |    CASE WHEN x.source <= y.source THEN p.doc_a ELSE p.doc_b END
        |      AS d_a,
        |    CASE WHEN x.source <= y.source THEN p.doc_b ELSE p.doc_a END
        |      AS d_b
        |  FROM pr p JOIN sd x ON p.doc_a = x.doc_id
        |    JOIN sd y ON p.doc_b = y.doc_id),
        |np AS (SELECT source_a, source_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM ws GROUP BY 1, 2),
        |rl AS (SELECT source_a, source_b, 'a' AS role, d_a AS doc FROM ws
        |  UNION ALL SELECT source_a, source_b, 'b', d_b FROM ws
        |  UNION ALL SELECT source_a, source_b, 'a', d_b FROM ws
        |    WHERE source_a = source_b
        |  UNION ALL SELECT source_a, source_b, 'b', d_a FROM ws
        |    WHERE source_a = source_b),
        |nd AS (SELECT source_a, source_b,
        |    CAST(COUNT(DISTINCT CASE WHEN role = 'a' THEN doc END)
        |      AS BIGINT) AS n_docs_a,
        |    CAST(COUNT(DISTINCT CASE WHEN role = 'b' THEN doc END)
        |      AS BIGINT) AS n_docs_b
        |  FROM rl GROUP BY 1, 2),
        |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM documents GROUP BY source)
        |SELECT np.source_a, np.source_b, np.n_pairs, nd.n_docs_a,
        |  nd.n_docs_b, za.sz AS size_a, zb.sz AS size_b,
        |  CAST(nd.n_docs_a AS DOUBLE) / CAST(za.sz AS DOUBLE) AS frac_a,
        |  CAST(nd.n_docs_b AS DOUBLE) / CAST(zb.sz AS DOUBLE) AS frac_b
        |FROM np JOIN nd USING (source_a, source_b)
        |JOIN sz za ON np.source_a = za.source
        |JOIN sz zb ON np.source_b = zb.source
        |ORDER BY source_a, source_b""".stripMargin,
    // p13: p11's margin chain (feature fragments reused verbatim, no
    // verdict join), keepers ranked by the exact (margin, doc_id)
    // order, phase terciles against the exact keeper count, laid onto
    // the shared shard CTEs — min/max margins and the HUGEINT checksum
    // are all order-free
    "p13_anneal_schedule" ->
      (s"WITH q AS (SELECT doc_id, quality FROM ($QualityScoreOracle) xq),\n" +
       s"u AS (SELECT doc_id, mean_bits FROM ($UnigramSurpriseOracle) xu),\n" +
       s"rp AS (SELECT doc_id, dup2_frac FROM ($RepetitionProfileOracle) xr),\n" +
       s"cd AS (SELECT doc_id, is_code FROM ($CodeDetectOracle) xc),\n" +
       "m AS (SELECT q.doc_id,\n" +
       "  6.0 * q.quality - 0.08 * u.mean_bits\n" +
       "    - 2.5 * coalesce(rp.dup2_frac, 0.0)\n" +
       "    - 1.5 * (CASE WHEN cd.is_code THEN 1.0 ELSE 0.0 END)\n" +
       "    - 3.2 AS margin\n" +
       "FROM q JOIN u ON q.doc_id = u.doc_id\n" +
       "LEFT JOIN rp ON q.doc_id = rp.doc_id\n" +
       "JOIN cd ON q.doc_id = cd.doc_id),\n" +
       "kk AS (SELECT doc_id, margin FROM m WHERE margin > 0.0),\n" +
       "tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keep FROM kk),\n" +
       "rr AS (SELECT doc_id, margin,\n" +
       "  CAST(row_number() OVER (ORDER BY margin, doc_id) AS BIGINT)\n" +
       "    AS rk FROM kk),\n" +
       "ph AS (SELECT rr.doc_id, rr.margin,\n" +
       "  CASE WHEN (rk - 1) * 3 < t.n_keep THEN 'stage1_bulk'\n" +
       "       WHEN (rk - 1) * 3 < t.n_keep * 2 THEN 'stage2_bulk'\n" +
       "       ELSE 'stage3_anneal' END AS phase\n" +
       "FROM rr CROSS JOIN tt t),\n" +
       s"$ShardBaseOracleCtes\n" +
       "SELECT ph.phase, c.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,\n" +
       "  CAST(SUM(c.n_tokens) AS BIGINT) AS sum_tokens,\n" +
       "  MIN(ph.margin) AS min_margin, MAX(ph.margin) AS max_margin,\n" +
       "  lpad(CAST(SUM(CAST(c.digest AS HUGEINT)) AS VARCHAR), 39, '0')\n" +
       "    AS content_checksum\n" +
       "FROM ph JOIN c ON ph.doc_id = c.doc_id\n" +
       "GROUP BY ph.phase, c.shard ORDER BY ph.phase, c.shard")
  )
}
