package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Automated scale hygiene: every declared query's physical plan is
  * checked for join shapes that would not survive a 100x scale-up.
  * BroadcastNestedLoopJoin is permitted only where a small broadcast side
  * against a streamed corpus is the intended design (flat ANN search). */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val intentionalNestedLoop = Set(
    "s01_brute_topk", // broadcast(5 queries) x corpus scan by design
    "s05_ann_recall", // embeds s01's exact side as the recall baseline
    "s07_recall_multi_table", // s01 exact side + tiny config-set cross
    "s08_ivf_trained_topk", // k01's broadcast(8 centroids) x corpus, twice
    "s12_ivfpq_topk", // k01's broadcast(8 centroids) x corpus (coarse cells)
    "s13_pq_recall", // s01 exact side + s11/s12 tiers + 2-row tier cross
    "s14_nprobe_recall", // s01 exact side + s08's centroid crosses + config cross
    "s15_ivfpq_serve", // s12's serving form: broadcast(model rows) x corpus
    "s16_pq_nprobe_recall", // s15's probe + s01 exact side + config cross
    "s17_ivfpq_rerank", // s15's probe machinery + broadcast(query) refine
    "s18_ivfpq_append", // s15's serve shape over base-trained model rows
    "s19_ivfpq_stored_serve", // probe schedule: broadcast(centroids) x queries
    "m04_media_retrieval", // s01's broadcast(5 query features) x corpus
    "s09_recall_multiprobe", // s01 exact side + tiny radius-config cross
    "s06_quantized_topk", // s01's shape on the quantized memory tier
    "b01_bm25_rank", // ONE-row corpus-stats frame broadcast-crossed in
    "k01_kmedians_assign", // broadcast(K=8 centroids) x corpus, twice
    "j01_bloom_join", // ONE-row 8 KB bitmap broadcast-crossed into the scan
    "dq04_price_histogram", // ONE-row min/max bounds broadcast-crossed in
    "t16_temperature_mix", // ONE-row total-weight frame broadcast-crossed in
    "t17_unigram_surprise", // ONE-row corpus-total frame broadcast-crossed in
    "t18_source_divergence", // sources-sized totals frame crossed into vocab
    "g01_covisitation", // ONE-row user-total frame broadcast-crossed in
    "g02_item_neighbors", // embeds g01's ONE-row total cross
    "t20_vocab_coverage", // 5-row size grid + ONE-row total crossed into vocab
    "t24_pmi_collocations", // ONE-row corpus-total frame broadcast-crossed in
    "k02_cluster_inertia", // k01's broadcast(8 centroids) x corpus inside
    "s10_rerank", // tier 1 is s06's intended broadcast(5 queries) x corpus
    "t27_tfidf_keywords", // ONE-row doc-count frame broadcast-crossed in
    "dq10_freshness", // ONE-row global-max frame broadcast-crossed in
    "dq11_digit_profile", // ONE-row total frame broadcast-crossed in
    "t31_dsir_weights", // ONE-row (n_t, n_r) totals frame broadcast-crossed in
    "d15_semantic_dedup", // k01's broadcast(8 centroids) x corpus cluster-assign
    "dq14_distribution_drift", // dims-sized sources x buckets grid + ONE-row total cross
    "s20_matryoshka_rerank", // s01's broadcast(5 queries) x corpus, prefix tier
    "s21_knn_graph", // k01's broadcast(32 centroids) x corpus cell-assign
    "s47_knn_graph_multi", // s21's centroid cross, top-2 argselect
    "g06_knn_triangles", // rides s21's centroid-assign cross
    "s23_mmr_diversify", // s01's broadcast(5 queries) x corpus coarse tier
    "t33_bigram_surprise", // ONE-row vocab-size frame broadcast-crossed in
    "dq15_embedding_audit", // ONE-row modal-width frame broadcast-crossed in
    "s24_range_search", // k01's broadcast(8 centroids) x corpus cell-assign
    "k03_elbow_curve", // k01's broadcast(K centroids) x corpus, per tier
    "s25_knn_classify", // s01's broadcast(5 queries) x corpus coarse tier
    "s26_filtered_recall", // s01's broadcast cross, truth + overfetch tiers
    "s27_delete_serve", // s15's probe-schedule broadcast(centroids) cross
    "p07_quality_features", // embeds t17's ONE-row corpus-total cross
    "dq16_label_balance", // ONE-row (total, n_labels) broadcast cross
    "t37_ccnet_buckets", // t17's corpus-total cross + ONE-row doc-count cross
    "s28_hard_negatives", // s01's broadcast(5 queries) x corpus by design
    "g07_shared_neighbors", // rides s21's broadcast centroid-assign cross
    "s30_ivfpq_residual", // k01's broadcast(8 centroids) x corpus (coarse)
    "s31_residual_recall", // s01 exact side + s12/s30 centroid crosses
    "p08_curated_corpus", // embeds t37's corpus-total + doc-count crosses
    "g08_graph_walks", // rides s21's broadcast centroid-assign cross
    "s33_opq_recall", // s01 exact side's broadcast(5 queries) x corpus
    "p09_dsir_select", // embeds t31's ONE-row totals broadcast cross
    "k04_cluster_agreement", // two k01 centroid crosses + 1-row metric crosses
    "s34_hamming_topk", // broadcast(5 query codes) x corpus by design
    "s35_hamming_recall", // s01 exact side + tiny bit-config crosses
    "b02_rrf_fusion", // b01's ONE-row stats cross + s01's dense side
    "b04_retrieval_eval", // b01's ONE-row corpus-stats broadcast cross
    "b05_retrieval_ndcg", // b04's judged chain: same ONE-row stats cross
    "p18_semantic_decontam", // broadcast(bounded eval slice) x train scan
    "p19_domain_reweight", // 1-row mean/normalizer frames crossed into K rows
    "g10_ppr_expansion", // rides s21's broadcast centroid-assign cross
    "s41_mips_topk", // s01's broadcast(5 queries) x corpus + 1-row max-norm
    "k06_davies_bouldin", // k01's centroid cross + K^2 local-frame pairs
    "p20_mixture_manifest", // embeds p19's 1-row mean/normalizer crosses
    "c03_proximity_rank", // b01's ONE-row corpus-stats broadcast cross
    "s42_mips_ivf_recall", // 1-row max-norm cross + s14's centroid/probe crosses
    "s43_graph_beam_recall", // s01 exact side + s21's centroid-assign cross
    "s44_beam_hops_recall", // s43's crosses + 3-row hop-config cross
    "s45_stored_graph_serve", // s43's crosses; edges from the stored table
    "s46_filtered_beam_recall", // s43's crosses + s26's prefilter-truth cross
    "s36_index_lifecycle", // s18/s19's probe-schedule broadcast crosses
    "s38_rotation_recall", // s01 exact side + 3-row tier cross
    "t42_lm_perplexity", // t33's ONE-row (N,V) corpus frame cross
    "s39_aniso_rotation_recall", // s38's eval shape over the aniso view
    "p11_learned_filter", // embeds p07's t17 corpus-total cross
    "b03_prf_expansion", // b01's ONE-row corpus-stats cross, both passes
    "k05_silhouette", // k01's broadcast(8 centroids) x corpus cross
    "g09_cell_modularity", // s21's centroid cross + 1-row metric crosses
    "p13_anneal_schedule", // p07's corpus-total cross + 1-row keeper count
    "t45_vocab_growth", // 5-row threshold grid: inequality broadcast joins
    "t50_unigram_train", // ONE-row piece-total frame broadcast-crossed in
    "s40_cell_split", // k01 centroid cross + 1-row size/skew crosses
    "l16_wap_commit", // 2-row audit ledger x 1-row published-stats cross
    "p14_dataset_card", // embeds p08's t37/t17 corpus-total crosses
    "p16_epoch_plan", // ONE-row weight-total frame broadcast-crossed in
    "c04_ql_dirichlet", // ONE-row corpus-LM frame broadcast-crossed in
    "g11_hits", // ONE-row per-half-step max frame broadcast-crossed in
    "k07_calinski_harabasz", // k01's centroid cross + 1-row index cross
    "b06_ranker_compare", // b04's 1-row stats cross + |terms|-row LM cross
    "b07_sign_permutation", // b06's crosses; the 2^K explode is join-free
    "t51_unigram_score", // t50's model + 1-row corpus-totals crosses
    "c02_chunk_maxp") // b01's ONE-row corpus-stats cross, chunk units

  /** What the two whole-ledger audits see in one entry's plan. A funnel is
    * one single-partition exchange: the node name of a non-aggregate child,
    * or, for an aggregate child, whether every mode is partial plus the
    * modes. */
  private case class Finding(name: String, cartesian: Boolean,
      nestedLoop: Boolean, funnels: Seq[Either[String, (Boolean, String)]])

  /** Both audits' findings, from one build of every ledger entry. Only
    * verdicts are kept, so no entry's frame (or its anchors) outlives its
    * own walk. */
  private lazy val ledgerFindings: Seq[Finding] =
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      val executed = fn(spark, sf).queryExecution.executedPlan
      val plan = executed.toString
      val funnels = physicalPlan(executed).collectWithSubqueries {
        case e: ShuffleExchangeExec
            if e.outputPartitioning == SinglePartition => unwrap(e.child)
      }.map {
        case agg: BaseAggregateExec => Right((
          agg.aggregateExpressions.nonEmpty &&
            agg.aggregateExpressions.forall(ae =>
              ae.mode == Partial || ae.mode == PartialMerge),
          agg.aggregateExpressions.map(_.mode).distinct.toString))
        case other => Left(other.nodeName)
      }
      Finding(name, plan.contains("CartesianProduct"),
        plan.contains("BroadcastNestedLoopJoin"), funnels)
    }

  test("no cartesian products; nested-loop joins only where intended") {
    ledgerFindings.foreach { f =>
      val name = f.name
      assert(!f.cartesian,
        s"$name plans a cartesian product")
      if (!intentionalNestedLoop(name)) {
        assert(!f.nestedLoop,
          s"$name plans an unintended nested-loop join")
      }
    }
  }

  /** AQE wraps the whole query; the pre-execution current plan is the
    * shape to audit (exchanges are still plain ShuffleExchangeExec there). */
  private def physicalPlan(plan: SparkPlan): SparkPlan = plan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Codegen preparation interposes WholeStageCodegen/InputAdapter between
    * an exchange and its real child; strip them to reach the logical shape. */
  @annotation.tailrec
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => unwrap(w.child)
    case i: InputAdapter => unwrap(i.child)
    case other => other
  }

  test("no single-partition exchanges except the merge of a partial agg") {
    // A SinglePartition exchange is a global funnel: every surviving row
    // crosses one task. The ONE legitimate shape is the final merge of a
    // two-phase global aggregate — its input is one pre-aggregated row
    // (or bounded sketch buffer) per upstream partition, so the funnel
    // moves O(partitions), never O(data). Anything else (un-partitioned
    // windows, single-task sorts) dies at 100x scale. The whitelist is
    // EMPTY by design: the last offender (the dq02 skew-audit cum-window)
    // was replaced by a sorted-array fold in round 9 — keep it empty.
    //
    // Audited by TRAVERSING the plan tree (not string-matching the print,
    // which breaks with codegen markers or format drift): collect every
    // shuffle exchange whose output partitioning is SinglePartition —
    // including inside scalar-subquery plans — and assert its unwrapped
    // child is an aggregate running in Partial/PartialMerge mode.
    ledgerFindings.foreach { f =>
      val name = f.name
      f.funnels.foreach {
        case Right((partial, modes)) =>
          assert(partial,
            s"$name funnels a non-partial aggregate into one partition " +
              s"(modes: $modes)")
        case Left(child) =>
          fail(s"$name plans a non-aggregate single-partition exchange " +
            s"(child: $child)")
      }
    }
  }

  test("kNN-graph self-join hashes on the cell key, never nested-loop") {
    // s21's corpus×corpus self-join carries the cell equi-key; the only
    // permitted BNLJ in its plan is the K-centroid assign cross. A
    // nested-loop on the self-join would be |corpus|² at any cell count.
    val plan = SparkEntry.queries("s21_knn_graph")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashed = plan.contains("ShuffledHashJoin") ||
      plan.contains("SortMergeJoin") ||
      // cell-keyed broadcast is fine too if one side estimates tiny
      "BroadcastHashJoin.*cell".r.findFirstIn(plan).isDefined
    assert(hashed,
      s"s21 must equi-join on the cell key, got:\n$plan")
    // exactly the one intended BNLJ (the centroid-assign cross), which
    // appears twice in the printed plan only if the self-join degraded
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 2, s"s21 has $bnlj nested-loop joins — the cell " +
      s"self-join degraded:\n$plan")
  }

  test("ivf probe joins hash on the cell key, not nested-loop") {
    // label === query_label is an equi key: the cell-probe join must plan
    // a BroadcastHashJoin (queries side broadcast), never BNLJ
    val plan = SparkEntry.queries("s02_ivf_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"s02 must broadcast-hash-join on the cell key, got:\n$plan")
  }

  test("lateral top-n decorrelates to a window, not a per-row rerun") {
    val qe = SparkEntry.queries("q31_lateral_topn")(spark, sf)
      .queryExecution
    val physical = qe.executedPlan.toString
    // decorrelation rewrites the correlated LIMIT into a ranked window
    // over the correlation key joined hash-wise — never a lateral loop
    assert(physical.contains("Window"),
      s"q31 should plan a window for the per-group limit:\n$physical")
    assert(!physical.contains("BroadcastNestedLoopJoin") &&
      !physical.contains("CartesianProduct"),
      s"q31 must not nested-loop the lateral subquery:\n$physical")
  }

  test("exact-ANN top-k partial-aggregates map-side, no per-query window") {
    // the bounded TopKByScore aggregate must plan as a two-phase
    // ObjectHashAggregate (partial_ map-side, ≤ k rows per query per
    // split cross the shuffle) — never a Window funneling the whole
    // scored corpus into one task per query
    for (name <- Seq("s01_brute_topk", "s04_lsh_ann_topk",
        "s06_quantized_topk", "q33_group_topk")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name still plans a per-query window funnel:\n$plan")
      assert(plan.toLowerCase.contains("partial_topkbyscore"),
        s"$name top-k does not partial-aggregate map-side:\n$plan")
    }
  }

  test("PQ ADC ranks via the mergeable bounded top-k aggregate") {
    // s11/s12 carry partitioned windows inside PQ TRAINING (median
    // refinement — parallel by (sub, code, dim), fine at scale), so they
    // can't join the no-Window assertion above; the invariant that must
    // hold is that the per-query RANKING step is the map-side-partial
    // TopKByScore aggregate, never a per-query row_number funnel.
    for (name <- Seq("s11_pq_adc_topk", "s12_ivfpq_topk")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("partial_topkbyscore"),
        s"$name ADC rank does not partial-aggregate map-side:\n$plan")
    }
  }

  test("IVF-PQ probe prune runs BELOW the per-query LUT expansion") {
    // query_id is born in the LUT join, so Catalyst can never reorder
    // the (query_id, cell) probe join ahead of it — the plan must carry
    // an explicit cell semi-join UNDER the LUT join, or every code row
    // expands ×nQueries before any cell pruning. The semi-join's own
    // output proves its position: below the LUT join it cannot carry
    // the LUT's pdot_fp (nor query_id).
    for (name <- Seq("s12_ivfpq_topk", "s15_ivfpq_serve",
        "s16_pq_nprobe_recall", "s17_ivfpq_rerank", "s18_ivfpq_append")) {
      val plan = physicalPlan(SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan)
      val semis = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }
      assert(semis.nonEmpty, s"$name lost the probed-cell semi-join")
      semis.foreach { j =>
        assert(!j.output.exists(a =>
            a.name == "pdot_fp" || a.name == "query_id"),
          s"$name cell semi-join sits above the LUT expansion")
      }
    }
  }

  test("stored-codes serve scan partition-prunes to the probed cells") {
    // s19's corpus-side scan is the stored cell-partitioned code table
    // with a literal IN-list on the partition column: the scan must
    // carry partition filters and select only the probed cells'
    // directories — at 100 TB that is the difference between reading
    // nProbe cells and listing the whole index
    val plan = physicalPlan(SparkEntry.queries("s19_ivfpq_stored_serve")(
      spark, sf).queryExecution.executedPlan)
    val codeScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.output.exists(_.name == "code") => f
    }
    assert(codeScans.nonEmpty, "stored code-table scan missing from s19")
    codeScans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"stored code scan has no partition filter:\n$f")
      // default serve probes each query's own cell: 5 queries probe at
      // most 5 of the 8 cells, so pruning must drop at least 3
      assert(f.selectedPartitions.partitionCount < 8,
        s"scan read all ${f.selectedPartitions.partitionCount} cell partitions")
    }
  }

  test("stored-graph beam serve (s45) partition-prunes to the query " +
      "batch's cells") {
    // the kNN graph is cell-blocked, so a query's whole reachable set
    // lives in its own cell: the stored edge table is partitioned by
    // cell and the probe schedule must turn the traversal's edge scan
    // into a handful of cell directories, never a full-graph read
    val plan = physicalPlan(SparkEntry.queries("s45_stored_graph_serve")(
      spark, sf).queryExecution.executedPlan)
    val graphScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.output.exists(_.name == "neighbor_id") &&
            f.output.exists(_.name == "cell") => f
    }
    assert(graphScans.nonEmpty, "stored graph scan missing from s45")
    graphScans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"stored graph scan has no partition filter:\n$f")
      // 5 queries touch at most 5 of the 32 trained cells
      assert(f.selectedPartitions.partitionCount <= 5,
        s"scan read ${f.selectedPartitions.partitionCount} cell partitions")
    }
  }

  test("k-medians argmin partial-aggregates via min_by, not a window") {
    val plan = SparkEntry.queries("k01_kmedians_assign")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("partial_min_by"),
      s"k01 assignment argmin should partial-aggregate (min_by):\n$plan")
  }

  test("selective filters reach the parquet scan (pushdown)") {
    val plan = SparkEntry.queries("q02_filter_project")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"expected pushed filters in:\n$plan")
  }

  test("column pruning reaches the parquet scan (no over-read)") {
    // a 5-column projection over the 16-column lineitem must prune the
    // read schema — a scan reading all columns would move 3x the bytes
    val plan = SparkEntry.queries("q02_filter_project")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    val read = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in:\n$plan"))
    assert(!read.contains("l_comment") && !read.contains("l_partkey"),
      s"scan reads pruned columns: $read")
    assert(read.contains("l_quantity") && read.contains("l_shipdate"),
      s"scan misses needed columns: $read")
  }
}
