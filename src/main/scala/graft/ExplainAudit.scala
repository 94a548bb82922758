package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans for representative queries to
  * PLANS.md and assert the scale-critical plan properties — filters and
  * projections pushed to the parquet scan, dims broadcast, top-k via
  * TakeOrderedAndProject, no accidental CartesianProduct on fact tables.
  */
object ExplainAudit {

  val audited: Seq[String] = Seq(
    "q02_filter_predicates", "q04_topk_recent", "q06_agg_group",
    "q11_join_inner", "q21_window_rownum", "q41_dedup_minhash_lsh",
    "q43_dedup_ngram_jaccard", "q44_dedup_embed_cosine",
    "q86_join_graph_path", "q87_topk_udaf",
    "q88_bucketed_colocated_join", "q93_asof_join",
    "q96_cohort_retention", "q106_dynamic_partition_pruning",
    "q107_fuzzy_blocked_join", "q46_dedup_incremental",
    "q74_bm25_search", "q118_snapshot_diff", "q121_bloom_join_pruning",
    "q47_dup_span_detection", "q56_knn_pq", "q79_hybrid_search",
    "q133_tpch_q18_large_orders", "q134_tpch_q4_priority_check",
    "q48_cross_split_leakage", "q49_temperature_mixing",
    "q58_repetition_signals", "q137_tpch_q19_disjunctive",
    "q138_tpch_q17_small_qty", "q140_tpch_q15_top_supplier",
    "q144_tpch_q16_supplier_diversity", "q145_tpch_q21_waiting_supplier",
    "q146_tpch_q1_pricing_summary", "q148_tpch_q6_forecast_revenue",
    "q151_tpch_q20_promo_suppliers", "q59_quality_percentile_prune",
    "q147_tpch_q2_min_cost_supplier", "q156_semdedup",
    "q157_dsir_importance_resampling", "q158_ccnet_perplexity_buckets",
    "q159_pagerank_fixed_point", "q160_source_ngram_diversity",
    "q163_histogram_quantiles", "q165_multilen_span_dedup",
    "q167_bpe_encode_fertility", "q168_quality_classifier",
    "q169_knn_hamming", "q170_distribution_drift",
    "q171_embedding_drift", "q173_bpe_heldout_fertility",
    "q174_unigram_lm_vocab", "q175_unigram_heldout_fertility",
    "q177_classifier_holdout_eval", "q178_curation_pipeline",
    "q179_multimodal_ppm_decode", "q180_knn_ivf_persisted",
    "q181_curation_pipeline_tokenized", "q182_multimodal_frames_decode",
    "q183_multimodal_real_resize", "q184_bm25_persisted_index",
    "q185_curation_pipeline_packed", "q186_ngram_lm_persisted",
    "q187_curation_day2_increment", "q188_multimodal_wav_decode",
    "q189_multimodal_wav_resample", "q190_classifier_persisted_model",
    "q191_curation_day2_packed", "q192_knn_ivfpq",
    "q194_knn_ivfpq_persisted", "q197_semdedup_day3_increment",
    "q198_knn_graph_beam", "q199_knn_graph_persisted",
    "q200_curation_provenance", "q201_knn_ivf_filtered",
    "q202_knn_ivfpq_refined", "q203_dataset_shard_plan",
    "q204_knn_label_propagation", "q205_media_perceptual_dedup",
    "q206_corpus_datasheet", "q207_curation_day2_datasheet",
    "q208_knn_ivf_deleted", "q209_knn_graph_day3",
    "q210_bm25_after_takedown", "q211_ingest_label_pipeline",
    "q212_knn_ivf_republished", "q213_knn_graph_republished_r8",
    "q214_knn_ivfpq_republished", "q215_dedup_after_takedown",
    "q216_knn_graph_deleted", "q217_ann_eval_recall",
    "q218_rrf_fusion", "q219_mmr_rerank", "q220_kanon_risk_audit",
    "q221_budget_waterfill", "q222_ann_eval_ndcg",
    "q223_dedup_eval_prf", "q224_decontaminate_train",
    "q225_ldiversity_audit", "q226_graph_eval_recall",
    "q227_decon_packed_pipeline", "q228_rrf_persisted",
    "q229_knn_ivf_lifecycle", "q230_republish_decision",
    "q231_knn_graph_consolidated", "q232_rrf_three_system",
    "q233_store_audit", "q234_remediation_loop",
    "q235_knn_ivfpq_autoremediated", "q236_warehouse_maintenance",
    "q237_transform_remediation", "q238_bpe_autoremediated",
    "q239_clf_autoremediated")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8)

    val byName = SparkEntry.registry.map(q => q.name -> q).toMap

    // q176's GATE plan is a LocalTableScan of the driver-side curve
    // (useless to audit); the plans that carry its scale claims are the
    // per-epoch consumers over the partitioned feature checkpoint.
    // Probe ONCE; the plan STRINGS feed both the dumped sections and
    // the checklist assertions (explainString never executes, so
    // capturing before eviction is the only ordering constraint).
    System.err.println("[ExplainAudit] building q176 epoch probe")
    val (epochScores, epochDelta) =
      llmops.Curation.epochPlanProbe(spark, sfDir)
    val epochScoresPlan = epochScores.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val epochDeltaPlan = epochDelta.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    ops.SessionScratch.evictTransients()

    // q198's GATE plan checkpoints the graph (the two expansion rounds
    // must not re-derive the corpus-sized build) — probe the
    // un-checkpointed build frame for the cell-blocking claim.
    System.err.println("[ExplainAudit] building q198 graph-build probe")
    val graphBuildPlan = llmops.Similarity
      .graphBuildPlanProbe(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    ops.SessionScratch.evictTransients()

    val sections = audited.map { name =>
      System.err.println(s"[ExplainAudit] dumping $name")
      val df = byName(name).run(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      ops.SessionScratch.evictTransients()
      s"## $name\n\n```\n$plan\n```\n"
    } ++ Seq(
      "## q176_classifier_training (epoch score rollup)\n\n```\n" +
        s"$epochScoresPlan\n```\n",
      "## q176_classifier_training (epoch miss-join delta)\n\n```\n" +
        s"$epochDeltaPlan\n```\n",
      "## q198_knn_graph_beam (graph build, un-checkpointed)\n\n```\n" +
        s"$graphBuildPlan\n```\n")

    val checks = Seq(
      ("q02 pushes predicates to the parquet scan",
        planOf(spark, byName, sfDir, "q02_filter_predicates")
          .contains("PushedFilters: [")),
      ("q04 top-k plans TakeOrderedAndProject (no global sort)",
        planOf(spark, byName, sfDir, "q04_topk_recent")
          .contains("TakeOrderedAndProject")),
      ("q06 agg prunes to needed columns only",
        planOf(spark, byName, sfDir, "q06_agg_group")
          .contains("l_returnflag")),
      ("q11 broadcasts the dim tables",
        planOf(spark, byName, sfDir, "q11_join_inner")
          .contains("BroadcastHashJoin")),
      ("q93 asof is one exchange + window, no nested-loop join",
        !planOf(spark, byName, sfDir, "q93_asof_join")
          .contains("CartesianProduct")),
      ("q86 join-graph path broadcasts every dim hop",
        !planOf(spark, byName, sfDir, "q86_join_graph_path")
          .contains("SortMergeJoin")),
      ("q87 top-k UDAF aggregates partially before the exchange",
        planOf(spark, byName, sfDir, "q87_topk_udaf")
          .contains("partial_topkaggregator")),
      ("q88 bucketed fact-fact join has no exchange on the join key", {
        val p = planOf(spark, byName, sfDir, "q88_bucketed_colocated_join")
        p.contains("SortMergeJoin") &&
          !p.contains("hashpartitioning(l_orderkey") &&
          !p.contains("hashpartitioning(o_orderkey")
      }),
      ("q43 scans+shuffles the exploded shingles ONCE; the self-join " +
        "mirror and both set-size consumers reuse that exchange (AQE " +
        "runtime reuse)", {
        // exchange reuse is an AQE RUNTIME decision — execute THIS
        // QueryExecution (collect, 13 rows), then read the final
        // adaptive plan (the tree before "== Initial Plan ==")
        val df = byName("q43_dedup_ngram_jaccard").run(spark, sfDir)
        df.collect()
        val p = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val finalTree = p.split("== Initial Plan ==").head
        "Scan parquet".r.findAllIn(finalTree).size == 1 &&
          "ReusedExchange".r.findAllIn(finalTree).size >= 3
      }),
      ("q96 does not force-broadcast the per-user first-seen side " +
        "(would OOM at 100 TB); with broadcast disabled the join " +
        "degrades to a shuffle join, proving no hint pins it", {
        val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val p = planOf(spark, byName, sfDir, "q96_cohort_retention")
          !p.contains("BroadcastExchange") && !p.contains("BroadcastHashJoin")
        } finally
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      }),
      ("q44 embed near-dup pair join blocks on (label, bucket) — the " +
        "LSH bucket is IN the equi-join key, not label alone (label-" +
        "only blocking is quadratic in the largest label at scale)", {
        val p = planOf(spark, byName, sfDir, "q44_dedup_embed_cosine")
        "keys \\[2\\]: \\[label#\\d+, bucket#\\d+L?\\]".r
          .findFirstIn(p).isDefined
      }),
      ("q106 fact scan carries a runtime dynamicpruning partition " +
        "filter (only dim-selected year partitions are read)",
        planOf(spark, byName, sfDir, "q106_dynamic_partition_pruning")
          .contains("dynamicpruning")),
      ("q107 fuzzy join shuffles on the block key (hash equi-join, " +
        "no CartesianProduct / BroadcastNestedLoop); the probe side " +
        "is explicitly hash-spread on blk so the CPU-dense " +
        "edit-distance stage parallelizes regardless of input file " +
        "granularity (r16 — it ran in ONE task before)", {
        val p = planOf(spark, byName, sfDir, "q107_fuzzy_blocked_join")
        !p.contains("CartesianProduct") && !p.contains("NestedLoop") &&
          p.contains("hashpartitioning(blk")
      }),
      ("q46 incremental dedup joins new-vs-existing on the LSH bucket " +
        "key (band, sig) — bucket-bounded, never corpus x corpus", {
        val p = planOf(spark, byName, sfDir, "q46_dedup_incremental")
        "keys \\[2\\]: \\[band#\\d+, sig#\\d+\\]".r.findFirstIn(p).isDefined &&
          !p.contains("CartesianProduct")
      }),
      ("q74 BM25 broadcasts the |terms|-row document-frequency agg and " +
        "plans top-k as TakeOrderedAndProject (no global sort)", {
        val p = planOf(spark, byName, sfDir, "q74_bm25_search")
        p.contains("BroadcastHashJoin") && p.contains("TakeOrderedAndProject")
      }),
      ("q118 snapshot diff is ONE full-outer merge join on the PK; the " +
        "column compare is map-side above it", {
        val p = planOf(spark, byName, sfDir, "q118_snapshot_diff")
        p.contains("SortMergeJoin") && p.contains("FullOuter") &&
          !p.contains("CartesianProduct")
      }),
      ("q121 fact scan carries a runtime Bloom filter built from the " +
        "filtered join side (might_contain), so non-joining rows die " +
        "at the scan, not on the shuffle",
        planOf(spark, byName, sfDir, "q121_bloom_join_pruning")
          .contains("might_contain")),
      ("q47 span-dedup shuffles on the int64 span hash (hash equi-join " +
        "on gh), never the span text, and plans no cartesian stage", {
        val p = planOf(spark, byName, sfDir, "q47_dup_span_detection")
        "keys \\[1\\]: \\[gh#\\d+L?\\]".r.findFirstIn(p).isDefined &&
          !p.contains("CartesianProduct")
      }),
      ("q56 PQ broadcasts the codebook and the per-query ADC table; " +
        "the refine shortlist is also broadcast — no shuffle ever " +
        "carries raw vectors to the probe", {
        val p = planOf(spark, byName, sfDir, "q56_knn_pq")
        "BroadcastHashJoin".r.findAllIn(p).size >= 3 &&
          !p.contains("CartesianProduct")
      }),
      ("q79 hybrid search broadcasts the bounded BM25 candidate set " +
        "into the embedding probe (semantic stage never shuffles the " +
        "corpus)", {
        val p = planOf(spark, byName, sfDir, "q79_hybrid_search")
        p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct")
      }),
      ("q133 Q18-shape broadcasts the qualifying-order-keys aggregate " +
        "back against orders (aggregate-then-join, fact never " +
        "re-shuffles)", {
        val p = planOf(spark, byName, sfDir, "q133_tpch_q18_large_orders")
        p.contains("BroadcastHashJoin") && p.contains("TakeOrderedAndProject")
      }),
      ("q134 Q4-shape plans EXISTS as a LeftSemi join (no row " +
        "multiplication, no per-row subquery)",
        planOf(spark, byName, sfDir, "q134_tpch_q4_priority_check")
          .contains("LeftSemi")),
      ("q48 leakage audit probes the unique train-span index with ONE " +
        "hash equi-join on the int64 span hash, and the whole audit " +
        "scans documents exactly twice (train side + test side — no " +
        "re-derived span explode per consumer)", {
        val p = planOf(spark, byName, sfDir, "q48_cross_split_leakage")
        // formatted mode prints each scan twice (tree + details), so
        // count the numbered detail entries — one per physical scan
        "keys \\[1\\]: \\[gh#\\d+L?\\]".r.findFirstIn(p).isDefined &&
          !p.contains("CartesianProduct") &&
          "\\(\\d+\\) Scan parquet".r.findAllIn(p).size <= 2
      }),
      ("q49 temperature mixing broadcasts the |langs|-row target table " +
        "into the selection window",
        planOf(spark, byName, sfDir, "q49_temperature_mixing")
          .contains("BroadcastHashJoin")),
      ("q58 repetition signals: map-side-combined hash-aggs and a " +
        "hash-partitioned per-doc join — no merge-join sort, no " +
        "cartesian (the trailing Sort is the gate's ORDER BY " +
        "determinism contract, not a compute stage)", {
        val p = planOf(spark, byName, sfDir, "q58_repetition_signals")
        p.contains("HashAggregate") && !p.contains("CartesianProduct") &&
          !p.contains("SortMergeJoin")
      }),
      ("q137 disjunctive predicate keeps the broadcast hash join (the " +
        "OR straddling both sides must not degrade to a nested loop)", {
        val p = planOf(spark, byName, sfDir, "q137_tpch_q19_disjunctive")
        p.contains("BroadcastHashJoin") && !p.contains("NestedLoop")
      }),
      ("q138 Q17-shape decorrelates the per-part AVG to one hash-agg " +
        "broadcast back against the brand-filtered fact (no per-row " +
        "subquery, no cartesian)", {
        val p = planOf(spark, byName, sfDir, "q138_tpch_q17_small_qty")
        p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct")
      }),
      ("q140 Q15-shape turns `= (SELECT MAX)` into a 1-row broadcast " +
        "against the per-supplier rollup — exact-decimal equality, no " +
        "nested loop over the fact", {
        val p = planOf(spark, byName, sfDir, "q140_tpch_q15_top_supplier")
        p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct")
      }),
      ("q144 Q16-shape NOT IN plans as a broadcast LeftAnti (Catalyst " +
        "proved the keys non-null and dropped the null-aware residual " +
        "condition)", {
        val p = planOf(spark, byName, sfDir,
          "q144_tpch_q16_supplier_diversity")
        p.contains("LeftAnti") && p.contains("BroadcastHashJoin")
      }),
      ("q145 Q21-shape double correlation is two LeftSemi joins " +
        "against order-cardinality count aggregates (r15: the EXISTS/" +
        "NOT-EXISTS pair-set joins reduced to n_supp>=2 / n_late=1 " +
        "semi-filters — fewer shuffled bytes at any scale) — no " +
        "cartesian, no nested loop", {
        val p = planOf(spark, byName, sfDir,
          "q145_tpch_q21_waiting_supplier")
        "LeftSemi".r.findAllIn(p).size >= 2 &&
          !p.contains("CartesianProduct") && !p.contains("NestedLoop")
      }),
      ("q146 Q1-shape is one map-side-combined aggregation with the " +
        "date filter pushed to the scan and no join anywhere", {
        val p = planOf(spark, byName, sfDir, "q146_tpch_q1_pricing_summary")
        p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate") &&
          !p.contains("Join")
      }),
      ("q148 Q6-shape pushes the date range AND the widened raw-double " +
        "superset bounds for the decimal band predicates into the " +
        "parquet scan (exact decimal refine stays post-scan)", {
        val p = planOf(spark, byName, sfDir, "q148_tpch_q6_forecast_revenue")
        p.contains("GreaterThanOrEqual(l_shipdate") &&
          p.contains("GreaterThanOrEqual(l_discount,0.0449999)") &&
          p.contains("LessThanOrEqual(l_quantity,23.9950001)") &&
          !p.contains("Join")
      }),
      ("q151 Q20-shape runs the HAVING aggregate fact-side first and " +
        "semi-joins the rare qualifying key set against the supplier dim", {
        val p = planOf(spark, byName, sfDir, "q151_tpch_q20_promo_suppliers")
        p.contains("LeftSemi") && p.contains("BroadcastHashJoin")
      }),
      ("q59 percentile prune is threshold-aggregate + broadcast join " +
        "back — no per-source window sort anywhere in the plan", {
        val p = planOf(spark, byName, sfDir, "q59_quality_percentile_prune")
        p.contains("BroadcastHashJoin") && !p.contains("Window")
      }),
      ("q147 Q2-shape argmin: distinct pair reduction feeds dim-bounded " +
        "broadcasts (part filter applied BEFORE the min — r15); the " +
        "per-part min is a window over ONE partkey exchange (keyed " +
        "partition, never a global window), no join-back exchange, no " +
        "nested loop", {
        val p = planOf(spark, byName, sfDir, "q147_tpch_q2_min_cost_supplier")
        p.contains("BroadcastHashJoin") &&
          p.contains("windowspecdefinition(p_partkey") &&
          !p.contains("NestedLoop") && !p.contains("CartesianProduct")
      }),
      ("q156 semdedup pair space is an equi-join blocked on the cell " +
        "key and survivors come from an anti-join — no all-pairs scan", {
        val p = planOf(spark, byName, sfDir, "q156_semdedup")
        p.contains("[cell") && p.contains("LeftAnti") &&
          !p.contains("NestedLoop") && !p.contains("CartesianProduct")
      }),
      ("q157 DSIR broadcasts the bucket-bounded weight table into the " +
        "scoring pass and plans the selection as TakeOrderedAndProject " +
        "(no global sort, no cartesian)", {
        val p = planOf(spark, byName, sfDir,
          "q157_dsir_importance_resampling")
        p.contains("BroadcastHashJoin") &&
          p.contains("TakeOrderedAndProject") &&
          !p.contains("CartesianProduct")
      }),
      ("q158 CCNet bucketing: the tertile Window runs over the " +
        "aggregated (lang, cb) histogram (child of the Window is a " +
        "HashAggregate, never the raw corpus) and the cuts broadcast " +
        "back into the per-doc assignment", {
        val p = planOf(spark, byName, sfDir,
          "q158_ccnet_perplexity_buckets")
        p.contains("BroadcastHashJoin") && p.contains("Window") &&
          !p.contains("CartesianProduct")
      }),
      ("q159 PageRank rounds are hash-partitioned message passing — " +
        "contributions aggregate on the destination key; no " +
        "nested-loop or cartesian stage anywhere (|nodes| seeds the " +
        "plan as a driver literal off the checkpointed degree frame)", {
        val p = planOf(spark, byName, sfDir, "q159_pagerank_fixed_point")
        "hashpartitioning\\(dst".r.findFirstIn(p).isDefined &&
          !p.contains("CartesianProduct") && !p.contains("NestedLoop")
      }),
      ("q159 pagerank above the broadcast-node threshold trips " +
        "data-driven: rounds become shuffle joins against the " +
        "src-partitioned checkpointed edge blocks — no " +
        "BroadcastHashJoin carries the rank vector and the edge list " +
        "never re-exchanges on src", {
        val t = ops.Tables(spark, sfDir)
        // bind ONE instance of each side: Tables members are defs, so a
        // second call mints fresh exprIds and the join condition would
        // reference attributes missing from the children
        val l = t.lineitem
        val o = t.orders
        val eo = l
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .selectExpr("o_custkey*2 as src", "l_suppkey*2+1 as dst")
          .distinct()
        val edges = eo.unionAll(eo.selectExpr("dst as src", "src as dst"))
        val p = ops.GraphRank.pagerank(edges, broadcastMaxNodes = 0)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        // every hashpartitioning(src) in the plan must sit ON the
        // checkpointed edge scan (the preserved layout), never in an
        // Exchange — an Exchange on src would mean the fact-sized edge
        // blocks re-shuffle per round
        val srcParts = "hashpartitioning\\(src#".r.findAllIn(p).size
        val onScan =
          "ExistingRDD, hashpartitioning\\(src#".r.findAllIn(p).size
        !p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct") &&
          srcParts > 0 && srcParts == onScan
      }),
      ("q160 diversity pre-aggregates trigram types before the rollup " +
        "— map-side-combined hash-aggs, no countDistinct Expand, no " +
        "join anywhere", {
        val p = planOf(spark, byName, sfDir, "q160_source_ngram_diversity")
        p.contains("HashAggregate") && !p.contains("Expand") &&
          !p.contains("Join")
      }),
      ("q163 histogram quantiles: the corpus-sized stage is one " +
        "map-side-combined (group, bin) hash-agg; the rank Window runs " +
        "over the aggregated histogram and no join touches the data", {
        val p = planOf(spark, byName, sfDir, "q163_histogram_quantiles")
        p.contains("partial_count") && p.contains("Window") &&
          !p.contains("Join")
      }),
      ("q165 multi-length span dedup scans documents ONCE and joins " +
        "nothing: the shared-by-2-docs test is a constant-memory " +
        "min/max window over the single (len, gh) span shuffle (the " +
        "q43 window-over-one-exchange discipline)", {
        val df = byName("q165_multilen_span_dedup").run(spark, sfDir)
        df.collect()
        val p = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val finalTree = p.split("== Initial Plan ==").head
        "Scan parquet".r.findAllIn(finalTree).size == 1 &&
          !finalTree.contains("Join") && finalTree.contains("Window")
      }),
      ("q167 BPE encode is a pure chained-replace projection over the " +
        "(source, word) hash-agg — ZERO joins (the former vocab inner " +
        "join, correct only by same-corpus construction, is gone; OOV " +
        "dropout is structurally impossible)", {
        val p = planOf(spark, byName, sfDir, "q167_bpe_encode_fertility")
        !p.contains("Join") && p.contains("replace(")
      }),
      ("q168 classifier scans documents ONCE (unigram + bigram buckets " +
        "explode in one projection), the 4096-row weight table joins " +
        "by broadcast, and the per-doc rollup partially aggregates " +
        "map-side", {
        val p = planOf(spark, byName, sfDir, "q168_quality_classifier")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1 &&
          p.contains("BroadcastHashJoin") && p.contains("partial_count")
      }),
      ("q169 Hamming ANN: code construction is a shuffle-free scan " +
        "projection (bit_count distance in the probe), and no " +
        "cartesian stage exists — the probe side broadcasts", {
        val p = planOf(spark, byName, sfDir, "q169_knn_hamming")
        p.contains("bit_count") && !p.contains("CartesianProduct") &&
          p.contains("BroadcastExchange")
      }),
      ("q170 drift: documents feeds ONE map-side-combined (source, " +
        "bin) hash-agg — reference histogram, source totals, and the " +
        "corpus total all re-derive from it (AQE exchange reuse + a " +
        "grid window), so the executed gate plan scans parquet once", {
        val df = byName("q170_distribution_drift").run(spark, sfDir)
        df.collect()
        val p = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val finalTree = p.split("== Initial Plan ==").head
        "Scan parquet".r.findAllIn(finalTree).size == 1 &&
          "ReusedExchange".r.findAllIn(finalTree).size >= 2 &&
          finalTree.contains("BroadcastExchange")
      }),
      ("q171 embedding drift: embeddings scanned ONCE — label totals " +
        "and global centroid are windows over the one (label, dim) " +
        "aggregate (the q43 discipline), no join anywhere", {
        val p = planOf(spark, byName, sfDir, "q171_embedding_drift")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1 &&
          "Window".r.findAllIn(p).nonEmpty && !p.contains("Join") &&
          p.contains("partial_sum")
      }),
      ("q173 held-out BPE: ENCODING is a chained-replace projection " +
        "over the held-out word agg — no join in the encode path (no " +
        "OOV dropout possible); the only join is the broadcast LEFT " +
        "join against the vocab word list for n_unseen, and the gate " +
        "plan scans parquet once (training is memoized checkpoint " +
        "state)", {
        val p = planOf(spark, byName, sfDir, "q173_bpe_heldout_fertility")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1 &&
          p.contains("BroadcastHashJoin") && p.contains("LeftOuter") &&
          p.contains("replace(") && !p.contains("CartesianProduct")
      }),
      ("q174 unigram-LM: the steady-state gate plan reads the memoized " +
        "trained vocabulary (a session checkpoint — NO parquet rescan, " +
        "training is the ingest half) and plans top-k as " +
        "TakeOrderedAndProject, not a global sort", {
        val p = planOf(spark, byName, sfDir, "q174_unigram_lm_vocab")
        !p.contains("Scan parquet") && p.contains("TakeOrderedAndProject") &&
          p.contains("Scan ExistingRDD")
      }),
      ("q175 held-out unigram eval: the held-out corpus is scanned and " +
        "word-aggregated ONCE (the materialized hw checkpoint feeds " +
        "both the DP input and the final rollup — the gate plan reads " +
        "no parquet at all); per-word token counts rejoin by broadcast " +
        "LEFT join (unseen words become <unk>, never dropped)", {
        val p = planOf(spark, byName, sfDir,
          "q175_unigram_heldout_fertility")
        !p.contains("Scan parquet") &&
          p.contains("BroadcastHashJoin") && p.contains("LeftOuter") &&
          p.contains("Scan ExistingRDD")
      }),
      ("q176 epoch score rollup reuses the feature checkpoint's doc_id " +
        "hash partitioning: the per-doc aggregate sits directly on the " +
        "partitioned ExistingRDD scan with NO shuffle exchange anywhere " +
        "in the plan, and the epoch weights join by broadcast", {
        val p = epochScoresPlan
        "ExistingRDD, hashpartitioning\\(doc_id#".r.findFirstIn(p)
          .isDefined &&
          !p.contains("Exchange hashpartitioning") &&
          p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct")
      }),
      ("q176 epoch miss-join (the checkpoint's second consumer) never " +
        "re-exchanges the feature table: the fx scan's doc_id attribute " +
        "appears in NO Exchange (the delta-sized miss set may exchange " +
        "on ITS doc_id — that shuffle carries |miss| rows, not " +
        "features; the feature-table side rides its checkpointed " +
        "partitioning)", {
        val p = epochDeltaPlan
        val fxIds = "ExistingRDD, hashpartitioning\\(doc_id#(\\d+)".r
          .findAllMatchIn(p).map(_.group(1)).toSet
        fxIds.nonEmpty &&
          fxIds.forall(id =>
            !p.contains(s"Exchange hashpartitioning(doc_id#$id")) &&
          !p.contains("CartesianProduct") && !p.contains("NestedLoop")
      }),
      ("q177 held-out eval scans NO parquet in the gate plan (the held " +
        "corpus is checkpointed once and feeds both the feature explode " +
        "and the split rollup); teacher + student weights are merged " +
        "into ONE broadcast join; no cartesian anywhere", {
        val p = planOf(spark, byName, sfDir,
          "q177_classifier_holdout_eval")
        !p.contains("Scan parquet") && p.contains("Scan ExistingRDD") &&
          p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct")
      }),
      ("q178 composed curation DAG: the executed gate plan scans ZERO " +
        "parquet — the survivor checkpoint (the single stage boundary) " +
        "feeds BOTH the split assignment and the classifier feature " +
        "explode; the 4096-row weight table joins by broadcast and the " +
        "split⋈scores rejoin is the only exchange-bearing join", {
        val p = planOf(spark, byName, sfDir, "q178_curation_pipeline")
        !p.contains("Scan parquet") &&
          "Scan ExistingRDD".r.findAllIn(p).nonEmpty &&
          p.contains("BroadcastHashJoin") && p.contains("LeftOuter") &&
          !p.contains("CartesianProduct")
      }),
      ("q181 curate-then-tokenize DAG: the executed gate plan scans " +
        "ZERO parquet (the survivor checkpoint feeds split, scoring, " +
        "AND the tokenizer stage; BPE training is memoized ingest), the " +
        "encode is a chained-replace projection (replace( in-plan, no " +
        "vocab join), classifier weights join by broadcast, no cartesian", {
        val p = planOf(spark, byName, sfDir,
          "q181_curation_pipeline_tokenized")
        !p.contains("Scan parquet") && p.contains("Scan ExistingRDD") &&
          p.contains("replace(") && p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct")
      }),
      ("q182 multi-frame real-decode gate: like q179, the decode seam " +
        "is per-partition imperative code — the post-decode plan is a " +
        "pure projection + determinism sort over the seam's ExistingRDD " +
        "scan, with no join and no aggregation (frame directory, " +
        "geometry, and cross-frame channel means all come out of the " +
        "container parser)", {
        val p = planOf(spark, byName, sfDir,
          "q182_multimodal_frames_decode")
        p.contains("Scan ExistingRDD") && !p.contains("Join") &&
          !p.contains("CartesianProduct") && !p.contains("HashAggregate")
      }),
      ("q183 real-resize gate: transform (box downscale) and decode " +
        "are two chained per-partition seams — the plan is a pure " +
        "projection + determinism sort over the seams' ExistingRDD " +
        "scan, no join, no aggregation, no cartesian", {
        val p = planOf(spark, byName, sfDir, "q183_multimodal_real_resize")
        p.contains("Scan ExistingRDD") && !p.contains("Join") &&
          !p.contains("CartesianProduct") && !p.contains("HashAggregate")
      }),
      ("q185 complete pipeline (dedup → split → score-filter → " +
        "tokenize → pack): gate plan scans ZERO parquet (one survivor " +
        "checkpoint feeds every stage), the pack is a per-source " +
        "running-sum Window over doc-level token counts (|kept docs| " +
        "rows, never tokens), encode is join-free chained-replace, " +
        "classifier weights broadcast, no cartesian", {
        val p = planOf(spark, byName, sfDir,
          "q185_curation_pipeline_packed")
        !p.contains("Scan parquet") && p.contains("Scan ExistingRDD") &&
          p.contains("replace(") && p.contains("Window") &&
          p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct")
      }),
      ("q200 provenance manifest: the attribution readout adds ONE " +
        "more Window over |kept docs| rows to q185's chain — the gate " +
        "plan still scans ZERO parquet (the survivor checkpoint feeds " +
        "every stage), no extra corpus pass, no cartesian", {
        val p = planOf(spark, byName, sfDir, "q200_curation_provenance")
        !p.contains("Scan parquet") && p.contains("Scan ExistingRDD") &&
          p.contains("Window") && !p.contains("CartesianProduct")
      }),
      ("q201 filtered ANN: the predicate applies BEFORE ranking — the " +
        "metadata join keys on member_id over the probe-bounded " +
        "candidate set (never |corpus|), the index enters through the " +
        "cell equi-join against the assignment store, the query fetch " +
        "pushes vec_id<10 to its scan, no cartesian", {
        val p = planOf(spark, byName, sfDir, "q201_knn_ivf_filtered")
        p.contains("assignments") && p.contains("LessThan(vec_id,10)") &&
          !p.contains("CartesianProduct")
      }),
      ("q202 cross-store refine: the ADC stage reads only the CODES " +
        "store; raw vectors enter through ONE shortlist-bounded " +
        "equi-join against the IVF assignment store (|queries|*32 " +
        "rows, never corpus-sized); both query fetches push vec_id<10; " +
        "no cartesian", {
        val p = planOf(spark, byName, sfDir, "q202_knn_ivfpq_refined")
        p.contains("codes") && p.contains("assignments") &&
          p.contains("LessThan(vec_id,10)") &&
          !p.contains("CartesianProduct")
      }),
      ("q203 dataset sharding has NO GLOBAL SORT: shard assignment is " +
        "a pure hash projection over ONE scan, the within-shard " +
        "position window partitions BY SHARD (parallel slices), and " +
        "the only Sort below the final ORDER BY is the per-shard " +
        "window sort — a single-partition global window would " +
        "serialize the corpus at 100 TB", {
        val p = planOf(spark, byName, sfDir, "q203_dataset_shard_plan")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1 &&
          p.contains("Window") && !p.contains("CartesianProduct") &&
          !p.contains("SinglePartition")
      }),
      ("q204 label propagation classifies the WHOLE unlabeled side " +
        "through the index: candidates come from the cell equi-join " +
        "against the assignment store (probe-bounded, never corpus x " +
        "corpus), the labeled-side restriction and label join key on " +
        "member_id, no cartesian", {
        val p = planOf(spark, byName, sfDir, "q204_knn_label_propagation")
        p.contains("assignments") && !p.contains("CartesianProduct")
      }),
      ("q206 corpus datasheet composes three verified plans into ONE " +
        "per-source hash-agg: the LSH-bucketed dup pair space, the " +
        "broadcast-weights scoring pass, and two doc-keyed LEFT joins " +
        "- no new corpus-sized stage, no cartesian", {
        val p = planOf(spark, byName, sfDir, "q206_corpus_datasheet")
        p.contains("BroadcastHashJoin") && p.contains("HashAggregate") &&
          !p.contains("CartesianProduct")
      }),
      ("q207 day-2 batch datasheet: the report is batch-sized over " +
        "PERSISTED artifacts — the existing corpus enters only through " +
        "the signature-index parquet probe, a Rounds-row merge read, " +
        "and the broadcast weight table; the batch token-hash " +
        "checkpoint feeds split, scoring, and encode; no cartesian", {
        val p = planOf(spark, byName, sfDir,
          "q207_curation_day2_datasheet")
        p.contains("Scan ExistingRDD") &&
          p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct")
      }),
      ("q205 perceptual media dedup: decode is the partition-local " +
        "real-parser seam (ExistingRDD scan), the grouping is ONE " +
        "hash-agg on the content fingerprint — the shuffle carries " +
        "|assets| short fingerprint rows, never pixels; no join, no " +
        "cartesian", {
        val p = planOf(spark, byName, sfDir, "q205_media_perceptual_dedup")
        p.contains("Scan ExistingRDD") && p.contains("HashAggregate") &&
          !p.contains("Join") && !p.contains("CartesianProduct")
      }),
      ("q186 persisted bigram-LM scoring: exactly two parquet scans — " +
        "the scored docs (bigram derive, a pure map stage) and the " +
        "counts store, whose partials merge in ONE hash-agg on the " +
        "int64 gh before the 8-byte-key equi-join; no cartesian", {
        val p = planOf(spark, byName, sfDir, "q186_ngram_lm_persisted")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 2 &&
          p.contains("counts") &&
          "keys \\[1\\]: \\[gh#\\d+L?\\]".r.findFirstIn(p).isDefined &&
          !p.contains("CartesianProduct")
      }),
      ("q184 persisted-BM25 search reads ONLY the postings store: the " +
        "query-term filter pushes to the index parquet scan (posting-" +
        "list cost, never corpus cost), df broadcasts back from the " +
        "same filtered postings, corpus stats are sidecar literals, " +
        "and top-k plans as TakeOrderedAndProject", {
        val p = planOf(spark, byName, sfDir, "q184_bm25_persisted_index")
        p.contains("postings") && p.contains("In(w, [") &&
          !p.contains("documents") && p.contains("BroadcastHashJoin") &&
          p.contains("TakeOrderedAndProject") &&
          !p.contains("CartesianProduct")
      }),
      ("q180 persisted-IVF search reads its candidates off the INDEX " +
        "parquet: the plan's two parquet scans are the vec_id<10 query " +
        "fetch (filter pushed to the scan) and the index assignment " +
        "table — the corpus embeddings are never re-assigned at query " +
        "time (centroids are a k-bounded driver read, not a plan node), " +
        "and the probe join shuffles on the cell key, no cartesian", {
        val p = planOf(spark, byName, sfDir, "q180_knn_ivf_persisted")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 2 &&
          p.contains("assignments") &&
          p.contains("LessThan(vec_id,10)") &&
          !p.contains("CartesianProduct")
      }),
      ("q208 deleted-members search pays exactly ONE extra plan stage " +
        "over q180: a deletes-sized LEFT ANTI join masking the " +
        "tombstoned ids off the assignment scan — three parquet scans " +
        "total (query fetch with the vec_id<10 filter pushed, the " +
        "assignment store, the tombstone store), no corpus re-read, " +
        "no cartesian", {
        val p = planOf(spark, byName, sfDir, "q208_knn_ivf_deleted")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 3 &&
          p.contains("assignments") && p.contains("tombs") &&
          p.toLowerCase.contains("leftanti") &&
          p.contains("LessThan(vec_id,10)") &&
          !p.contains("CartesianProduct")
      }),
      ("q197 incremental SemDeDup touches the index by ONE cell " +
        "equi-join and never re-reads the day-0/day-2 corpus: the " +
        "plan's two parquet scans are the day-3 batch fetch and the " +
        "index assignment store (recorded centroids are a k-bounded " +
        "driver read, not a plan node); candidate scoring is a hash " +
        "equi-join on the cell key — no cartesian, no corpus x corpus " +
        "pair stage", {
        val p = planOf(spark, byName, sfDir,
          "q197_semdedup_day3_increment")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 2 &&
          p.contains("assignments") &&
          !p.contains("CartesianProduct")
      }),
      ("q198 graph-ANN build: the k-NN graph's pair space blocks on " +
        "the cell key — a hash equi-join whose quadratic term is " +
        "bounded by cell occupancy, never corpus x corpus, no " +
        "cartesian — and the per-src top-degree rank is the " +
        "bounded-state TopK aggregator with a PARTIAL stage before " +
        "the exchange (the shuffle carries degree rows per src, not " +
        "the occupancy-sized pair space a window rank would move)", {
        graphBuildPlan.contains("cell") &&
          graphBuildPlan.contains("Join") &&
          graphBuildPlan.contains("partial_topklongaggregator") &&
          !graphBuildPlan.contains("CartesianProduct") &&
          !graphBuildPlan.contains("BroadcastNestedLoopJoin")
      }),
      ("q198 graph-ANN search: the gate plan reads the MEMOIZED edge " +
        "rows off session-scratch parquet (the corpus-sized build runs " +
        "once per session, not once per invocation — the q192 memo " +
        "precedent, round 14) and walks them through equi-joins on the " +
        "edge source key; round-1's visited set is the checkpointed " +
        "frame; no cartesian", {
        val p = planOf(spark, byName, sfDir, "q198_knn_graph_beam")
        p.contains("Scan ExistingRDD") &&
          p.contains("graph_q198") &&
          !p.contains("CartesianProduct")
      }),
      ("q199 persisted-graph search reads members and edges off the ONE " +
        "manifested store with the kind discriminator PUSHED to the " +
        "parquet scans (member/edge rows land in separate files, so " +
        "the filter prunes at file granularity); round 1's visited set " +
        "is the checkpointed frame (the corpus embeddings never rescan " +
        "in the final walk); no cartesian", {
        val p = planOf(spark, byName, sfDir, "q199_knn_graph_persisted")
        p.contains("EqualTo(kind,m)") && p.contains("EqualTo(kind,e)") &&
          p.contains("Scan ExistingRDD") &&
          !p.contains("CartesianProduct")
      }),
      ("q179 real-decode PPM gate: the decode seam is per-partition " +
        "imperative code over (asset_id, payload) rows — the post-" +
        "decode plan is a pure projection + the determinism sort over " +
        "the seam's ExistingRDD scan, with no join, no cartesian, and " +
        "no aggregation (channel means come out of the decoder itself)", {
        val p = planOf(spark, byName, sfDir, "q179_multimodal_ppm_decode")
        p.contains("Scan ExistingRDD") && !p.contains("Join") &&
          !p.contains("CartesianProduct") && !p.contains("HashAggregate")
      }),
      ("q187 day-2 increment over PERSISTED artifacts: the executed " +
        "gate plan scans ZERO parquet — the batch-survivor checkpoint " +
        "(probed against the on-disk signature index upstream) feeds " +
        "split, scoring, AND the tokenizer stage; the persisted " +
        "BpeModel applies as a join-free chained-replace projection; " +
        "classifier weights join by broadcast; no cartesian", {
        val p = planOf(spark, byName, sfDir,
          "q187_curation_day2_increment")
        !p.contains("Scan parquet") && p.contains("Scan ExistingRDD") &&
          p.contains("replace(") && p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct")
      }),
      ("q188 real-decode WAV gate: RIFF chunk walk + s16le sample scan " +
        "are per-partition imperative code — the post-decode plan is a " +
        "pure projection + determinism sort over the seam's ExistingRDD " +
        "scan, no join, no cartesian, no aggregation (channel means " +
        "come out of the decoder itself)", {
        val p = planOf(spark, byName, sfDir, "q188_multimodal_wav_decode")
        p.contains("Scan ExistingRDD") && !p.contains("Join") &&
          !p.contains("CartesianProduct") && !p.contains("HashAggregate")
      }),
      ("q190 persisted-classifier scoring: the batch is scanned ONCE " +
        "(the token-hash checkpoint feeds features, bias, and the " +
        "per-source rollup); the weight table enters as the memoized " +
        "session checkpoint (r15 — the read-only store is loaded once " +
        "per session, so the gate plan scans ZERO parquet), joined by " +
        "broadcast; no cartesian", {
        val p = planOf(spark, byName, sfDir,
          "q190_classifier_persisted_model")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 0 &&
          p.contains("BroadcastHashJoin") &&
          p.contains("Scan ExistingRDD") && !p.contains("CartesianProduct")
      }),
      ("q191 complete day-2 pipeline: every corpus-sized input enters " +
        "through a persisted artifact — the batch-survivor and " +
        "token-hash checkpoints are the only row sources besides the " +
        "student weight parquet (broadcast); the frozen tokenizer " +
        "applies as a join-free chained-replace projection; the pack " +
        "stage is one Window over per-doc rollups; no cartesian", {
        val p = planOf(spark, byName, sfDir, "q191_curation_day2_packed")
        // r15: the student weight table is the memoized session
        // checkpoint (read-only store loaded once), so the gate plan
        // scans ZERO parquet — every row source is a checkpoint scan
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 0 &&
          p.contains("BroadcastHashJoin") &&
          p.contains("Scan ExistingRDD") && p.contains("Window") &&
          p.contains("replace(") && !p.contains("CartesianProduct")
      }),
      ("q189 real-resample WAV gate: transform (floor-averaged 2x " +
        "downsample) and decode chain as two partition-local " +
        "mapPartitions passes — the post-decode plan is a pure " +
        "projection + determinism sort over the seam's ExistingRDD " +
        "scan, no join, no cartesian, no aggregation", {
        val p = planOf(spark, byName, sfDir,
          "q189_multimodal_wav_resample")
        p.contains("Scan ExistingRDD") && !p.contains("Join") &&
          !p.contains("CartesianProduct") && !p.contains("HashAggregate")
      }),
      ("q192 IVFPQ composes both scale levers in-plan: candidates come " +
        "from an equi-join on the cell key (never corpus x queries); " +
        "codebook, per-query ADC tables, and the refine shortlist are " +
        "all broadcast; the ONLY nested-loop is the k-row broadcast " +
        "centroid cross join of the probe stage; no cartesian", {
        val p = planOf(spark, byName, sfDir, "q192_knn_ivfpq")
        // count plan NODES via the FormattedMode detail headers — the
        // tree section prints every node name a second time
        "keys \\[1\\]: \\[cell#\\d+".r.findFirstIn(p).isDefined &&
          "\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 3 &&
          "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1 &&
          !p.contains("CartesianProduct")
      }),
      ("q194 persisted IVF-PQ search is CODES-ONLY in-plan: the only " +
        "index-side parquet scans are the codes store and the " +
        "broadcast-tier codebook; the corpus embeddings appear ONLY as " +
        "the vec_id<10 query fetch (once per search stage — probe and " +
        "ADC — both with the filter PUSHED to the scan), so no raw " +
        "corpus vector is read at query time; candidates come from the " +
        "cell-key equi-join against the codes scan, the ADC table " +
        "joins by broadcast, and the only nested loop is the k-row " +
        "centroid cross join", {
        val p = planOf(spark, byName, sfDir, "q194_knn_ivfpq_persisted")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 4 &&
          p.contains("codes-g") && p.contains("/codebook") &&
          // both query fetches carry the pushed range filter (the ADC
          // side's pushed list also carries IsNotNull(embedding), so
          // match the filter itself, not the whole bracket)
          "LessThan\\(vec_id,10\\)".r.findAllIn(p).size == 2 &&
          "keys \\[1\\]: \\[cell#\\d+".r.findFirstIn(p).isDefined &&
          "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1 &&
          !p.contains("CartesianProduct")
      }),
      ("q217 ANN eval harness: the system side reads the persisted " +
        "assignment store (cell equi-join, query fetch pushed); the " +
        "exact-truth side is q50's broadcast two-phase scan; the " +
        "metric join touches |queries|*8 rows; no cartesian", {
        val p = planOf(spark, byName, sfDir, "q217_ann_eval_recall")
        p.contains("assignments") &&
          p.contains("LessThan(vec_id,10)") &&
          !p.contains("CartesianProduct")
      }),
      ("q218 RRF fusion: each arm ends in a TakeOrdered top-20 (never " +
        "a global window over the corpus) and the ONLY windows are the " +
        "two 20-row rank assignments above the limits; the fusion is a " +
        "full-outer join of two 20-row frames; no cartesian", {
        val p = planOf(spark, byName, sfDir, "q218_rrf_fusion")
        "\\(\\d+\\) TakeOrderedAndProject".r.findAllIn(p).size >= 2 &&
          "\\(\\d+\\) Window".r.findAllIn(p).size == 2 &&
          p.contains("FullOuter") && !p.contains("CartesianProduct")
      }),
      ("q219 MMR rerank (r16): the greedy selection is ONE native " +
        "mmrpicks expression over a per-qid collect_list (the " +
        "ViterbiPieces move — the former 5-round driver loop paid " +
        "~1.2 s/gate in scheduling glue across 56 jobs); the " +
        "candidate aggregation REUSES the probe window's qid " +
        "exchange (partial+final collect with no exchange between), " +
        "so the whole gate carries exactly two shuffles (probe rank, " +
        "final order); no cartesian", {
        val p = planOf(spark, byName, sfDir, "q219_mmr_rerank")
        p.contains("explode(mmrpicks(") &&
          "\\(\\d+\\) ObjectHashAggregate".r.findAllIn(p).size == 2 &&
          "\\(\\d+\\) Exchange".r.findAllIn(p).size == 2 &&
          !p.contains("CartesianProduct")
      }),
      ("q220 k-anonymity audit: one pure hash-agg per generalization " +
        "level over one scan each — no join, no window, nothing " +
        "beyond a grouped count at any scale", {
        val p = planOf(spark, byName, sfDir, "q220_kanon_risk_audit")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 2 &&
          p.contains("HashAggregate") && p.contains("Union") &&
          !p.contains("Join") && !p.contains("Window") &&
          !p.contains("CartesianProduct")
      }),
      ("q221 waterfill allocation: the corpus is scanned ONCE into the " +
        "checkpointed per-source table; every window (prefix sums, " +
        "bonus rank) runs over that |sources|-row ExistingRDD — the " +
        "gate plan scans zero parquet; no cartesian", {
        val p = planOf(spark, byName, sfDir, "q221_budget_waterfill")
        !p.contains("Scan parquet") && p.contains("Scan ExistingRDD") &&
          p.contains("Window") && !p.contains("CartesianProduct")
      }),
      ("q222 nDCG eval shares q217's shape: the graded-metric join " +
        "reads the persisted assignment store through the cell " +
        "equi-join with the query fetch pushed; no cartesian", {
        val p = planOf(spark, byName, sfDir, "q222_ann_eval_ndcg")
        p.contains("assignments") &&
          p.contains("LessThan(vec_id,10)") &&
          !p.contains("CartesianProduct")
      }),
      ("q223 dedup eval: both pair spaces are key-bounded equi-joins " +
        "(band+signature buckets for the LSH prediction, capped " +
        "shingles for the Jaccard truth — the df-cap window runs " +
        "partitioned BY SHINGLE inside the one-pass shingle " +
        "materialization, r15: the capped-shingle frame is transient-" +
        "checkpointed so its three consumers read blocks instead of " +
        "re-deriving the explode+window subtree); the only nested " +
        "loops are the 1-row metric cross joins; no cartesian", {
        val p = planOf(spark, byName, sfDir, "q223_dedup_eval_prf")
        p.contains("Scan ExistingRDD") && !p.contains("CartesianProduct")
      }),
      ("q224 decontamination: the test-side span index meets the " +
        "train spans through a LEFT-SEMI join on the 8-byte span hash " +
        "(never doc x doc), and the rollup is one per-source hash-agg " +
        "— q48's audit physics reused for enforcement; no cartesian, " +
        "no nested loop", {
        val p = planOf(spark, byName, sfDir, "q224_decontaminate_train")
        p.contains("LeftSemi") && !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")
      }),
      ("q225 l-diversity: ONE scan into the single-distinct aggregate " +
        "ladder (partial agg on (QI, segment) before the exchange — " +
        "map-side combined, the one-distinct plan Catalyst picks " +
        "instead of Expand), no join, no window", {
        val p = planOf(spark, byName, sfDir, "q225_ldiversity_audit")
        "\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1 &&
          "\\(\\d+\\) HashAggregate".r.findAllIn(p).size >= 3 &&
          !p.contains("Join") && !p.contains("Window") &&
          !p.contains("CartesianProduct")
      }),
      ("q226 graph-index eval: the system side walks the stored edge " +
        "rows (the members/edges store scans, kind filters pushed) — " +
        "never re-deriving the graph; the truth side is q50's " +
        "broadcast two-phase scan; no cartesian", {
        val p = planOf(spark, byName, sfDir, "q226_graph_eval_recall")
        p.contains("graph-g") && p.contains("LessThan(vec_id,10)") &&
          !p.contains("CartesianProduct")
      }),
      ("q227 decontaminated pack: the whole chain still runs off the " +
        "survivor checkpoint — the gate plan scans ZERO parquet, the " +
        "decon stage enters as a LEFT-SEMI + LEFT-ANTI over the span " +
        "hashes, the tokenizer applies join-free (chained replace), " +
        "and the pack window runs per source; no cartesian", {
        val p = planOf(spark, byName, sfDir,
          "q227_decon_packed_pipeline")
        !p.contains("Scan parquet") && p.contains("Scan ExistingRDD") &&
          p.contains("LeftSemi") && p.contains("LeftAnti") &&
          p.contains("replace(") && p.contains("Window") &&
          !p.contains("CartesianProduct")
      }),
      ("q228 persisted RRF: BOTH arms answer off maintained stores — " +
        "the keyword arm scans the postings index with the term " +
        "filter pushed, the semantic arm the assignment store via the " +
        "cell equi-join; no documents/corpus re-scan at query time, " +
        "no cartesian", {
        val p = planOf(spark, byName, sfDir, "q228_rrf_persisted")
        p.contains("postings") && p.contains("assignments") &&
          !p.contains("documents.parquet") &&
          !p.contains("CartesianProduct")
      }),
      ("q229 lifecycle search: after build→append→takedown→compact→" +
        "republish-from-store, the gate reads the REBUILT assignment " +
        "store (generation reset to g0) via the cell equi-join — no " +
        "corpus re-scan beyond the 10-query probe (pushed filter), no " +
        "tombstone anti-join left (compact consumed the mask), no " +
        "cartesian; each lifecycle stage's own cost shape is the " +
        "arms' proven plans (delta projections, takedown-sized " +
        "tombstone appends) — only the republish is corpus-sized", {
        val p = planOf(spark, byName, sfDir, "q229_knn_ivf_lifecycle")
        p.contains("assignments-g0") &&
          p.contains("LessThan(vec_id,10)") &&
          !p.contains("tombs") && !p.contains("CartesianProduct")
      }),
      ("q230 republish decision: the monitor→decision sweep reads " +
        "SIDECARS only — the gate plan scans zero parquet (a " +
        "LocalTableScan of the per-store provenance rows), so " +
        "auditing a warehouse of stores costs one bounded metadata " +
        "read per store", {
        val p = planOf(spark, byName, sfDir, "q230_republish_decision")
        !p.contains("Scan parquet") && !p.contains("Join")
      }),
      ("q231 consolidated graph search: the walk reads the REBUILT " +
        "row store (graph-g0 — republish consumed the lazy-delete " +
        "mask, so no tombstone anti-join remains) with kind filters " +
        "pushed; no cartesian", {
        val p = planOf(spark, byName, sfDir,
          "q231_knn_graph_consolidated")
        p.contains("graph-g0") && !p.contains("tombs") &&
          !p.contains("CartesianProduct")
      }),
      ("q232 three-system RRF: ALL THREE arms answer off maintained " +
        "stores — postings (term filter pushed), IVF assignments " +
        "(cell equi-join), graph row store (kind filters) — no " +
        "documents/corpus re-scan at query time, no cartesian", {
        val p = planOf(spark, byName, sfDir, "q232_rrf_three_system")
        p.contains("postings") && p.contains("assignments") &&
          p.contains("graph-g") && !p.contains("documents.parquet") &&
          !p.contains("CartesianProduct")
      }),
      ("q233 store-audit gate: the catalog sweep is pure metadata — " +
        "the gate plan scans zero parquet (sidecar reads happen " +
        "driver-side, bounded per store), no join, no window", {
        val p = planOf(spark, byName, sfDir, "q233_store_audit")
        !p.contains("Scan parquet") && !p.contains("Join") &&
          !p.contains("Window")
      }),
      ("q234 remediation loop: the gate plan re-emits the memoized " +
        "sweep readout (LocalTableScan, zero parquet) — the one-shot " +
        "act (republish of exactly the flagged stores) ran at ingest " +
        "and only flagged stores paid the corpus-sized rebuild", {
        val p = planOf(spark, byName, sfDir, "q234_remediation_loop")
        !p.contains("Scan parquet") && !p.contains("Join")
      }),
      ("q235 auto-remediated IVF-PQ search: the gate reads the store " +
        "the remediator REBUILT (codes-g0 + broadcast-tier codebook — " +
        "q194's codes-only read path verbatim) and the corpus appears " +
        "only as the pushed vec_id<10 query fetch: the remediation's " +
        "corpus-sized work happened at the one-shot sweep, none of it " +
        "recurs in the serving plan; no cartesian", {
        val p = planOf(spark, byName, sfDir,
          "q235_knn_ivfpq_autoremediated")
        p.contains("codes-g0") && p.contains("/codebook") &&
          "LessThan\\(vec_id,10\\)".r.findAllIn(p).size == 2 &&
          "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1 &&
          !p.contains("CartesianProduct")
      }),
      ("q236 warehouse maintenance: the gate plan re-emits the " +
        "memoized fsck->vacuum->remediate readout (LocalTableScan, " +
        "zero parquet) — per store the sweep reads sidecars/listings, " +
        "vacuum touches only garbage files, and only a healthy AND " +
        "flagged store paid a corpus-sized republish at ingest", {
        val p = planOf(spark, byName, sfDir,
          "q236_warehouse_maintenance")
        !p.contains("Scan parquet") && !p.contains("Join")
      }),
      ("q237 transform remediation: the gate plan re-emits the " +
        "memoized transform-sweep readout (LocalTableScan, zero " +
        "parquet) — the corpus-sized retrains of the two located " +
        "stores ran at the one-shot sweep; the locator-less store's " +
        "queue row cost a sidecar read", {
        val p = planOf(spark, byName, sfDir,
          "q237_transform_remediation")
        !p.contains("Scan parquet") && !p.contains("Join")
      }),
      ("q238 auto-remediated BPE model: the gate plan re-emits the " +
        "Rounds-row merge table (LocalTableScan — BpeModel.load's " +
        "verified read off the republished merges-g1 generation is a " +
        "driver-side Rounds-bounded collect, the IVF-centroid-pull " +
        "class) — zero corpus scans, zero joins; applying the " +
        "remediated model stays the chained-replace projection", {
        val p = planOf(spark, byName, sfDir, "q238_bpe_autoremediated")
        !p.contains("Scan parquet") && !p.contains("Join")
      }),
      ("q239 auto-remediated classifier scoring: q190's day-2 read " +
        "shape off the RETRAINED weight table (weights-g1, the " +
        "broadcast side) — the batch is the only corpus-sized input " +
        "(doc_id%2=1 pushed to its scan); the training corpus never " +
        "re-enters the serving plan; no cartesian", {
        val p = planOf(spark, byName, sfDir, "q239_clf_autoremediated")
        p.contains("weights-g1") && p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct")
      }))

    val summary = checks.map { case (label, ok) =>
      s"- [${if (ok) "x" else " "}] $label"
    }.mkString("\n")

    val header =
      s"""# Physical plan audit
         |
         |Generated by `graft.ExplainAudit` at $sfDir. The checklist below
         |is asserted by the tool; the formatted plans follow for review.
         |
         |$summary
         |""".stripMargin
    Files.writeString(Paths.get("PLANS.md"),
      stable(header + "\n" + sections.mkString("\n")))
    checks.foreach { case (label, ok) =>
      println(s"[audit] ${if (ok) "PASS" else "FAIL"} $label")
    }
    spark.stop()
    if (checks.exists(!_._2)) sys.exit(1)
  }

  /** Plan text with its run-specific tokens replaced, so a rerun over
    * the same code writes the same PLANS.md: expression ids, plan ids,
    * object hashes and the application id in session scratch paths.
    * Only the written text is normalised; the checks read raw plans.
    */
  private def stable(plan: String): String =
    plan
      .replaceAll("#\\d+", "#n")
      .replaceAll("plan_id=\\d+", "plan_id=n")
      .replaceAll("(?<=[\\w$])@[0-9a-f]{1,8}\\b", "@hash")
      .replaceAll("_local-\\d+", "_local-app")

  private def planOf(spark: SparkSession,
      byName: Map[String, ops.EngineQuery], sfDir: String,
      name: String): String = {
    val p = byName(name).run(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the plan string is captured; per-call transient checkpoints are
    // dead — without this the 50-section audit accumulates them
    ops.SessionScratch.evictTransients()
    p
  }
}
