package graft

/** Global plan-shape invariants swept across the WHOLE lazy query
  * surface — the anti-patterns that sink a 100 TB run, asserted once
  * for every registered query rather than per-operator:
  *
  *  - `CartesianProduct` (the unbounded non-broadcast n×m join) must
  *    never appear. Every intentional "join everything against X" in
  *    this engine goes through `broadcast()` of a provably bounded X.
  *  - `BroadcastNestedLoopJoin` may appear ONLY in queries that join
  *    against a bounded probe (1-row query vectors / scalar aggregates)
  *    or a bounded dimension (centroid/codebook tables, the distinct
  *    event-type spine) — whitelisted here with their justification.
  *
  * New queries that legitimately broadcast a bounded side must be
  * added to the whitelist consciously; anything else failing this spec
  * is a plan regression, caught before it ships.
  */
class PlanInvariantsSpec extends SparkSpec {

  // query -> why its BroadcastNestedLoopJoin side is bounded
  private val bnljBounded: Map[String, String] = Map(
    "qcs_moran_autocorr"   -> "two 1-row moment aggregates (global n/Σv, then pair-sum × self-sum combine)",
    "qd1_txn_vacuum"       -> "crossJoin(broadcast(1-row v0-sum aggregate)) folded next to the v1 aggregate",
    "qd5_txn_append_log"   -> "crossJoin(broadcast(1-row probe aggregate)) next to the head aggregate",
    "qd8_txn_surgical_delete" -> "crossJoin(broadcast(1-row v0-sum aggregate)) next to the v1 aggregate",
    "qdl_sql_surgical_delete" -> "crossJoin(broadcast(1-row VERSION-AS-OF sum aggregates)) next to the head aggregate",
    "qdp_sql_update" -> "crossJoin(broadcast(1-row VERSION-AS-OF-1 sum aggregate)) next to the head aggregate",
    "qds_sql_metadata_agg" -> "crossJoin(broadcast(1-row count-distinct negative-control aggregate)) next to the 1-row metadata fold",
    "qdu_sql_group_filtered_update" -> "crossJoin(broadcast(1-row VERSION-AS-OF-1 sum aggregate)) next to the head aggregate",
    "qdx_sql_truncate" -> "crossJoin(broadcast(1-row VERSION-AS-OF-2 sum aggregate)) next to the head aggregate",
    "qe1_txn_delete_vectors" -> "crossJoin(broadcast(1-row v0/v1 aggregates)) next to the head aggregate",
    "qe2_txn_restore" -> "crossJoin(broadcast(1-row restored-version aggregate)) next to the head aggregate",
    "qe3_sql_column_mapping" -> "crossJoin(broadcast(1-row VERSION-AS-OF sum aggregates)) next to the head aggregate",
    "qe4_txn_shallow_clone" -> "crossJoin(broadcast(1-row clone-head aggregate)) next to the source aggregate",
    "qeb_sql_metadata_sum" -> "crossJoin(broadcast(1-row key-sum negative-control aggregate)) next to the 1-row metadata fold",
    "qec_sql_mor_read" -> "crossJoin(broadcast(1-row metadata-count / decline-control / probe / time-travel aggregates)) next to the head aggregate",
    "qed_sql_mor_dml" -> "crossJoin(broadcast(1-row VERSION AS OF 3 aggregate)) next to the head aggregate",
    "qef_sql_typed_stats" -> "crossJoin(broadcast(1-row string/range/control probe aggregates)) next to the date-probe aggregate",
    "qeg_sql_mapped_dml" -> "crossJoin(broadcast(1-row VERSION AS OF 2 aggregate)) next to the head aggregate",
    "qek_lakehouse_lifecycle" -> "crossJoin(broadcast(1-row probe/live/time-travel aggregates)) next to the final aggregate (eager-excluded from the sweep; listed for completeness)",
    "qem_sql_compact" -> "crossJoin(broadcast(1-row post-compact band-probe aggregate)) next to the content-invariant aggregate",
    "qeo_sql_merge_by_source" -> "crossJoin(broadcast(1-row VERSION-AS-OF-1 sum aggregate)) next to the head aggregate",
    "qeq_sql_type_widening" -> "crossJoin(broadcast(1-row VERSION-AS-OF-1 narrow-type sum aggregate)) next to the head aggregate",
    "q1a_sql_subqueries"   -> "correlated scalar subquery decorrelates to a broadcast of a per-key aggregate; EXISTS/NOT IN sides are semi/anti",
    "q3e_gap_fill"         -> "dense spine × broadcast(distinct event types): the type dim is enum-bounded",
    "q44_tfidf_top_terms"  -> "crossJoin(n_docs): a 1-row scalar aggregate",
    "q46_weighted_sample"  -> "1-row rate table",
    "q48_repetition_filter" -> "1-row corpus stats probe",
    "q49_decontamination"  -> "broadcast of the (small) eval-set gram table",
    "q4a_unigram_logprob"  -> "1-row token-total aggregate",
    "q4b_group_split"      -> "1-row leak-audit aggregate",
    "q4c_heavy_hitters"    -> "1-row total-count aggregate",
    "q4g_temperature_mixture" -> "1-row normalization aggregate + per-stratum rate dim",
    "q54_simhash_buckets"  -> "1-row corpus-invariant aggregates",
    "q55_ngram_jaccard"    -> "1-row × 1-row contract probe",
    "q56_embedding_neardup" -> "1-row hyperplane-contract probe",
    "q57_dup_components"   -> "1-row fixpoint probe",
    "q59_canonical_dedup"  -> "1-row fixpoint probe",
    "q5a_semantic_dedup"   -> "broadcast(first-nLists centroid table), 4 rows",
    "q61_cosine_topk"      -> "broadcast(1-row query vector)",
    "qao_tvf_cosine_topk"  -> "broadcast(1-row query vector) — q61's plan reached through the TVF",
    "q64_ivf_buckets"      -> "broadcast(first-nLists centroid table), 4 rows",
    "q68_pq_audit"         -> "broadcast(k-row codebook), 8 rows",
    "q6a_pq_adc_topk"      -> "broadcast(codebook + 1-row query)",
    "q25_approx_distinct"  -> "1-row sketch-contract probe",
    "q58_quantile_sketch"  -> "1-row sketch-contract probe",
    "q5d_triangle_count"   -> "1-row global-total aggregate broadcast back",
    "q4j_bigram_score"     -> "1-row vocabulary-size aggregate",
    "q6c_knn_join"         -> "broadcast(8-row query block)",
    "q6d_hamming_topk"     -> "broadcast(4-row packed query block)",
    "q2h_scd2_point_in_time" -> "1-row completeness audit",
    "q52_minhash_pairs"     -> "1-row recall-contract probes (truth/found/candidate aggregates)",
    "q5f_pagerank_converged" -> "1-row dangling-mass aggregate redistributed each iteration",
    "q1l_data_profile_approx" -> "1-row exact-distinct contract arm broadcast onto the 1-row sketch arm",
    "q4o_pmi_pairs" -> "1-row corpus-size aggregate broadcast onto the pair table",
    "q4q_fuzzy_decontamination" -> "1-row recall-contract probes (q52 pattern, cross-split)",
    "q5i_link_prediction" -> "1-row capped-center count folded onto every graded row",
    "q6g_rerank_topk" -> "broadcast(1-row query vector) + 1-row recall-contract probe (q61/q62 pattern)",
    "q4r_bm25_scoring" -> "1-row corpus-stats aggregate (sum_dl, n_docs) broadcast onto the postings",
    "q1v_kendall_tau" -> "broadcast(contingency table bounded by the value domain, <=|qty|x|disc| rows) + 1-row marginal aggregates",
    "q3s_volume_acf" -> "1-row total/denominator aggregates + 4-row lag dimension, all broadcast onto the 720-row hourly spine",
    "q4y_negative_sampling" -> "1-row item-count aggregate broadcast onto the bounded user/trial spine",
    "q6l_hard_negatives" -> "broadcast(8-row anchor block) + per-anchor hardest-positive broadcast (q6c pattern)",
    "q2p_cdc_apply" -> "1-row op-count aggregate broadcast onto the 1-row applied-state aggregate",
    "q5n_clustering_coeff" -> "1-row triangle-total + 1-row wedge-total aggregates broadcast back (q5d pattern)",
    "q8d_component_sizes" -> "q57's 1-row fixpoint probe (the histogram rides duplicateComponents)",
    "q7c_cf_coverage" -> "1-row catalog-count + 1-row top10-share aggregates broadcast onto the 1-row totals",
    "q8e_importance_resampling" -> "1-row doc-count aggregate broadcast onto the topK-row (20) selection",
    "q8f_incremental_neardup" -> "1-row recall-contract probes (q52 pattern, index-vs-batch split stats)",
    "q8g_chunk_dedup" -> "1-row corpus-totals aggregate broadcast onto the topK-row (15) selection",
    "q8h_substring_dup_spans" -> "1-row corpus-totals aggregate broadcast onto the topK-row (12) selection",
    "q8j_source_divergence" -> "pair spine = broadcast self-join of the |sources|-row totals (non-equi sa<sb) + 1-row matrix-totals aggregate",
    "q8n_distinguishing_terms" -> "1-row (V, N) global-totals aggregate broadcast onto the scored counts",
    "q8o_interleaving_audit" -> "1-row corpus-total aggregate broadcast onto the |shards|x|sources| mix table",
    "q8p_embedding_health" -> "1-row anisotropy aggregate broadcast onto the |dims|-row (64) stats frame",
    "q8q_corpus_datasheet" -> "four 1-row per-table aggregates broadcast-crossed into the single datasheet row",
    "q8r_percolation_curve" -> "q57's 1-row fixpoint probe (ONE shared fixpoint over the threshold-tagged disjoint union graph)",
    "q9f_bpe_pairs" -> "1-row pair-universe totals aggregate broadcast onto the topK-row (20) selection (q8g pattern)",
    "q9n_hybrid_rrf" -> "broadcast(1-row query vector) on the vector leg (q61 pattern) + 1-row corpus-stats broadcast on the BM25 leg (q4r pattern)",
    "q9s_split_leakage" -> "1-row contaminated-eval-docs aggregate broadcast onto the fixed 6-row split-pair frame",
    "q9u_quantile_norm" -> "1-row corpus-count aggregate (from the <=10001-row score histogram) broadcast onto the ranked doc frame",
    "q9y_bpe_trainer_loop" -> "per-round 1-row argmax-pair broadcast onto the distinct-vocabulary frame + 1-row post-merge stat aggregates (4 rounds)",
    "qa0_robust_quarantine" -> "1-row quarantine-totals aggregate broadcast onto the |dims|-row (64) per-dim frame",
    "qa1_bpe_encode" -> "q9y's per-round 1-row argmax-pair broadcasts (the shared trainer loop) + |vocab|-row symbol-table broadcast",
    "q9p_recency_weights" -> "1-row max-timestamp aggregate broadcast onto the event scan",
    "q9v_threshold_sweep" -> "threshold frame (21 rows) range-joined to the <=21-bucket histogram — both sides bounded by the e4 grid",
    "qa9_als_serving" -> "broadcast(8-row probe-user block) + broadcast(nLists-row centroid table) — the q6c/q64 patterns over ALS factors",
    "qaj_model_persistence" -> "broadcast(8-row probe-user block) over the loaded item factors (qa9's exact-arm shape)",
    "qaa_tail_index" -> "1-row x_(k+1) aggregate + 101-row top block, both broadcast",
    "qab_conformal" -> "1-row train-rate and 1-row q-hat aggregates broadcast onto the doc scan",
    "qac_kaplan_meier" -> "1-row study-end aggregate broadcast onto the per-user duration frame",
    "qad_permutation_test" -> "1-row observed-assignment aggregate broadcast onto the 32-row replicate table",
    "qae_layout_advisor" -> "1-row max-key aggregates broadcast onto the scan + 40-row probe block joined to the 48-row span table (both bounded)",
    "qai_effective_mass" -> "q57's 1-row CC fixpoint probe (the rollup rides duplicateComponents machinery)",
    "qav_edit_join" -> "tiny-string branch: length<=q*d+q-1 names self-join — an alphabet-bounded set at any corpus scale (the main branch is an equi-join on (gram, occ))",
    "qax_maxsim_topk" -> "broadcast(8-row query-vector block) — the q6c pattern over token-level vectors",
    "qay_stream_temporal_join" -> "1-row one-version-per-event audit aggregate broadcast onto the sink readback",
    "qaz_skipping_manifest" -> "broadcast(literal probe frame, 4 rows) x |shards|-row manifest — both sides bounded by construction",
    "qb0_jl_projection" -> "1-row jl_ok audit aggregate broadcast onto the 3-row pair frame",
    "qb2_bloom_decontamination" -> "four 1-row stat aggregates broadcast-crossed into the single graded row (q8q pattern)",
    "qb3_inverted_index" -> "1-row final-results aggregate broadcast onto the |query-terms|-row step spine",
    "qb4_rtbf_cascade" -> "1-row orphan-audit aggregate broadcast onto each level's 1-row count row",
    "qb5_priority_sample" -> "1-row tau (k+1-th priority) aggregate broadcast onto the k-row sample",
    "qb8_encoding_advisor" -> "three 1-row stat aggregates (ndv / within-runs / boundary-runs) broadcast-crossed into the 4-row column frame",
    "qbg_state_store_read" -> "1-row shard-count aggregate broadcast onto the <=|event-types| state rows",
    "qbj_shapley_attribution" -> "16-row subset-value table x 4-row channel frame + 1-row efficiency aggregate — all 2^n_channels-bounded",
    "qbk_isotonic_calibration" -> "<=20-bin prefix frames triangle-joined (j<=i<=k) — O(bins^3) broadcast arithmetic",
    "qbm_cart_quality" -> "1-row root-split and 1-row accuracy aggregates broadcast onto the scan / 3-row tree",
    "qbn_fellegi_sunter" -> "1-row record-count aggregate broadcast onto the 3-row decision rollup",
    "qbr_kneser_ney" -> "1-row bigram-type-count aggregate broadcast onto the 5-context graded slice",
    "qby_voptimal_histogram" -> "non-equi self-joins over the <=|distinct values| prefix frame (V^3 plan search, data-size independent)",
    "qc0_eb_shrinkage" -> "1-row global-rate aggregate broadcast onto the <=|nation x segment| cells",
    "qc1_bandit_replay" -> "1-row replay-estimate aggregate broadcast onto the 5-arm rollup",
    "qc2_qte" -> "5-row quantile grid x 2-row variant sizes — both literal-bounded",
    "qc4_bitemporal" -> "6-row literal (tx_asof, probe) panel broadcast onto the version store",
    "qcb_surrogate_keys" -> "1-row max-existing-key aggregate broadcast onto the arrivals")

  // query -> why its GLOBAL (unpartitioned) window rides a provably
  // bounded frame: a `Window.orderBy` without `partitionBy` moves ALL
  // rows to one partition — fatal on an unbounded input at 100 TB,
  // fine on the 1-row probes / top-k lists / per-k selections these
  // queries rank. The audit pins every such plan to a justification;
  // an unlisted global window is a scale regression, caught here.
  //
  // Two kinds of entries: (a) global folds/ranks over POST-AGGREGATION
  // frames bounded by a literal or vocabulary (bins, langs, sources,
  // stages, calendar days, communities) — safe at any corpus size;
  // (b) sub-corpus ENTITY-scale ranks (vocab/catalog/doc aggregates)
  // annotated with the registered swap: Relational.withGlobalIndex,
  // the distributed exact rank that FIXED the two corpus-scale
  // offenders this audit caught (q2i customers, q1p users — both now
  // builder-eager zipWithIndex ranks with NO global window).
  // Additional global windows in builder-INTERNAL probe frames (lag
  // over ≤9-row per-k selections, 1-row argmin probes) execute eagerly
  // inside builders and never reach a registered plan.
  private val globalWindowBounded: Map[String, String] = Map(
    "q1e_distribution_drift" -> "PSI folds over the 10-bin price histogram (literal-bounded)",
    "q1k_chi_square" -> "chi-square folds over the |returnflag|x|linestatus| contingency table",
    "q1m_ks_drift" -> "ECDF cum/max over the 20-bin histogram (literal-bounded, the q1e rule)",
    "q1n_entropy_drift" -> "entropy folds over the 10-bin histogram",
    "q1o_benford_audit" -> "digit-share folds over the 9-digit frame",
    "q1u_mann_whitney" -> "rank-sum cum over the distinct-quantity aggregate (l_quantity has 50 values by TPC-H contract)",
    "q1y_bootstrap_ci" -> "percentile rank over the 32-replicate bootstrap frame",
    "q2l_pareto_frontier" -> "frontier running-min over the |p_size|-row (50) size aggregate",
    "q3i_funnel_conversion" -> "stage-to-stage lag over the 4-stage funnel frame",
    "q3p_max_concurrency" -> "carry-over cum over the per-hour aggregate (calendar-bounded)",
    "q4i_stratified_sample" -> "min-stratum fold over the per-lang counts (|langs| rows)",
    "q4m_padding_audit" -> "share folds over the length-bucket aggregate",
    "q4p_lang_confusion" -> "accuracy folds over the |langs|^2 confusion matrix",
    "q4v_zipf_slope" -> "rank over the topN-row (1000) TakeOrdered head of the vocabulary — bounded by the limit",
    "q5g_label_propagation" -> "community-count fold over the post-fixpoint community rollup",
    "q5h_degree_histogram" -> "share folds over the distinct-degree histogram",
    "q5m_modularity" -> "modularity folds over the per-community aggregate",
    "q8d_component_sizes" -> "share folds over the component-size histogram",
    "q8e_importance_resampling" -> "bucket-share folds over the <=nBuckets frame + rank over the topK-row (20) TakeOrdered head — both bounded",
    "q8g_chunk_dedup" -> "dedup-summary folds over the chunk-hash aggregate (per-doc chunking is partitioned)",
    "q8h_substring_dup_spans" -> "rank over the topK-row TakeOrdered head of the per-doc dup ratios — bounded by the limit (per-doc span windows are partitioned)",
    "q8j_source_divergence" -> "JSD rank over the |sources|^2 pair frame",
    "q8l_wasserstein_drift" -> "EMD cum over the 20-bin histogram",
    "q8n_distinguishing_terms" -> "rank over the topK-row (12) TakeOrdered head of the scored terms — bounded by the limit",
    "q9a_mixture_epochs" -> "mixture folds over the per-source token aggregate",
    "q9b_lm_perplexity" -> "perplexity folds over the n-gram count aggregate (vocab scale, fold not sort)",
    "q9c_curriculum_phases" -> "phase cum over the quality-bucket aggregate (literal-bounded)",
    "q9d_filter_ablation" -> "ablation folds over the filter-combination frame (2^|filters|)",
    "q9e_class_balance" -> "balance folds over the per-class counts (|langs| rows)",
    "q9f_bpe_pairs" -> "pair-share fold over the top-20 selection (the BNLJ-list frame)",
    "q9g_domain_reweighting" -> "DoReMi folds over the per-domain aggregate",
    "q9h_unimax_allocation" -> "UniMax budget cum over the per-lang aggregate (|langs| rows)",
    "q9l_media_integrity" -> "integrity-share folds over the per-kind blob aggregate",
    "q9n_hybrid_rrf" -> "RRF rank over the fused top-k candidate list (bounded by 2k)",
    "q9p_recency_weights" -> "weight-share fold over the per-day aggregate (calendar-bounded)",
    "q9r_split_manifest" -> "split-share folds over the 3-split manifest frame",
    "q9s_split_leakage" -> "rank over the 6-row split-pair frame (WindowGroupLimit-pushed)",
    "q9t_score_calibration" -> "calibration folds over the score-bucket aggregate",
    "q9u_quantile_norm" -> "normalization cum over the <=10001-row score histogram (the BNLJ-list frame)",
    "q9v_threshold_sweep" -> "sweep folds over the 21-threshold grid",
    "q9w_source_concentration" -> "Lorenz cum over the per-source token aggregate (|sources| rows)",
    "qa2_context_pairs" -> "PMI folds over the |event_types|^2 context-pair aggregate (per-user lag is partitioned)",
    "qa3_sliced_eval" -> "worst-slice rank over the per-lang slice frame",
    "qa5_diff_in_diff" -> "pre/post folds over the 4-cell DiD frame",
    "qab_conformal" -> "q-hat rank over the calibration-score aggregate (the BNLJ-list frame)",
    "qac_kaplan_meier" -> "survival cum over the distinct-duration aggregate",
    "qah_length_debias" -> "debias folds over the length-bucket aggregate",
    "qai_effective_mass" -> "mass folds over the post-CC cluster rollup (the BNLJ-list frame)",
    "qb3_inverted_index" -> "step folds over the |query-terms|-row spine (the BNLJ-list frame)",
    "qbm_cart_quality" -> "split rank over per-feature distinct-value candidates (value-space bounded; WindowGroupLimit-pushed)",
    "qby_voptimal_histogram" -> "DP ranks over the <=|distinct values| prefix frame (by-contract, the BNLJ-list note)",
    "qc1_bandit_replay" -> "the replay estimator (Li et al.) is SEQUENTIAL by definition — cum over the event stream IS the algorithm; annotated by-contract",
    "qc5_running_distinct" -> "cumulative reach over the per-day aggregate (calendar-bounded)",
    "qca_business_days" -> "business-day cum over the calendar-date spine",
    "qcb_surrogate_keys" -> "dimension-scale rank (suppliers); the production swap is the identity-column allocator (qeh) — annotated")

  // shared with EagerPlanAuditSpec — one detector implementation so
  // the lazy and eager sweeps can never drift
  private def globalWindows(plan: org.apache.spark.sql.execution.SparkPlan)
      : Int = PlanAudit.globalWindows(plan)

  test("global (unpartitioned) windows only over provably bounded frames") {
    val offenders = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!Explain.eager(name)) {
        val plan =
          try fn(spark, sfDir).queryExecution.executedPlan
          catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
        if (globalWindows(plan) > 0 && !globalWindowBounded.contains(name))
          offenders += s"$name: unpartitioned window(s)"
      }
    }
    val bad = offenders.result()
    assert(bad.isEmpty,
      s"unlisted global windows (justify in globalWindowBounded or add " +
        s"a partitionBy):\n${bad.mkString("\n")}")
  }

  test("the global-window detector actually fires (negative control)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the exact anti-pattern the audit exists for: rank over an
    // unbounded scan with no partitionBy — all rows to one partition
    val bad = spark.range(100).withColumn("r",
      row_number().over(Window.orderBy(col("id"))))
    assert(globalWindows(bad.queryExecution.executedPlan) > 0,
      "detector must flag an unpartitioned window")
    // and the partitioned twin passes clean
    val good = spark.range(100).withColumn("p", col("id") % 4)
      .withColumn("r", row_number().over(
        Window.partitionBy(col("p")).orderBy(col("id"))))
    assert(globalWindows(good.queryExecution.executedPlan) == 0)
  }

  test("no CartesianProduct anywhere; BroadcastNestedLoopJoin only with a bounded side") {
    val offenders = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!Explain.eager(name)) {
        val plan =
          try fn(spark, sfDir).queryExecution.executedPlan.toString
          catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
        if (plan.contains("CartesianProduct"))
          offenders += s"$name: CartesianProduct"
        if (plan.contains("BroadcastNestedLoopJoin") && !bnljBounded.contains(name))
          offenders += s"$name: unlisted BroadcastNestedLoopJoin"
      }
    }
    val bad = offenders.result()
    assert(bad.isEmpty, s"plan invariants violated:\n${bad.mkString("\n")}")
  }
}
