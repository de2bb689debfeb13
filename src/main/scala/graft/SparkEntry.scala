package graft

import graft.ml.FixturePipelines
import graft.operators._
import graft.streaming.{Events => StreamEvents}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers a query here;
  * deterministic relational ops also register equivalent DuckDB SQL in
  * `oracleSql` (hash-checked at sf0.01). Seeded-stochastic ops (ML, LSH,
  * randomSplit) and engine-specific sketches (HLL, xxhash64 buckets)
  * are rows-only here and verified by ScalaTest tolerance/invariant
  * specs instead (SURVEY §5.2).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The SURVEY §7.2 end-to-end slice: scan → project → deterministic
    * split → 2 joins → grouped avg → RMSE aggregate. */
  def entry(spark: SparkSession): DataFrame =
    Relational.clusterAvgPredictor(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // —— relational surface (SURVEY §2.1 R-13..R-23 + §2.3 E-02..E-10) ——
    "q01_pricing_summary"   -> (Relational.pricingSummary _),
    "q02_filter_pushdown"   -> (Relational.filterProject _),
    "q03_join_revenue_topk" -> (Relational.joinRevenueTopK _),
    "q04_join_left"         -> (Relational.joinLeftOuter _),
    "q05_join_right"        -> (Relational.joinRightOuter _),
    "q06_join_full"         -> (Relational.joinFullOuter _),
    "q07_join_semi"         -> (Relational.joinSemi _),
    "q08_join_anti"         -> (Relational.joinAnti _),
    "q09_join_broadcast"    -> (Relational.joinBroadcastDims _),
    "q10_topk_orders"       -> (Relational.topKOrders _),
    "q11_topk_per_group"    -> (Relational.topKPerGroup _),
    "q12_window_lag"        -> (Relational.windowLag _),
    "q13_window_running"    -> (Relational.windowRunningSum _),
    "q14_setops"            -> (Relational.setOps _),
    "q15_rollup"            -> (Relational.rollupRegionNation _),
    "q16_cube"              -> (Relational.cubeStatusPriority _),
    "q17_grouping_sets"     -> (Relational.groupingSets _),
    "q18_distinct_agg"      -> (Relational.distinctAgg _),
    "q19_scalar_string"     -> (Relational.scalarString _),
    "q20_scalar_math"       -> (Relational.scalarMath _),
    "q21_date_agg"          -> (Relational.dateAgg _),
    "q22_json_extract"      -> (Relational.jsonExtract _),
    "q23_pivot_onehot"      -> (Relational.pivotOneHot _),
    "q24_cluster_avg_rmse"  -> (Relational.clusterAvgPredictor _),
    "q25_approx_distinct"   -> (Relational.approxDistinct _),
    "q26_json_struct"       -> (Relational.jsonStruct _),
    "q0a_bloom_join"        -> (Relational.joinBloomReduced _),
    "q0b_bucketed_join"     -> ((s: SparkSession, d: String) => Relational.joinBucketedColocated(s, d)),
    "q0c_join_hint"         -> (Relational.joinHintShuffleHash _),
    "q0d_star_join_revenue" -> (Relational.starJoinRevenue _),
    "q0e_join_null_safe"    -> (Relational.joinNullSafe _),
    "q0f_dynamic_partition_pruning" -> ((s: SparkSession, d: String) => graft.sources.Warehouse.dynamicPartitionPruning(s, d)),
    "q0g_exchange_reuse"    -> (Relational.exchangeReuse _),
    "q0h_aqe_skew_split"    -> (Relational.aqeSkewSplit _),
    "q0i_aqe_coalesce"      -> (Relational.aqeCoalesce _),
    "q2q_recursive_cte"     -> (Relational.recursiveHierarchy _),
    "q2r_dynamic_overwrite" -> ((s: SparkSession, d: String) => graft.sources.Warehouse.dynamicPartitionOverwrite(s, d)),
    "q2s_cbo_statistics"    -> (graft.sources.Warehouse.cboStatistics _),
    "q1i_spearman_corr"     -> (Relational.spearmanCorr _),
    "q1j_regression_agg"    -> (Relational.regressionAgg _),
    "q1k_chi_square"        -> (Quality.chiSquareIndependence _),
    "q2h_scd2_point_in_time" -> ((s: SparkSession, d: String) => graft.sources.Warehouse.scd2PointInTime(s, d)),
    "q2i_rfm_segments"      -> (Relational.rfmSegments _),
    "q2j_incremental_agg"   -> ((s: SparkSession, d: String) => graft.sources.Warehouse.incrementalAggMaintenance(s, d)),
    "q2m_sketch_rollup"     -> ((s: SparkSession, d: String) => graft.sources.Warehouse.sketchRollup(s, d)),
    "q2n_audience_overlap"  -> (Relational.audienceOverlap _),
    "q2k_unpivot"           -> (Relational.unpivotMeasures _),
    "q2l_pareto_frontier"   -> (Relational.paretoFrontier _),
    "q4k_containment_dedup" -> ((s: SparkSession, d: String) => Dedup.containmentPairs(s, d)),
    "q4l_cms_heavy_hitters" -> (Quality.cmsHeavyHitters _),
    "q4m_padding_audit"     -> ((s: SparkSession, d: String) => Curation.paddingAudit(s, d)),
    "q4n_vocab_coverage"    -> ((s: SparkSession, d: String) => Text.vocabCoverage(s, d)),
    "q4o_pmi_pairs"         -> ((s: SparkSession, d: String) => Curation.pmiPairs(s, d)),
    "q4q_fuzzy_decontamination" -> ((s: SparkSession, d: String) => Dedup.fuzzyDecontaminationContract(s, d)),
    "q4p_lang_confusion"    -> (Text.langConfusion _),
    "q4r_bm25_scoring"      -> ((s: SparkSession, d: String) => Text.bm25TopDocs(s, d)),
    "q4s_ngram_novelty"     -> ((s: SparkSession, d: String) => Text.ngramNovelty(s, d)),
    "q4t_nucleus_vocab"     -> ((s: SparkSession, d: String) => Text.nucleusVocab(s, d)),
    "q4u_frequent_triples"  -> ((s: SparkSession, d: String) => Curation.frequentTriples(s, d)),
    "q4v_zipf_slope"        -> ((s: SparkSession, d: String) => Text.zipfSlope(s, d)),
    "q4w_quality_classifier" -> ((s: SparkSession, d: String) => graft.ml.QualityFilter.qualityClassifier(s, d)),
    "q3r_seasonal_profile"  -> (TimeSeries.seasonalProfile _),
    "q3s_volume_acf"        -> ((s: SparkSession, d: String) => TimeSeries.volumeAcf(s, d)),
    "q3u_attribution"       -> (TimeSeries.attribution _),
    "q3x_forecast_backtest" -> (TimeSeries.forecastBacktest _),
    "q6e_pca_audit"         -> ((s: SparkSession, d: String) => Similarity.pcaAudit(s, d)),
    "q6f_centroid_coherence" -> (Similarity.centroidCoherence _),
    "q6g_rerank_topk"       -> ((s: SparkSession, d: String) => Similarity.rerankTopK(s, d)),
    "q6h_silhouette"        -> (Similarity.silhouette _),
    "q6i_ivfpq_topk"        -> ((s: SparkSession, d: String) => Similarity.ivfPqRecall(s, d)),
    "q6j_pq_trained_audit"  -> ((s: SparkSession, d: String) => Similarity.trainedPqAudit(s, d)),
    "q6k_phash_dedup"       -> ((s: SparkSession, d: String) => Multimodal.phashDedup(s, d)),
    "q6l_hard_negatives"    -> ((s: SparkSession, d: String) => Similarity.hardNegatives(s, d)),
    "q6m_difficulty_pruning" -> ((s: SparkSession, d: String) => Similarity.difficultyPruning(s, d)),
    "q1g_window_distribution" -> (Relational.windowDistribution _),
    "q1h_array_hof"         -> (Relational.arrayHofStats _),
    "q2g_snapshot_cdc"      -> ((s: SparkSession, d: String) => graft.sources.Warehouse.snapshotCdc(s, d)),
    "q2p_cdc_apply"         -> ((s: SparkSession, d: String) => graft.sources.Warehouse.cdcApply(s, d)),
    "q27_join_skew_salted"  -> ((s: SparkSession, d: String) => Relational.joinSkewSalted(s, d)),
    "q28_warehouse_roundtrip" -> ((s: SparkSession, d: String) => graft.sources.Warehouse.ordersRoundTrip(s, d)),
    "q29_jsonl_roundtrip"   -> ((s: SparkSession, d: String) => graft.sources.Warehouse.documentsJsonlRoundTrip(s, d)),
    "q2o_csv_roundtrip"     -> ((s: SparkSession, d: String) => graft.sources.Warehouse.customersCsvRoundTrip(s, d)),
    "q2a_compaction"        -> ((s: SparkSession, d: String) => graft.sources.Warehouse.compactionRoundTrip(s, d)),
    "q2b_orc_roundtrip"     -> ((s: SparkSession, d: String) => graft.sources.Warehouse.lineitemOrcRoundTrip(s, d)),
    "q2c_merge_upsert"      -> ((s: SparkSession, d: String) => graft.sources.Warehouse.mergeRoundTrip(s, d)),
    "q2d_scd2_dimension"    -> ((s: SparkSession, d: String) => graft.sources.Warehouse.scd2Customers(s, d)),
    "q2e_schema_evolution"  -> ((s: SparkSession, d: String) => graft.sources.Warehouse.schemaEvolutionRoundTrip(s, d)),
    "q1a_sql_subqueries"    -> (Relational.sqlSubqueries _),
    "q1b_stats_moments"     -> (Relational.statsMoments _),
    "q1c_histogram"         -> ((s: SparkSession, d: String) => Relational.histogram(s, d)),
    "q1d_data_profile"      -> (Quality.dataProfile _),
    "q1e_distribution_drift" -> (Quality.distributionDrift _),
    "q1l_data_profile_approx" -> (Quality.dataProfileApprox _),
    "q1m_ks_drift"          -> (Quality.ksDrift _),
    "q1n_entropy_drift"     -> (Quality.entropyDrift _),
    "q1o_benford_audit"     -> (Quality.benfordAudit _),
    "q1p_key_skew_profile"  -> (Quality.keySkewProfile _),
    "q1q_corr_matrix"       -> (Quality.corrMatrix _),
    "q1r_robust_center"     -> (Quality.robustCenter _),
    "q1s_referential_integrity" -> (Quality.referentialIntegrity _),
    "q1t_fd_audit"          -> (Quality.fdAudit _),
    "q1u_mann_whitney"      -> (Quality.mannWhitney _),
    "q1v_kendall_tau"       -> (Quality.kendallTau _),
    "q1w_ab_ztest"          -> (Quality.abZTest _),
    "q1x_fdr_segments"      -> (Quality.fdrSegments _),
    "q1y_bootstrap_ci"      -> ((s: SparkSession, d: String) => Quality.bootstrapCI(s, d)),
    "q1z_cuped"             -> (Quality.cupedVarianceReduction _),
    "q3o_volume_anomalies"  -> (TimeSeries.volumeAnomalies _),
    "q3p_max_concurrency"   -> (TimeSeries.maxConcurrency _),
    "q3q_cusum_changepoint" -> (TimeSeries.cusumChangepoint _),
    "q1f_winsorized_stats"  -> (Quality.winsorizedStats _),
    "q2f_zorder_layout"     -> ((s: SparkSession, d: String) => graft.sources.Warehouse.zorderRoundTrip(s, d)),
    // —— events: time series + sessionization (E-09, E-15 batch) ——
    "q30_events_hourly"     -> (StreamEvents.hourlyAgg _),
    "q31_events_sliding"    -> (StreamEvents.slidingAgg _),
    "q32_events_sessionize" -> (StreamEvents.sessionize _),
    "q33_events_hourly_streaming" -> (StreamEvents.hourlyAggStreaming _),
    "q3t_stream_approx_distinct" -> (StreamEvents.dailyApproxDistinctStreaming _),
    "q34_events_session_streaming" -> (StreamEvents.sessionizeStreaming _),
    "q35_events_session_window" -> (StreamEvents.sessionWindowAgg _),
    "q3w_session_dynamic_gap" -> (StreamEvents.sessionWindowDynamicGap _),
    "q3v_available_now"     -> (StreamEvents.availableNowBackfill _),
    "q36_asof_join"         -> (TimeJoin.asofClickPurchase _),
    "q38_events_hourly_append" -> (StreamEvents.hourlyAggAppendSink _),
    "q39_stream_dedup"      -> (StreamEvents.streamingDedup _),
    "q3y_late_data_drop"    -> (StreamEvents.lateDataDrop _),
    "q3a_stream_stream_join" -> (StreamEvents.streamStreamJoin _),
    "q3g_stream_outer_join" -> (StreamEvents.streamStreamLeftOuterJoin _),
    "q3b_stream_static_join" -> (StreamEvents.streamStaticJoin _),
    "qay_stream_temporal_join" -> (StreamEvents.streamTemporalJoin _),
    "q3c_foreach_batch"     -> (StreamEvents.foreachBatchPartials _),
    "q3d_transform_with_state" -> (StreamEvents.transformWithStateTotals _),
    "q3e_gap_fill"          -> (StreamEvents.gapFillHourly _),
    "q3f_rolling_time_window" -> (StreamEvents.rollingTimeWindow _),
    "q3h_ohlc_bars"         -> (StreamEvents.ohlcBars _),
    "q3i_funnel_conversion" -> (StreamEvents.funnelConversion _),
    "q3j_cohort_retention"  -> (StreamEvents.cohortRetention _),
    "q3k_partitioned_sink"  -> (StreamEvents.hourlyAggPartitionedSink _),
    "q3l_checkpoint_recovery" -> (StreamEvents.hourlyAggCheckpointRecovery _),
    "q37_range_join_binned" -> (TimeJoin.rangeJoinBinned _),
    "q75_asof_join_native"  -> (TimeJoin.asofClickPurchaseNative _),
    "q76_asof_join_forward" -> (TimeJoin.asofClickNextPurchaseNative _),
    "q77_asof_tolerance"    -> ((s: SparkSession, d: String) => TimeJoin.asofClickPurchaseTolerance(s, d)),
    "q78_asof_nearest"      -> (TimeJoin.asofClickPurchaseNearest _),
    "q79_asof_same_day"     -> (TimeJoin.asofClickPurchaseSameDay _),
    "q3m_ewma_hourly"       -> (TimeSeries.ewmaHourly _),
    "q3n_event_transitions" -> (TimeSeries.eventTransitions _),
    // —— text analysis (E-13) ——
    "q40_token_stats"       -> (Text.tokenStats _),
    "q41_quality_score"     -> (Text.qualityScore _),
    "q42_language_id"       -> (Text.languageId _),
    "q43_fingerprints"      -> (Text.fingerprints _),
    "q44_tfidf_top_terms"   -> ((s: SparkSession, d: String) => Text.tfIdfTopTerms(s, d)),
    "q45_pii_redaction"     -> (Text.piiRedaction _),
    // —— dataset curation (sampling / mixture / packing) ——
    "q46_weighted_sample"   -> ((s: SparkSession, d: String) => Curation.weightedSample(s, d)),
    "q47_sequence_packing"  -> ((s: SparkSession, d: String) => Curation.packSequences(s, d)),
    "q48_repetition_filter" -> (Text.repetitionStats _),
    "q4a_unigram_logprob"   -> ((s: SparkSession, d: String) => Text.unigramLogProb(s, d)),
    "q49_decontamination"   -> ((s: SparkSession, d: String) => Dedup.decontaminate(s, d)),
    "q4b_group_split"       -> ((s: SparkSession, d: String) => Curation.groupSplit(s, d)),
    "q4d_chunking"          -> ((s: SparkSession, d: String) => Curation.chunkDocuments(s, d)),
    "q4e_curation_funnel"   -> ((s: SparkSession, d: String) => Curation.curationFunnel(s, d)),
    "q4f_normalized_dedup"  -> (Dedup.normalizedDedup _),
    "q4g_temperature_mixture" -> ((s: SparkSession, d: String) => Curation.temperatureMixture(s, d)),
    "q4h_frequent_pairs"    -> ((s: SparkSession, d: String) => Curation.frequentPairs(s, d)),
    "q4i_stratified_sample" -> (Curation.stratifiedSample _),
    "q4x_exact_k_sample"    -> ((s: SparkSession, d: String) => Curation.exactKSample(s, d)),
    "q4y_negative_sampling" -> ((s: SparkSession, d: String) => Curation.negativeSampling(s, d)),
    "q4z_tokenizer_fertility" -> (Text.tokenizerFertility _),
    "q4j_bigram_score"      -> (Text.bigramScore _),
    "q4c_heavy_hitters"     -> ((s: SparkSession, d: String) => Text.heavyHitters(s, d)),
    // —— dedup (E-10/E-11) ——
    "q50_dedup_exact_key"   -> (Dedup.exactByKey _),
    "q51_dedup_exact_content" -> (Dedup.exactByContent _),
    // q52/q53 graded as recall/precision contracts vs the exact
    // trigram-Jaccard truth (the q62/q63 fold); raw pair lists stay
    // spec-covered via minhashNearDupPairsOf / minhashLshJoin
    "q52_minhash_pairs"     -> ((s: SparkSession, d: String) => Dedup.minhashPairsContract(s, d)),
    "q53_minhash_lsh_ml"    -> ((s: SparkSession, d: String) => Dedup.minhashLshContract(s, d)),
    "q54_simhash_buckets"   -> (Dedup.simhashBuckets _),
    "q55_ngram_jaccard"     -> (Dedup.ngramJaccardPairs _),
    "q56_embedding_neardup" -> ((s: SparkSession, d: String) => Dedup.embeddingNearDupsGraded(s, d)),
    "q57_dup_components"    -> ((s: SparkSession, d: String) => Dedup.duplicateComponents(s, d)),
    "q58_quantile_sketch"   -> (Relational.quantileSketch _),
    "q59_canonical_dedup"   -> ((s: SparkSession, d: String) => Dedup.canonicalDedup(s, d)),
    "q5a_semantic_dedup"    -> ((s: SparkSession, d: String) => Dedup.semanticDedup(s, d)),
    "q5b_pagerank"          -> (Graph.linkPageRank _),
    "q5c_entity_resolution" -> (Entity.partDuplicates _),
    "q5d_triangle_count"    -> (Graph.linkTriangles _),
    "q5e_bfs_hops"          -> (Graph.linkBfsHops _),
    "q5f_pagerank_converged" -> (Graph.linkPageRankConverged _),
    "q5g_label_propagation" -> (Graph.linkLabelPropagation _),
    "q5h_degree_histogram"  -> (Graph.linkDegreeHistogram _),
    "q5i_link_prediction"   -> ((s: SparkSession, d: String) => Graph.linkPrediction(s, d)),
    "q5j_shortest_path"     -> ((s: SparkSession, d: String) => Graph.shortestPath(s, d)),
    "q5k_kcore"             -> ((s: SparkSession, d: String) => Graph.linkKCore(s, d)),
    "q5l_personalized_pagerank" -> ((s: SparkSession, d: String) => Graph.linkPersonalizedPageRank(s, d)),
    "q5m_modularity"        -> ((s: SparkSession, d: String) => Graph.linkModularity(s, d)),
    "q5n_clustering_coeff"  -> (Graph.linkClusteringCoefficient _),
    "q5o_assortativity"     -> (Graph.linkAssortativity _),
    "q5p_hits"              -> ((s: SparkSession, d: String) => Graph.linkHits(s, d)),
    "q7a_item_item_cf"      -> ((s: SparkSession, d: String) => Recsys.itemItemCF(s, d)),
    "q7b_cf_hitrate"        -> ((s: SparkSession, d: String) => Recsys.cfHitRate(s, d)),
    "q7c_cf_coverage"       -> ((s: SparkSession, d: String) => Recsys.cfCoverage(s, d)),
    "q7d_cf_ranking_eval"   -> ((s: SparkSession, d: String) => Recsys.cfRankingEval(s, d)),
    "q8a_retention_curve"   -> ((s: SparkSession, d: String) => Dedup.retentionCurve(s, d)),
    "q8b_cross_source_matrix" -> ((s: SparkSession, d: String) => Dedup.crossSourceMatrix(s, d)),
    "q8c_source_quality"    -> (Text.sourceQuality _),
    "q8d_component_sizes"   -> (Dedup.componentSizeHistogram _),
    "q8e_importance_resampling" -> (Curation.importanceResampling(_, _)),
    "q8f_incremental_neardup" -> (Dedup.incrementalNearDupContract(_, _)),
    "q8g_chunk_dedup"       -> (Dedup.chunkDedup(_, _)),
    "q8h_substring_dup_spans" -> (Dedup.substringDupSpans(_, _)),
    "q8i_k_anonymity"       -> (Quality.kAnonymityAudit(_, _)),
    "q8j_source_divergence" -> (Text.sourceDivergence(_, _)),
    "q8l_wasserstein_drift" -> (Quality.wassersteinDrift _),
    "q8k_mmr_rerank"        -> ((s: SparkSession, d: String) => Similarity.mmrRerank(s, d)),
    "q8m_kcenter_coreset"   -> ((s: SparkSession, d: String) => Similarity.kcenterCoreset(s, d)),
    "q8n_distinguishing_terms" -> (Text.distinguishingTerms(_, _)),
    "q8o_interleaving_audit" -> (Curation.interleavingAudit(_, _)),
    "q8p_embedding_health"  -> ((s: SparkSession, d: String) => Similarity.embeddingHealth(s, d)),
    "q8q_corpus_datasheet"  -> (Quality.corpusDatasheet _),
    "q8r_percolation_curve" -> (Dedup.percolationCurve(_, _)),
    "q9a_mixture_epochs"    -> (Curation.mixtureEpochs _),
    "q9b_lm_perplexity"     -> ((s: SparkSession, d: String) => Text.lmPerplexity(s, d)),
    "q9c_curriculum_phases" -> ((s: SparkSession, d: String) => Curation.curriculumPhases(s, d)),
    "q9d_filter_ablation"   -> (Curation.filterAblation _),
    "q9e_class_balance"     -> (Quality.classBalance _),
    "q9f_bpe_pairs"         -> ((s: SparkSession, d: String) => Text.bpeMergeCandidates(s, d)),
    "q9g_domain_reweighting" -> ((s: SparkSession, d: String) => Curation.domainReweighting(s, d)),
    "q9h_unimax_allocation" -> ((s: SparkSession, d: String) => Curation.unimaxAllocation(s, d)),
    "q9i_labeler_agreement" -> (Quality.labelerAgreement _),
    "q9j_observed_scan"     -> (Relational.observedScanAudit _),
    "q9k_constraint_suite"  -> (Quality.constraintSuite _),
    "q9l_media_integrity"   -> (Multimodal.mediaIntegrity _),
    "q9m_stream_contract"   -> (graft.streaming.Events.streamContract _),
    "q9n_hybrid_rrf"        -> ((s: SparkSession, d: String) => Similarity.hybridRrfTopK(s, d)),
    "q9o_modal_alignment"   -> (Quality.modalAlignment _),
    "q9p_recency_weights"   -> ((s: SparkSession, d: String) => TimeSeries.recencyWeights(s, d)),
    "q9r_split_manifest"    -> (Curation.splitManifest _),
    "q9s_split_leakage"     -> ((s: SparkSession, d: String) => Dedup.splitLeakage(s, d)),
    "q9t_score_calibration" -> (Text.scoreCalibration _),
    "q9u_quantile_norm"     -> ((s: SparkSession, d: String) => Quality.quantileNormalize(s, d)),
    "q9v_threshold_sweep"   -> (Curation.thresholdSweep _),
    "q9w_source_concentration" -> (Quality.sourceConcentration _),
    "q9y_bpe_trainer_loop"  -> ((s: SparkSession, d: String) => Text.bpeTrainerLoop(s, d)),
    "qa0_robust_quarantine" -> ((s: SparkSession, d: String) => Similarity.robustQuarantine(s, d)),
    "qa1_bpe_encode"        -> ((s: SparkSession, d: String) => Text.bpeEncode(s, d)),
    "qa2_context_pairs"     -> ((s: SparkSession, d: String) => TimeSeries.contextTrainingPairs(s, d)),
    "qa3_sliced_eval"       -> (Quality.slicedEval _),
    "qa4_partial_corr"      -> (Quality.partialCorrelation _),
    "qa5_diff_in_diff"      -> (Quality.diffInDiff _),
    "qa6_pushdown_source"   -> ((s: SparkSession, d: String) => graft.sources.SynthSource.pushdownScan(s, d)),
    "qa7_dsv2_sink"         -> ((s: SparkSession, d: String) => graft.sources.SynthSink.sinkCommitAudit(s, d)),
    "qa8_streaming_source"  -> ((s: SparkSession, d: String) => graft.sources.SynthStream.streamingSourceAudit(s, d)),
    "qa9_als_serving"       -> ((s: SparkSession, d: String) => graft.ml.Serving.alsServing(s, d)),
    "qaa_tail_index"        -> ((s: SparkSession, d: String) => Quality.hillTailIndex(s, d)),
    "qab_conformal"         -> (Quality.conformalInterval _),
    "qac_kaplan_meier"      -> ((s: SparkSession, d: String) => TimeSeries.kaplanMeier(s, d)),
    "qad_permutation_test"  -> ((s: SparkSession, d: String) => Quality.permutationTest(s, d)),
    "qae_layout_advisor"    -> ((s: SparkSession, d: String) => graft.sources.Warehouse.layoutAdvisor(s, d)),
    "qaf_sql_tvf"           -> (graft.functions.GraftExtensions.tvfQuery _),
    "qag_grouped_ols"       -> (Quality.groupedOls _),
    "qah_length_debias"     -> ((s: SparkSession, d: String) => Curation.lengthDebias(s, d)),
    "qai_effective_mass"    -> ((s: SparkSession, d: String) => Dedup.effectiveSourceMass(s, d)),
    "qaj_model_persistence" -> ((s: SparkSession, d: String) => graft.ml.Serving.persistedServing(s, d)),
    "qak_agg_pushdown"      -> ((s: SparkSession, d: String) => graft.sources.SynthSource.aggPushdownScan(s, d)),
    "qal_stream_restart"    -> ((s: SparkSession, d: String) => graft.sources.SynthStream.streamingRestartReplay(s, d)),
    "qam_tvf_token_stats"   -> (graft.functions.GraftExtensions.tvfTokenStats _),
    "qap_persisted_ann"     -> ((s: SparkSession, d: String) => graft.operators.AnnIndex.persistedIvfTopK(s, d)),
    "qaq_sorted_export"     -> ((s: SparkSession, d: String) => graft.sources.Warehouse.sortedExport(s, d)),
    "qar_incremental_ann"   -> ((s: SparkSession, d: String) => graft.operators.AnnIndex.incrementalUpdate(s, d)),
    "qas_epoch_shuffle"     -> ((s: SparkSession, d: String) => Curation.epochShuffle(s, d)),
    "qat_spj_join"          -> ((s: SparkSession, d: String) => graft.sources.SynthClustered.spjAudit(s, d)),
    "qau_dp_release"        -> ((s: SparkSession, d: String) => Quality.dpRelease(s, d)),
    "qav_edit_join"         -> ((s: SparkSession, d: String) => Entity.partEditJoin(s, d)),
    "qaw_pseudonymize"      -> ((s: SparkSession, d: String) => Quality.pseudonymizeAudit(s, d)),
    "qax_maxsim_topk"       -> ((s: SparkSession, d: String) => Similarity.maxSimTopK(s, d)),
    "qaz_skipping_manifest" -> ((s: SparkSession, d: String) => graft.sources.Warehouse.skippingManifest(s, d)),
    "qb0_jl_projection"     -> ((s: SparkSession, d: String) => Similarity.jlProjectionAudit(s, d)),
    "qb1_join_cardinality"  -> ((s: SparkSession, d: String) => graft.sources.Warehouse.joinCardinalityEstimate(s, d)),
    "qb2_bloom_decontamination" -> ((s: SparkSession, d: String) => Dedup.bloomDecontaminate(s, d)),
    "qb3_inverted_index"    -> ((s: SparkSession, d: String) => Text.invertedIndexQuery(s, d)),
    "qb4_rtbf_cascade"      -> ((s: SparkSession, d: String) => Quality.rtbfCascade(s, d)),
    "qb5_priority_sample"   -> ((s: SparkSession, d: String) => Curation.prioritySample(s, d)),
    "qb6_variant_shred"     -> ((s: SparkSession, d: String) => Relational.variantShred(s, d)),
    "qb7_markov_attribution" -> ((s: SparkSession, d: String) => TimeSeries.markovAttribution(s, d)),
    "qb8_encoding_advisor"  -> ((s: SparkSession, d: String) => graft.sources.Warehouse.encodingAdvisor(s, d)),
    "qb9_pattern_match"     -> ((s: SparkSession, d: String) => TimeSeries.patternMatch(s, d)),
    "qba_theil_sen"         -> ((s: SparkSession, d: String) => TimeSeries.theilSen(s, d)),
    "qbb_column_lineage"    -> ((s: SparkSession, d: String) => graft.plans.ColumnLineage.q03Lineage(s, d)),
    "qbc_subplan_reuse"     -> ((s: SparkSession, d: String) => graft.plans.SubplanReuse.workloadAudit(s, d)),
    "qbd_keyframes"         -> ((s: SparkSession, d: String) => Multimodal.keyframes(s, d)),
    "qbe_dataset_diff"      -> ((s: SparkSession, d: String) => graft.sources.Warehouse.datasetDiff(s, d)),
    "qbf_xml_roundtrip"     -> ((s: SparkSession, d: String) => graft.sources.Warehouse.documentsXmlRoundTrip(s, d)),
    "qbg_state_store_read"  -> ((s: SparkSession, d: String) => graft.streaming.Events.stateStoreRead(s, d)),
    "qbh_sprt_monitor"      -> (Quality.sprtMonitor _),
    "qbj_shapley_attribution" -> ((s: SparkSession, d: String) => TimeSeries.shapleyAttribution(s, d)),
    "qbk_isotonic_calibration" -> (Quality.isotonicCalibration _),
    "qbl_banding_scurve"    -> (Dedup.bandingScurve _),
    "qbm_cart_quality"      -> ((s: SparkSession, d: String) => graft.ml.Cart.cartQuality(s, d)),
    "qbi_sql_script"        -> (Scripting.sqlScript _),
    "qbn_fellegi_sunter"    -> (Entity.fellegiSunter _),
    "qbo_param_identifier"  -> (Scripting.paramIdentifier _),
    "qbp_fim_transform"     -> (Text.fimTransform _),
    "qbq_feature_ks"        -> ((s: SparkSession, d: String) => graft.ml.Cart.featureKs(s, d)),
    "qbr_kneser_ney"        -> (Text.knSmoothing _),
    "qbs_retrieval_recall"  -> ((s: SparkSession, d: String) => Text.retrievalRecall(s, d)),
    "qbt_sql_udf"           -> (Scripting.sqlUdf _),
    "qbu_corrupt_records"   -> ((s: SparkSession, d: String) => graft.sources.Warehouse.corruptRecords(s, d)),
    "qbv_ansi_try"          -> (Scripting.ansiTry _),
    "qbw_map_hof"           -> (Relational.mapHof _),
    "qbx_attribution_models" -> ((s: SparkSession, d: String) => TimeSeries.attributionModels(s, d)),
    "qby_voptimal_histogram" -> ((s: SparkSession, d: String) => graft.sources.Warehouse.voptimalHistogram(s, d)),
    "qbz_state_metrics"     -> ((s: SparkSession, d: String) => graft.streaming.Events.stateMetrics(s, d)),
    "qc0_eb_shrinkage"      -> (Quality.ebShrinkage _),
    "qc1_bandit_replay"     -> ((s: SparkSession, d: String) => TimeSeries.banditReplay(s, d)),
    "qc2_qte"               -> (Quality.quantileTreatmentEffects _),
    "qc3_metadata_columns"  -> ((s: SparkSession, d: String) => graft.sources.Warehouse.metadataColumns(s, d)),
    "qc4_bitemporal"        -> ((s: SparkSession, d: String) => graft.sources.Warehouse.bitemporal(s, d)),
    "qc5_running_distinct"  -> ((s: SparkSession, d: String) => TimeSeries.runningDistinct(s, d)),
    "qc6_clamped_balance"   -> ((s: SparkSession, d: String) => TimeSeries.clampedBalance(s, d)),
    "qc7_lateral_topk"      -> (Scripting.lateralTopk _),
    "qc8_pipe_syntax"       -> (Scripting.pipeSyntax _),
    "qc9_collated_grouping" -> (Scripting.collatedGrouping _),
    "qca_business_days"     -> ((s: SparkSession, d: String) => TimeSeries.businessDays(s, d)),
    "qcb_surrogate_keys"    -> ((s: SparkSession, d: String) => graft.sources.Warehouse.surrogateKeys(s, d)),
    "qcc_sql_udaf"          -> (graft.functions.GraftExtensions.sqlUdaf _),
    "qcd_custom_generator"  -> (graft.functions.GraftExtensions.customGenerator _),
    "qce_custom_window"     -> (Relational.customWindowStreak _),
    "qcf_eager_aggregation" -> (Relational.eagerAggregation _),
    "qcg_hof_dp"            -> (Text.hofMaxSpan _),
    "qch_spatial_grid_join" -> (Spatial.gridRadiusJoin _),
    "qci_containment_join"  -> (Spatial.containmentJoin _),
    "qcj_knn_within_radius" -> (Spatial.knnJoin _),
    "qck_time_weighted_avg" -> (TimeSeries.timeWeightedValue _),
    "qcl_grid_dbscan"       -> (Spatial.gridDbscan _),
    "qcm_grid_hotspots"     -> (Spatial.gridHotspots _),
    "qcn_traj_hausdorff"    -> (Spatial.trajectoryHausdorff _),
    "qco_traj_frechet"      -> (Spatial.trajectoryFrechet _),
    "qcp_spatial_layout"    -> (Spatial.spatialLayout _),
    "qcq_spatial_interp"    -> ((s: SparkSession, d: String) => Spatial.spatialInterpolation(s, d)),
    "qcr_rect_overlaps"     -> (Spatial.rectangleOverlaps _),
    "qcs_moran_autocorr"    -> (Spatial.moranAutocorrelation _),
    // —— transactional table layer (snapshot log + optimistic commit) ——
    "qct_txn_concurrent_merge" -> (graft.sources.TxnTable.txnConcurrentMerge _),
    "qcu_txn_time_travel"   -> (graft.sources.TxnTable.txnTimeTravel _),
    "qcv_txn_pruned_read"   -> (graft.sources.TxnTable.txnPrunedRead _),
    "qcw_batch_replay_idem" -> (graft.sources.SynthStream.batchReplayIdempotence _),
    "qcx_tvf_radius_join"   -> (graft.functions.GraftExtensions.tvfRadiusJoin _),
    "qcy_tvf_knn_in_radius" -> (graft.functions.GraftExtensions.tvfKnnInRadius _),
    "qcz_ann_compaction"    -> ((s: SparkSession, d: String) => graft.operators.AnnIndex.compactedIndex(s, d)),
    "qd0_txn_optimize"      -> (graft.sources.TxnTable.txnOptimize _),
    "qd1_txn_vacuum"        -> (graft.sources.TxnTable.txnVacuum _),
    "qd2_txn_schema_evolution" -> (graft.sources.TxnTable.txnSchemaEvolution _),
    "qd3_txn_table_changes" -> (graft.sources.TxnTable.txnTableChanges _),
    "qd4_txn_streaming_ingest" -> (graft.sources.TxnTable.txnStreamingIngest _),
    "qd5_txn_append_log"    -> (graft.sources.TxnTable.txnAppendLog _),
    "qd6_txn_zorder"        -> (graft.sources.TxnTable.txnZorder _),
    "qd7_tvf_txn_time_travel" -> (graft.sources.TxnTable.tvfTxnTimeTravel _),
    "qd8_txn_surgical_delete" -> (graft.sources.TxnTable.txnSurgicalDelete _),
    "qd9_txn_compaction_race" -> (graft.sources.TxnTable.txnCompactionRace _),
    "qda_txn_surgical_merge" -> (graft.sources.TxnTable.txnSurgicalMerge _),
    "qdb_txn_retention"     -> (graft.sources.TxnTable.txnRetention _),
    "qdc_txn_lagging_producer" -> (graft.sources.TxnTable.txnLaggingProducer _),
    "qdd_txn_timestamp_travel" -> (graft.sources.TxnTable.txnTimestampTravel _),
    "qde_txn_incremental_consumer" -> (graft.sources.TxnTable.txnIncrementalConsumer _),
    "qdf_txn_check_constraint" -> (graft.sources.TxnTable.txnCheckConstraint _),
    "qdg_sql_catalog_lifecycle" -> (graft.sources.GraftTxnCatalog.sqlCatalogLifecycle _),
    "qdh_sql_pushdown_prune" -> (graft.sources.GraftTxnCatalog.sqlPushdownPrune _),
    "qdi_txn_metadata_bounded" -> (graft.sources.TxnTable.txnMetadataBounded _),
    "qdl_sql_surgical_delete" -> (graft.sources.GraftTxnCatalog.sqlSurgicalDelete _),
    "qdm_txn_stream_read"   -> (graft.sources.TxnStream.txnStreamRead _),
    "qdn_sql_schema_evolution" -> (graft.sources.GraftTxnCatalog.sqlSchemaEvolution _),
    "qdo_sql_merge_into"    -> (graft.sources.TxnRowLevel.sqlMergeInto _),
    "qdp_sql_update"        -> (graft.sources.TxnRowLevel.sqlUpdate _),
    "qdq_sql_ctas"          -> (graft.sources.GraftTxnCatalog.sqlCtas _),
    "qdr_sql_stream_sink"   -> (graft.sources.TxnStreamSink.sqlStreamSink _),
    "qds_sql_metadata_agg"  -> (graft.sources.GraftTxnCatalog.sqlMetadataAgg _),
    "qdt_sql_runtime_prune" -> (graft.sources.GraftTxnCatalog.sqlRuntimeFilePrune _),
    "qdu_sql_group_filtered_update" -> (graft.sources.TxnRowLevel.sqlGroupFilteredUpdate _),
    "qdv_sql_stats_broadcast" -> (graft.sources.GraftTxnCatalog.sqlStatsBroadcast _),
    "qdw_tvf_txn_history"   -> (graft.sources.GraftTxnCatalog.sqlHistory _),
    "qdx_sql_truncate"      -> (graft.sources.GraftTxnCatalog.sqlTruncate _),
    "qdy_txn_dedup_ingest"  -> (graft.sources.TxnTable.txnDedupIngest _),
    "qdj_txn_optimize_zorder" -> (graft.sources.TxnTable.txnOptimizeZorder _),
    "qdk_txn_value_stats"   -> (graft.sources.TxnTable.txnValueStats _),
    "qdz_sql_spj_join"      -> (graft.sources.TxnSpj.sqlSpjJoin _),
    "qe0_sql_spj_agg"       -> (graft.sources.TxnSpj.sqlSpjAgg _),
    "qe1_txn_delete_vectors" -> (graft.sources.TxnTable.txnDeleteVectors _),
    "qe2_txn_restore"       -> (graft.sources.TxnTable.txnRestore _),
    "qe3_sql_column_mapping" -> (graft.sources.GraftTxnCatalog.sqlColumnMapping _),
    "qe4_txn_shallow_clone" -> (graft.sources.TxnTable.txnShallowClone _),
    "qe5_txn_change_feed"   -> (graft.sources.TxnTable.txnChangeFeed _),
    "qe6_txn_stream_changes" -> (graft.sources.TxnCdfStream.txnStreamChanges _),
    "qe7_txn_append_contention" -> (graft.sources.TxnTable.txnAppendContention _),
    "qe8_txn_feature_gate"  -> (graft.sources.TxnTable.txnFeatureGate _),
    "qe9_txn_bloom_skipping" -> (graft.sources.TxnTable.txnBloomSkipping _),
    "qea_txn_identity"      -> (graft.sources.TxnTable.txnIdentity _),
    "qeb_sql_metadata_sum"  -> (graft.sources.GraftTxnCatalog.sqlMetadataSum _),
    "qec_sql_mor_read"      -> (graft.sources.GraftTxnCatalog.sqlMorRead _),
    "qed_sql_mor_dml"       -> (graft.sources.GraftTxnCatalog.sqlMorDml _),
    "qee_sql_procedures"    -> (graft.sources.GraftTxnCatalog.sqlProcedures _),
    "qef_sql_typed_stats"   -> (graft.sources.GraftTxnCatalog.sqlTypedStats _),
    "qeg_sql_mapped_dml"    -> (graft.sources.GraftTxnCatalog.sqlMappedDml _),
    "qeh_sql_identity_ddl"  -> (graft.sources.GraftTxnCatalog.sqlIdentityDdl _),
    "qei_cdf_read_option"   -> (graft.sources.GraftTxnCatalog.sqlCdfReadOption _),
    "qej_sql_bloom_skip"    -> (graft.sources.GraftTxnCatalog.sqlBloomSkip _),
    "qek_lakehouse_lifecycle" -> (graft.sources.GraftTxnCatalog.sqlLakehouseLifecycle _),
    "qel_spj_mor_join"      -> (graft.sources.TxnSpj.sqlSpjMorJoin _),
    "qem_sql_compact"       -> (graft.sources.GraftTxnCatalog.sqlCompact _),
    "qen_stream_admission"  -> (graft.sources.TxnStream.txnStreamAdmission _),
    "qeo_sql_merge_by_source" -> (graft.sources.TxnRowLevel.sqlMergeBySource _),
    "qep_stream_across_rename" -> (graft.sources.TxnStream.txnStreamAcrossRename _),
    "qeq_sql_type_widening" -> (graft.sources.GraftTxnCatalog.sqlTypeWidening _),
    "qer_sql_reshard"       -> (graft.sources.TxnSpj.sqlReshard _),
    "qes_show_create"       -> (graft.sources.GraftTxnCatalog.sqlShowCreate _),
    "qet_branch_wap"        -> (graft.sources.GraftTxnCatalog.sqlBranchWap _),
    "qeu_sql_views"         -> (graft.sources.GraftTxnCatalog.sqlViews _),
    "qev_sql_branch_write"  -> (graft.sources.GraftTxnCatalog.sqlBranchWrite _),
    "qew_branch_rebase"     -> (graft.sources.GraftTxnCatalog.sqlBranchRebase _),
    "qez_branch_maintenance" -> (graft.sources.GraftTxnCatalog.sqlBranchMaintenance _),
    "qex_sql_update_mor"    -> (graft.sources.MorDml.sqlUpdateMor _),
    "qan_tvf_exact_dedup"   -> (graft.functions.GraftExtensions.tvfExactDedup _),
    "qao_tvf_cosine_topk"   -> (graft.functions.GraftExtensions.tvfCosineTopK _),
    "q9z_curation_pipeline" -> ((s: SparkSession, d: String) => Curation.curationPipeline(s, d)),
    // —— similarity search (E-12) + multimodal (E-14) ——
    "q60_embedding_norms"   -> (Similarity.norms _),
    "q61_cosine_topk"       -> ((s: SparkSession, d: String) => Similarity.bruteForceTopK(s, d)),
    // q62/q63 emit the folded recall contract (ANN top-k ∩ exact top-k
    // ≥ floor), not the raw candidate lists — the candidates are seeded-
    // stochastic; the contract row is deterministic and oracle-checkable
    "q62_ann_lsh_topk"      -> ((s: SparkSession, d: String) => Similarity.annLshRecall(s, d)),
    "q63_ivf_topk"          -> ((s: SparkSession, d: String) => Similarity.ivfRecall(s, d)),
    "q64_ivf_buckets"       -> ((s: SparkSession, d: String) => Similarity.ivfBucketCounts(s, d)),
    "q6c_knn_join"          -> ((s: SparkSession, d: String) => Similarity.knnJoin(s, d)),
    "q6d_hamming_topk"      -> ((s: SparkSession, d: String) => Similarity.hammingTopK(s, d)),
    "q6n_ivf_probe_curve"   -> ((s: SparkSession, d: String) => Similarity.ivfProbeCurve(s, d)),
    "q6o_fisher_separation" -> (Similarity.fisherSeparation _),
    "q65_media_stats"       -> (Multimodal.mediaStats _),
    "q66_embedding_quantize" -> (Similarity.quantizationStats _),
    "q67_media_resize"      -> (Multimodal.resizeStats _),
    "q68_pq_audit"          -> ((s: SparkSession, d: String) => Similarity.pqAudit(s, d)),
    "q69_audio_frames"      -> ((s: SparkSession, d: String) => Multimodal.audioFrameStats(s, d)),
    "q6a_pq_adc_topk"       -> ((s: SparkSession, d: String) => Similarity.pqAdcTopK(s, d)),
    "q6b_matryoshka_audit"  -> ((s: SparkSession, d: String) => Similarity.truncationAudit(s, d)),
    // —— the reference ML pipeline on fixtures (R-01..R-28; rows-only) ——
    "q70_kmeans_selection"  -> ((s: SparkSession, d: String) => FixturePipelines.kmeansSelection(s, d)),
    "q71_kmeans_e2e"        -> (FixturePipelines.kmeansE2E _),
    "q72_als_e2e"           -> ((s: SparkSession, d: String) => FixturePipelines.alsE2E(s, d)),
    "q73_als_cv_grid"       -> (FixturePipelines.alsCvGrid _),
    "q74_sse_parity"        -> (FixturePipelines.sseParity _),
  )

  /** The TVF-surface queries (qam/qan/qao) are the SQL-text twins of
    * q40/q50/q61 — same operator, same output contract — so they share
    * those oracles verbatim: one semantics, two entry points.
    *
    * For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for seeded-stochastic /
    * engine-specific-hash queries → rows-only checks. */
  def oracleSql: Map[String, String] = oracleBase ++ Map(
    "qam_tvf_token_stats" -> oracleBase("q40_token_stats"),
    "qan_tvf_exact_dedup" -> oracleBase("q50_dedup_exact_key"),
    "qao_tvf_cosine_topk" -> oracleBase("q61_cosine_topk"))

  private def oracleBase: Map[String, String] = Map(
    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_discount), 4) AS avg_disc,
             count(1) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_pushdown" -> """
      SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_discount
      FROM lineitem
      WHERE l_quantity >= 48 AND l_discount >= 0.07
      ORDER BY l_orderkey, l_linenumber""",
    "q03_join_revenue_topk" -> """
      SELECT o_orderkey, o_orderpriority,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'O'
      GROUP BY o_orderkey, o_orderpriority
      ORDER BY revenue DESC, o_orderkey
      LIMIT 10""",
    "q04_join_left" -> """
      SELECT o_orderkey,
             count(l_orderkey) AS n_big_items,
             round(coalesce(sum(l_quantity), 0), 2) AS big_qty
      FROM orders LEFT JOIN (
        SELECT * FROM lineitem WHERE l_quantity >= 49
      ) li ON o_orderkey = li.l_orderkey
      GROUP BY o_orderkey
      HAVING o_orderkey % 7 = 0
      ORDER BY o_orderkey""",
    "q05_join_right" -> """
      SELECT o_orderstatus,
             count(l_orderkey) AS n_discounted,
             count(1) AS n_rows
      FROM (SELECT * FROM lineitem WHERE l_discount >= 0.09) li
      RIGHT JOIN orders ON li.l_orderkey = o_orderkey
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",
    "q06_join_full" -> """
      SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
             coalesce(c.c_mktsegment, '?') AS segment,
             coalesce(o.n_big_orders, 0) AS n_big_orders
      FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000) c
      FULL JOIN (
        SELECT o_custkey, count(1) AS n_big_orders
        FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey
      ) o ON c.c_custkey = o.o_custkey
      ORDER BY custkey""",
    "q07_join_semi" -> """
      SELECT c_custkey, c_nationkey, c_mktsegment
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey""",
    "q08_join_anti" -> """
      SELECT c_custkey, c_name
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 250000)
      ORDER BY c_custkey""",
    "q09_join_broadcast" -> """
      SELECT r_name, n_name,
             count(1) AS n_customers,
             round(sum(c_acctbal), 2) AS sum_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name""",
    "q10_topk_orders" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 15""",
    "q11_topk_per_group" -> """
      SELECT c_mktsegment, rk, c_custkey, c_acctbal FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey) AS rk
        FROM customer) t
      WHERE rk <= 3
      ORDER BY c_mktsegment, rk""",
    "q12_window_lag" -> """
      SELECT o_custkey, o_orderkey,
             round(o_totalprice - coalesce(
               lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey), 0), 2) AS delta
      FROM orders
      QUALIFY o_custkey % 100 = 0
      ORDER BY o_custkey, o_orderkey""",
    "q13_window_running" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber,
             round(sum(l_quantity) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
      FROM lineitem
      QUALIFY l_suppkey <= 3
      ORDER BY l_suppkey, l_orderkey, l_linenumber""",
    "q14_setops" -> """
      SELECT c_custkey FROM (
        (SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         INTERSECT
         SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F')
        UNION
        (SELECT c_custkey FROM customer WHERE c_acctbal < 0
         EXCEPT
         SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F')
      ) t
      ORDER BY c_custkey""",
    "q15_rollup" -> """
      SELECT coalesce(r_name, 'ALL') AS region,
             coalesce(n_name, 'ALL') AS nation,
             count(1) AS n_customers,
             round(sum(c_acctbal), 2) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY region, nation""",
    "q16_cube" -> """
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(1) AS n_orders,
             round(sum(o_totalprice), 2) AS sum_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority""",
    "q17_grouping_sets" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             count(1) AS n, round(sum(l_quantity), 2) AS qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rf, ls""",
    "q18_distinct_agg" -> """
      SELECT c_mktsegment,
             count(DISTINCT c_nationkey) AS n_nations,
             count(1) AS n_customers
      FROM customer
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",
    "q19_scalar_string" -> """
      SELECT p_partkey,
             upper(p_brand) AS brand_uc,
             lower(p_type) AS type_lc,
             substring(p_name, 1, 8) AS name8,
             length(p_name) AS name_len,
             p_brand || '#' || p_type AS tag
      FROM part
      WHERE p_partkey % 17 = 0
      ORDER BY p_partkey""",
    "q20_scalar_math" -> """
      SELECT s_suppkey,
             round(abs(s_acctbal), 2) AS abs_bal,
             CAST(ceil(s_acctbal) AS BIGINT) AS ceil_bal,
             CAST(floor(s_acctbal) AS BIGINT) AS floor_bal,
             round(sqrt(abs(s_acctbal)), 4) AS sqrt_bal,
             s_suppkey % 7 AS mod7
      FROM supplier
      ORDER BY s_suppkey""",
    "q21_date_agg" -> """
      SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
             count(1) AS n_orders,
             round(sum(o_totalprice), 2) AS sum_price
      FROM orders
      GROUP BY yr, mo
      ORDER BY yr, mo""",
    "q22_json_extract" -> """
      SELECT event_type,
             count(1) AS n,
             round(avg(CAST(props ->> '$.k' AS INTEGER)), 4) AS avg_k,
             max(CAST(props ->> '$.k' AS INTEGER)) AS max_k
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",
    "q23_pivot_onehot" -> """
      SELECT l_linestatus,
             count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS n_a,
             count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS n_n,
             count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_r
      FROM lineitem
      GROUP BY l_linestatus
      ORDER BY l_linestatus""",
    "q24_cluster_avg_rmse" -> """
      WITH ratings AS (
        SELECT l_suppkey AS user_id, l_partkey AS item_id,
               l_quantity AS rating, l_orderkey % 10 AS bucket
        FROM lineitem),
      clusters AS (
        SELECT p_partkey AS item_id, p_partkey % 5 AS cluster FROM part),
      train AS (SELECT * FROM ratings WHERE bucket < 7),
      test  AS (SELECT * FROM ratings WHERE bucket >= 7),
      ucr AS (
        SELECT t.user_id, c.cluster, avg(t.rating) AS prediction
        FROM train t JOIN clusters c ON t.item_id = c.item_id
        GROUP BY t.user_id, c.cluster)
      SELECT round(sqrt(avg(pow(t.rating - u.prediction, 2))), 4) AS rmse,
             count(1) AS n_scored
      FROM test t
      JOIN clusters c ON t.item_id = c.item_id
      JOIN ucr u ON t.user_id = u.user_id AND c.cluster = u.cluster""",
    // the HLL++ estimate itself is engine-specific; the query folds it
    // into its ≤5% contract (approx_ok), so the oracle asserts the exact
    // counts and that the estimate held its bound
    "q25_approx_distinct" -> """
      SELECT l_returnflag,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             true AS approx_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
    "q26_json_struct" -> """
      SELECT event_id,
             CAST(props ->> '$.k' AS INTEGER) AS k_struct,
             CAST(props ->> '$.k' AS INTEGER) AS k_map
      FROM events
      WHERE event_id % 101 = 0
      ORDER BY event_id""",
    // bloom filters have no false negatives, so the runtime-filtered
    // join must equal the plain join; bloom_pushed is plan evidence
    // (might_contain in the optimized plan) folded into the graded row
    "q0a_bloom_join" -> """
      SELECT s_suppkey, s_name,
             count(1) AS n_items,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             TRUE AS bloom_pushed
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_acctbal > 9000
      GROUP BY s_suppkey, s_name
      ORDER BY s_suppkey""",
    // the bucketed join must equal the plain join bit-for-bit;
    // bucketed_no_shuffle is the promoted BucketingSpec plan assertion
    "q0b_bucketed_join" -> """
      SELECT o_orderstatus,
             count(1) AS n_items,
             round(sum(l_quantity), 2) AS sum_qty,
             TRUE AS bucketed_no_shuffle
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",
    // a join-strategy hint steers the plan, never the result
    "q0c_join_hint" -> """
      SELECT s_nationkey,
             count(1) AS n_items,
             round(sum(l_extendedprice), 2) AS sum_price,
             TRUE AS hint_respected
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey
      ORDER BY s_nationkey""",
    "q27_join_skew_salted" -> """
      SELECT s_suppkey, s_name,
             count(1) AS n_items,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_suppkey, s_name
      ORDER BY s_suppkey""",
    // the round trip must lose nothing: the oracle aggregates the SOURCE
    // orders table; the engine aggregates the partitioned re-read.
    // partition_pruned is plan evidence folded into the graded row
    // (PartitionFilters present on the o_year scan)
    "q28_warehouse_roundtrip" -> """
      SELECT o_orderpriority,
             count(1) AS n_orders,
             round(sum(o_totalprice), 2) AS sum_price,
             true AS partition_pruned
      FROM orders
      WHERE year(o_orderdate) = 1995
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    // the same statement Spark runs through spark.sql — the engines'
    // subquery decorrelations must agree on semantics, nulls included
    "q1a_sql_subqueries" -> """
      WITH spend AS (
        SELECT o_custkey,
               CAST(count(1) AS BIGINT) AS n_orders,
               round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_spend
        FROM orders GROUP BY o_custkey)
      SELECT c.c_custkey, c.c_mktsegment, s.n_orders, s.total_spend,
             (SELECT round(avg(o2.o_totalprice), 2) FROM orders o2
               WHERE o2.o_custkey = c.c_custkey) AS avg_order_price
      FROM customer c JOIN spend s ON s.o_custkey = c.c_custkey
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
        AND c.c_nationkey NOT IN
              (SELECT n_nationkey FROM nation WHERE n_name = 'FRANCE')
      ORDER BY s.total_spend DESC, c.c_custkey
      LIMIT 20""",
    // file counts are pure arithmetic on the row count (64 explicit
    // shards in; ceil(n/15000) out), so the oracle replays the layout
    // change, and the aggregate proves the rewrite lost no rows
    "q2a_compaction" -> """
      SELECT CAST(count(1) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
             round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price,
             CAST(64 AS BIGINT) AS files_before,
             CAST(ceil(count(1) / 15000.0) AS BIGINT) AS files_after,
             TRUE AS layout_ok
      FROM orders""",
    // the ORC hop must be lossless — the oracle aggregates the parquet
    // SOURCE; any format-conversion drift shifts the hash
    "q2b_orc_roundtrip" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(count(1) AS BIGINT) AS n_rows,
             round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
             round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    // the merge replayed relationally: updates as CASE on the matched
    // keys, inserts as UNION ALL under negated (unoccupied) keys
    "q2c_merge_upsert" -> """
      WITH merged AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0
                    THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        UNION ALL
        SELECT -o_orderkey - 1, 42.0 FROM orders WHERE o_orderkey % 101 = 0)
      SELECT CAST(count(1) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
             CAST(sum(CASE WHEN o_orderkey > 0 AND o_orderkey % 7 = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
             round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
      FROM merged""",
    // DuckDB has no width_bucket; the replay is Spark's documented
    // formula — floor((v − lo) / ((hi − lo)/n)) + 1, clamped — with
    // exact-integer edges so assignment is FP-identical
    "q1c_histogram" -> """
      WITH b AS (
        SELECT CASE WHEN l_extendedprice < 0.0 THEN 0
                    WHEN l_extendedprice >= 80000.0 THEN 17
                    ELSE CAST(floor(l_extendedprice / 5000.0) AS BIGINT) + 1
               END AS bucket
        FROM lineitem)
      SELECT bucket,
             CAST(count(1) AS BIGINT) AS n,
             round((bucket - 1) * CAST(5000.0 AS DOUBLE), 2) AS bucket_lo
      FROM b GROUP BY bucket ORDER BY bucket""",
    // one-pass profile / PSI drift / z-order layout: oracle SQL lives
    // next to the operator (generated per-column / per-bit there)
    "q1d_data_profile" -> Quality.dataProfileOracle,
    "q1e_distribution_drift" -> Quality.distributionDriftOracle,
    "q1l_data_profile_approx" -> Quality.dataProfileApproxOracle,
    "q1m_ks_drift"          -> Quality.ksDriftOracle,
    "q3m_ewma_hourly"       -> TimeSeries.ewmaHourlyOracle,
    "q3n_event_transitions" -> TimeSeries.eventTransitionsOracle,
    "q2i_rfm_segments"      -> Relational.rfmSegmentsOracle,
    "q2k_unpivot"           -> Relational.unpivotMeasuresOracle,
    "q2l_pareto_frontier"   -> Relational.paretoFrontierOracle,
    "q4l_cms_heavy_hitters" -> Quality.cmsHeavyHittersOracle,
    "q6e_pca_audit"         -> Similarity.pcaAuditOracle,
    "q1o_benford_audit"     -> Quality.benfordAuditOracle,
    "q1p_key_skew_profile"  -> Quality.keySkewProfileOracle,
    "q3o_volume_anomalies"  -> TimeSeries.volumeAnomaliesOracle,
    "q3p_max_concurrency"   -> TimeSeries.maxConcurrencyOracle,
    "q3q_cusum_changepoint" -> TimeSeries.cusumChangepointOracle,
    "q5g_label_propagation" -> Graph.linkLabelPropagationOracle,
    "q4m_padding_audit"     -> Curation.paddingAuditOracle,
    "q4n_vocab_coverage"    -> Text.vocabCoverageOracle,
    "q2j_incremental_agg"   -> graft.sources.Warehouse.incrementalAggOracle,
    "q2m_sketch_rollup"     -> graft.sources.Warehouse.sketchRollupOracle,
    "q2n_audience_overlap"  -> Relational.audienceOverlapOracle,
    "q0f_dynamic_partition_pruning" -> graft.sources.Warehouse.dynamicPartitionPruningOracle,
    "q0g_exchange_reuse"     -> Relational.exchangeReuseOracle,
    "q0h_aqe_skew_split"     -> Relational.aqeSkewSplitOracle,
    "q0i_aqe_coalesce"       -> Relational.aqeCoalesceOracle,
    "q2q_recursive_cte"      -> Relational.recursiveHierarchyOracle,
    "q2r_dynamic_overwrite"  -> graft.sources.Warehouse.dynamicPartitionOverwriteOracle,
    "q2s_cbo_statistics"     -> graft.sources.Warehouse.cboStatisticsOracle,
    "q2p_cdc_apply"          -> graft.sources.Warehouse.cdcApplyOracle,
    "q6f_centroid_coherence" -> Similarity.centroidCoherenceOracle,
    "q6g_rerank_topk"       -> Similarity.rerankTopKOracle,
    "q6h_silhouette"        -> Similarity.silhouetteOracle,
    // q6i: same folded-contract oracle shape as q62/q63 — exact top-k
    // stats are replayable arithmetic, the recall verdict is the
    // contract boolean
    "q6i_ivfpq_topk" -> """
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT e.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS cos
        FROM embeddings e, q
        WHERE e.vec_id <> 0),
      topk AS (
        SELECT vec_id, round(cos, 4) AS cosine
        FROM sims ORDER BY cosine DESC, vec_id LIMIT 10)
      SELECT CAST(10 AS BIGINT) AS k,
             CAST(count(1) AS BIGINT) AS n_exact,
             round(min(cosine), 4) AS bf_min_cosine,
             true AS recall_ok
      FROM topk""",
    "q4o_pmi_pairs"         -> Curation.pmiPairsOracle,
    "q4p_lang_confusion"    -> Text.langConfusionOracle,
    "q4r_bm25_scoring"      -> Text.bm25TopDocsOracle,
    "q4s_ngram_novelty"     -> Text.ngramNoveltyOracle,
    "q4t_nucleus_vocab"     -> Text.nucleusVocabOracle,
    "q4u_frequent_triples"  -> Curation.frequentTriplesOracle,
    "q4v_zipf_slope"        -> Text.zipfSlopeOracle,
    "q4w_quality_classifier" -> graft.ml.QualityFilter.qualityClassifierOracle,
    "q6k_phash_dedup"        -> Multimodal.phashDedupOracle,
    "q6l_hard_negatives"     -> Similarity.hardNegativesOracle,
    "q6m_difficulty_pruning" -> Similarity.difficultyPruningOracle,
    "q2o_csv_roundtrip"      -> graft.sources.Warehouse.customersCsvRoundTripOracle,
    "q3r_seasonal_profile"  -> TimeSeries.seasonalProfileOracle,
    "q3s_volume_acf"        -> TimeSeries.volumeAcfOracle,
    "q3u_attribution"       -> TimeSeries.attributionOracle,
    "q3w_session_dynamic_gap" -> StreamEvents.sessionWindowDynamicGapOracle,
    "q3x_forecast_backtest"  -> TimeSeries.forecastBacktestOracle,
    "q3v_available_now"      -> StreamEvents.availableNowBackfillOracle,
    "q1q_corr_matrix"       -> Quality.corrMatrixOracle,
    "q1r_robust_center"     -> Quality.robustCenterOracle,
    "q1s_referential_integrity" -> Quality.referentialIntegrityOracle,
    "q1t_fd_audit"          -> Quality.fdAuditOracle,
    "q1u_mann_whitney"      -> Quality.mannWhitneyOracle,
    "q1v_kendall_tau"       -> Quality.kendallTauOracle,
    "q1w_ab_ztest"          -> Quality.abZTestOracle,
    "q1x_fdr_segments"      -> Quality.fdrSegmentsOracle,
    "q1y_bootstrap_ci"      -> Quality.bootstrapCIOracle,
    "q1z_cuped"             -> Quality.cupedOracle,
    "q5h_degree_histogram"  -> Graph.linkDegreeHistogramOracle,
    "q5i_link_prediction"   -> Graph.linkPredictionOracle,
    "q5j_shortest_path"     -> Graph.shortestPathOracle,
    "q5k_kcore"             -> Graph.linkKCoreOracle,
    "q5l_personalized_pagerank" -> Graph.linkPersonalizedPageRankOracle,
    "q5m_modularity"         -> Graph.linkModularityOracle,
    "q5n_clustering_coeff"   -> Graph.linkClusteringCoefficientOracle,
    "q5o_assortativity"      -> Graph.linkAssortativityOracle,
    "q5p_hits"               -> Graph.linkHitsOracle,
    "q7a_item_item_cf"       -> Recsys.itemItemCFOracle,
    "q7b_cf_hitrate"         -> Recsys.cfHitRateOracle,
    "q7c_cf_coverage"        -> Recsys.cfCoverageOracle,
    "q7d_cf_ranking_eval"    -> Recsys.cfRankingEvalOracle,
    "q8a_retention_curve"    -> Dedup.retentionCurveOracle,
    "q8b_cross_source_matrix" -> Dedup.crossSourceMatrixOracle,
    "q8c_source_quality"     -> Text.sourceQualityOracle,
    "q8d_component_sizes"    -> Dedup.componentSizeHistogramOracle,
    "q8e_importance_resampling" -> Curation.importanceResamplingOracle,
    "q8f_incremental_neardup" -> Dedup.incrementalNearDupOracle,
    "q8g_chunk_dedup"        -> Dedup.chunkDedupOracle,
    "q8h_substring_dup_spans" -> Dedup.substringDupSpansOracle,
    "q8i_k_anonymity"        -> Quality.kAnonymityAuditOracle,
    "q8j_source_divergence"  -> Text.sourceDivergenceOracle,
    "q8l_wasserstein_drift"  -> Quality.wassersteinDriftOracle,
    "q8k_mmr_rerank"         -> Similarity.mmrRerankOracle,
    "q8m_kcenter_coreset"    -> Similarity.kcenterCoresetOracle,
    "q8n_distinguishing_terms" -> Text.distinguishingTermsOracle,
    "q8o_interleaving_audit" -> Curation.interleavingAuditOracle,
    "q8p_embedding_health"   -> Similarity.embeddingHealthOracle,
    "q8q_corpus_datasheet"   -> Quality.corpusDatasheetOracle,
    "q8r_percolation_curve"  -> Dedup.percolationCurveOracle,
    "q9a_mixture_epochs"     -> Curation.mixtureEpochsOracle,
    "q9b_lm_perplexity"      -> Text.lmPerplexityOracle,
    "q9c_curriculum_phases"  -> Curation.curriculumPhasesOracle,
    "q9d_filter_ablation"    -> Curation.filterAblationOracle,
    "q9e_class_balance"      -> Quality.classBalanceOracle,
    "q9f_bpe_pairs"          -> Text.bpeMergeCandidatesOracle,
    "q9g_domain_reweighting" -> Curation.domainReweightingOracle,
    "q9h_unimax_allocation"  -> Curation.unimaxAllocationOracle,
    "q9i_labeler_agreement"  -> Quality.labelerAgreementOracle,
    "q9j_observed_scan"      -> Relational.observedScanAuditOracle,
    "q9k_constraint_suite"   -> Quality.constraintSuiteOracle,
    "q9l_media_integrity"    -> Multimodal.mediaIntegrityOracle,
    "q9m_stream_contract"    -> graft.streaming.Events.streamContractOracle,
    "q9n_hybrid_rrf"         -> Similarity.hybridRrfTopKOracle,
    "q9o_modal_alignment"    -> Quality.modalAlignmentOracle,
    "q9p_recency_weights"    -> TimeSeries.recencyWeightsOracle,
    "q9r_split_manifest"     -> Curation.splitManifestOracle,
    "q9s_split_leakage"      -> Dedup.splitLeakageOracle,
    "q9t_score_calibration"  -> Text.scoreCalibrationOracle,
    "q9u_quantile_norm"      -> Quality.quantileNormalizeOracle,
    "q9v_threshold_sweep"    -> Curation.thresholdSweepOracle,
    "q9w_source_concentration" -> Quality.sourceConcentrationOracle,
    "q9y_bpe_trainer_loop"   -> Text.bpeTrainerLoopOracle,
    "qa0_robust_quarantine"  -> Similarity.robustQuarantineOracle,
    "qa1_bpe_encode"         -> Text.bpeEncodeOracle,
    "qa2_context_pairs"      -> TimeSeries.contextTrainingPairsOracle,
    "qa3_sliced_eval"        -> Quality.slicedEvalOracle,
    "qa4_partial_corr"       -> Quality.partialCorrelationOracle,
    "qa5_diff_in_diff"       -> Quality.diffInDiffOracle,
    "qa6_pushdown_source"    -> graft.sources.SynthSource.pushdownScanOracle,
    "qa7_dsv2_sink"          -> graft.sources.SynthSink.sinkCommitAuditOracle,
    "qa8_streaming_source"   -> graft.sources.SynthStream.streamingSourceAuditOracle,
    "qa9_als_serving"        -> graft.ml.Serving.alsServingOracle,
    "qaa_tail_index"         -> Quality.hillTailIndexOracle,
    "qab_conformal"          -> Quality.conformalIntervalOracle,
    "qac_kaplan_meier"       -> TimeSeries.kaplanMeierOracle,
    "qad_permutation_test"   -> Quality.permutationTestOracle,
    "qae_layout_advisor"     -> graft.sources.Warehouse.layoutAdvisorOracle,
    "qaf_sql_tvf"            -> graft.functions.GraftExtensions.tvfQueryOracle,
    "qag_grouped_ols"        -> Quality.groupedOlsOracle,
    "qah_length_debias"      -> Curation.lengthDebiasOracle,
    "qai_effective_mass"     -> Dedup.effectiveSourceMassOracle,
    "qaj_model_persistence"  -> graft.ml.Serving.persistedServingOracle,
    "qak_agg_pushdown"       -> graft.sources.SynthSource.aggPushdownScanOracle,
    "qal_stream_restart"     -> graft.sources.SynthStream.streamingRestartReplayOracle,
    "qap_persisted_ann"      -> graft.operators.AnnIndex.persistedIvfTopKOracle,
    "qaq_sorted_export"      -> graft.sources.Warehouse.sortedExportOracle,
    "qar_incremental_ann"    -> graft.operators.AnnIndex.incrementalUpdateOracle,
    "qas_epoch_shuffle"      -> Curation.epochShuffleOracle,
    "qat_spj_join"           -> graft.sources.SynthClustered.spjAuditOracle,
    "qau_dp_release"         -> Quality.dpReleaseOracle,
    "qav_edit_join"          -> Entity.partEditJoinOracle,
    "qaw_pseudonymize"       -> Quality.pseudonymizeAuditOracle,
    "qax_maxsim_topk"        -> Similarity.maxSimTopKOracle,
    "qay_stream_temporal_join" -> StreamEvents.streamTemporalJoinOracle,
    "qaz_skipping_manifest"  -> graft.sources.Warehouse.skippingManifestOracle,
    "qb0_jl_projection"      -> Similarity.jlProjectionAuditOracle,
    "qb1_join_cardinality"   -> graft.sources.Warehouse.joinCardinalityEstimateOracle,
    "qb2_bloom_decontamination" -> Dedup.bloomDecontaminateOracle,
    "qb3_inverted_index"     -> Text.invertedIndexQueryOracle,
    "qb4_rtbf_cascade"       -> Quality.rtbfCascadeOracle,
    "qb5_priority_sample"    -> Curation.prioritySampleOracle,
    "qb6_variant_shred"      -> Relational.variantShredOracle,
    "qb7_markov_attribution" -> TimeSeries.markovAttributionOracle,
    "qb8_encoding_advisor"   -> graft.sources.Warehouse.encodingAdvisorOracle,
    "qb9_pattern_match"      -> TimeSeries.patternMatchOracle,
    "qba_theil_sen"          -> TimeSeries.theilSenOracle,
    "qbb_column_lineage"     -> graft.plans.ColumnLineage.q03LineageOracle,
    "qbc_subplan_reuse"      -> graft.plans.SubplanReuse.workloadAuditOracle,
    "qbd_keyframes"          -> Multimodal.keyframesOracle,
    "qbe_dataset_diff"       -> graft.sources.Warehouse.datasetDiffOracle,
    "qbf_xml_roundtrip"      -> graft.sources.Warehouse.documentsXmlRoundTripOracle,
    "qbg_state_store_read"   -> graft.streaming.Events.stateStoreReadOracle,
    "qbh_sprt_monitor"       -> Quality.sprtMonitorOracle,
    "qbj_shapley_attribution" -> TimeSeries.shapleyAttributionOracle,
    "qbk_isotonic_calibration" -> Quality.isotonicCalibrationOracle,
    "qbl_banding_scurve"     -> Dedup.bandingScurveOracle,
    "qbm_cart_quality"       -> graft.ml.Cart.cartQualityOracle,
    "qbi_sql_script"         -> Scripting.sqlScriptOracle,
    "qbn_fellegi_sunter"     -> Entity.fellegiSunterOracle,
    "qbo_param_identifier"   -> Scripting.paramIdentifierOracle,
    "qbp_fim_transform"      -> Text.fimTransformOracle,
    "qbq_feature_ks"         -> graft.ml.Cart.featureKsOracle,
    "qbr_kneser_ney"         -> Text.knSmoothingOracle,
    "qbs_retrieval_recall"   -> Text.retrievalRecallOracle,
    "qbt_sql_udf"            -> Scripting.sqlUdfOracle,
    "qbu_corrupt_records"    -> graft.sources.Warehouse.corruptRecordsOracle,
    "qbv_ansi_try"           -> Scripting.ansiTryOracle,
    "qbw_map_hof"            -> Relational.mapHofOracle,
    "qbx_attribution_models" -> TimeSeries.attributionModelsOracle,
    "qby_voptimal_histogram" -> graft.sources.Warehouse.voptimalHistogramOracle,
    "qbz_state_metrics"      -> graft.streaming.Events.stateMetricsOracle,
    "qc0_eb_shrinkage"       -> Quality.ebShrinkageOracle,
    "qc1_bandit_replay"      -> TimeSeries.banditReplayOracle,
    "qc2_qte"                -> Quality.quantileTreatmentEffectsOracle,
    "qc3_metadata_columns"   -> graft.sources.Warehouse.metadataColumnsOracle,
    "qc4_bitemporal"         -> graft.sources.Warehouse.bitemporalOracle,
    "qc5_running_distinct"   -> TimeSeries.runningDistinctOracle,
    "qc6_clamped_balance"    -> TimeSeries.clampedBalanceOracle,
    "qc7_lateral_topk"       -> Scripting.lateralTopkOracle,
    "qc8_pipe_syntax"        -> Scripting.pipeSyntaxOracle,
    "qc9_collated_grouping"  -> Scripting.collatedGroupingOracle,
    "qca_business_days"      -> TimeSeries.businessDaysOracle,
    "qcb_surrogate_keys"     -> graft.sources.Warehouse.surrogateKeysOracle,
    "qcc_sql_udaf"           -> graft.functions.GraftExtensions.sqlUdafOracle,
    "qcd_custom_generator"   -> graft.functions.GraftExtensions.customGeneratorOracle,
    "qce_custom_window"      -> Relational.customWindowStreakOracle,
    "qcf_eager_aggregation"  -> Relational.eagerAggregationOracle,
    "qcg_hof_dp"             -> Text.hofMaxSpanOracle,
    "qch_spatial_grid_join"  -> Spatial.gridRadiusJoinOracle,
    "qci_containment_join"   -> Spatial.containmentJoinOracle,
    "qcj_knn_within_radius"  -> Spatial.knnJoinOracle,
    "qck_time_weighted_avg"  -> TimeSeries.timeWeightedValueOracle,
    "qcl_grid_dbscan"        -> Spatial.gridDbscanOracle,
    "qcm_grid_hotspots"      -> Spatial.gridHotspotsOracle,
    "qcn_traj_hausdorff"     -> Spatial.trajectoryHausdorffOracle,
    "qco_traj_frechet"       -> Spatial.trajectoryFrechetOracle,
    "qcp_spatial_layout"     -> Spatial.spatialLayoutOracle,
    "qcq_spatial_interp"     -> Spatial.spatialInterpolationOracle,
    "qcr_rect_overlaps"      -> Spatial.rectangleOverlapsOracle,
    "qcs_moran_autocorr"     -> Spatial.moranAutocorrelationOracle,
    "qct_txn_concurrent_merge" -> graft.sources.TxnTable.txnConcurrentMergeOracle,
    "qcu_txn_time_travel"    -> graft.sources.TxnTable.txnTimeTravelOracle,
    "qcv_txn_pruned_read"    -> graft.sources.TxnTable.txnPrunedReadOracle,
    "qcw_batch_replay_idem"  -> graft.sources.SynthStream.batchReplayIdempotenceOracle,
    // the TVF twins are graded by the DataFrame operators' own oracles
    // (the qam/qan/qao doctrine: two surfaces, one operator)
    "qcx_tvf_radius_join"    -> Spatial.gridRadiusJoinOracle,
    "qcy_tvf_knn_in_radius"  -> Spatial.knnJoinOracle,
    "qcz_ann_compaction"     -> graft.operators.AnnIndex.compactedIndexOracle,
    "qd0_txn_optimize"       -> graft.sources.TxnTable.txnOptimizeOracle,
    "qd1_txn_vacuum"         -> graft.sources.TxnTable.txnVacuumOracle,
    "qd2_txn_schema_evolution" -> graft.sources.TxnTable.txnSchemaEvolutionOracle,
    "qd3_txn_table_changes"  -> graft.sources.TxnTable.txnTableChangesOracle,
    "qd4_txn_streaming_ingest" -> graft.sources.TxnTable.txnStreamingIngestOracle,
    "qd5_txn_append_log"     -> graft.sources.TxnTable.txnAppendLogOracle,
    "qd6_txn_zorder"         -> graft.sources.TxnTable.txnZorderOracle,
    "qd7_tvf_txn_time_travel" -> graft.sources.TxnTable.txnTimeTravelOracle,
    "qd8_txn_surgical_delete" -> graft.sources.TxnTable.txnSurgicalDeleteOracle,
    "qd9_txn_compaction_race" -> graft.sources.TxnTable.txnCompactionRaceOracle,
    "qda_txn_surgical_merge" -> graft.sources.TxnTable.txnSurgicalMergeOracle,
    "qdb_txn_retention"      -> graft.sources.TxnTable.txnRetentionOracle,
    "qdc_txn_lagging_producer" -> graft.sources.TxnTable.txnLaggingProducerOracle,
    "qdd_txn_timestamp_travel" -> graft.sources.TxnTable.txnTimeTravelOracle,
    "qde_txn_incremental_consumer" -> graft.sources.TxnTable.txnIncrementalConsumerOracle,
    "qdf_txn_check_constraint" -> graft.sources.TxnTable.txnCheckConstraintOracle,
    "qdg_sql_catalog_lifecycle" -> graft.sources.GraftTxnCatalog.sqlCatalogLifecycleOracle,
    "qdh_sql_pushdown_prune" -> graft.sources.GraftTxnCatalog.sqlPushdownPruneOracle,
    "qdi_txn_metadata_bounded" -> graft.sources.TxnTable.txnMetadataBoundedOracle,
    "qdl_sql_surgical_delete" -> graft.sources.GraftTxnCatalog.sqlSurgicalDeleteOracle,
    "qdm_txn_stream_read"    -> graft.sources.TxnStream.txnStreamReadOracle,
    "qdn_sql_schema_evolution" -> graft.sources.GraftTxnCatalog.sqlSchemaEvolutionOracle,
    "qdo_sql_merge_into"     -> graft.sources.TxnRowLevel.sqlMergeIntoOracle,
    "qdp_sql_update"         -> graft.sources.TxnRowLevel.sqlUpdateOracle,
    "qdq_sql_ctas"           -> graft.sources.GraftTxnCatalog.sqlCtasOracle,
    "qdr_sql_stream_sink"    -> graft.sources.TxnStreamSink.sqlStreamSinkOracle,
    "qds_sql_metadata_agg"   -> graft.sources.GraftTxnCatalog.sqlMetadataAggOracle,
    "qdt_sql_runtime_prune"  -> graft.sources.GraftTxnCatalog.sqlRuntimeFilePruneOracle,
    "qdu_sql_group_filtered_update" -> graft.sources.TxnRowLevel.sqlGroupFilteredUpdateOracle,
    "qdv_sql_stats_broadcast" -> graft.sources.GraftTxnCatalog.sqlStatsBroadcastOracle,
    "qdw_tvf_txn_history"    -> graft.sources.GraftTxnCatalog.sqlHistoryOracle,
    "qdx_sql_truncate"       -> graft.sources.GraftTxnCatalog.sqlTruncateOracle,
    "qdy_txn_dedup_ingest"   -> graft.sources.TxnTable.txnDedupIngestOracle,
    "qdj_txn_optimize_zorder" -> graft.sources.TxnTable.txnOptimizeZorderOracle,
    "qdk_txn_value_stats"    -> graft.sources.TxnTable.txnValueStatsOracle,
    "qdz_sql_spj_join"       -> graft.sources.TxnSpj.sqlSpjJoinOracle,
    "qe0_sql_spj_agg"        -> graft.sources.TxnSpj.sqlSpjAggOracle,
    "qe1_txn_delete_vectors" -> graft.sources.TxnTable.txnDeleteVectorsOracle,
    "qe2_txn_restore"        -> graft.sources.TxnTable.txnRestoreOracle,
    "qe3_sql_column_mapping" -> graft.sources.GraftTxnCatalog.sqlColumnMappingOracle,
    "qe4_txn_shallow_clone"  -> graft.sources.TxnTable.txnShallowCloneOracle,
    "qe5_txn_change_feed"    -> graft.sources.TxnTable.txnChangeFeedOracle,
    "qe6_txn_stream_changes" -> graft.sources.TxnCdfStream.txnStreamChangesOracle,
    "qe7_txn_append_contention" -> graft.sources.TxnTable.txnAppendContentionOracle,
    "qe8_txn_feature_gate"   -> graft.sources.TxnTable.txnFeatureGateOracle,
    "qe9_txn_bloom_skipping" -> graft.sources.TxnTable.txnBloomSkippingOracle,
    "qea_txn_identity"       -> graft.sources.TxnTable.txnIdentityOracle,
    "qeb_sql_metadata_sum"   -> graft.sources.GraftTxnCatalog.sqlMetadataSumOracle,
    "qec_sql_mor_read"       -> graft.sources.GraftTxnCatalog.sqlMorReadOracle,
    "qed_sql_mor_dml"        -> graft.sources.GraftTxnCatalog.sqlMorDmlOracle,
    "qee_sql_procedures"     -> graft.sources.GraftTxnCatalog.sqlProceduresOracle,
    "qef_sql_typed_stats"    -> graft.sources.GraftTxnCatalog.sqlTypedStatsOracle,
    "qeg_sql_mapped_dml"     -> graft.sources.GraftTxnCatalog.sqlMappedDmlOracle,
    "qeh_sql_identity_ddl"   -> graft.sources.GraftTxnCatalog.sqlIdentityDdlOracle,
    "qei_cdf_read_option"    -> graft.sources.GraftTxnCatalog.sqlCdfReadOptionOracle,
    "qej_sql_bloom_skip"     -> graft.sources.GraftTxnCatalog.sqlBloomSkipOracle,
    "qek_lakehouse_lifecycle" -> graft.sources.GraftTxnCatalog.sqlLakehouseLifecycleOracle,
    "qel_spj_mor_join"       -> graft.sources.TxnSpj.sqlSpjMorJoinOracle,
    "qem_sql_compact"        -> graft.sources.GraftTxnCatalog.sqlCompactOracle,
    "qen_stream_admission"   -> graft.sources.TxnStream.txnStreamAdmissionOracle,
    "qeo_sql_merge_by_source" -> graft.sources.TxnRowLevel.sqlMergeBySourceOracle,
    "qep_stream_across_rename" -> graft.sources.TxnStream.txnStreamAcrossRenameOracle,
    "qeq_sql_type_widening"  -> graft.sources.GraftTxnCatalog.sqlTypeWideningOracle,
    "qer_sql_reshard"        -> graft.sources.TxnSpj.sqlReshardOracle,
    "qes_show_create"        -> graft.sources.GraftTxnCatalog.sqlShowCreateOracle,
    "qet_branch_wap"         -> graft.sources.GraftTxnCatalog.sqlBranchWapOracle,
    "qeu_sql_views"          -> graft.sources.GraftTxnCatalog.sqlViewsOracle,
    "qev_sql_branch_write"   -> graft.sources.GraftTxnCatalog.sqlBranchWriteOracle,
    "qew_branch_rebase"      -> graft.sources.GraftTxnCatalog.sqlBranchRebaseOracle,
    "qez_branch_maintenance" -> graft.sources.GraftTxnCatalog.sqlBranchMaintenanceOracle,
    "qex_sql_update_mor"     -> graft.sources.MorDml.sqlUpdateMorOracle,
    "q9z_curation_pipeline"  -> Curation.curationPipelineOracle,
    "q77_asof_tolerance"    -> TimeJoin.asofClickPurchaseToleranceOracle,
    "q78_asof_nearest"      -> TimeJoin.asofClickPurchaseNearestOracle,
    "q79_asof_same_day"     -> TimeJoin.asofClickPurchaseSameDayOracle,
    "q4x_exact_k_sample"    -> Curation.exactKSampleOracle,
    "q4y_negative_sampling" -> Curation.negativeSamplingOracle,
    "q4z_tokenizer_fertility" -> Text.tokenizerFertilityOracle,
    // q6j: q68's replayable fixed-codebook arithmetic + the training
    // contract as a literal (the trained centroids are seeded model
    // state an external engine cannot replay)
    "q6j_pq_trained_audit" -> """
      WITH cb AS (
        SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      d AS (
        SELECT e.vec_id, s.j, c.cid,
               list_sum(list_transform(range(1, (len(e.embedding) // 4) + 1),
                 t -> (CAST(e.embedding[s.j * (len(e.embedding) // 4) + t] AS DOUBLE)
                       - CAST(c.cvec[s.j * (len(e.embedding) // 4) + t] AS DOUBLE))
                    * (CAST(e.embedding[s.j * (len(e.embedding) // 4) + t] AS DOUBLE)
                       - CAST(c.cvec[s.j * (len(e.embedding) // 4) + t] AS DOUBLE))))
                 AS dist
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range(0, 4)) AS j) s
        CROSS JOIN cb c),
      mn AS (SELECT vec_id, j, min(dist) AS min_dist FROM d GROUP BY vec_id, j),
      v AS (SELECT vec_id, round(sum(min_dist), 4) AS err FROM mn GROUP BY vec_id)
      SELECT CAST(count(1) AS BIGINT) AS n_vectors,
             round(avg(err), 4) AS avg_err_fixed,
             CAST(4 AS BIGINT) AS m,
             CAST(8 AS BIGINT) AS k,
             true AS trained_le_fixed
      FROM v""",
    // q4q: q52's truth replay restricted to pairs straddling the
    // train/eval split (q49's doc_id % 50 marker); booleans literal-true
    "q4q_fuzzy_decontamination" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')))) AS gram
        FROM t),
      sz AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS n FROM g GROUP BY doc_id),
      p AS (
        SELECT g1.doc_id AS a, g2.doc_id AS b, CAST(count(1) AS BIGINT) AS shared
        FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
        GROUP BY 1, 2),
      tp AS (
        SELECT p.a, p.b
        FROM p JOIN sz sa ON p.a = sa.doc_id JOIN sz sb ON p.b = sb.doc_id
        WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.7
          AND ((p.a % 50 = 0) != (p.b % 50 = 0)))
      SELECT (SELECT CAST(count(1) AS BIGINT) FROM documents) AS n_docs,
             (SELECT CAST(count(1) AS BIGINT) FROM documents
              WHERE doc_id % 50 = 0) AS n_eval_docs,
             CAST(count(1) AS BIGINT) AS n_true_cross_pairs,
             CAST(coalesce(sum(a + b), 0) AS BIGINT) AS sum_true_ids,
             true AS recall_ok,
             true AS candidates_bounded
      FROM tp""",
    "q1n_entropy_drift"     -> Quality.entropyDriftOracle,
    "q1f_winsorized_stats" -> Quality.winsorizedStatsOracle,
    "q1k_chi_square" -> Quality.chiSquareOracle,
    "q2g_snapshot_cdc" -> graft.sources.Warehouse.snapshotCdcOracle,
    // point-in-time SCD2 lookup: the q2d dimension build replayed, then
    // the temporal join (equi key + validity-range residual) + the
    // exactly-one-version audit
    "q2h_scd2_point_in_time" -> """
      WITH o AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
               lag(o_orderpriority) OVER w AS prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      c AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority
        FROM o WHERE prev IS NULL OR prev <> o_orderpriority),
      v AS (
        SELECT o_custkey AS d_custkey, o_orderpriority AS priority,
               epoch_us(o_orderdate) AS effective_from_us,
               coalesce(epoch_us(lead(o_orderdate) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
                 CAST(32503680000000000 AS BIGINT)) AS effective_to_us
        FROM c),
      f AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               epoch_us(o_orderdate) AS order_us
        FROM orders),
      j AS (
        SELECT f.*, v.priority, v.d_custkey, v.effective_from_us
        FROM f JOIN v ON f.o_custkey = v.d_custkey
          AND f.order_us >= v.effective_from_us
          AND f.order_us < v.effective_to_us),
      audit AS (
        SELECT (SELECT count(1) FROM j) = (SELECT count(1) FROM f) AS complete)
      SELECT priority,
             CAST(count(1) AS BIGINT) AS n_orders,
             CAST(count(DISTINCT (d_custkey, effective_from_us)) AS BIGINT)
               AS n_versions_used,
             round(sum(o_totalprice), 2) AS sum_price,
             audit.complete
      FROM j CROSS JOIN audit
      GROUP BY priority, audit.complete
      ORDER BY priority""",
    // TPC-H Q5 shape: 6-table star join, same-nation constraint as an
    // extra join key, region filter applied before the dimension hop
    "q0d_star_join_revenue" -> """
      SELECT n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""",
    // null-safe join: IS NOT DISTINCT FROM keeps the planted NULL key
    // group alive (reported as -1)
    "q0e_join_null_safe" -> """
      WITH c AS (
        SELECT c_custkey, nullif(c_nationkey, 13) AS nk FROM customer),
      s AS (
        SELECT s_suppkey, nullif(s_nationkey, 13) AS snk FROM supplier)
      SELECT coalesce(c.nk, -1) AS nk_group,
             CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
             CAST(count(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers,
             CAST(count(1) AS BIGINT) AS n_pairs
      FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.snk
      GROUP BY 1 ORDER BY 1""",
    // Spearman via row_number ranks with a deterministic tiebreak
    // (identical rank assignment in both engines; average-rank ties
    // are the documented deviation) then Pearson corr of the ranks
    "q1i_spearman_corr" -> """
      WITH r AS (
        SELECT l_returnflag, l_quantity, l_extendedprice,
               CAST(row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY l_quantity, l_orderkey, l_linenumber) AS DOUBLE) AS rq,
               CAST(row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS DOUBLE) AS rp
        FROM lineitem)
      SELECT l_returnflag,
             CAST(count(1) AS BIGINT) AS n,
             round(corr(rq, rp), 6) AS spearman_rho,
             round(corr(l_quantity, l_extendedprice), 6) AS pearson_r
      FROM r GROUP BY l_returnflag ORDER BY l_returnflag""",
    // regr_* closed-form OLS: identical SQL-standard definitions in
    // both engines; rounding absorbs merge-order ULPs (q1b's rule)
    "q1j_regression_agg" -> """
      SELECT l_returnflag,
             CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
             round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
             round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
             round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_x,
             round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_y
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
    // containment: same 3-gram construction as q49's replay, pairs via
    // the shared-gram join AFTER the document-frequency cap (df > 64
    // grams dropped — the 100 TB fan-out guard), normalized by the
    // SMALLER kept-gram set; the capped-gram count rides every row
    "q4k_containment_dedup" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')))) AS gram
        FROM t),
      capped AS (
        SELECT gram FROM g GROUP BY gram HAVING count(1) > 64),
      kept AS (
        SELECT doc_id, gram FROM g
        WHERE gram NOT IN (SELECT gram FROM capped)),
      sz AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS n_grams FROM kept GROUP BY doc_id),
      p AS (
        SELECT g1.doc_id AS a, g2.doc_id AS b, CAST(count(1) AS BIGINT) AS n_shared
        FROM kept g1 JOIN kept g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
        GROUP BY 1, 2)
      SELECT p.a, p.b, p.n_shared,
             sa.n_grams AS n_grams_a, sb.n_grams AS n_grams_b,
             round(CAST(p.n_shared AS DOUBLE) / least(sa.n_grams, sb.n_grams), 6)
               AS containment,
             (SELECT CAST(count(1) AS BIGINT) FROM capped) AS n_capped_grams
      FROM p JOIN sz sa ON p.a = sa.doc_id JOIN sz sb ON p.b = sb.doc_id
      WHERE CAST(p.n_shared AS DOUBLE) / least(sa.n_grams, sb.n_grams) >= 0.2
      ORDER BY p.a, p.b""",
    // distribution window family (ntile / percent_rank / cume_dist):
    // identical SQL-standard definitions in both engines, one shared
    // window ordering with c_custkey tiebreak so ranks replay exactly
    "q1g_window_distribution" -> """
      WITH w AS (
        SELECT c_mktsegment, c_acctbal,
               ntile(4) OVER win AS quartile,
               percent_rank() OVER win AS pr,
               cume_dist() OVER win AS cd
        FROM customer
        WINDOW win AS (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal, c_custkey))
      SELECT c_mktsegment, CAST(quartile AS BIGINT) AS quartile,
             CAST(count(1) AS BIGINT) AS n,
             round(min(c_acctbal), 2) AS lo_bal,
             round(max(c_acctbal), 2) AS hi_bal,
             round(max(pr), 6) AS max_percent_rank,
             round(max(cd), 6) AS max_cume_dist
      FROM w GROUP BY c_mktsegment, quartile
      ORDER BY c_mktsegment, quartile""",
    // array HOFs: array_agg ORDER BY (ts, event_id) gives DuckDB the
    // same fold order as Spark's array_sort(struct) — the normalized
    // FP sum is then bit-identical left-to-right in both engines
    "q1h_array_hof" -> """
      WITH u AS (
        SELECT user_id,
               array_agg(value ORDER BY ts, event_id) AS vals
        FROM events GROUP BY user_id)
      SELECT user_id,
             CAST(len(vals) AS INTEGER) AS n_events,
             CAST(len(list_filter(vals, v -> v > 100.0)) AS INTEGER) AS n_big,
             round(list_sum(list_transform(vals, v -> v / list_max(vals))), 4)
               AS norm_sum,
             round(vals[1], 2) AS first_value,
             round(vals[-1], 2) AS last_value
      FROM u ORDER BY user_id""",
    // OHLC bars: shared (ts, event_id) tie-break ordering both ways,
    // open/close folded into the same hash aggregate as high/low
    "q3h_ohlc_bars" -> """
      WITH r AS (
        SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
               value,
               row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events)
      SELECT hour_us, event_type,
             max(CASE WHEN rn_a = 1 THEN value END) AS open,
             round(max(value), 2) AS high,
             round(min(value), 2) AS low,
             max(CASE WHEN rn_d = 1 THEN value END) AS close,
             CAST(count(1) AS BIGINT) AS n,
             round(sum(value), 2) AS volume
      FROM r GROUP BY hour_us, event_type
      ORDER BY hour_us, event_type""",
    // first-touch funnel: conditional-min stage timestamps, strict
    // ordering between stages, 3-row narrow output + lag conversion
    "q3i_funnel_conversion" -> """
      WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id),
      staged AS (
        SELECT
          CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_view,
          CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
            THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
          CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
            AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
        FROM firsts),
      narrow AS (
        SELECT 1 AS stage, 'view' AS path, n_view AS n_users FROM staged
        UNION ALL SELECT 2, 'view>click', n_click FROM staged
        UNION ALL SELECT 3, 'view>click>purchase', n_purchase FROM staged)
      SELECT stage, path, n_users,
             round(CAST(n_users AS DOUBLE) /
                   lag(n_users) OVER (ORDER BY stage), 4) AS conv_prev
      FROM narrow ORDER BY stage""",
    // cohort retention: fixed 7-day buckets from the 1995-01-02 Monday
    // anchor (engine-independent week arithmetic, no date_trunc('week'))
    "q3j_cohort_retention" -> """
      WITH wk AS (
        SELECT user_id, ts, event_type,
               CAST(floor((epoch_us(ts) -
                 epoch_us(TIMESTAMP '1995-01-02 00:00:00'))
                 / (7.0 * 24 * 3600 * 1000000)) AS BIGINT) AS week
        FROM events),
      cohorts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN week END) AS cohort_week
        FROM wk GROUP BY user_id HAVING cohort_week IS NOT NULL),
      sizes AS (
        SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
        FROM cohorts GROUP BY cohort_week),
      active AS (SELECT DISTINCT user_id, week FROM wk),
      ret AS (
        SELECT c.cohort_week, a.week - c.cohort_week AS offset_weeks,
               CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_active
        FROM cohorts c JOIN active a ON c.user_id = a.user_id
        WHERE a.week >= c.cohort_week
        GROUP BY 1, 2)
      SELECT r.cohort_week, r.offset_weeks, r.n_active, s.cohort_size,
             round(CAST(r.n_active AS DOUBLE) / s.cohort_size, 4) AS retention
      FROM ret r JOIN sizes s ON r.cohort_week = s.cohort_week
      ORDER BY r.cohort_week, r.offset_weeks""",
    "q2f_zorder_layout" -> graft.sources.Warehouse.zorderOracle,
    "q4h_frequent_pairs" -> Curation.frequentPairsOracle,
    "q4i_stratified_sample" -> Curation.stratifiedSampleOracle,
    "q5c_entity_resolution" -> Entity.partDuplicatesOracle,
    // single-pass Welford-mergeable moments; rounding absorbs the
    // engines' different merge orders (corr/covar/stddev/var are
    // bias-convention-stable across engines, skewness/kurtosis are not
    // and stay off the graded surface)
    "q1b_stats_moments" -> """
      SELECT l_returnflag,
             CAST(count(1) AS BIGINT) AS n,
             round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
             round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
             round(stddev_samp(l_extendedprice), 2) AS stddev_price,
             round(var_samp(l_quantity), 4) AS var_qty
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
    // the dense (hour × type) spine rebuilt with range(); silent hours
    // must surface as explicit zero rows flagged gap_filled
    "q3e_gap_fill" -> """
      WITH h AS (
        SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
               CAST(count(1) AS BIGINT) AS n,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hour_us) AS lo, max(hour_us) AS hi FROM h),
      spine AS (
        SELECT unnest(range(lo, hi + 1, 3600000000)) AS hour_us FROM b),
      t AS (SELECT DISTINCT event_type FROM h)
      SELECT s.hour_us, t.event_type,
             CAST(coalesce(h.n, 0) AS BIGINT) AS n,
             coalesce(h.sum_value, 0.0) AS sum_value,
             h.n IS NULL AS gap_filled
      FROM spine s CROSS JOIN t
      LEFT JOIN h ON s.hour_us = h.hour_us AND t.event_type = h.event_type
      ORDER BY 1, 2""",
    // RANGE frame on event-time micros: ties are peers in both engines,
    // so the frame content is order-insensitive and replayable
    "q3f_rolling_time_window" -> """
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(count(1) OVER w AS BIGINT) AS n_1h,
             round(avg(value) OVER w, 4) AS avg_1h
      FROM events
      WHERE user_id % 25 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts_us, event_id""",
    // SCD2 replayed with the same lag-filter-lead windows; the year-3000
    // high-water mark closes open versions identically in both engines
    "q2d_scd2_dimension" -> """
      WITH o AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
               lag(o_orderpriority) OVER w AS prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      c AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority
        FROM o WHERE prev IS NULL OR prev <> o_orderpriority),
      v AS (
        SELECT o_custkey, o_orderpriority AS priority,
               epoch_us(o_orderdate) AS effective_from_us,
               epoch_us(lead(o_orderdate) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
                 AS next_from_us
        FROM c)
      SELECT o_custkey, priority, effective_from_us,
             coalesce(next_from_us, CAST(32503680000000000 AS BIGINT))
               AS effective_to_us,
             next_from_us IS NULL AS is_current
      FROM v
      ORDER BY o_custkey, effective_from_us""",
    // the merged-schema read replayed arithmetically: even keys are the
    // legacy batch (no channel column → NULL → 'legacy'), odd keys
    // carry the derived channel; widening must lose no rows
    "q2e_schema_evolution" -> """
      WITH t AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
                    WHEN o_orderkey % 3 = 0 THEN 'web'
                    ELSE 'store' END AS channel
        FROM orders)
      SELECT channel,
             CAST(count(1) AS BIGINT) AS n_orders,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
             round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price
      FROM t GROUP BY channel ORDER BY channel""",
    // JSONL round trip must be lossless: sums CAST to BIGINT (DuckDB
    // sum() yields HUGEINT; the driver hash is representation-sensitive)
    "q29_jsonl_roundtrip" -> """
      SELECT lang,
             CAST(count(1) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(length(text)) AS BIGINT) AS sum_text_len
      FROM documents
      GROUP BY lang
      ORDER BY lang""",
    "q31_events_sliding" -> """
      WITH b AS (
        SELECT event_type, value,
               (epoch_us(ts) // 900000000) * 900000000 AS w1
        FROM events),
      w AS (
        SELECT event_type, value,
               unnest([w1, w1 - 900000000]) AS win_start_us
        FROM b)
      SELECT win_start_us, event_type,
             count(1) AS n, round(sum(value), 2) AS sum_value
      FROM w
      GROUP BY win_start_us, event_type
      ORDER BY win_start_us, event_type""",
    "q30_events_hourly" -> """
      SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
             count(1) AS n, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY hour_us, event_type
      ORDER BY hour_us, event_type""",
    "q32_events_sessionize" -> """
      WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessed AS (
        SELECT user_id, ts, value,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id,
             count(1) AS n_events,
             epoch_us(min(ts)) AS start_us,
             epoch_us(max(ts)) AS end_us,
             round(sum(value), 2) AS sum_value
      FROM sessed
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id""",
    "q35_events_session_window" -> """
      WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessed AS (
        SELECT user_id, ts, value,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id,
             epoch_us(min(ts)) AS start_us,
             count(1) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM sessed
      GROUP BY user_id, session_id
      ORDER BY user_id, start_us""",
    // the streaming replay runs in Complete mode over the whole fixture,
    // so its final table must equal the BATCH hourly aggregation — the
    // oracle is q30's SQL verbatim
    "q3t_stream_approx_distinct" -> StreamEvents.dailyApproxDistinctStreamingOracle,
    "q33_events_hourly_streaming" -> """
      SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
             count(1) AS n, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY hour_us, event_type
      ORDER BY hour_us, event_type""",
    // append-mode sessionization emits CLOSED sessions only: the batch
    // session table minus each user's final (still-open-at-end) session
    "q34_events_session_streaming" -> """
      WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessed AS (
        SELECT user_id, ts, value,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged),
      sessions AS (
        SELECT user_id, session_id,
               CAST(count(1) AS INTEGER) AS n_events,
               round(sum(value), 2) AS sum_value,
               epoch_us(min(ts)) AS start_us,
               epoch_us(max(ts)) AS end_us
        FROM sessed
        GROUP BY user_id, session_id)
      SELECT user_id, n_events, sum_value, start_us, end_us
      FROM sessions
      QUALIFY session_id < max(session_id) OVER (PARTITION BY user_id)
      ORDER BY user_id, start_us""",
    // append + watermark emits exactly the FINALIZED windows: those whose
    // end the final watermark (max event time − 1 h) has passed; the
    // still-open tail stays in state, as it would on an unbounded source.
    // The oracle replays that subset rule over the batch aggregate.
    "q38_events_hourly_append" -> """
      WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events)
      SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
             count(1) AS n, round(sum(value), 2) AS sum_value
      FROM events, m
      GROUP BY hour_us, event_type, m.mx
      HAVING hour_us + 3600000000 <= m.mx - 3600000000
      ORDER BY hour_us, event_type""",
    // q3l: a run killed after 2 of 4 replay files and resumed from its
    // checkpoint must land exactly the q38 result — same finalized-
    // window subset rule; any offset/state/watermark/sink-log recovery
    // fault shows up as missing, duplicate, or split rows
    "q3l_checkpoint_recovery" -> """
      WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events)
      SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
             count(1) AS n, round(sum(value), 2) AS sum_value
      FROM events, m
      GROUP BY hour_us, event_type, m.mx
      HAVING hour_us + 3600000000 <= m.mx - 3600000000
      ORDER BY hour_us, event_type""",
    // q38's finalized-window rule restricted to the partition filter;
    // partition_pruned is plan evidence folded into every row
    "q3k_partitioned_sink" -> """
      WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events)
      SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
             count(1) AS n, round(sum(value), 2) AS sum_value,
             TRUE AS partition_pruned
      FROM events, m
      WHERE event_type IN ('click', 'purchase')
      GROUP BY hour_us, event_type, m.mx
      HAVING hour_us + 3600000000 <= m.mx - 3600000000
      ORDER BY hour_us, event_type""",
    // every row is ingested TWICE (two unioned file sources); the
    // watermark-bounded streaming dedup must restore exactly-once, so
    // the sink aggregate equals the plain batch aggregate of the source
    "q39_stream_dedup" -> """
      SELECT event_type,
             count(1) AS n,
             round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",
    // the first hour arrives AFTER everything else and must be dropped
    // by the watermark: finalized windows are the q38 subset over the
    // SURVIVING rows (ts past the first hour); n_late_events replays
    // the planted raw-event count, and n_late_state_rows_dropped
    // replays the engine's numRowsDroppedByWatermark metric, which
    // counts the partial-aggregated (window, event_type) groups of the
    // single-split late batch = the distinct late group count
    "q3y_late_data_drop" -> """
      WITH m AS (
        SELECT max(epoch_us(ts)) AS mx,
               epoch_us(date_trunc('hour', min(ts))) + 3600000000 AS h0_end
        FROM events),
      late AS (
        SELECT CAST(count(1) AS BIGINT) AS n_late_events,
               (SELECT CAST(count(1) AS BIGINT) FROM (
                  SELECT DISTINCT date_trunc('hour', e2.ts), e2.event_type
                  FROM events e2, m WHERE epoch_us(e2.ts) < m.h0_end) g)
                 AS n_late_state_rows
        FROM events, m WHERE epoch_us(ts) < m.h0_end)
      SELECT x.hour_us, x.event_type, x.n, x.sum_value,
             late.n_late_events,
             late.n_late_state_rows AS n_late_state_rows_dropped
      FROM (
        SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
               count(1) AS n, round(sum(value), 2) AS sum_value
        FROM events, m
        WHERE epoch_us(ts) >= m.h0_end
        GROUP BY hour_us, event_type, m.mx
        HAVING hour_us + 3600000000 <= m.mx - 3600000000) x
      CROSS JOIN late
      ORDER BY x.hour_us, x.event_type""",
    // the streamed inner interval join emits each (click, purchase)
    // pair exactly once; the oracle is the identical join run as plain
    // batch SQL over the source table — a pair lost to state eviction
    // or double-emitted by the replay shifts the per-hour counts
    "q3a_stream_stream_join" -> """
      WITH c AS (
        SELECT event_id AS click_id, user_id, ts AS c_ts
        FROM events WHERE event_type = 'click'),
      p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts, value AS p_value
        FROM events WHERE event_type = 'purchase')
      SELECT epoch_us(date_trunc('hour', p.p_ts)) AS hour_us,
             CAST(count(1) AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT p.purchase_id) AS BIGINT) AS n_purchases,
             CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_users,
             round(sum(p.p_value), 2) AS sum_value
      FROM c JOIN p ON c.user_id = p.user_id
        AND p.p_ts >= c.c_ts
        AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR
      GROUP BY 1
      ORDER BY 1""",
    // left-outer stream-stream join: the sentinel slice flushes all
    // real state, so the streaming result IS the batch left join
    "q3g_stream_outer_join" -> """
      WITH c AS (
        SELECT event_id AS click_id, user_id, ts AS c_ts
        FROM events WHERE event_type = 'click'),
      p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts, value AS p_value
        FROM events WHERE event_type = 'purchase')
      SELECT epoch_us(date_trunc('hour', c.c_ts)) AS hour_us,
             CAST(count(1) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN p.purchase_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_unmatched,
             CAST(count(DISTINCT c.click_id) AS BIGINT) AS n_clicks,
             round(sum(coalesce(p.p_value, 0.0)), 2) AS sum_value
      FROM c LEFT JOIN p ON c.user_id = p.user_id
        AND p.p_ts >= c.c_ts
        AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR
      GROUP BY 1
      ORDER BY 1""",
    // stream-static enrichment then watermark+append: the oracle is the
    // batch join + the q38 finalized-window subset rule
    "q3b_stream_static_join" -> """
      WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
      j AS (
        SELECT e.ts, e.value, c.c_mktsegment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey)
      SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, c_mktsegment,
             count(1) AS n, round(sum(value), 2) AS sum_value
      FROM j, m
      GROUP BY hour_us, c_mktsegment, m.mx
      HAVING hour_us + 3600000000 <= m.mx - 3600000000
      ORDER BY hour_us, c_mktsegment""",
    // per-microbatch PARTIAL aggregates appended via foreachBatch, then
    // merged: associativity makes the total independent of batch
    // boundaries, so the plain batch aggregate replays it
    "q3c_foreach_batch" -> """
      SELECT user_id,
             CAST(count(1) AS BIGINT) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY user_id
      ORDER BY user_id""",
    // transformWithState running totals: each user's LAST emission (the
    // argmax-by-n_events row — n is strictly monotone per user) equals
    // the plain batch aggregate regardless of microbatch boundaries
    "q3d_transform_with_state" -> """
      SELECT user_id,
             CAST(count(1) AS BIGINT) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY user_id
      ORDER BY user_id""",
    // Spark-side: union + carry-forward window (one shuffle, no
    // non-equi join); DuckDB replays it with its NATIVE ASOF JOIN —
    // two entirely different algorithms, same point-in-time semantics
    "q36_asof_join" -> """
      WITH c AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      p AS (
        -- one row per (user_id, ts), keeping max(value): DuckDB's native
        -- ASOF JOIN picks an UNSPECIFIED row among exact-ts ties, while
        -- the Spark side deterministically carries the greatest payload
        -- tuple — pre-aggregating pins the oracle to the same tie rule
        SELECT user_id, ts, epoch_us(ts) AS p_us, max(value) AS p_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts)
      SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us,
             p.p_us AS purchase_us, round(p.p_value, 2) AS purchase_value
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
      ORDER BY c.user_id, click_id""",
    // q75 is q36 served by the native AsofJoinExec operator — the
    // oracle is deliberately the identical ASOF LEFT JOIN: one truth,
    // two plans (composed union+window vs custom sorted-merge exec)
    "q75_asof_join_native" -> """
      WITH c AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      p AS (
        SELECT user_id, ts, epoch_us(ts) AS p_us, max(value) AS p_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts)
      SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us,
             p.p_us AS purchase_us, round(p.p_value, 2) AS purchase_value
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
      ORDER BY c.user_id, click_id""",
    // q76 flips the direction: earliest purchase at-or-AFTER each
    // click; DuckDB's ASOF `<=` picks the nearest following row, and
    // the min(value) pre-aggregate mirrors the native operator's
    // smallest-payload-tuple tie rule (q75 uses max for last ≤)
    "q76_asof_join_forward" -> """
      WITH c AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      p AS (
        SELECT user_id, ts, epoch_us(ts) AS p_us, min(value) AS p_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts)
      SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us,
             p.p_us AS purchase_us, round(p.p_value, 2) AS purchase_value
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
      ORDER BY c.user_id, click_id""",
    // Spark-side: bin-quantized equi join + exact range filter (never
    // n·m candidates); DuckDB replays the naive non-equi left join
    "q37_range_join_binned" -> """
      WITH c AS (
        SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
        FROM events WHERE event_type = 'click'),
      p AS (
        SELECT user_id, epoch_us(ts) AS p_us, value AS p_value
        FROM events WHERE event_type = 'purchase')
      SELECT c.user_id, c.click_id, c.click_us,
             CAST(count(p.p_us) AS BIGINT) AS n_purchases_1h,
             coalesce(round(sum(p.p_value), 2), 0.0) AS sum_purchase_value
      FROM c LEFT JOIN p ON c.user_id = p.user_id
        AND p.p_us <= c.click_us AND p.p_us > c.click_us - 3600000000
      GROUP BY c.user_id, c.click_id, c.click_us
      ORDER BY c.user_id, c.click_id""",
    "q42_language_id" -> """
      WITH s AS (
        SELECT doc_id, lang,
          len(list_filter(string_split(text,' '), t -> t IN ('der','die','und'))) AS s_de,
          len(list_filter(string_split(text,' '), t -> t IN ('the','a','of')))    AS s_en,
          len(list_filter(string_split(text,' '), t -> t IN ('el','la','de')))    AS s_es,
          len(list_filter(string_split(text,' '), t -> t IN ('le','la','et')))    AS s_fr
        FROM documents)
      SELECT doc_id, lang AS labelled_lang,
             CASE WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
                  WHEN s_es > greatest(s_de, s_en)       THEN 'es'
                  WHEN s_en > s_de                       THEN 'en'
                  ELSE 'de' END AS detected_lang,
             greatest(s_de, s_en, s_es, s_fr) AS marker_hits
      FROM s
      ORDER BY doc_id""",
    // sums CAST to BIGINT: DuckDB's sum() yields HUGEINT (int128) and the
    // driver's hash compare is representation-sensitive vs Spark's BIGINT.
    // n_hash_collisions expected 0: the engine reports observed xxhash64
    // collisions (distinct (hash,text) groups minus distinct hashes);
    // a nonzero value is a real signal the oracle should flag.
    "q51_dedup_exact_content" -> """
      SELECT CAST(count(1) AS BIGINT) AS n_unique,
             CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
             CAST(0 AS BIGINT) AS n_hash_collisions
      FROM (SELECT text, count(1) AS n FROM documents GROUP BY text) t""",
    "q40_token_stats" -> """
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             round(list_sum(list_transform(string_split(text, ' '), t -> length(t)))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS avg_token_len,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','a','of','and','to','in'))) AS n_stopwords
      FROM documents
      ORDER BY doc_id""",
    "q41_quality_score" -> """
      WITH t AS (
        SELECT doc_id, n_chars,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_distinct,
               CAST(len(list_filter(string_split(text, ' '),
                   x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) AS n_stop
        FROM documents)
      SELECT doc_id,
             round(n_tokens, 2) AS n_tokens,
             round(n_distinct / n_tokens, 4) AS diversity,
             round(n_stop / n_tokens, 4) AS stop_ratio,
             round((CASE WHEN n_chars >= 100 THEN 1.0 ELSE n_chars/100.0 END) * 0.4
                   + (n_distinct / n_tokens) * 0.4
                   + least((n_stop / n_tokens) * 5.0, 1.0) * 0.2, 4) AS quality
      FROM t
      ORDER BY doc_id""",
    "q43_fingerprints" -> """
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ' '),
                   t -> (length(t) * 1000003 + ascii(t) * 65599
                         + ascii(substring(t, -1, 1)) * 31) % 1000000007)),
               (acc, h) -> (acc * 31 + h) % 1000000007) AS fp
      FROM documents
      ORDER BY doc_id""",
    "q44_tfidf_top_terms" -> """
      WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (
        SELECT doc_id, term, count(1) AS tf FROM terms GROUP BY doc_id, term),
      df AS (
        SELECT term, count(1) AS df FROM tf GROUP BY term),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, term, tf, df, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rk
        FROM scored)
      SELECT doc_id, rk, term, tf, df, tfidf
      FROM ranked
      WHERE rk <= 3
      ORDER BY doc_id, rk""",
    // identical regexes, identical synthesized PII input — DuckDB must
    // reproduce the redacted text byte-for-byte ('g' = replace all,
    // matching Spark's regexp_replace semantics)
    "q45_pii_redaction" -> """
      WITH t AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@mail.com from 10.0.'
                    || (doc_id % 256) || '.7 tel 555-' || ((doc_id % 9000) + 1000) AS txt
        FROM documents)
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(txt, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
               '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted,
             CAST(len(regexp_extract_all(txt, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
             CAST(len(regexp_extract_all(txt, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones
      FROM t
      ORDER BY doc_id""",
    // membership is pure arithmetic on (doc_id, lang) — the Lehmer gate
    // u = (doc_id·48271 mod 2^31−1)/(2^31−1) — so DuckDB replays the
    // exact sample, not a statistical approximation of it
    "q46_weighted_sample" -> """
      WITH d AS (
        SELECT doc_id, lang,
               CAST((((doc_id % 2147483647) * 48271 % 2147483647) * 48271)
                 % 2147483647 AS DOUBLE) / 2147483647 AS u,
               CAST(CASE lang WHEN 'de' THEN 0.05 WHEN 'en' THEN 0.20
                              WHEN 'es' THEN 0.10 WHEN 'fr' THEN 0.15
                              ELSE 0.0 END AS DOUBLE) AS rate
        FROM documents)
      SELECT lang,
             CAST(count(1) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
             round(any_value(rate), 2) AS target_rate,
             round(CAST(sum(CASE WHEN u < rate THEN 1.0 ELSE 0.0 END) AS DOUBLE)
               / count(1), 4) AS realized_rate
      FROM d GROUP BY lang ORDER BY lang""",
    // offset-based packing replayed with the same per-(lang, shard)
    // running sum; integer bin arithmetic is identical in both engines
    "q47_sequence_packing" -> """
      WITH d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               doc_id % 8 AS shard
        FROM documents),
      c AS (
        SELECT lang, shard, doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM d),
      b AS (SELECT *, CAST((cum - n_tokens) // 4096 AS BIGINT) AS bin FROM c)
      SELECT lang, shard, bin,
             CAST(count(1) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
             CAST(sum(CASE WHEN cum - (bin + 1) * 4096 > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_overflow
      FROM b
      GROUP BY lang, shard, bin
      ORDER BY lang, shard, bin""",
    // the narrow sorted-scan repetition stats replayed relationally:
    // unnest n-grams, GROUP BY, max count / distinct count per doc —
    // same numbers, different (shuffle-heavy) algorithm, which is the
    // point of the check
    "q48_repetition_filter" -> """
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id, len(toks) AS n,
               list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1]) AS bi,
               list_transform(range(1, len(toks)-1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tri
        FROM t),
      bc AS (
        SELECT doc_id, gram, count(1) AS c
        FROM (SELECT doc_id, unnest(bi) AS gram FROM g)
        GROUP BY 1, 2),
      bs AS (
        SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_bigram_frac,
               CAST(sum(c) AS BIGINT) AS n_bigrams
        FROM bc GROUP BY 1),
      ts AS (
        SELECT doc_id,
               round(1.0 - CAST(count(DISTINCT gram) AS DOUBLE) / count(1), 4)
                 AS dup_trigram_frac
        FROM (SELECT doc_id, unnest(tri) AS gram FROM g)
        GROUP BY 1)
      SELECT t.doc_id,
             COALESCE(bs.n_bigrams, 0) AS n_bigrams,
             COALESCE(bs.top_bigram_frac, 0.0) AS top_bigram_frac,
             COALESCE(ts.dup_trigram_frac, 0.0) AS dup_trigram_frac,
             (COALESCE(bs.top_bigram_frac, 0.0) > 0.18
               OR COALESCE(ts.dup_trigram_frac, 0.0) > 0.05) AS repetitive
      FROM t
      LEFT JOIN bs ON t.doc_id = bs.doc_id
      LEFT JOIN ts ON t.doc_id = ts.doc_id
      ORDER BY t.doc_id""",
    // eval set rebuilt arithmetically (doc_id % 50 = 0); 5-gram overlap
    // via unnest + join — the broadcast side of the Spark plan
    "q49_decontamination" -> """
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(toks)-3),
                 i -> list_aggregate(toks[i:i+4], 'string_agg', ' ')))) AS gram
        FROM t),
      ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 50 = 0),
      tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 50 <> 0)
      SELECT tr.doc_id AS doc_id,
             CAST(count(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
             CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
      FROM tr JOIN ev ON tr.gram = ev.gram
      GROUP BY 1
      ORDER BY 1""",
    // exact interpolated quantiles (quantile_cont = Spark percentile's
    // lower + frac*(upper-lower)); sketch_ok is the folded contract —
    // TRUE here, computed in Spark as approx within the p±0.001 band
    "q58_quantile_sketch" -> """
      SELECT l_returnflag,
             CAST(count(1) AS BIGINT) AS n_rows,
             round(quantile_cont(l_extendedprice, 0.25), 2) AS p25,
             round(quantile_cont(l_extendedprice, 0.50), 2) AS p50,
             round(quantile_cont(l_extendedprice, 0.75), 2) AS p75,
             TRUE AS sketch_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
    // same unigram LM fit + scoring in SQL; `kept` compares the ROUNDED
    // score so it is a pure function of the hash-checked column
    "q4a_unigram_logprob" -> """
      WITH t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      f AS (SELECT tok, count(1) AS cnt FROM t GROUP BY tok),
      tot AS (SELECT sum(cnt) AS total FROM f),
      s AS (
        SELECT doc_id, ln(CAST(cnt AS DOUBLE) / total) AS lp
        FROM t JOIN f USING (tok), tot)
      SELECT doc_id,
             CAST(count(1) AS BIGINT) AS n_tokens,
             round(avg(lp), 4) AS avg_logprob,
             round(avg(lp), 4) > -3.41 AS kept
      FROM s GROUP BY doc_id ORDER BY doc_id""",
    // bigram LM: adjacency pairs built with list_transform over the
    // index range (DuckDB 1.0 rejects a LATERAL range(len(l))) — same
    // pairs as Spark's sequence+struct transform; add-one smoothing
    // keeps every log finite
    "q4j_bigram_score" -> """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      plist AS (
        SELECT doc_id,
               list_transform(range(1, len(l)), i -> [l[i], l[i + 1]]) AS ps
        FROM toks),
      pairs AS (
        SELECT doc_id, p[1] AS a, p[2] AS b
        FROM (SELECT doc_id, unnest(ps) AS p FROM plist)),
      uni AS (
        SELECT a, count(1) AS c_a FROM (
          SELECT unnest(l) AS a FROM toks) GROUP BY a),
      v AS (SELECT CAST(count(1) AS DOUBLE) AS v FROM uni),
      big AS (SELECT a, b, count(1) AS c_ab FROM pairs GROUP BY a, b),
      s AS (
        SELECT p.doc_id,
               ln((big.c_ab + 1.0) / (uni.c_a + v.v)) AS lp
        FROM pairs p
        JOIN big ON p.a = big.a AND p.b = big.b
        JOIN uni ON p.a = uni.a
        CROSS JOIN v)
      SELECT doc_id,
             CAST(count(1) AS BIGINT) AS n_bigrams,
             round(avg(lp), 4) AS avg_logprob,
             round(exp(-avg(lp)), 2) AS perplexity
      FROM s GROUP BY doc_id ORDER BY doc_id""",
    // the Lehmer gate on user_id replayed arithmetically; leak_free is
    // TRUE by construction of a correct group-keyed gate, and the
    // per-split user/event/value totals pin the exact membership
    "q4b_group_split" -> """
      WITH t AS (
        SELECT user_id, value,
               CAST((((user_id % 2147483647) * 48271 % 2147483647) * 48271)
                 % 2147483647 AS DOUBLE) / 2147483647 AS u
        FROM events),
      s AS (
        SELECT CASE WHEN u < 0.8 THEN 'train' ELSE 'test' END AS split,
               user_id, value
        FROM t)
      SELECT split,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(count(1) AS BIGINT) AS n_events,
             round(CAST(sum(value) AS DOUBLE), 2) AS sum_value,
             TRUE AS leak_free
      FROM s GROUP BY split ORDER BY split""",
    // α=0.5 temperature mixture: sqrt is correctly rounded IEEE in both
    // engines (pow(x,0.5) would not be), and the gate rate is rounded
    // to 6 decimals before comparing, so membership replays exactly
    "q4g_temperature_mixture" -> """
      WITH c AS (SELECT lang, CAST(count(1) AS BIGINT) AS n_l
                 FROM documents GROUP BY lang),
      z AS (SELECT sum(sqrt(CAST(n_l AS DOUBLE))) AS z,
                   CAST(sum(n_l) AS BIGINT) AS n_total FROM c),
      r AS (
        SELECT c.lang, c.n_l, z.n_total,
               sqrt(CAST(c.n_l AS DOUBLE)) / z.z AS p_temp,
               round(least(CAST(1.0 AS DOUBLE),
                 CAST(0.3 AS DOUBLE) * z.n_total
                   * (sqrt(CAST(c.n_l AS DOUBLE)) / z.z) / c.n_l), 6) AS rate
        FROM c CROSS JOIN z),
      d AS (
        SELECT doc_id, lang,
               CAST((((doc_id % 2147483647) * 48271 % 2147483647) * 48271)
                 % 2147483647 AS DOUBLE) / 2147483647 AS u
        FROM documents)
      SELECT r.lang,
             CAST(count(1) AS BIGINT) AS n_docs,
             round(any_value(r.p_temp), 6) AS p_temp,
             round(any_value(r.rate), 6) AS rate,
             CAST(sum(CASE WHEN d.u < r.rate THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled
      FROM d JOIN r ON d.lang = r.lang
      GROUP BY r.lang ORDER BY r.lang""",
    // the chunk windows replayed with the same ceil/stride arithmetic;
    // chunk_chars re-slices the token list per chunk, pinning the
    // engine's array-slice semantics (1-based, length-bounded) exactly
    "q4d_chunking" -> """
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      d AS (
        SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
               greatest(CAST(1 AS BIGINT),
                 CAST(ceil((len(toks) - 16) / 48.0) AS BIGINT)) AS n_chunks
        FROM t),
      c AS (
        SELECT doc_id, toks, n_tokens,
               unnest(range(0, n_chunks)) AS chunk_id
        FROM d)
      SELECT doc_id, chunk_id,
             chunk_id * 48 AS start_tok,
             least(CAST(64 AS BIGINT), n_tokens - chunk_id * 48) AS n_chunk_tokens,
             CAST(length(array_to_string(
               toks[CAST(chunk_id * 48 + 1 AS INTEGER) :
                    CAST(chunk_id * 48
                         + least(CAST(64 AS BIGINT), n_tokens - chunk_id * 48)
                      AS INTEGER)], ' ')) AS BIGINT) AS chunk_chars
      FROM c
      ORDER BY doc_id, chunk_id""",
    // exact top-N replayed relationally; `guaranteed` from the exact
    // counts, and hh_ok is the Misra-Gries theorem (guaranteed →
    // candidate survives), which a correct sketch makes always-TRUE
    "q4c_heavy_hitters" -> """
      WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      e AS (SELECT tok, CAST(count(1) AS BIGINT) AS cnt FROM toks GROUP BY tok),
      t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM e)
      SELECT tok, cnt,
             cnt > CAST(n_total AS DOUBLE) / 101 AS guaranteed,
             TRUE AS hh_ok
      FROM e CROSS JOIN t
      ORDER BY cnt DESC, tok
      LIMIT 10""",
    // the funnel's cumulative-conjunction counts replayed over the same
    // rounded per-doc scores and the same normalization chain; every
    // stage must be ≤ the previous by construction in both engines
    "q4e_curation_funnel" -> """
      WITH d AS (
        SELECT doc_id, lang, n_chars,
               string_split(text, ' ') AS toks,
               trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        FROM documents),
      f AS (
        SELECT doc_id, lang, n_chars, norm,
               round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS diversity,
               round(CAST(len(list_filter(toks,
                 x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
                 / len(toks), 4) AS stop_ratio,
               row_number() OVER (PARTITION BY norm ORDER BY doc_id) = 1 AS first_of_norm
        FROM d),
      g AS (
        SELECT count(1) AS s0,
               sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS s1,
               sum(CASE WHEN n_chars >= 100
                         AND lang IN ('de','en','es','fr')
                    THEN 1 ELSE 0 END) AS s2,
               sum(CASE WHEN n_chars >= 100
                         AND lang IN ('de','en','es','fr')
                         AND diversity >= 0.35
                    THEN 1 ELSE 0 END) AS s3,
               sum(CASE WHEN n_chars >= 100
                         AND lang IN ('de','en','es','fr')
                         AND diversity >= 0.35
                         AND stop_ratio <= 0.15
                    THEN 1 ELSE 0 END) AS s4,
               sum(CASE WHEN n_chars >= 100
                         AND lang IN ('de','en','es','fr')
                         AND diversity >= 0.35
                         AND stop_ratio <= 0.15
                         AND first_of_norm
                    THEN 1 ELSE 0 END) AS s5
        FROM f)
      SELECT * FROM (
        SELECT 0 AS stage, 'all' AS gate,
               CAST(s0 AS BIGINT) AS n_docs, round(s0/s0, 4) AS retained FROM g
        UNION ALL SELECT 1, 'min_length', CAST(s1 AS BIGINT), round(s1/s0, 4) FROM g
        UNION ALL SELECT 2, 'lang_known', CAST(s2 AS BIGINT), round(s2/s0, 4) FROM g
        UNION ALL SELECT 3, 'diverse', CAST(s3 AS BIGINT), round(s3/s0, 4) FROM g
        UNION ALL SELECT 4, 'stopword_ok', CAST(s4 AS BIGINT), round(s4/s0, 4) FROM g
        UNION ALL SELECT 5, 'canonical', CAST(s5 AS BIGINT), round(s5/s0, 4) FROM g)
      ORDER BY stage""",
    // identical normalization chain (lower → punct→space → collapse →
    // trim) in both engines; norm_chars pins it byte-for-byte. The
    // (xxhash64, norm) grouping key is engine-internal and dropped —
    // only its collision-safe group COUNTS surface
    "q4f_normalized_dedup" -> """
      WITH n AS (
        SELECT lang,
               trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        FROM documents),
      g AS (SELECT lang, norm, count(1) AS n FROM n GROUP BY lang, norm)
      SELECT lang,
             CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(count(1) AS BIGINT) AS n_unique,
             CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_redundant,
             CAST(sum(length(norm) * n) AS BIGINT) AS norm_chars
      FROM g GROUP BY lang ORDER BY lang""",
    "q50_dedup_exact_key" -> """
      SELECT lang, source,
             min(doc_id) AS keep_doc_id,
             count(1) AS group_size,
             min(n_chars) AS min_chars,
             max(n_chars) AS max_chars
      FROM documents
      GROUP BY lang, source
      ORDER BY lang, source""",
    // simhash values are xxhash64-derived (not replayable in DuckDB);
    // the query emits corpus invariants of the actual bucket table —
    // a false boolean here means the Spark-side bucketing broke
    "q54_simhash_buckets" -> """
      SELECT CAST(count(1) AS BIGINT) AS n_docs,
             true AS buckets_le_distinct_texts,
             true AS bucket_sizes_partition_corpus
      FROM documents""",
    "q55_ngram_jaccard" -> """
      WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3 THEN [text]
                 ELSE list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                 END) AS grams
        FROM t)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
      FROM g a JOIN g b ON a.doc_id + 1 = b.doc_id
      ORDER BY doc_a""",
    "q60_embedding_norms" -> """
      SELECT vec_id, label,
             len(embedding) AS dim,
             round(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
      FROM embeddings
      ORDER BY vec_id""",
    // full DuckDB replay of the deterministic hyperplane sketch: bit b
    // of a vector's bucket = sign of Σ_i emb[i]·w(i,b) with
    // w(i,b) = ((i·2654435761 + b·40503) >> 13) % 2 == 0 ? +1 : −1 —
    // identical arithmetic to Dedup.embeddingNearDupPairs, over the
    // fixture AUGMENTED with the planted ×2/×4 parallel twins (exact
    // power-of-two float scaling, so both engines reconstruct identical
    // vectors and exact 1.0 cosines). The graded surface now exercises
    // a NON-EMPTY emission: the 8 twin pairs must appear (missing ⇒
    // bucketing/cosine bug), and nothing else may (random fixture
    // ceiling ≈ 0.46 vs the 0.95 floor ⇒ false positives fail the hash)
    "q56_embedding_neardup" -> """
      WITH aug AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
               list_transform(embedding,
                 x -> CAST(x * CAST(2 + 2 * (vec_id % 2) AS FLOAT) AS FLOAT))
                 AS embedding
        FROM embeddings WHERE vec_id < 8),
      p AS (
        SELECT vec_id, embedding, b.b,
               list_sum(list_transform(range(1, len(embedding) + 1),
                 i -> CAST(embedding[i] AS DOUBLE) *
                      (CASE WHEN (((i - 1) * 2654435761 + b.b * 40503) // 8192) % 2 = 0
                            THEN 1.0 ELSE -1.0 END))) AS proj
        FROM aug CROSS JOIN (SELECT unnest(range(0, 8)) AS b) b),
      buck AS (
        SELECT vec_id, any_value(embedding) AS embedding,
               CAST(sum(CASE WHEN proj > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
        FROM p GROUP BY vec_id),
      pairs AS (
        SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
               list_sum(list_transform(range(1, len(l.embedding) + 1),
                 i -> CAST(l.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(l.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(r.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        FROM buck l JOIN buck r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
      SELECT vec_a, vec_b, round(cos, 4) AS cosine
      FROM pairs WHERE cos >= 0.95
      ORDER BY vec_a, vec_b""",
    // connected components reached by a recursive CTE (label
    // propagation to fixpoint) — the Spark side uses iterative
    // min-propagation + pointer jumping; both must land on the same
    // per-component (min-id representative, size) table
    "q57_dup_components" -> """
      WITH RECURSIVE p AS (
        SELECT vec_id, embedding, b.b,
               list_sum(list_transform(range(1, len(embedding) + 1),
                 i -> CAST(embedding[i] AS DOUBLE) *
                      (CASE WHEN (((i - 1) * 2654435761 + b.b * 40503) // 8192) % 2 = 0
                            THEN 1.0 ELSE -1.0 END))) AS proj
        FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS b) b),
      buck AS (
        SELECT vec_id, any_value(embedding) AS embedding,
               CAST(sum(CASE WHEN proj > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
        FROM p GROUP BY vec_id),
      pairs AS (
        SELECT l.vec_id AS a, r.vec_id AS b2
        FROM buck l JOIN buck r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        WHERE list_sum(list_transform(range(1, len(l.embedding) + 1),
                i -> CAST(l.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(l.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(r.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
              >= 0.25),
      edges AS (SELECT a AS src, b2 AS dst FROM pairs
                UNION ALL SELECT b2, a FROM pairs),
      reach(v, r) AS (
        SELECT vec_id, vec_id FROM buck
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.v = e.src),
      comp AS (SELECT v, min(r) AS rep FROM reach GROUP BY v)
      SELECT rep AS component_rep, CAST(count(1) AS BIGINT) AS n_members
      FROM comp GROUP BY rep ORDER BY rep""",
    // q59 = the q57 component fixpoint + a quality-ranked representative
    // pick per cluster, replayed with the same recursive CTE
    "q59_canonical_dedup" -> """
      WITH RECURSIVE p AS (
        SELECT vec_id, embedding, b.b,
               list_sum(list_transform(range(1, len(embedding) + 1),
                 i -> CAST(embedding[i] AS DOUBLE) *
                      (CASE WHEN (((i - 1) * 2654435761 + b.b * 40503) // 8192) % 2 = 0
                            THEN 1.0 ELSE -1.0 END))) AS proj
        FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS b) b),
      buck AS (
        SELECT vec_id, any_value(embedding) AS embedding,
               CAST(sum(CASE WHEN proj > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
        FROM p GROUP BY vec_id),
      pairs AS (
        SELECT l.vec_id AS a, r.vec_id AS b2
        FROM buck l JOIN buck r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        WHERE list_sum(list_transform(range(1, len(l.embedding) + 1),
                i -> CAST(l.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(l.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(r.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
              >= 0.25),
      edges AS (SELECT a AS src, b2 AS dst FROM pairs
                UNION ALL SELECT b2, a FROM pairs),
      reach(v, r) AS (
        SELECT vec_id, vec_id FROM buck
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.v = e.src),
      comp AS (SELECT v, min(r) AS rep FROM reach GROUP BY v),
      j AS (
        SELECT c.v, c.rep, d.n_chars
        FROM comp c JOIN documents d ON c.v = d.doc_id),
      rk AS (
        SELECT v, rep, n_chars,
               row_number() OVER (PARTITION BY rep
                                  ORDER BY n_chars DESC, v) AS rk
        FROM j)
      SELECT rep AS component_rep,
             CAST(count(1) AS BIGINT) AS n_members,
             CAST(max(CASE WHEN rk = 1 THEN v END) AS BIGINT) AS canonical_id,
             CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS canonical_chars,
             CAST(sum(CASE WHEN rk <> 1 THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
      FROM rk GROUP BY rep ORDER BY rep""",
    // SemDeDup replayed in full: fixed-centroid assignment (the q64
    // arithmetic), within-cluster pair cosines, the paper's
    // keep-least-centroid-similar rule, and the kept-id checksum
    "q5a_semantic_dedup" -> """
      WITH c AS (
        SELECT vec_id AS cent_id, embedding AS cent
        FROM embeddings WHERE vec_id < 4),
      a0 AS (
        SELECT e.vec_id, c.cent_id, e.embedding,
               round(
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(c.cent,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 8) AS cos_c
        FROM embeddings e CROSS JOIN c),
      a AS (
        SELECT vec_id, cent_id, embedding, cos_c AS cos_cent
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cos_c DESC, cent_id) AS rk
              FROM a0)
        WHERE rk = 1),
      dropped AS (
        SELECT DISTINCT x.cent_id, x.vec_id
        FROM a x JOIN a y ON x.cent_id = y.cent_id AND x.vec_id <> y.vec_id
        WHERE round(
                list_sum(list_transform(range(1, len(x.embedding) + 1),
                  i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(x.embedding,
                     xx -> CAST(xx AS DOUBLE) * CAST(xx AS DOUBLE))))
                   * sqrt(list_sum(list_transform(y.embedding,
                       yy -> CAST(yy AS DOUBLE) * CAST(yy AS DOUBLE))))), 8) >= 0.25
          AND (y.cos_cent < x.cos_cent
               OR (y.cos_cent = x.cos_cent AND y.vec_id < x.vec_id))),
      j AS (
        SELECT a.cent_id, a.vec_id, a.cos_cent,
               d.vec_id IS NOT NULL AS is_dropped
        FROM a LEFT JOIN dropped d
          ON a.cent_id = d.cent_id AND a.vec_id = d.vec_id)
      SELECT cent_id,
             CAST(count(1) AS BIGINT) AS n_vectors,
             CAST(sum(CASE WHEN is_dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
             CAST(sum(CASE WHEN is_dropped THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN is_dropped THEN NULL ELSE vec_id END) AS BIGINT)
               AS sum_kept_ids,
             round(avg(cos_cent), 4) AS avg_cent_cos
      FROM j GROUP BY cent_id ORDER BY cent_id""",
    // q5f: converged dangling-mass PageRank. Rank values at a
    // data-dependent convergence point aren't replayable by a
    // non-iterating oracle, so the graded row is replayable graph facts
    // (node/planted-sink counts) + contract booleans: mass_ok (total
    // rank within 1e-9 of exactly 1 — the invariant dangling
    // redistribution preserves; a leak fails the hash) and converged
    // (enforced by require in pageRankConverged)
    "q5f_pagerank_converged" -> """
      SELECT CAST(count(1) AS BIGINT) AS n_nodes,
             (SELECT CAST(count(1) AS BIGINT) FROM documents
              WHERE doc_id % 10 = 7) AS n_sinks,
             true AS mass_ok,
             true AS converged
      FROM documents""",
    // 3 PageRank iterations unrolled as CTE stages over the same
    // arithmetically-rebuilt link graph; every double derives from the
    // same IEEE ops ((1 − 0.85) subtracted, not a folded 0.15 literal —
    // and CASTs keep DuckDB's decimal literals out of the arithmetic)
    "q5b_pagerank" -> """
      WITH d AS (SELECT doc_id FROM documents),
      nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
      e0 AS (
        SELECT doc_id AS src,
               unnest([(doc_id * 31 + 7) % n,
                       (doc_id * 17 + 3) % n,
                       (doc_id * 13 + 11) % n]) AS dst
        FROM d CROSS JOIN nn),
      deg AS (SELECT src, CAST(count(1) AS BIGINT) AS out_deg
              FROM e0 GROUP BY src),
      e AS (SELECT e0.src, e0.dst, deg.out_deg FROM e0 JOIN deg USING (src)),
      r0 AS (SELECT doc_id AS id, 1.0 / n AS pr FROM d CROSS JOIN nn),
      c1 AS (SELECT e.dst, sum(r.pr / e.out_deg) AS m
             FROM e JOIN r0 r ON e.src = r.id GROUP BY e.dst),
      r1 AS (SELECT d.doc_id AS id,
                    (1 - CAST(0.85 AS DOUBLE)) / nn.n
                      + CAST(0.85 AS DOUBLE) * coalesce(c1.m, 0.0) AS pr
             FROM d CROSS JOIN nn LEFT JOIN c1 ON d.doc_id = c1.dst),
      c2 AS (SELECT e.dst, sum(r.pr / e.out_deg) AS m
             FROM e JOIN r1 r ON e.src = r.id GROUP BY e.dst),
      r2 AS (SELECT d.doc_id AS id,
                    (1 - CAST(0.85 AS DOUBLE)) / nn.n
                      + CAST(0.85 AS DOUBLE) * coalesce(c2.m, 0.0) AS pr
             FROM d CROSS JOIN nn LEFT JOIN c2 ON d.doc_id = c2.dst),
      c3 AS (SELECT e.dst, sum(r.pr / e.out_deg) AS m
             FROM e JOIN r2 r ON e.src = r.id GROUP BY e.dst),
      r3 AS (SELECT d.doc_id AS id,
                    (1 - CAST(0.85 AS DOUBLE)) / nn.n
                      + CAST(0.85 AS DOUBLE) * coalesce(c3.m, 0.0) AS pr
             FROM d CROSS JOIN nn LEFT JOIN c3 ON d.doc_id = c3.dst)
      SELECT id AS doc_id, round(pr, 8) AS pr
      FROM r3 ORDER BY doc_id""",
    // triangle count: same low→high orientation + 3-way join over the
    // same arithmetically-rebuilt near-neighbor graph. Edges are built
    // with UNION ALL, not unnest: DuckDB 1.0's binder raises an
    // INTERNAL error on an unnest alias referenced through a
    // DISTINCT+WHERE CTE (q5b's plain unnest is unaffected)
    "q5d_triangle_count" -> """
      WITH d AS (SELECT doc_id FROM documents),
      nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
      raw AS (
        SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM d CROSS JOIN nn
        UNION ALL
        SELECT doc_id, (doc_id + 2) % n FROM d CROSS JOIN nn
        UNION ALL
        SELECT doc_id, (doc_id + 3) % n FROM d CROSS JOIN nn
        UNION ALL
        SELECT doc_id, (doc_id * 17 + 3) % n FROM d CROSS JOIN nn),
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE src <> dst),
      tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e1.b = e2.a
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      pv AS (
        SELECT v AS doc_id, CAST(count(1) AS BIGINT) AS n_triangles
        FROM (SELECT x AS v FROM tri UNION ALL
              SELECT y FROM tri UNION ALL
              SELECT z FROM tri)
        GROUP BY v)
      SELECT doc_id, n_triangles,
             CAST(sum(n_triangles) OVER () // 3 AS BIGINT) AS total_triangles
      FROM pv ORDER BY doc_id""",
    // BFS: 3 unrolled Bellman-Ford relaxation rounds over the same
    // (undirected) near-neighbor graph; unreached nodes report hop −1
    "q5e_bfs_hops" -> """
      WITH d AS (SELECT doc_id FROM documents),
      nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM d),
      fwd AS (
        SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM d CROSS JOIN nn
        UNION ALL
        SELECT doc_id, (doc_id + 2) % n FROM d CROSS JOIN nn
        UNION ALL
        SELECT doc_id, (doc_id + 3) % n FROM d CROSS JOIN nn
        UNION ALL
        SELECT doc_id, (doc_id * 17 + 3) % n FROM d CROSS JOIN nn),
      fwd2 AS (SELECT src, dst FROM fwd WHERE src <> dst),
      e AS (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM fwd2 UNION ALL SELECT dst, src FROM fwd2)),
      r0 AS (SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS hop),
      r1 AS (SELECT id, min(hop) AS hop FROM (
        SELECT id, hop FROM r0
        UNION ALL
        SELECT e.dst, r0.hop + 1 FROM e JOIN r0 ON e.src = r0.id)
        GROUP BY id),
      r2 AS (SELECT id, min(hop) AS hop FROM (
        SELECT id, hop FROM r1
        UNION ALL
        SELECT e.dst, r1.hop + 1 FROM e JOIN r1 ON e.src = r1.id)
        GROUP BY id),
      r3 AS (SELECT id, min(hop) AS hop FROM (
        SELECT id, hop FROM r2
        UNION ALL
        SELECT e.dst, r2.hop + 1 FROM e JOIN r2 ON e.src = r2.id)
        GROUP BY id)
      SELECT coalesce(r3.hop, -1) AS hop,
             CAST(count(1) AS BIGINT) AS n_nodes
      FROM d LEFT JOIN r3 ON d.doc_id = r3.id
      GROUP BY 1 ORDER BY 1""",
    // q64's quantizer is deliberately fixed arithmetic (first-4 vectors
    // as centroids) so DuckDB can replay the cosine argmax exactly —
    // the production KMeans quantizer lives in q63 (rows-only, seeded)
    "q64_ivf_buckets" -> """
      WITH c AS (
        SELECT vec_id AS cent_id, embedding AS cent
        FROM embeddings WHERE vec_id < 4),
      a AS (
        SELECT e.vec_id, c.cent_id,
               round(
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(c.cent,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 8) AS cos_c
        FROM embeddings e CROSS JOIN c),
      r AS (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_c DESC, cent_id) AS rk
        FROM a)
      SELECT cent_id, CAST(count(1) AS BIGINT) AS n_vectors
      FROM r WHERE rk = 1
      GROUP BY cent_id
      ORDER BY cent_id""",
    // kNN JOIN: query set = first 8 vectors, corpus = the rest; same
    // HOF-parity cosine arithmetic as q61/q64, per-query top-5 window
    "q6c_knn_join" -> """
      WITH q AS (
        SELECT vec_id AS q_id, embedding AS qv
        FROM embeddings WHERE vec_id < 8),
      a AS (
        SELECT q.q_id, e.vec_id,
               round(
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 8) AS cosine
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id >= 8),
      r AS (
        SELECT q_id, vec_id, cosine,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, vec_id) AS rk
        FROM a)
      SELECT q_id, rk, vec_id, cosine
      FROM r WHERE rk <= 5
      ORDER BY q_id, rk""",
    // binary quantization: the same two 32-bit sign-words rebuilt with
    // exact powers of two, Hamming via xor + bit_count in both engines
    "q6n_ivf_probe_curve" -> Similarity.ivfProbeCurveOracle,
    "q6o_fisher_separation" -> Similarity.fisherSeparationOracle,
    // q70-q74: the seeded-ML pipelines as hash-checked contract rows
    // (round-6 verdict item 4) — the Lehmer-gated split replays
    // integer-exactly, stochastic metrics ride measured band booleans
    "q70_kmeans_selection"  -> FixturePipelines.kmeansSelectionOracle,
    "q71_kmeans_e2e"        -> FixturePipelines.kmeansE2EOracle,
    "q72_als_e2e"           -> FixturePipelines.alsE2EOracle,
    "q73_als_cv_grid"       -> FixturePipelines.alsCvGridOracle,
    "q74_sse_parity"        -> FixturePipelines.sseParityOracle,
    "q6d_hamming_topk" -> """
      WITH packed AS (
        SELECT vec_id,
               list_sum(list_transform(range(0, 32), i ->
                 CASE WHEN embedding[i + 1] > 0
                      THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS w0,
               list_sum(list_transform(range(0, 32), i ->
                 CASE WHEN embedding[i + 33] > 0
                      THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS w1
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, w0 AS qw0, w1 AS qw1
            FROM packed WHERE vec_id < 4),
      s AS (
        SELECT q.q_id, p.vec_id,
               bit_count(xor(p.w0, q.qw0)) + bit_count(xor(p.w1, q.qw1))
                 AS hamming
        FROM packed p CROSS JOIN q WHERE p.vec_id >= 4),
      r AS (
        SELECT q_id, vec_id, hamming,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY hamming, vec_id) AS rk
        FROM s)
      SELECT q_id, rk, vec_id, CAST(hamming AS BIGINT) AS hamming
      FROM r WHERE rk <= 10
      ORDER BY q_id, rk""",
    // q65's decoded dimensions/file sizes are arithmetic functions of
    // doc_id (see Multimodal.scala) — the oracle recomputes them with no
    // codec, hash-checking the real ImageIO decode end-to-end
    "q65_media_stats" -> """
      WITH d AS (
        SELECT doc_id,
               16 + (doc_id % 16) AS w,
               12 + (doc_id % 8) AS h
        FROM documents)
      SELECT 'image/bmp' AS mime,
             CAST(count(1) AS BIGINT) AS n_media,
             CAST(sum(54 + (((w * 3 + 3) // 4) * 4) * h) AS BIGINT) AS total_bytes,
             CAST(min(w) AS INTEGER) AS min_w,
             CAST(max(w) AS INTEGER) AS max_w,
             CAST(min(h) AS INTEGER) AS min_h,
             CAST(max(h) AS INTEGER) AS max_h
      FROM d""",
    // the encoded pixel at (x,y) is text_byte[((y*w+x)*31+7) mod len]
    // (ASCII corpus, so ascii(substr(...)) IS the byte) — the oracle
    // recomputes the factor-2 nearest-neighbor resample per document
    // with no codec, pixel-checking the real ImageIO decode + resize
    "q67_media_resize" -> """
      WITH d AS (
        SELECT doc_id, text,
               16 + (doc_id % 16) AS w,
               (16 + (doc_id % 16)) // 2 AS ow,
               (12 + (doc_id % 8)) // 2 AS oh,
               length(text) AS len
        FROM documents)
      SELECT doc_id,
             CAST(ow AS INTEGER) AS out_w,
             CAST(oh AS INTEGER) AS out_h,
             CAST(list_sum(list_transform(range(0, ow * oh),
               i -> ascii(substr(text,
                 1 + (((i // ow) * 2 * w + (i % ow) * 2) * 31 + 7) % len,
                 1)))) AS BIGINT) AS resampled_sum
      FROM d
      ORDER BY doc_id""",
    // element-for-element replay of the per-vector int8 quantize →
    // dequantize round trip; bound_ok asserts the scale/2 error contract
    "q66_embedding_quantize" -> """
      WITH p AS (
        SELECT vec_id,
               CAST(list_min(embedding) AS DOUBLE) AS vmin,
               (CAST(list_max(embedding) AS DOUBLE)
                 - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
        FROM embeddings),
      e AS (
        SELECT p.vec_id, p.scale,
               CASE WHEN p.scale = 0 THEN 0.0 ELSE
                 list_max(list_transform(emb.embedding,
                   x -> abs(round((CAST(x AS DOUBLE) - p.vmin) / p.scale)
                            * p.scale + p.vmin - CAST(x AS DOUBLE))))
               END AS err
        FROM p JOIN embeddings emb ON p.vec_id = emb.vec_id)
      SELECT CAST(count(1) AS BIGINT) AS n_vectors,
             round(avg(err), 4) AS avg_max_err,
             round(max(err), 4) AS worst_err,
             CAST(sum(CASE WHEN err > scale / 2 + 1e-9 THEN 1 ELSE 0 END) AS BIGINT) = 0
               AS bound_ok
      FROM e""",
    // q68's codebook is deliberately fixed (first-8 vectors' subvectors)
    // so the per-subspace nearest-code argmin is pure arithmetic; the
    // inner fold is element-ordered in both engines, and per-vector /
    // corpus rounding absorbs aggregation-order ulp
    "q68_pq_audit" -> """
      WITH cb AS (
        SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      d AS (
        SELECT e.vec_id, s.j, c.cid,
               list_sum(list_transform(range(1, (len(e.embedding) // 4) + 1),
                 t -> (CAST(e.embedding[s.j * (len(e.embedding) // 4) + t] AS DOUBLE)
                       - CAST(c.cvec[s.j * (len(e.embedding) // 4) + t] AS DOUBLE))
                    * (CAST(e.embedding[s.j * (len(e.embedding) // 4) + t] AS DOUBLE)
                       - CAST(c.cvec[s.j * (len(e.embedding) // 4) + t] AS DOUBLE))))
                 AS dist
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range(0, 4)) AS j) s
        CROSS JOIN cb c),
      mn AS (SELECT vec_id, j, min(dist) AS min_dist FROM d GROUP BY vec_id, j),
      v AS (SELECT vec_id, round(sum(min_dist), 4) AS err FROM mn GROUP BY vec_id)
      SELECT CAST(count(1) AS BIGINT) AS n_vectors,
             round(avg(err), 4) AS avg_err,
             round(max(err), 4) AS worst_err,
             CAST((SELECT len(embedding) * 4 FROM embeddings LIMIT 1) AS BIGINT)
               AS orig_bytes,
             CAST(4 AS BIGINT) AS code_bytes
      FROM v""",
    // the fixed codebook makes PQ assignment AND the ADC ranking pure
    // arithmetic — the returned ids themselves are replayable (unlike
    // the seeded ANN paths); rounded-ADC ordering with vec_id tiebreak
    // absorbs aggregation-order ulp in both engines
    "q6a_pq_adc_topk" -> """
      WITH cb AS (
        SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
      d AS (
        SELECT e.vec_id, s.j, c.cid,
               list_sum(list_transform(range(1, (len(e.embedding) // 4) + 1),
                 t -> (CAST(e.embedding[s.j * (len(e.embedding) // 4) + t] AS DOUBLE)
                       - CAST(c.cvec[s.j * (len(e.embedding) // 4) + t] AS DOUBLE))
                    * (CAST(e.embedding[s.j * (len(e.embedding) // 4) + t] AS DOUBLE)
                       - CAST(c.cvec[s.j * (len(e.embedding) // 4) + t] AS DOUBLE))))
                 AS assign_dist,
               list_sum(list_transform(range(1, (len(e.embedding) // 4) + 1),
                 t -> (CAST(q.qvec[s.j * (len(e.embedding) // 4) + t] AS DOUBLE)
                       - CAST(c.cvec[s.j * (len(e.embedding) // 4) + t] AS DOUBLE))
                    * (CAST(q.qvec[s.j * (len(e.embedding) // 4) + t] AS DOUBLE)
                       - CAST(c.cvec[s.j * (len(e.embedding) // 4) + t] AS DOUBLE))))
                 AS adc_dist
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range(0, 4)) AS j) s
        CROSS JOIN cb c
        CROSS JOIN q
        WHERE e.vec_id <> 0),
      a AS (
        SELECT vec_id, j, adc_dist,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY assign_dist, cid) AS rk
        FROM d),
      v AS (
        SELECT vec_id, round(sum(adc_dist), 4) AS adc
        FROM a WHERE rk = 1 GROUP BY vec_id)
      SELECT vec_id, adc FROM v
      ORDER BY adc, vec_id
      LIMIT 10""",
    // prefix-energy retention replayed with the same element-ordered
    // fold; a zero vector retains 1.0 by convention in both engines
    "q6b_matryoshka_audit" -> """
      WITH e AS (
        SELECT vec_id, len(embedding) AS dim,
               list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS total,
               list_sum(list_transform(embedding[1:8],
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS kept
        FROM embeddings),
      r AS (
        SELECT vec_id, dim,
               CASE WHEN total = 0 THEN 1.0 ELSE kept / total END AS retained
        FROM e)
      SELECT CAST(count(1) AS BIGINT) AS n_vectors,
             CAST(any_value(dim) AS BIGINT) AS orig_dim,
             CAST(8 AS BIGINT) AS kept_dim,
             round(avg(retained), 4) AS avg_retained,
             round(min(retained), 4) AS min_retained,
             CAST(sum(CASE WHEN retained >= 0.25 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above_quarter
      FROM r""",
    // the PCM waveform is closed-form in (doc_id, i), so the oracle
    // regenerates it and replays decode + framing in exact integers
    "q69_audio_frames" -> """
      WITH d AS (
        SELECT doc_id, 768 + (doc_id % 5) * 128 AS n FROM documents),
      s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
      v AS (
        SELECT doc_id, i,
               ((doc_id * 31 + i * 17) % 2003) - 1001 AS x
        FROM s),
      zc AS (
        SELECT doc_id,
               CAST(max(abs(x)) AS BIGINT) AS max_abs,
               CAST(sum(CASE WHEN i > 0 AND ((x >= 0) <>
                    ((((doc_id * 31 + (i - 1) * 17) % 2003) - 1001) >= 0))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross
        FROM v GROUP BY doc_id),
      f AS (
        SELECT doc_id, n, unnest(range(0, (n - 256) // 128 + 1)) AS fr
        FROM d),
      fe AS (
        SELECT f.doc_id,
               ((f.doc_id * 31 + (fr * 128 + o.o) * 17) % 2003) - 1001 AS x
        FROM f CROSS JOIN (SELECT unnest(range(0, 256)) AS o) o),
      en AS (
        SELECT doc_id,
               CAST(count(1) // 256 AS BIGINT) AS n_frames,
               CAST(sum(CAST(x AS BIGINT) * x) AS BIGINT) AS frame_energy
        FROM fe GROUP BY doc_id)
      SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_samples, en.n_frames,
             zc.max_abs, zc.n_zero_cross, en.frame_energy
      FROM d JOIN zc USING (doc_id) JOIN en USING (doc_id)
      ORDER BY doc_id""",
    "q61_cosine_topk" -> """
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT e.vec_id, e.label,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS cos
        FROM embeddings e, q
        WHERE e.vec_id <> 0)
      SELECT vec_id, label, round(cos, 4) AS cosine
      FROM sims
      ORDER BY cosine DESC, vec_id
      LIMIT 10""",
    // q62/q63: the ANN candidate lists are seeded-stochastic (spark.ml
    // LSH / KMeans internals), so the graded row is the DETERMINISTIC
    // part — the exact top-k's size and min cosine (replayed arithmetic,
    // same CTE as q61) — plus the recall_ok contract boolean: a degraded
    // index emits false and fails the hash. The ≥0.5 (LSH) / ≥0.3 (IVF
    // 1-of-4-lists probe) floors mirror DedupSimilaritySpec.
    "q62_ann_lsh_topk" -> """
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT e.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS cos
        FROM embeddings e, q
        WHERE e.vec_id <> 0),
      topk AS (
        SELECT vec_id, round(cos, 4) AS cosine
        FROM sims ORDER BY cosine DESC, vec_id LIMIT 10)
      SELECT CAST(10 AS BIGINT) AS k,
             CAST(count(1) AS BIGINT) AS n_exact,
             round(min(cosine), 4) AS bf_min_cosine,
             true AS recall_ok
      FROM topk""",
    "q63_ivf_topk" -> """
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT e.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS cos
        FROM embeddings e, q
        WHERE e.vec_id <> 0),
      topk AS (
        SELECT vec_id, round(cos, 4) AS cosine
        FROM sims ORDER BY cosine DESC, vec_id LIMIT 10)
      SELECT CAST(10 AS BIGINT) AS k,
             CAST(count(1) AS BIGINT) AS n_exact,
             round(min(cosine), 4) AS bf_min_cosine,
             true AS recall_ok
      FROM topk""",
    // q52/q53: the MinHash candidate sets are xxhash64/seeded-LSH
    // engine-specific, so the graded row is the exact trigram-Jaccard
    // truth (count + id-sum membership pin, replayed below with the q4k
    // gram construction) plus contract booleans — recall_ok (banded/LSH
    // join found ≥80% of the J≥0.7 truth; observed 100% at both sf),
    // candidates_bounded (candidate set ≤ 4·n_docs — the quadratic-
    // blowup tripwire), precision_ok (every emitted q53 pair re-verifies
    // at exact J ≥ 0.25; observed all ≥ 0.5). A degraded index emits
    // false and fails the hash.
    "q52_minhash_pairs" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')))) AS gram
        FROM t),
      sz AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS n FROM g GROUP BY doc_id),
      p AS (
        SELECT g1.doc_id AS a, g2.doc_id AS b, CAST(count(1) AS BIGINT) AS shared
        FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
        GROUP BY 1, 2),
      tp AS (
        SELECT p.a, p.b
        FROM p JOIN sz sa ON p.a = sa.doc_id JOIN sz sb ON p.b = sb.doc_id
        WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.7)
      SELECT (SELECT CAST(count(1) AS BIGINT) FROM documents) AS n_docs,
             CAST(count(1) AS BIGINT) AS n_true_pairs,
             CAST(coalesce(sum(a + b), 0) AS BIGINT) AS sum_true_ids,
             true AS recall_ok,
             true AS candidates_bounded
      FROM tp""",
    "q53_minhash_lsh_ml" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')))) AS gram
        FROM t),
      sz AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS n FROM g GROUP BY doc_id),
      p AS (
        SELECT g1.doc_id AS a, g2.doc_id AS b, CAST(count(1) AS BIGINT) AS shared
        FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
        GROUP BY 1, 2),
      tp AS (
        SELECT p.a, p.b
        FROM p JOIN sz sa ON p.a = sa.doc_id JOIN sz sb ON p.b = sb.doc_id
        WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.7)
      SELECT CAST(count(1) AS BIGINT) AS n_true_pairs,
             CAST(coalesce(sum(a + b), 0) AS BIGINT) AS sum_true_ids,
             true AS recall_ok,
             true AS precision_ok
      FROM tp""",
  )
}
