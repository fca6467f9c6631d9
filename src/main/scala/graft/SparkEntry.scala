package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, CoreQueries, CurationQueries, DomainQueries, ExtQueries, FrontierQueries, GovernanceQueries, LakehouseQueries, MediaQueries, MonitorQueries, QualityQueries, RetrievalQueries, ScaleQueries, SequenceQueries, ShardQueries, StatsQueries, TextPipelineQueries, WarehouseQueries}

/** One registered query: its Spark builder over an sf directory and the
  * equivalent ANSI SQL that DuckDB runs on the same parquet tables. */
final case class QuerySpec(name: String,
                           build: (SparkSession, String) => DataFrame,
                           oracleSql: String)

/** Driver contract: the flagship `entry`, and the query registry as one
  * table (`specs`) from which `queries` and `oracleSql` are derived. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The distinct-sources highlights query is the reference's most
    * distinctive semantics (SURVEY §7.2) — per-publisher argmax over the
    * full five-table join tree. */
  def entry(spark: SparkSession): DataFrame =
    DomainQueries.q32DistinctSources(spark, "/root/testdata/sf0.001")

  /** Every registered query, one entry per name. A repeated name fails the
    * registry's load instead of silently shadowing an earlier entry. */
  val specs: Seq[QuerySpec] = unique(Seq(
    QuerySpec("q01_scan_filter_project", CoreQueries.q01ScanFilterProject, CoreQueries.q01Sql),
    QuerySpec("q02_groupby_agg", CoreQueries.q02GroupByAgg, CoreQueries.q02Sql),
    QuerySpec("q03_join_agg", CoreQueries.q03JoinAgg, CoreQueries.q03Sql),
    QuerySpec("q04_left_join", CoreQueries.q04LeftJoin, CoreQueries.q04Sql),
    QuerySpec("q05_disjunctive_join", CoreQueries.q05DisjunctiveJoin, CoreQueries.q05Sql),
    QuerySpec("q06_asof_day_join", CoreQueries.q06AsOfDayJoin, CoreQueries.q06Sql),
    QuerySpec("q07_notin_anti_join", CoreQueries.q07NotInAntiJoin, CoreQueries.q07Sql),
    QuerySpec("q08_argmax_struct_max", CoreQueries.q08ArgmaxStructMax, CoreQueries.q08Sql),
    QuerySpec("q09_window_topn", CoreQueries.q09WindowTopN, CoreQueries.q09Sql),
    QuerySpec("q10_topk_offset", CoreQueries.q10TopKOffset, CoreQueries.q10Sql),
    QuerySpec("q11_json_extract", CoreQueries.q11JsonExtract, CoreQueries.q11Sql),
    QuerySpec("q12_day_bucket_agg", CoreQueries.q12DayBucketAgg, CoreQueries.q12Sql),
    QuerySpec("q13_coalesce_chain", CoreQueries.q13CoalesceChain, CoreQueries.q13Sql),
    QuerySpec("q14_count_scalar", CoreQueries.q14CountScalar, CoreQueries.q14Sql),
    QuerySpec("q15_union_discriminator", CoreQueries.q15UnionDiscriminator, CoreQueries.q15Sql),
    QuerySpec("q16_distinct", CoreQueries.q16Distinct, CoreQueries.q16Sql),
    QuerySpec("q17_isin_filter", CoreQueries.q17IsInFilter, CoreQueries.q17Sql),
    QuerySpec("q18_scalar_functions", CoreQueries.q18ScalarFunctions, CoreQueries.q18Sql),
    QuerySpec("q19_json_validity_gate", CoreQueries.q19JsonValidityGate, CoreQueries.q19Sql),
    QuerySpec("q20_tumbling_day_window", CoreQueries.q20TumblingDayWindow, CoreQueries.q20Sql),
    QuerySpec("q21_dedup_exact", ExtQueries.q21DedupExact, ExtQueries.q21Sql),
    QuerySpec("q22_token_count", ExtQueries.q22TokenCount, ExtQueries.q22Sql),
    QuerySpec("q23_text_quality", ExtQueries.q23TextQuality, ExtQueries.q23Sql),
    QuerySpec("q24_lang_id", ExtQueries.q24LangId, ExtQueries.q24Sql),
    QuerySpec("q25_ngram_jaccard_pairs", ExtQueries.q25NgramJaccardPairs, ExtQueries.q25Sql),
    // q26/q27 oracle = brute-force Jaccard ≥ 0.5 (the hash-based candidate
    // stages are verified with exact Jaccard, so their OUTPUT is
    // engine-independent even though murmur3/xxhash64 aren't SQL-expressible)
    QuerySpec("q26_minhash_lsh", ExtQueries.q26MinhashLsh, ExtQueries.q26Sql),
    QuerySpec("q27_simhash", ExtQueries.q27Simhash, ExtQueries.q27Sql),
    QuerySpec("q28_cosine_topk", ExtQueries.q28CosineTopK, ExtQueries.q28Sql),
    // q29/q34: axis-sign buckets are engine-reproducible, so the oracle
    // replicates the ANN pruning itself (q34 = same query, bucketed storage)
    QuerySpec("q29_lsh_ann", ExtQueries.q29LshAnn, ExtQueries.q29Sql),
    QuerySpec("q30_multimodal", ExtQueries.q30Multimodal, ExtQueries.q30Sql),
    // q31-q33: the reference's REAL queries over DuckDB-reconstructible
    // domain fixtures (DomainQueries.fixtureCte) — the fidelity gate
    QuerySpec("q31_curated_highlights", DomainQueries.q31CuratedHighlights, DomainQueries.q31Sql),
    QuerySpec("q32_distinct_sources", DomainQueries.q32DistinctSources, DomainQueries.q32Sql),
    QuerySpec("q33_count_highlights", DomainQueries.q33CountHighlights, DomainQueries.q33Sql),
    QuerySpec("q34_bucketed_ann", ExtQueries.q34BucketedAnn, ExtQueries.q29Sql),
    QuerySpec("q35_embedding_neardup", ExtQueries.q35EmbeddingNearDup, ExtQueries.q35Sql),
    QuerySpec("q36_ppm_decode", ExtQueries.q36PpmDecode, ExtQueries.q36Sql),
    QuerySpec("q37_curation_pipeline", ExtQueries.q37Curation, ExtQueries.q37Sql),
    // q38: the ANN probe METRICS themselves, oracle-recomputed
    QuerySpec("q38_ann_probe_stats", ExtQueries.q38AnnProbeStats, ExtQueries.q38Sql),
    // q39: incremental-ingest LSH vs brute-force cross-half Jaccard
    QuerySpec("q39_incremental_dedup", ExtQueries.q39IncrementalDedup, ExtQueries.q39Sql),
    // q40: the curation pipeline's per-stage drop counts, recomputed
    QuerySpec("q40_curation_stats", ExtQueries.q40CurationStats, ExtQueries.q40Sql),
    // q41: the deterministic mixture itself (Knuth-scramble order)
    QuerySpec("q41_quota_sample", ExtQueries.q41QuotaSample, ExtQueries.q41Sql),
    // q42: as-of join vs DuckDB's native ASOF LEFT JOIN
    QuerySpec("q42_asof_join", ExtQueries.q42AsofJoin, ExtQueries.q42Sql),
    // q43: label-propagation components vs a recursive-CTE closure
    QuerySpec("q43_dedup_clusters", ExtQueries.q43DedupClusters, ExtQueries.q43Sql),
    // q44: seeded-rotation ANN vs the same literal matrix in SQL
    QuerySpec("q44_rotated_ann", ExtQueries.q44RotatedAnn, ExtQueries.q44Sql),
    // q45: fractional/epoch mixture vs the same scramble decomposition
    QuerySpec("q45_rate_mixture", ExtQueries.q45RateMixture, ExtQueries.q45Sql),
    // q46: batch sessionization vs DuckDB gaps-and-islands windows
    QuerySpec("q46_sessionize", AnalyticsQueries.q46Sessionize, AnalyticsQueries.q46Sql),
    // q47: bucketed interval join vs DuckDB's native IEJoin inequality join
    QuerySpec("q47_interval_join", AnalyticsQueries.q47IntervalJoin, AnalyticsQueries.q47Sql),
    QuerySpec("q48_rollup_agg", AnalyticsQueries.q48Rollup, AnalyticsQueries.q48Sql),
    QuerySpec("q49_window_analytics", AnalyticsQueries.q49WindowAnalytics, AnalyticsQueries.q49Sql),
    QuerySpec("q50_daily_gapfill", AnalyticsQueries.q50DailyGapfill, AnalyticsQueries.q50Sql),
    QuerySpec("q51_tfidf_topterms", TextPipelineQueries.q51TfidfTopTerms,
      TextPipelineQueries.q51Sql),
    QuerySpec("q52_doc_chunking", TextPipelineQueries.q52DocChunking, TextPipelineQueries.q52Sql),
    QuerySpec("q53_hash_split", TextPipelineQueries.q53HashSplit, TextPipelineQueries.q53Sql),
    QuerySpec("q54_boilerplate", TextPipelineQueries.q54Boilerplate, TextPipelineQueries.q54Sql),
    QuerySpec("q55_exact_quantiles", AnalyticsQueries.q55ExactQuantiles, AnalyticsQueries.q55Sql),
    QuerySpec("q56_pii_scrub", TextPipelineQueries.q56PiiScrub, TextPipelineQueries.q56Sql),
    QuerySpec("q57_zorder_key", AnalyticsQueries.q57ZorderKey, AnalyticsQueries.q57Sql),
    QuerySpec("q58_approx_distinct", AnalyticsQueries.q58ApproxDistinct, AnalyticsQueries.q58Sql),
    QuerySpec("q59_incremental_agg", AnalyticsQueries.q59IncrementalAgg, AnalyticsQueries.q59Sql),
    QuerySpec("q60_global_index", AnalyticsQueries.q60GlobalIndex, AnalyticsQueries.q60Sql),
    QuerySpec("q61_pivot", AnalyticsQueries.q61Pivot, AnalyticsQueries.q61Sql),
    QuerySpec("q62_unpivot", AnalyticsQueries.q62Unpivot, AnalyticsQueries.q62Sql),
    QuerySpec("q63_hopping_window", AnalyticsQueries.q63HoppingWindow, AnalyticsQueries.q63Sql),
    QuerySpec("q64_ntile_deciles", AnalyticsQueries.q64NtileDeciles, AnalyticsQueries.q64Sql),
    QuerySpec("q65_funnel_asof", AnalyticsQueries.q65Funnel, AnalyticsQueries.q65Sql),
    QuerySpec("q66_contract_report", QualityQueries.q66ContractReport, QualityQueries.q66Sql),
    QuerySpec("q67_fk_audit", QualityQueries.q67FkAudit, QualityQueries.q67Sql),
    QuerySpec("q68_column_profile", QualityQueries.q68ColumnProfile, QualityQueries.q68Sql),
    QuerySpec("q69_retention_cohorts", QualityQueries.q69RetentionCohorts, QualityQueries.q69Sql),
    QuerySpec("q70_approx_quantiles", QualityQueries.q70ApproxQuantiles, QualityQueries.q70Sql),
    QuerySpec("q71_shipping_priority", QualityQueries.q71ShippingPriority, QualityQueries.q71Sql),
    QuerySpec("q72_grouping_sets", QualityQueries.q72GroupingSets, QualityQueries.q72Sql),
    QuerySpec("q73_share_of_day", QualityQueries.q73ShareOfDay, QualityQueries.q73Sql),
    QuerySpec("q74_label_centroids", QualityQueries.q74LabelCentroids, QualityQueries.q74Sql),
    QuerySpec("q75_editdist_pairs", QualityQueries.q75EditDistancePairs, QualityQueries.q75Sql),
    QuerySpec("q76_split_contamination", ExtQueries.q76SplitContamination, ExtQueries.q76Sql),
    QuerySpec("q77_decontaminate", ExtQueries.q77Decontaminate, ExtQueries.q77Sql),
    QuerySpec("q78_streaming_ingest_twin", ExtQueries.q78StreamingIngestTwin, ExtQueries.q78Sql),
    QuerySpec("q79_audit_decontaminate", ExtQueries.q79AuditDecontaminate, ExtQueries.q79Sql),
    QuerySpec("q80_repetition_stats", QualityQueries.q80RepetitionStats, QualityQueries.q80Sql),
    QuerySpec("q81_bloom_join", ScaleQueries.q81BloomJoin, ScaleQueries.q81Sql),
    QuerySpec("q82_heavy_hitters", ScaleQueries.q82HeavyHitters, ScaleQueries.q82Sql),
    QuerySpec("q83_inverted_index", ScaleQueries.q83InvertedIndex, ScaleQueries.q83Sql),
    QuerySpec("q84_c4_clean", ScaleQueries.q84C4Clean, ScaleQueries.q84Sql),
    QuerySpec("q85_ivf_neardup", ScaleQueries.q85IvfNearDup, ScaleQueries.q85Sql),
    QuerySpec("q86_merge_upsert", ScaleQueries.q86MergeUpsert, ScaleQueries.q86Sql),
    QuerySpec("q87_shared_spans", ScaleQueries.q87SharedSpans, ScaleQueries.q87Sql),
    QuerySpec("q88_anomaly_days", ScaleQueries.q88AnomalyDays, ScaleQueries.q88Sql),
    QuerySpec("q89_trailing_active", ScaleQueries.q89TrailingActive, ScaleQueries.q89Sql),
    QuerySpec("q90_bm25_topk", ScaleQueries.q90Bm25, ScaleQueries.q90Sql),
    QuerySpec("q91_kneser_ney", ScaleQueries.q91KneserNey, ScaleQueries.q91Sql),
    QuerySpec("q92_degree_census", ScaleQueries.q92DegreeCensus, ScaleQueries.q92Sql),
    QuerySpec("q93_cube_agg", WarehouseQueries.q93CubeAgg, WarehouseQueries.q93Sql),
    QuerySpec("q94_hll_merge", WarehouseQueries.q94HllMerge, WarehouseQueries.q94Sql),
    QuerySpec("q95_range_window", WarehouseQueries.q95RangeWindow, WarehouseQueries.q95Sql),
    QuerySpec("q96_session_paths", WarehouseQueries.q96SessionPaths, WarehouseQueries.q96Sql),
    QuerySpec("q97_setsim_join", WarehouseQueries.q97SetSimJoin, WarehouseQueries.q97Sql),
    QuerySpec("q98_table_checksum", WarehouseQueries.q98TableChecksum, WarehouseQueries.q98Sql),
    QuerySpec("q99_salted_agg", WarehouseQueries.q99SaltedAgg, WarehouseQueries.q99Sql),
    QuerySpec("q100_histogram", WarehouseQueries.q100Histogram, WarehouseQueries.q100Sql),
    QuerySpec("q101_scd2", WarehouseQueries.q101Scd2, WarehouseQueries.q101Sql),
    QuerySpec("q102_snapshot_diff", WarehouseQueries.q102SnapshotDiff, WarehouseQueries.q102Sql),
    QuerySpec("q103_above_avg", WarehouseQueries.q103AboveAvg, WarehouseQueries.q103Sql),
    QuerySpec("q104_ewma", WarehouseQueries.q104Ewma, WarehouseQueries.q104Sql),
    QuerySpec("q105_native_asof", WarehouseQueries.q105NativeAsof, WarehouseQueries.q105Sql),
    QuerySpec("q106_pmi_pairs", WarehouseQueries.q106PmiPairs, WarehouseQueries.q106Sql),
    QuerySpec("q107_native_asof_fwd", WarehouseQueries.q107NativeAsofForward,
      WarehouseQueries.q107Sql),
    QuerySpec("q108_entity_resolution", WarehouseQueries.q108EntityResolution,
      WarehouseQueries.q108Sql),
    QuerySpec("q109_robust_outliers", WarehouseQueries.q109RobustOutliers,
      WarehouseQueries.q109Sql),
    QuerySpec("q110_percentile_cont", WarehouseQueries.q110PercentileCont,
      WarehouseQueries.q110Sql),
    QuerySpec("q111_source_reconcile", WarehouseQueries.q111SourceReconcile,
      WarehouseQueries.q111Sql),
    QuerySpec("q112_bucketed_join", WarehouseQueries.q112BucketedJoin, WarehouseQueries.q112Sql),
    QuerySpec("q113_transition_matrix", WarehouseQueries.q113TransitionMatrix,
      WarehouseQueries.q113Sql),
    QuerySpec("q114_attribution", WarehouseQueries.q114Attribution, WarehouseQueries.q114Sql),
    QuerySpec("q115_ordered_listagg", WarehouseQueries.q115OrderedListagg,
      WarehouseQueries.q115Sql),
    QuerySpec("q116_asof_tolerance", WarehouseQueries.q116AsofTolerance, WarehouseQueries.q116Sql),
    QuerySpec("q117_asof_nearest", WarehouseQueries.q117NativeAsofNearest,
      WarehouseQueries.q117Sql),
    QuerySpec("q118_shard_packing", ShardQueries.q118ShardPacking, ShardQueries.q118Sql),
    QuerySpec("q119_denylist_scrub", ShardQueries.q119DenyListScrub, ShardQueries.q119Sql),
    QuerySpec("q120_mix_sampling", ShardQueries.q120MixSampling, ShardQueries.q120Sql),
    QuerySpec("q121_quantization_audit", ShardQueries.q121QuantizationAudit, ShardQueries.q121Sql),
    QuerySpec("q122_ngram_novelty", ShardQueries.q122NgramNovelty, ShardQueries.q122Sql),
    QuerySpec("q123_winsorized_lengths", ShardQueries.q123WinsorizedLengths, ShardQueries.q123Sql),
    QuerySpec("q124_gopher_rules", CurationQueries.q124GopherRules, CurationQueries.q124Sql),
    QuerySpec("q125_containment_pairs", CurationQueries.q125ContainmentPairs,
      CurationQueries.q125Sql),
    QuerySpec("q126_cross_source_dups", CurationQueries.q126CrossSourceDupMatrix,
      CurationQueries.q126Sql),
    QuerySpec("q127_mmr_select", CurationQueries.q127MmrSelect, CurationQueries.q127Sql),
    QuerySpec("q128_quality_classifier", CurationQueries.q128QualityClassifier,
      CurationQueries.q128Sql),
    QuerySpec("q129_canonical_docs", CurationQueries.q129CanonicalDocs, CurationQueries.q129Sql),
    QuerySpec("q130_rrf_fusion", RetrievalQueries.q130RrfFusion, RetrievalQueries.q130Sql),
    QuerySpec("q131_tokenizer_fertility", RetrievalQueries.q131TokenizerFertility,
      RetrievalQueries.q131Sql),
    QuerySpec("q132_fim_audit", RetrievalQueries.q132FimAudit, RetrievalQueries.q132Sql),
    QuerySpec("q133_net_tokens", RetrievalQueries.q133NetTokens, RetrievalQueries.q133Sql),
    QuerySpec("q134_mixing_weights", RetrievalQueries.q134MixingWeights, RetrievalQueries.q134Sql),
    QuerySpec("q135_k_anonymity", GovernanceQueries.q135KAnonymity, GovernanceQueries.q135Sql),
    QuerySpec("q136_feature_hash_cosine", GovernanceQueries.q136FeatureHashCosine,
      GovernanceQueries.q136Sql),
    QuerySpec("q137_deletion_cascade", GovernanceQueries.q137DeletionCascade,
      GovernanceQueries.q137Sql),
    QuerySpec("q138_two_hop_census", GovernanceQueries.q138TwoHopCensus, GovernanceQueries.q138Sql),
    QuerySpec("q139_wav_features", MediaQueries.q139WavFeatures, MediaQueries.q139Sql),
    QuerySpec("q140_multimodal_assembly", MediaQueries.q140MultimodalAssembly,
      MediaQueries.q140Sql),
    QuerySpec("q141_aswas_state", WarehouseQueries.q141AsWasState, WarehouseQueries.q141Sql),
    QuerySpec("q142_label_propagation", GovernanceQueries.q142LabelPropagation,
      GovernanceQueries.q142Sql),
    QuerySpec("q143_ks_drift", GovernanceQueries.q143KsDrift, GovernanceQueries.q143Sql),
    QuerySpec("q144_trend_slopes", MonitorQueries.q144TrendSlopes, MonitorQueries.q144Sql),
    QuerySpec("q145_cusum_changepoint", MonitorQueries.q145CusumChangepoint,
      MonitorQueries.q145Sql),
    QuerySpec("q146_lag_autocov", MonitorQueries.q146LagAutocov, MonitorQueries.q146Sql),
    QuerySpec("q147_zone_skip_audit", MonitorQueries.q147ZoneSkipAudit, MonitorQueries.q147Sql),
    QuerySpec("q148_benford", MonitorQueries.q148Benford, MonitorQueries.q148Sql),
    QuerySpec("q149_jw_linkage", MonitorQueries.q149JwLinkage, MonitorQueries.q149Sql),
    QuerySpec("q150_zoned_scan", MonitorQueries.q150ZonedScan, MonitorQueries.q150Sql),
    QuerySpec("q151_bpe_merges", MonitorQueries.q151BpeMerges, MonitorQueries.q151Sql),
    QuerySpec("q152_interval_coverage", MonitorQueries.q152IntervalCoverage,
      MonitorQueries.q152Sql),
    QuerySpec("q153_token_concentration", MonitorQueries.q153TokenConcentration,
      MonitorQueries.q153Sql),
    QuerySpec("q154_lloyd_step", MonitorQueries.q154LloydStep, MonitorQueries.q154Sql),
    QuerySpec("q155_triangle_census", GovernanceQueries.q155TriangleCensus,
      GovernanceQueries.q155Sql),
    QuerySpec("q156_vocab_overlap", MonitorQueries.q156VocabOverlap, MonitorQueries.q156Sql),
    QuerySpec("q157_distinct_growth", MonitorQueries.q157DistinctGrowth, MonitorQueries.q157Sql),
    QuerySpec("q158_systematic_sample", MonitorQueries.q158SystematicSample,
      MonitorQueries.q158Sql),
    QuerySpec("q159_lm_score", MonitorQueries.q159LmScore, MonitorQueries.q159Sql),
    QuerySpec("q160_watermark_accounting", MonitorQueries.q160WatermarkAccounting,
      MonitorQueries.q160Sql),
    QuerySpec("q161_weighted_median", MonitorQueries.q161WeightedMedian, MonitorQueries.q161Sql),
    QuerySpec("q162_pareto_frontier", MonitorQueries.q162ParetoFrontier, MonitorQueries.q162Sql),
    QuerySpec("q163_ks_matrix", GovernanceQueries.q163KsMatrix, GovernanceQueries.q163Sql),
    QuerySpec("q164_compaction_plan", MonitorQueries.q164CompactionPlan, MonitorQueries.q164Sql),
    QuerySpec("q165_cep_funnel", SequenceQueries.q165CepFunnel, SequenceQueries.q165Sql),
    QuerySpec("q166_pagerank", SequenceQueries.q166PageRank, SequenceQueries.q166Sql),
    QuerySpec("q167_ab_test", SequenceQueries.q167AbTest, SequenceQueries.q167Sql),
    QuerySpec("q168_twap", SequenceQueries.q168Twap, SequenceQueries.q168Sql),
    QuerySpec("q169_reset_streaks", SequenceQueries.q169ResetStreaks, SequenceQueries.q169Sql),
    QuerySpec("q170_wow_deltas", SequenceQueries.q170WowDeltas, SequenceQueries.q170Sql),
    QuerySpec("q171_decile_lift", SequenceQueries.q171DecileLift, SequenceQueries.q171Sql),
    QuerySpec("q172_activation_funnel", SequenceQueries.q172ActivationFunnel,
      SequenceQueries.q172Sql),
    QuerySpec("q173_equidepth_histogram", SequenceQueries.q173EquidepthHistogram,
      SequenceQueries.q173Sql),
    QuerySpec("q174_transitivity", StatsQueries.q174Transitivity, StatsQueries.q174Sql),
    QuerySpec("q175_column_stats", StatsQueries.q175ColumnStats, StatsQueries.q175Sql),
    QuerySpec("q176_gini_split", StatsQueries.q176GiniSplit, StatsQueries.q176Sql),
    QuerySpec("q177_l_diversity", StatsQueries.q177LDiversity, StatsQueries.q177Sql),
    QuerySpec("q178_pq_adc", StatsQueries.q178PqAdc, StatsQueries.q178Sql),
    QuerySpec("q179_clustering_coeff", StatsQueries.q179ClusteringCoeff, StatsQueries.q179Sql),
    QuerySpec("q180_multi_split", StatsQueries.q180MultiSplit, StatsQueries.q180Sql),
    QuerySpec("q181_zoned_agg", MonitorQueries.q181ZonedAgg, MonitorQueries.q181Sql),
    QuerySpec("q182_ivf_pq", StatsQueries.q182IvfPq, StatsQueries.q182Sql),
    QuerySpec("q183_ivf_pq_residual", StatsQueries.q183IvfPqResidual, StatsQueries.q183Sql),
    QuerySpec("q184_seat_allocation", StatsQueries.q184SeatAllocation, StatsQueries.q184Sql),
    QuerySpec("q185_card_audit", StatsQueries.q185CardAudit, StatsQueries.q185Sql),
    QuerySpec("q186_skew_advisor", StatsQueries.q186SkewAdvisor, StatsQueries.q186Sql),
    QuerySpec("q187_exact_auc", StatsQueries.q187ExactAuc, StatsQueries.q187Sql),
    QuerySpec("q188_stored_ivf_pq", StatsQueries.q188StoredIvfPq, StatsQueries.q188Sql),
    QuerySpec("q189_advised_salted_agg", StatsQueries.q189AdvisedSaltedAgg, StatsQueries.q189Sql),
    QuerySpec("q190_quant_funnel", SequenceQueries.q190QuantFunnel, SequenceQueries.q190Sql),
    QuerySpec("q191_bfs_reach", SequenceQueries.q191BfsReach, SequenceQueries.q191Sql),
    QuerySpec("q192_video_frames", MediaQueries.q192VideoFrames, MediaQueries.q192Sql),
    QuerySpec("q193_ols_fit", StatsQueries.q193OlsFit, StatsQueries.q193Sql),
    QuerySpec("q194_cdc_apply", LakehouseQueries.q194CdcApply, LakehouseQueries.q194Sql),
    QuerySpec("q195_bag_reconcile", LakehouseQueries.q195BagReconcile, LakehouseQueries.q195Sql),
    QuerySpec("q196_time_travel", LakehouseQueries.q196TimeTravel, LakehouseQueries.q196Sql),
    QuerySpec("q197_zorder_pruning", LakehouseQueries.q197ZorderPruning, LakehouseQueries.q197Sql),
    QuerySpec("q198_merkle_diff", LakehouseQueries.q198MerkleDiff, LakehouseQueries.q198Sql),
    QuerySpec("q199_calibration", StatsQueries.q199Calibration, StatsQueries.q199Sql),
    QuerySpec("q200_join_elim", FrontierQueries.q200JoinElim, FrontierQueries.q200Sql),
    QuerySpec("q201_equality_deletes", FrontierQueries.q201EqualityDeletes,
      FrontierQueries.q201Sql),
    QuerySpec("q202_record_linkage", FrontierQueries.q202RecordLinkage, FrontierQueries.q202Sql),
    QuerySpec("q203_weighted_sample", FrontierQueries.q203WeightedSample, FrontierQueries.q203Sql),
    QuerySpec("q204_count_min", FrontierQueries.q204CountMin, FrontierQueries.q204Sql),
    QuerySpec("q205_bitmap_index", FrontierQueries.q205BitmapIndex, FrontierQueries.q205Sql),
    QuerySpec("q206_cohens_kappa", FrontierQueries.q206CohensKappa, FrontierQueries.q206Sql),
    QuerySpec("q207_winsorized", FrontierQueries.q207Winsorized, FrontierQueries.q207Sql),
    QuerySpec("q208_spearman", FrontierQueries.q208Spearman, FrontierQueries.q208Sql),
    QuerySpec("q209_skyline", FrontierQueries.q209Skyline, FrontierQueries.q209Sql),
    QuerySpec("q210_bloom_pruning", FrontierQueries.q210BloomPruning, FrontierQueries.q210Sql),
    QuerySpec("q211_encoding_advisor", FrontierQueries.q211EncodingAdvisor,
      FrontierQueries.q211Sql),
    QuerySpec("q212_incremental_cms", FrontierQueries.q212IncrementalCms, FrontierQueries.q212Sql),
    QuerySpec("q213_range_sum_index", FrontierQueries.q213RangeSumIndex, FrontierQueries.q213Sql),
    QuerySpec("q214_left_join_elim", FrontierQueries.q214LeftJoinElim, FrontierQueries.q214Sql),
    QuerySpec("q215_inlist_pruning", FrontierQueries.q215InListPruning, FrontierQueries.q215Sql),
    QuerySpec("q216_join_elim_zoned", FrontierQueries.q216JoinElimZoned, FrontierQueries.q216Sql),
    QuerySpec("q217_disjunct_highcard", FrontierQueries.q217DisjunctHighCard,
      FrontierQueries.q217Sql),
    QuerySpec("q218_grouped_range_sum", FrontierQueries.q218GroupedRangeSum,
      FrontierQueries.q218Sql),
    QuerySpec("q219_triple_disjunct", FrontierQueries.q219TripleDisjunct, FrontierQueries.q219Sql),
    QuerySpec("q220_advised_join_skew", FrontierQueries.q220AdvisedJoinSkew,
      FrontierQueries.q220Sql),
    QuerySpec("q221_disjunct_filtered", FrontierQueries.q221DisjunctFiltered,
      FrontierQueries.q221Sql),
    QuerySpec("q222_ingest_amortized", ExtQueries.q222IngestAmortized, ExtQueries.q222Sql),
    QuerySpec("q223_containment_sample", CurationQueries.q223ContainmentSample,
      CurationQueries.q223Sql),
    QuerySpec("q224_exists_disjunct", FrontierQueries.q224ExistsDisjunct, FrontierQueries.q224Sql),
    QuerySpec("q225_notexists_disjunct", FrontierQueries.q225NotExistsDisjunct,
      FrontierQueries.q225Sql),
    QuerySpec("q226_leftouter_disjunct", FrontierQueries.q226LeftOuterDisjunct,
      FrontierQueries.q226Sql),
    QuerySpec("q227_fullouter_disjunct", FrontierQueries.q227FullOuterDisjunct,
      FrontierQueries.q227Sql)
  ))

  /** `specs` as given, or a failure naming every name that occurs twice. */
  def unique(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, s) if s.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = specs.map(s => s.name -> s.oracleSql).toMap

  /** The specs named in `only` (a comma-separated list, for local
    * iteration; unset = all), in name order. An unregistered name fails,
    * so a typo cannot shrink a run to nothing that then checks green. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[QuerySpec] = {
    val names = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = names.getOrElse(Set.empty) -- specs.map(_.name)
    require(unknown.isEmpty, s"unregistered query names: ${unknown.toSeq.sorted.mkString(", ")}")
    specs.filter(s => names.forall(_(s.name))).sortBy(_.name)
  }
}
