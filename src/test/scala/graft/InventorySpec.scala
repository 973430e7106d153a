package graft

/** Pins the declared query keys to the SURVEY §2 inventory (the binding
  * contract, §0/§2): a key disappearing or being renamed must fail loudly
  * here, not at the driver's gate.
  */
class InventorySpec extends SparkSpec {

  private val inventory: Set[String] = Set(
    // §2.1 scans
    "scan_parquet", "scan_schema_prune", "scan_csv_roundtrip", "scan_json_roundtrip",
    // §2.2 filter/project
    "filter_simple", "filter_compound", "filter_like", "filter_null_semantics",
    "project_expressions",
    // §2.3 joins
    "join_broadcast_inner", "join_shuffle_inner", "join_left_outer",
    "join_full_outer", "join_left_semi", "join_left_anti", "join_cross",
    "join_theta_range", "join_asof", "join_star_multiway", "join_self",
    // §2.4 aggregation
    "agg_global", "agg_groupby_pricing", "agg_count_distinct",
    "agg_approx_distinct", "agg_having", "agg_rollup", "agg_cube",
    "agg_grouping_sets", "agg_collect_sorted", "agg_first_last", "agg_stats",
    "custom_udaf_wavg",
    // §2.5 windows
    "win_row_number", "win_rank_dense", "win_ntile", "win_lag_lead",
    "win_running_sum", "win_moving_avg", "win_range_frame", "win_percent_cume",
    "win_first_last_value", "topk_per_group",
    // §2.6 sort/set
    "sort_multikey", "sort_limit_topk", "set_union_all", "set_union_distinct",
    "set_intersect", "set_except", "dedup_dropduplicates",
    // §2.7 scalar fns
    "fn_string_suite", "fn_date_suite", "fn_math_suite", "fn_conditional",
    "custom_udf_expr",
    // §2.8 semi-structured
    "json_get_path", "json_construct", "array_basics", "array_explode",
    "array_higher_order", "map_ops", "custom_udtf_generator",
    // §2.9 text/dedup/sim
    "text_token_counts", "text_doc_stats", "text_ngrams", "text_tf",
    "text_tfidf_topterm", "dedup_exact_text", "dedup_near_jaccard",
    "dedup_minhash_lsh", "sim_cosine_pairs", "sim_knn_topk",
    "sim_centroid_per_label", "multimodal_join",
    // §2.10 streaming (batch-declared)
    "stream_tumbling_counts", "stream_sliding_avg", "stream_session_windows",
    "stream_dedup_watermark", "stream_stateful_runningmax",
    // §2.12 training-pipeline extras
    "text_langid", "text_quality_score", "text_token_count_bpe",
    "text_fingerprint", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_embedding_cosine", "sim_ann_ivf", "multimodal_stub",
    // §2.13 round-2 amendment
    "dedup_cluster_canon",
    // §2.14 round-3 amendment
    "topk_pushdown_rank",
    // §2.15 reshape / percentile / sampling / layout (round-3 amendment)
    "pivot_wide", "unpivot_long", "agg_percentiles", "sample_stratified_hash",
    "join_skew_salted", "scan_partition_prune",
    // §2.10 round-3 addition: stream-stream join
    "stream_interval_join",
    // §2.15 second wave: mixing / fuzzy dictionary dedup / sketch quantiles
    "sample_weighted_mix", "dedup_edit_distance", "agg_approx_quantile",
    // §2.12 round-3 addition: multimodal frame sampling (declared face)
    "multimodal_frame_sample",
    // §2.16 round-4 amendment: storage layout + planner autonomy + ORC
    "scan_bucket_join", "scan_dpp_join", "join_star_aqe",
    "scan_orc_roundtrip",
    // §2.17 round-4 amendment: corpus curation
    "text_decontaminate", "dedup_substring_spans",
    // §2.18 round-5 amendment
    "dedup_embedding_cosine_tight", "join_skew_aqe",
    "dedup_substring_spans_hashed",
    // §2.19 round-5 amendment: event analytics + runtime filtering
    "funnel_stages", "hist_values", "join_bloom_runtime",
    "hist_equidepth", "sql_tpch_q3", "cohort_retention",
    "ts_gapfill_daily",
    // §2.20 round-5 amendment: ETL mutation & history
    "etl_upsert_type1", "etl_gaps_islands",
    // §2.21 round-6 amendment: SCD2 history + outer interval join +
    // unsupervised k-means IVF + end-to-end curation verdict
    "etl_scd2_history", "stream_interval_join_outer", "sim_ann_kmeans",
    "pipeline_curation_verdict", "agg_tdigest_quantile",
    "etl_scd2_incremental", "scan_zorder_prune",
    "agg_mode_per_group", "join_asof_nearest",
    // §2.19 addendum: pure (no-equi-key) range join, binned
    "join_range_binned",
    // §2.20 addendum: corpus heavy hitters by document frequency
    "text_heavy_hitters",
    // §2.22 round-6 second wave: interval algebra + sessionization +
    // PII redaction + repetition quality filter + layout maintenance
    "join_interval_overlap", "ts_sessionize", "text_pii_scrub",
    "text_repetition_filter", "scan_compact_smallfiles",
    "etl_partition_overwrite", "agg_hll_partitioned_union",
    "pipeline_pack_sequences",
    // round-6 third wave: OHLC resample + weighted MA, per-domain cap,
    // dataset card, RAG chunking, CDC apply, integer PageRank
    "ts_resample_ohlc", "ts_wma", "sample_domain_cap",
    "pipeline_dataset_card", "pipeline_rag_chunking", "etl_cdc_apply",
    "graph_pagerank",
    // §2.24 fourth wave
    "text_url_normalize", "sample_temperature_mix", "attribution_first_touch",
    "etl_snapshot_diff", "join_bloom_prebuilt", "agg_countmin_freq",
    "agg_bitmap_distinct", "stream_cdc_apply", "scan_schema_evolution",
    "win_pattern_match", "dedup_substring_removal", "scan_csv_permissive",
    "sql_tpch_q18", "topk_trending_daily", "etl_dq_report",
    // §2.25 fifth wave: sweep-line concurrency, z-score anomalies,
    // linear interpolation, cumulative distinct, BPE pair counts,
    // train/val/test split
    "ts_concurrency_max", "ts_anomaly_zscore", "ts_interpolate_linear",
    "agg_cumulative_distinct_daily", "text_bpe_pair_counts",
    "pipeline_train_test_split",
    // §2.26 sixth wave: sliding distinct (WAU), activity streaks,
    // vocab dictionary-encode
    "agg_wau_sliding_distinct", "win_streak_longest",
    "pipeline_vocab_encode",
    // §2.26 addenda: sketched sliding WAU, asymmetric containment
    // dedup, exact-moment correlation, lateral SQL surface
    "agg_wau_hll_sliding", "dedup_containment",
    "agg_corr_value_hour", "sql_lateral_topn",
    "agg_wau_bitmap_sliding",
    // §2.26 final addenda: null-safe equi join, nth_value window,
    // bitwise scalar suite
    "join_null_safe", "win_nth_value", "fn_bitwise_suite",
    // §2.27 round-7 wave: streaming sessionized first-touch
    // attribution + writer-side schema migration
    "stream_attribution_first_touch", "etl_schema_migrate",
    // §2.28 round-7 second wave: path transitions, interval coverage,
    // point-in-time SCD2 lookup, preference-pair mining, entropy/HHI
    // mix profiles, sampled triangle counting, regexp surface
    "path_transitions", "ts_interval_coverage", "etl_pit_join",
    "pipeline_preference_pairs", "agg_entropy_mix", "agg_hhi_share",
    "graph_triangle_count", "fn_regexp_suite",
    // §2.29 round-7 third wave: robust/higher-moment stats, level-shift
    // changepoint scan, FK orphan audit
    "agg_skew_kurtosis", "agg_mad", "ts_level_shift", "etl_orphan_audit",
    // §2.29 addenda: exact regression trend + NFC normalization through
    // the new codegen Expression
    "agg_trend_slope", "text_unicode_normalize",
    // §2.30 round-7 fourth wave: concentration/experimentation stats,
    // seasonality pair, deadline funnel, TPC-H Q5
    "agg_gini", "ab_test_welch", "ts_autocorr", "ts_dow_seasonality",
    "funnel_conversion_window", "sql_tpch_q5",
    // §2.31 round-7 fifth wave: vocabulary/readability profiling,
    // degree distribution, Pareto point, int8 quantization error,
    // TPC-H Q1
    "text_zipf_slope", "text_readability", "graph_degree_hist",
    "agg_pareto_8020", "sim_vector_quantize_error", "sql_tpch_q1",
    // §2.32 round-7 sixth wave: session/cadence analytics, burst
    // detection, tokenizer fertility, SCD type 3, k-core peeling
    "ts_session_stats", "ts_gap_percentiles", "ts_burst_days",
    "text_tokenizer_fertility", "etl_scd3_prev_value", "graph_kcore",
    // §2.33 round-7 seventh wave: Jaro-Winkler fuzzy names (new
    // codegen Expression), incremental aggregate maintenance, TPC-H
    // Q10
    "dedup_jaro_names", "etl_incremental_agg_merge", "sql_tpch_q10",
    // §2.34 round-7 eighth wave: streaming top-k composition, cohort
    // LTV, nested-column pruning, multimodal chunk manifest
    "stream_hourly_topk", "agg_cohort_ltv", "scan_nested_prune",
    "multimodal_byte_chunks",
    // §2.35 round-7 ninth wave: robust anomaly days, growth
    // accounting, stickiness, conversion latency, clustering
    // coefficient
    "ts_anomaly_mad", "ts_new_vs_returning", "ts_stickiness_ratio",
    "agg_time_to_convert", "graph_clustering_coeff",
    // §2.36 round-7 tenth wave: growth rates, RFM segmentation,
    // also-bought recommendations, multi-source BFS
    "ts_growth_rates", "agg_rfm_segments", "graph_also_bought_topk",
    "graph_bfs_distance",
    // §2.37 round-7 eleventh wave: partition observability, Wilson
    // error bounds, TPC-H Q7, nearest-centroid classification
    "etl_partition_profile", "ts_error_rate_wilson", "sql_tpch_q7",
    "sim_centroid_classify",
    // §2.38 round-7 twelfth wave: forecast backtest, journey trigrams,
    // TPC-H Q6, basket-size distribution
    "ts_forecast_baseline_mae", "path_trigrams_topk", "sql_tpch_q6",
    "agg_basket_size_dist",
    // §2.39 round-7 thirteenth wave: rank movers, survival curve,
    // dormancy segmentation, shard balance
    "topk_rank_delta", "agg_survival_curve", "agg_dormancy_buckets",
    "pipeline_shard_balance",
    // §2.40 round-7 fourteenth wave: promo-share ratio, correlated
    // EXISTS decorrelation
    "sql_tpch_q14", "sql_exists_correlated",
    // §2.41 round-8 first wave: the remaining structurally distinct
    // TPC-H planner shapes — correlated scalar subquery, multi-EXISTS
    // lateness, anti+scalar-avg — plus the null-aware anti join
    "sql_tpch_q17", "sql_tpch_q21", "sql_tpch_q22",
    "join_null_aware_anti",
    // §2.42 round-8 second wave: the VersionedTable storage face —
    // commit-log time travel and manifest-stats file pruning
    "etl_time_travel", "scan_manifest_prune",
    // §2.43 round-8 third wave: unigram LM quality score, recursive
    // CTE, ANSI FILTER-clause aggregates, rolling median
    "text_perplexity_unigram", "sql_recursive_cte", "agg_filter_clause",
    "win_rolling_median",
    // §2.44 round-8 fourth wave: multiset set ops, forward as-of,
    // exact power-of-two EWMA
    "set_intersect_all", "set_except_all", "join_asof_forward",
    "ts_ewma",
    // §2.45 round-8 fifth wave: stream-static enrichment, line text src
    "stream_enrich_static", "scan_text_lines",
    // §2.46 round-8 sixth wave: weighted median, winsorized mean
    "agg_weighted_median", "agg_winsorized_mean",
    // §2.47 round-8 seventh wave: VARIANT, DROPMALFORMED, grouping id
    "json_variant_extract", "scan_csv_dropmalformed", "agg_grouping_id",
    // §2.48 round-8 eighth wave: the DSv2 connector read
    "scan_dsv2_history",
    // §2.49 round-8 ninth wave: epoch shuffle, dataset interleave
    "pipeline_epoch_shuffle", "pipeline_interleave_datasets",
    // §2.50 round-8 tenth wave: existence join, link prediction
    "join_existence_flag", "graph_jaccard_linkpred",
    // §2.51 round-8 eleventh wave: multi-distinct, FK containment
    "agg_multi_distinct", "etl_fk_containment",
    // §2.52 round-8 twelfth wave: PMI collocations
    "text_cooccurrence_pmi",
    // §2.53 round-8 thirteenth wave: MTD/YoY KPIs, metadata-only scan
    "ts_mtd_yoy", "scan_partition_values",
    // §2.54 round-8 fourteenth wave: token-budget trim
    "pipeline_token_budget_trim",
    // §2.55 round-8 fifteenth wave: IGNORE NULLS fill-forward, TRY_CAST
    "win_fill_forward", "fn_try_cast_suite",
    // §2.56 round-9 first wave: the remaining 11 TPC-H planner shapes —
    // the suite is complete at 22/22
    "sql_tpch_q2", "sql_tpch_q4", "sql_tpch_q8", "sql_tpch_q9",
    "sql_tpch_q11", "sql_tpch_q12", "sql_tpch_q13", "sql_tpch_q15",
    "sql_tpch_q16", "sql_tpch_q19", "sql_tpch_q20",
    // §2.57 round-9 second wave: VersionedTable maintenance — MERGE
    // INTO as a read-modify-write transaction, vacuum + checkpoint
    "etl_merge_into", "scan_vacuum_current",
    // §2.58 round-9 third wave: interpolated bigram LM perplexity,
    // product quantization, label-propagation communities
    "text_perplexity_bigram", "sim_pq_error", "graph_label_prop",
    // §2.59 round-9 fourth wave: tolerance as-of, MIPS top-k,
    // power-of-two length bucketing
    "join_asof_tolerance", "sim_mips_topk", "pipeline_length_bucketing",
    // §2.60 round-9 fifth wave: interval RANGE frame, rolling corr
    "win_range_time_frame", "ts_rolling_corr",
    // §2.61 round-9 sixth wave: SQL PIVOT/UNPIVOT clauses, LISTAGG
    "sql_pivot", "sql_unpivot", "agg_listagg",
    // §2.62 round-9 seventh wave: inferred grouping/sort clauses,
    // subtractive projection, inline VALUES dims, boolean aggregates,
    // deterministic argmax/argmin
    "sql_groupby_all", "sql_star_except", "sql_values_inline",
    "agg_bool_ops", "agg_max_by_min_by",
    // §2.63 round-9 eighth wave: change-point, peaks, robust trend
    "ts_cusum_changepoint", "ts_peak_detect", "ts_theil_sen",
    // §2.64 round-9 ninth wave: mixture weights, dedup survivorship,
    // hard negatives, span corruption
    "sample_mixture_weights", "dedup_survivorship_report",
    "sim_hard_negative_mine", "pipeline_span_corruption",
    // §2.65 round-9 tenth wave: hash suite, URL parsing, streaming
    // VersionedTable merge sink
    "fn_hash_suite", "fn_parse_url", "stream_vtab_merge",
    // §2.66 round-9 eleventh wave: try-arithmetic, LTTB downsampling,
    // community modularity
    "fn_try_arith_suite", "ts_downsample_lttb", "graph_modularity",
    // §2.67 round-9 twelfth wave: consistent pseudonymization, ANN
    // recall eval, table checksum
    "text_pseudonymize", "sim_recall_eval", "etl_table_checksum",
    // §2.68 round-9 thirteenth wave: novelty ratio, WAPE/sMAPE,
    // month arithmetic
    "text_novelty_ratio", "ts_forecast_wape_smape",
    "fn_month_arith_suite",
    // §2.69 round-9 fourteenth wave: collation grouping, SQL CTAS,
    // weighted quartiles
    "fn_collation_group", "sql_ctas_read", "agg_weighted_percentiles",
    // §2.70 round-9 fifteenth wave: assortativity, json_tuple lateral
    // view, Matryoshka prefix recall
    "graph_assortativity", "fn_json_tuple", "sim_prefix_dim_recall",
    // §2.71 round-9 sixteenth wave: sum-distinct planner shape, file
    // metadata columns, chat template rendering
    "agg_sum_distinct", "scan_file_metadata", "pipeline_chat_format",
    // §2.72 round-9 seventeenth wave: rolling slope, GRPO reward
    // normalization, multi-line JSON
    "ts_rolling_slope", "pipeline_reward_normalize",
    "scan_json_multiline",
    // §2.73 round-9 eighteenth wave (landed in the end-of-round
    // snapshot): IQR fence outliers, quoted-CSV roundtrip
    "agg_iqr_outliers", "scan_csv_quoted_roundtrip",
    // §2.74 round-10 first wave: statistical inference — chi-square
    // independence, Kendall tau-b, Benford digit forensics
    "agg_chi2_independence", "agg_kendall_tau", "agg_benford_digits",
    // §2.75 round-10 second wave: model evaluation — confusion sweep,
    // exact rank-sum AUC, calibration table
    "eval_confusion_binary", "eval_auc_rank", "eval_calibration_bins",
    // §2.76 round-10 third wave: Spearman rho, Adamic-Adar link
    // prediction, NDCG@10 retrieval quality
    "agg_spearman_corr", "graph_adamic_adar", "eval_ndcg_label",
    // §2.77 round-10 fourth wave: corpus lexicography — hapax
    // richness, Heaps vocab growth, token burstiness
    "text_hapax_richness", "text_vocab_growth", "text_token_burstiness",
    // §2.78 round-10 fifth wave: versioned DELETE WHERE, group k-fold
    "etl_delete_where", "pipeline_kfold_group",
    // §2.79 round-10 sixth wave: MRR retrieval depth, JS source
    // drift, FK repair via unknown member
    "eval_mrr_label", "text_js_drift", "etl_fk_repair",
    // §2.80 round-10 seventh wave: bbox IoU matching, discrete
    // percentiles, LIMIT/OFFSET pagination
    "multimodal_bbox_iou", "agg_percentile_disc", "sort_limit_offset_page",
    // §2.81 round-10 eighth wave: survey geospatial + weekly churn
    "geo_grid_density", "geo_track_length", "ts_churn_weekly",
    // §2.82 round-11 first wave (legalizing the round-10 snapshot
    // stowaways): two-sample KS, Wald-Wolfowitz runs, Pythagorean
    // means
    "agg_ks_test", "agg_runs_test", "agg_geo_harmonic_mean",
    // §2.83 round-11 second wave: detection NMS, on-effort track
    // segmentation, OPTIMIZE compaction-as-a-commit
    "multimodal_nms", "geo_track_sessions", "etl_optimize_compact",
    // §2.84 round-11 third wave: retrieval AP@10, classifier PR-AUC,
    // letterbox resize geometry
    "eval_ap_retrieval", "eval_pr_auc", "multimodal_letterbox",
    // §2.85 round-11 fourth wave: Poisson-bootstrap CI, surrogate-key
    // assignment, grid-bucketed zone containment join
    "agg_bootstrap_ci", "etl_surrogate_keys", "geo_zone_join",
    // §2.86 round-11 fifth wave: STL decomposition, SAHI tile grid,
    // box-kernel density smoothing
    "ts_stl_decompose", "multimodal_tiling", "geo_grid_smooth",
    // §2.87 round-11 sixth wave: harmonic centrality, log2 histogram,
    // gzip CSV codec roundtrip
    "graph_closeness", "agg_log2_histogram", "scan_csv_gzip_roundtrip",
    // §2.88 round-11 seventh wave: one-way ANOVA, lagged cross-corr,
    // detection mutual-best matching eval
    "agg_anova_oneway", "ts_cross_corr", "eval_det_match",
    // §2.89 round-11 eighth wave: BM25 retrieval, chip crops,
    // curriculum ordering
    "text_bm25", "multimodal_crop_chips", "pipeline_curriculum",
    // §2.90 round-11 ninth wave: Cohen's kappa, anchor-box assignment,
    // 11-point interpolated detection AP
    "eval_cohen_kappa", "multimodal_anchor_assign", "eval_det_ap",
    // §2.91 round-11 tenth wave: Mann-Kendall trend, Brown-Forsythe
    // variance homogeneity, Cramér's V effect size
    "ts_mann_kendall", "agg_levene_test", "agg_cramers_v",
    // §2.92 round-11 eleventh wave: Ljung-Box whiteness, SAHI tile
    // re-projection, Fleiss' kappa
    "ts_ljung_box", "multimodal_tile_remap", "eval_fleiss_kappa",
    // §2.93 round-11 twelfth wave: Tukey HSD, McNemar paired test,
    // Getis-Ord Gi* hotspots
    "agg_tukey_hsd", "eval_mcnemar", "geo_hotspot_gi",
    // §2.94 round-11 thirteenth wave: capture-recapture abundance,
    // count-concordance CCC, class-balanced undersampling
    "agg_capture_recapture", "eval_count_ccc",
    "sample_balanced_undersample",
    // §2.95 round-11 fourteenth wave: pinball loss, G-test,
    // Brier score + skill
    "ts_pinball_loss", "agg_g_test", "eval_brier_score",
    // §2.96 round-12 first wave: intervention Welch, delete-1
    // jackknife, average-neighbor-degree curve
    "ts_intervention_welch", "agg_jackknife_variance",
    "graph_avg_neighbor_degree",
    // §2.97 round-12 second wave: cross-entropy, calibration error,
    // effect size
    "eval_log_loss", "eval_ece", "agg_cohens_d",
    // §2.98 round-12 third wave: NN duplicate screening, centroid
    // silhouette, graded contamination
    "geo_nn_screening", "sim_silhouette_centroid",
    "text_contamination_score",
    // §2.99 round-12 fourth wave: gains/lift deciles, Poisson rate
    // ratio, vocabulary coverage curve
    "eval_lift_curve", "agg_poisson_rate_ratio",
    "text_ngram_coverage_curve",
    // §2.100 round-12 fifth wave: degree gini, class co-occurrence,
    // Neyman allocation
    "graph_degree_gini", "multimodal_class_cooccurrence",
    "sample_neyman_allocation",
    // §2.101 round-12 sixth wave: MMR re-ranking, daily mix entropy,
    // freshness report
    "sim_mmr_rerank", "ts_entropy_daily", "etl_freshness_report",
    // §2.102 round-12 seventh wave: detection F1 sweep, SFT loss
    // mask, char entropy
    "eval_det_f1_at_iou", "pipeline_sft_loss_mask",
    "text_char_entropy",
    // §2.103 round-12 eighth wave: rich club, Hodges–Lehmann,
    // hour×dow heatmap
    "graph_rich_club", "agg_hodges_lehmann", "ts_hour_dow_heatmap",
    // §2.104 round-12 ninth wave: PSI drift, GPS interpolation,
    // word-length profile
    "eval_psi", "geo_gps_interpolate", "text_word_length_profile",
    // §2.105 round-12 tenth wave: Hill tail index, Markov steady
    // state, column churn
    "agg_tail_index_hill", "agg_markov_steady_state",
    "etl_column_churn",
    // §2.106 round-12 eleventh wave: balanced oversampling, skew
    // audit, record-breaking days
    "sample_balanced_oversample", "etl_skew_report",
    "ts_records_count",
    // §2.107 round-13 legalization: ego-network density (implemented
    // end of round 12, amendment landed round 13)
    "graph_ego_density",
    // §2.108 round-13 first wave: COCO mAP, truncated Brandes
    // betweenness, detection track stitching
    "eval_map_coco", "graph_betweenness", "multimodal_track_stitch",
    // §2.109 round-13 second wave: Krippendorff alpha, RBO, Kendall W
    "eval_krippendorff_alpha", "eval_rbo_overlap", "agg_kendall_w",
    // §2.110 round-13 third wave: KN perplexity, novelty decay,
    // Burrows delta
    "text_perplexity_kneser_ney", "text_ngram_novelty_decay",
    "text_burrows_delta",
    // §2.111 round-13 fourth wave: sinuosity, grid DBSCAN-lite,
    // track kinematics
    "geo_sinuosity", "geo_dbscan_cells", "multimodal_track_speed",
    // §2.112 round-13 fifth wave: Theil index, Wilcoxon signed-rank,
    // backfill plan
    "agg_theil_index", "agg_wilcoxon_signed_rank", "etl_backfill_plan",
    // §2.113 round-13 sixth wave: periodogram, emerging cells, SPRT
    "ts_periodogram", "geo_emerging_cells", "ab_sprt_sequential",
    // §2.114 round-13 seventh wave: streaming rate alerts
    "stream_rate_alert",
    // §2.115 round-13 eighth wave: log-odds keywords, transitivity,
    // stats collection
    "text_odds_ratio_keywords", "graph_transitivity_global",
    "etl_stats_collect",
    // §2.116 round-13 ninth wave: binseg changepoint, line dedup,
    // mosaic manifest
    "ts_changepoint_binseg", "dedup_line_level",
    "multimodal_mosaic_manifest",
    // §2.117 round-13 tenth wave: Rocchio expansion, cohort
    // half-life, Hurst exponent
    "sim_rocchio_expand", "ts_cohort_halflife", "ts_hurst_exponent",
    // §2.118 round-13 eleventh wave: Cochran Q, annotation routing,
    // two-proportion z
    "agg_cochran_q", "pipeline_annotation_routing",
    "agg_two_proportion_z",
    // §2.119 round-13 twelfth wave: KDE surface, ESS report,
    // reach profile
    "geo_kde_cells", "sample_ess_report", "graph_eccentricity",
    // §2.120 round-13 thirteenth wave: hard examples, win rates,
    // bipartite profile
    "multimodal_hard_example_mining", "eval_pairwise_winrate",
    "graph_bipartite_profile",
    // §2.121 round-13 fourteenth wave: ratio-metric CI, SRM check,
    // recall by size
    "agg_ratio_metric_ci", "agg_srm_check", "eval_det_recall_by_size",
    // §2.122 round-13 fifteenth wave: drawdown curve, Youden
    // threshold, source outliers
    "ts_drawdown_curve", "eval_youden_threshold",
    "text_source_outlier_score",
    // §2.123 round-13 sixteenth wave: share curve, systematic sample,
    // aspect histogram
    "agg_cumshare_curve", "sample_systematic",
    "multimodal_box_aspect_hist",
    // §2.124 round-13 seventeenth wave: Pareto skyline, quality-gate
    // funnel, Theil decomposition
    "sort_pareto_skyline", "pipeline_quality_gate_funnel",
    "agg_theil_decomposition",
    // §2.125 round-13 eighteenth wave: lognormal fit, cross-source
    // dup matrix, spacing CV
    "agg_lognormal_fit", "dedup_cross_source_matrix",
    "ts_event_spacing_cv",
    // §2.126 round-13 nineteenth wave: quartile dispersion, next-
    // purchase latency, trimmed mean
    "agg_quartile_dispersion", "win_time_to_next_purchase",
    "agg_trimmed_mean",
    // §2.127 round-13 twentieth wave: Hoover index, mean log
    // deviation, trend R²
    "agg_hoover_index", "agg_mean_log_deviation", "ts_trend_r2",
    // §2.128 round-14 first wave: directed SCC
    "graph_scc",
    // §2.129 round-14 second wave: Holt-Winters, weighted sampling
    // without replacement, HLL intersection
    "ts_holt_winters", "sample_weighted_noreplacement",
    "agg_hll_intersection",
    // §2.130 round-14 third wave: HITS, Mann-Whitney U, Yule's K
    "graph_hits", "agg_mann_whitney_u", "text_yule_k",
    // §2.131 round-14 fourth wave: CUPED, ERR, repeat-factor sampling
    "ab_cuped_adjustment", "eval_err", "pipeline_repeat_factor_sampling",
    // §2.132 round-14 fifth wave: F test, MCC, cell dwell
    "agg_f_test_two_sample", "eval_matthews_corr", "geo_cell_dwell",
    // §2.133 round-14 sixth wave: Bartlett, sign test, late arrivals
    "agg_bartlett_test", "agg_sign_test", "etl_late_arrival_report",
    // §2.134 round-14 seventh wave: Friedman, lexical density, Katz
    "agg_friedman_test", "text_lexical_density", "graph_katz",
    // §2.135 round-14 eighth wave: Kruskal-Wallis, seasonal strength,
    // reciprocity
    "agg_kruskal_wallis", "ts_seasonal_strength", "graph_reciprocity",
    // §2.136 round-14 ninth wave: HW backtest, top-k accuracy,
    // stump split
    "ts_hw_backtest", "eval_topk_accuracy", "eval_stump_split",
    // §2.137 round-14 tenth wave: bigram overlap, log-rank, power
    "text_bigram_overlap", "agg_logrank_test", "ab_power_sample_size",
    // §2.138 round-14 eleventh wave: Durbin-Watson, DOW chi2,
    // dim variance
    "ts_durbin_watson", "ts_dow_uniformity_chi2", "sim_dim_variance",
    // §2.139 round-14 twelfth wave: Chao1, RAKE, flip manifests
    "text_chao1_richness", "text_rake_keywords",
    "multimodal_flip_boxes",
    // §2.140 round-14 thirteenth wave: script profile, heading
    // sectors, odds ratio
    "text_script_profile", "geo_heading_sectors", "ab_odds_ratio_ci",
    // §2.141 round-14 fourteenth wave: track bbox, regression
    // metrics, retention plan
    "geo_track_bbox", "eval_regression_hour_model",
    "etl_retention_plan",
    // §2.142 round-14 fifteenth wave: box clip, recall curve,
    // two-hop reach
    "multimodal_box_clip", "sim_recall_curve", "graph_two_hop_reach",
    // §2.143 round-14 sixteenth wave: one-sample t, vocab Jaccard,
    // best-of-n
    "agg_ttest_one_sample", "text_vocab_jaccard_pairs",
    "pipeline_best_of_n",
    // §2.144 round-14 seventeenth wave: median test, co-location
    "agg_median_test", "geo_colocation_pairs",
    // §2.145 round-14 eighteenth wave: CA trend, watermark rec,
    // control limits
    "ab_cochran_armitage_trend", "etl_watermark_recommendation",
    "ts_control_limits",
    // §2.146 round-14 nineteenth wave: partial corr, conditional
    // entropy, numeric tokens
    "agg_partial_corr", "agg_entropy_conditional",
    "text_numeric_token_stats",
    // §2.147 round-14 twentieth wave: center crop, prefix groups,
    // length percentiles
    "multimodal_center_crop", "dedup_prefix_groups",
    "pipeline_doc_length_percentiles",
    // §2.148 round-14 twenty-first wave: Bowley skew, weekend
    // effect, norm profile
    "agg_quartile_skewness", "ts_weekend_effect",
    "sim_norm_distribution",
    // §2.149 round-15 first wave: personalized PageRank, Kalman
    // smooth, frequent episodes
    "graph_ppr", "ts_kalman_smooth", "path_frequent_episodes",
    // §2.150 round-15 second wave: convex hull, HLL difference,
    // Jarque-Bera
    "geo_convex_hull_area", "agg_hll_difference", "agg_jarque_bera",
    // §2.151 round-15 third wave: radius of gyration, Simpson
    // diversity, intra-label diversity
    "geo_radius_of_gyration", "text_simpson_diversity",
    "sim_intra_label_diversity",
    // §2.152 round-15 fourth wave: PACF, turning points, zero runs
    "ts_pacf", "ts_turning_points", "ts_zero_run_profile",
    // §2.153 round-15 fifth wave: cluster-size histogram, KL
    // divergence, PK uniqueness audit
    "dedup_cluster_size_hist", "text_kl_divergence",
    "etl_pk_uniqueness_audit",
    // §2.154 round-15 sixth wave: relative risk, Cohen's h,
    // per-class PRF
    "ab_relative_risk_ci", "ab_cohens_h", "eval_per_class_prf",
    // §2.155 round-15 seventh wave: spectral entropy, triplet
    // violations, context-window fit
    "ts_spectral_entropy", "sim_triplet_violation_rate",
    "pipeline_context_window_fit",
    // §2.156 round-15 eighth wave: corpus fingerprint, feature
    // standardize, leading tokens
    "pipeline_corpus_fingerprint", "pipeline_feature_standardize",
    "text_leading_token_profile",
    // §2.157 round-15 ninth wave: anchor coverage, step lengths, CR4
    "multimodal_anchor_coverage", "geo_step_length_percentiles",
    "agg_cr4_concentration",
    // §2.158 round-15 tenth wave: diff-in-diff, CVaR, Gumbel maxima
    "ab_diff_in_diff", "agg_cvar_tail_mean", "ts_gumbel_block_maxima",
    // §2.159 round-15 eleventh wave: self-BLEU, bearing changes,
    // scale jitter
    "text_self_bleu_lite", "geo_bearing_change_stats",
    "multimodal_scale_jitter_manifest",
    // §2.160 round-15 twelfth wave: NB fit, calibration slope,
    // intra-doc dup
    "agg_negative_binomial_fit", "eval_calibration_slope",
    "text_intradoc_ngram_dup",
    // §2.161 round-15 thirteenth wave: centroid drift, ship latency,
    // langid confusion
    "sim_centroid_drift", "etl_order_to_ship_latency",
    "text_langid_confusion",
    // §2.162 round-15 fourteenth wave: value bands, F1-optimal threshold,
    // reorder gaps
    "ts_daily_value_percentiles", "eval_f1_optimal_threshold",
    "win_reorder_gap_stats",
    // §2.163 round-15 fifteenth wave: NDCG curve, cell flows,
    // two-digit Benford
    "eval_ndcg_curve", "geo_cell_flows", "agg_benford_first_two",
    // §2.164 round-15 sixteenth wave: growth streaks, top hubs,
    // entropy rate
    "ts_growth_streaks", "graph_top_hubs", "text_ngram_entropy_rate",
    // §2.165 round-15 seventeenth wave: seasonal MK, boxes/image,
    // norm outliers
    "ts_seasonal_mann_kendall", "multimodal_boxes_per_image",
    "sim_norm_outliers",
    // §2.166 round-15 eighteenth wave: anchor cell, monthly index,
    // exact vector dedup
    "geo_anchor_cell", "ts_monthly_seasonal_index",
    "dedup_vector_exact",
    // §2.167 round-15 nineteenth wave: EB shrinkage, Donchian
    // channel, selective risk
    "agg_eb_shrunk_rates", "ts_donchian_channel",
    "eval_selective_risk",
    // §2.168 round-15 twentieth wave: mutual best pairs, band
    // migration, classify margin
    "graph_mutual_best_pairs", "agg_value_band_migration",
    "sim_classify_margin",
    // §2.169 round-15 twenty-first wave: visit entropy, SMA
    // crossover, label exemplars
    "geo_visit_entropy", "ts_sma_crossover", "sim_label_exemplars",
    // §2.170 round-15 twenty-second wave: flow asymmetry, cutmix
    // manifest, dedup tier report
    "geo_flow_asymmetry", "multimodal_cutmix_manifest",
    "dedup_tier_report",
    // §2.171 round-15 twenty-third wave: deepwalk corpus, cross-doc
    // ngram share, fanout audit
    "graph_deepwalk_corpus", "text_crossdoc_ngram_share",
    "etl_fanout_audit",
    // §2.172 round-15 twenty-fourth wave: association rules,
    // segmented regression, LOO 1-NN accuracy
    "agg_assoc_rules_lift", "ts_segmented_regression",
    "sim_loo_knn_accuracy",
    // §2.173 round-15 twenty-fifth wave: weighted kappa, occlusion
    // pairs, edge embeddedness
    "eval_weighted_kappa", "multimodal_occlusion_pairs",
    "graph_edge_embeddedness",
    // §2.174 round-15 twenty-sixth wave: c(k) curve, column
    // cardinality, DPO margins
    "graph_clustering_by_degree", "etl_column_cardinality",
    "pipeline_dpo_margin_stats",
    // §2.175 round-15 twenty-seventh wave: daily SRM drift, class
    // balance weights, home-work vector
    "ab_srm_daily_drift", "multimodal_class_balance_weights",
    "geo_home_work_vector",
    // §2.176 round-15 twenty-eighth wave: dedup token savings,
    // attribute assortativity, lang-source mix
    "pipeline_dedup_token_savings", "graph_attribute_assortativity",
    "text_lang_source_mix",
    // §2.177 round-15 twenty-ninth wave: variance ratio, Markov
    // entropy rate, parquet bloom filter
    "ts_variance_ratio", "ts_markov_entropy_rate",
    "scan_parquet_bloom_filter",
    // §2.178 round-15 thirtieth wave: residual profile, threshold
    // stability, dim correlation
    "eval_residual_profile_by_hour", "eval_threshold_stability",
    "sim_dim_correlation_pairs",
    // §2.179 round-15 thirty-first wave: position attribution,
    // length bias, revisit intervals
    "attribution_position_based", "pipeline_length_bias_audit",
    "geo_revisit_intervals",
    // §2.180 round-15 thirty-second wave: funnel significance,
    // standard deviational ellipse, source tf-idf cosine
    "funnel_stage_significance", "geo_std_ellipse",
    "text_source_tfidf_cosine",
    // §2.181 round-15 thirty-third wave: temporal integrity, daily
    // range, distribution overlap
    "etl_temporal_integrity_audit", "geo_daily_range_profile",
    "eval_distribution_overlap",
    // §2.182 round-15 thirty-fourth wave: brand conductance, peak
    // stability, precision at recall
    "graph_brand_conductance", "ts_peak_hour_stability",
    "eval_precision_at_recall",
    // §2.183 round-15 thirty-fifth wave: sorted-neighborhood dedup,
    // log-log elasticity, supplier projection
    "dedup_sorted_neighborhood", "agg_log_log_elasticity",
    "graph_supplier_projection",
    // §2.184 round-15 thirty-sixth wave: Lorenz asymmetry, hubness
    // profile, peak-to-mean ratio
    "agg_lorenz_asymmetry", "sim_hubness_profile",
    "ts_peak_to_mean_ratio",
    // §2.185 round-15 thirty-seventh wave: first-hit rank histogram,
    // degree-sales correlation, monthly checksums
    "eval_first_hit_rank_hist", "graph_degree_sales_corr",
    "etl_partition_checksum_monthly",
    // §2.186 round-15 thirty-eighth wave: median survival, type mix
    // drift, rotate boxes
    "agg_median_survival_time", "ts_type_mix_drift",
    "multimodal_rotate_boxes",
    // §2.187 round-15 thirty-ninth wave: suffix groups, size
    // assortativity, pack fill report
    "dedup_suffix_groups", "graph_size_assortativity",
    "pipeline_pack_fill_report",
    // §2.188 round-15 fortieth wave: transition entropy, intrinsic
    // dimension, SLA attainment
    "geo_cell_transition_entropy", "sim_intrinsic_dimension",
    "etl_sla_attainment",
    // §2.189 round-15 forty-first wave: macro/micro F1, ANY/ALL
    // subqueries, diurnality
    "eval_macro_micro_f1", "sql_scalar_subquery_thresholds",
    "geo_diurnality",
    // §2.190 round-15 forty-second wave: similarity histogram, brand
    // modularity, quality-length correlation
    "dedup_similarity_histogram", "graph_brand_modularity",
    "text_quality_length_corr",
    // §2.191 round-15 forty-third wave: recency-weighted value,
    // Brier decomposition, ordinal error cost
    "agg_recency_weighted_value", "eval_brier_decomposition",
    "eval_ordinal_error_cost",
    // §2.192 round-15 forty-fourth wave: volume anomaly, rare
    // tokens, VWAP
    "etl_partition_volume_anomaly", "text_rare_token_share",
    "ts_vwap_daily",
    // §2.193 round-15 forty-fifth wave: repeat purchase rate, basket
    // brand entropy, rolling Sharpe
    "agg_repeat_purchase_rate", "agg_basket_brand_entropy",
    "ts_rolling_sharpe",
    // §2.194 round-15 forty-sixth wave: price dispersion, ABC
    // classification, weekly centroid drift
    "agg_price_dispersion_topk", "agg_abc_classification",
    "geo_weekly_centroid_drift",
    // §2.195 round-15 forty-seventh wave: discount bands,
    // temperature sweep, dedup rate by length
    "agg_discount_band_profile", "pipeline_temperature_sweep",
    "dedup_rate_by_length",
    // §2.196 round-15 forty-eighth wave: cross-brand parts,
    // dispersion index, center heatmap
    "graph_cross_brand_parts", "ts_dispersion_index",
    "multimodal_center_heatmap",
    // §2.197 round-15 forty-ninth wave: AUC stability, early LTV
    // correlation, composite PK audit
    "eval_auc_stability", "agg_early_value_ltv_corr",
    "etl_composite_pk_audit",
    // §2.198 round-15 fiftieth wave: trend acceleration, hour value
    // profile, brand pair lift
    "ts_trend_acceleration", "agg_hour_value_profile",
    "graph_brand_pair_lift",
    // §2.199-201 round-16 curation wave: per-source boilerplate-line
    // removal, lexicon blocklist scoring, license-marker detection
    "text_boilerplate_lines", "text_blocklist_score",
    "text_license_tags",
    // §2.202 round-16: real from-scratch PPM/BMP decode stats
    "multimodal_decode_stats",
    // §2.203 round-16: end-to-end dedup -> canon -> pack chain
    "pipeline_dedup_pack_e2e",
    // §2.204 round-16: hidden _metadata file-audit columns
    "scan_metadata_file_audit",
    // §2.205 round-16: Observation/CollectMetrics DQ machinery
    "etl_observe_metrics",
    // §2.206 round-16: listagg/string_agg ordered aggregation
    "agg_string_agg",
    // §2.207 round-17: incremental corpus-index dedup over a persisted
    // VersionedTable band index
    "dedup_incremental_index",
    // §2.208 round-17: zipf hot-key salted join with per-reducer
    // spread audit
    "join_skew_salted_spread",
    // §2.209 round-17: real PNG encode/decode through ImageIoDecoder
    "multimodal_png_decode",
    // §2.210 round-17: persisted IVF index with manifest-pruned reads
    "sim_ann_persisted_ivf",
    // §2.211 round-17: bus-record decode parity (the Kafka-adapter
    // transform, batch-declared)
    "stream_bus_decode",
    // §2.212 round-17: incremental cluster maintenance over stored
    // canon-label star edges
    "dedup_incremental_cluster",
    // §2.213 round-17: foreign Delta-log interop (checkpoint replay,
    // vacuumed head, partition-value reattachment)
    "scan_delta_log_interop",
    // §2.214 round-17: deletion-vector row-level deletes over
    // immutable parquet
    "scan_deletion_vectors",
    // §2.215 round-17: Iceberg-shaped two-level Avro manifest planning
    "scan_iceberg_snapshot_interop",
    // §2.216 round-17: Delta as-of-version time travel (checkpoint-
    // bounded replay per target version)
    "scan_delta_time_travel_interop",
    // §2.217 round-17: change data feed from the log's file diff
    "etl_delta_change_feed",
    // §2.218 round-17: Iceberg merge-on-read position deletes
    "scan_iceberg_position_deletes",
    // §2.219 round-17: incremental view maintenance from the change
    // feed (signed-delta folding, O(changes) after bootstrap)
    "etl_incremental_view_cdf",
    // §2.220 round-17: data skipping from the log's per-file stats
    "scan_delta_stats_skipping",
    // §2.221 round-17: schema-evolution projection (schemaString wins,
    // pre-evolution files project with typed nulls)
    "scan_delta_schema_evolution_interop",
    // §2.222 round-17: reference-counted snapshot expiration
    "scan_iceberg_expire_snapshots",
    // §2.223 round-17: dataChange=false-aware change feed
    "etl_delta_cdf_compaction_aware")

  test("declared queries cover SURVEY §2 + §2.12-223 exactly (728 keys)") {
    assert(inventory.size == 728)
    val declared = SparkEntry.queries.keySet
    val missing = inventory -- declared
    val extra = declared -- inventory
    assert(missing.isEmpty, s"inventory keys not implemented: $missing")
    assert(extra.isEmpty, s"implemented keys not in inventory (amend SURVEY §2): $extra")
  }

  // README drifted stale in rounds 8, 9 AND 10 (VERDICT "what's wrong"
  // each time) — prose doesn't self-update, so pin it: the two bold
  // counts in the Status section must equal the real declared surface.
  test("README counts match the declared surface") {
    // Explicit UTF-8: the JVM default charset here is POSIX/ASCII and
    // README carries multibyte punctuation.
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val declaredRe = """\*\*(\d+) operator keys\*\*""".r
    val oracleRe = """\*\*(\d+)/(\d+) oracle-checked keys""".r
    val declaredInReadme = declaredRe.findFirstMatchIn(readme)
      .map(_.group(1).toInt)
    assert(declaredInReadme.contains(SparkEntry.queries.size),
      s"README declared-key count $declaredInReadme != " +
        s"${SparkEntry.queries.size} actual (update README Status)")
    val oracleCount = SparkEntry.queries.keySet
      .intersect(SparkEntry.oracleSql.keySet).size
    val oracleInReadme = oracleRe.findFirstMatchIn(readme)
      .map(m => (m.group(1).toInt, m.group(2).toInt))
    assert(oracleInReadme.contains((oracleCount, oracleCount)),
      s"README oracle-sweep count $oracleInReadme != " +
        s"$oracleCount/$oracleCount actual (update README Status)")
  }

  // Rounds 10 and 12 both shipped bench-heavy keys with no measured
  // scale exponent (VERDICT r12 item 3) — nothing pinned the rule, so
  // pin it: every key in BENCH_FULL.json's top-10 cost must be in
  // ScaleStress's instrumented set. A new heavy landing unmeasured
  // goes red here at the next full-suite run.
  test("every BENCH_FULL top-10 key has a ScaleStress row") {
    val bench = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_FULL.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val qObj = bench.substring(bench.indexOf("\"queries\""))
    val pair = """"([a-z0-9_]+)":([0-9]+\.?[0-9]*)""".r
    val times = pair.findAllMatchIn(qObj)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
    assert(times.size > 100, "BENCH_FULL.json queries map parse failed")
    val top = times.sortBy(-_._2).take(10).map(_._1)
    val unmeasured = top.filterNot(ScaleStress.measuredKeys)
    assert(unmeasured.isEmpty,
      s"bench top-10 keys with no ScaleStress instrumentation " +
        s"(add to SfSeriesKeys and measure): $unmeasured")
  }

  // SURVEY §1.3 percentile_disc rule: Spark types the result DOUBLE
  // while DuckDB preserves the input type, so every SPARK-side
  // inverse-distribution call over an integer column must carry an
  // explicit CAST(... AS BIGINT) — round 13 shipped the suite's only
  // two hash failures from exactly this skew. A grep can't see which
  // map a literal sits in, so the pin is a whitelist: the exact
  // per-(file, order-column) counts of UNCAST occurrences that are
  // legitimately cast-free today (oracle-side integer sites, where
  // DuckDB's type IS the contract; double-column sites; and inner
  // operands already inside a CAST(... AS DOUBLE)). Any new uncast
  // percentile_disc changes a count and goes red here — either cast
  // it or consciously amend the whitelist with a comment.
  test("uncast percentile_disc occurrences match the §1.3 whitelist") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    val call =
      ("""percentile_disc\(\s*[0-9.]+\s*\)\s*""" +
        """WITHIN GROUP \(ORDER BY (\w+)""").r
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val txt = new String(Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        // Reconstitute stripMargin literals, then collapse whitespace
        // so CAST( adjacency survives line breaks.
        val flat = txt.replaceAll("""\s*\n\s*\|\s*""", " ")
          .replaceAll("""\s+""", " ")
        call.findAllMatchIn(flat).flatMap { m =>
          val pre = flat.substring(math.max(0, m.start - 12), m.start)
          if (pre.contains("CAST(")) None
          else Some((p.getFileName.toString, m.group(1)))
        }
      }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    val whitelist = Map(
      ("PipelineQueries.scala", "n_tokens") -> 3, // oracle cuts (BIGINT native)
      ("ReshapeQueries.scala", "cents") -> 6,     // oracle q1/q3 + inner CAST-AS-DOUBLE operands
      ("ReshapeQueries.scala", "value") -> 8,     // double column, both engines
      ("WindowQueries.scala", "lat0") -> 2,       // oracle median/p90 (BIGINT native)
      ("GeoQueries.scala", "step") -> 4)          // double column, both engines (§2.157)
    assert(found == whitelist,
      s"uncast percentile_disc drift — found $found, pinned $whitelist " +
        "(cast the Spark side AS BIGINT per SURVEY §1.3, or amend)")
  }

  // One session builder: Bench, Verify, ScaleStress, Dev and SparkSpec
  // all start their session through GraftSession.harness, so no entry
  // point can drift from the session Bench and Verify run on.
  test("SparkSession.builder appears under src/main only in GraftSession") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).contains("SparkSession.builder"))
      .map(_.getFileName.toString).toSeq.sorted
    assert(hits == Seq("GraftSession.scala"),
      s"SparkSession.builder outside GraftSession: $hits " +
        "(start the session with GraftSession.harness)")
  }
}
