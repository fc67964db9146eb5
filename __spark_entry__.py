"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``data_service_spark/`` (SURVEY.md §2 inventory);
this module is a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_service_spark import registry  # noqa: E402

registry.load_all()

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7.2): TPC-H Q5-style 5-way join + agg on
    sf0.001; driver checks rows>0."""
    return registry.QUERIES["c_join_multiway"](spark, SF0001)


# The driver's correctness pass is BOUNDED (~50 keys) and records the
# FIRST entries of queries() in insertion order. After r12, coverage is
# 592/592 — every key has a green driver record — so the window now
# rotates for RECORD FRESHNESS (r12 verdict task #1). Round 13 order:
# k_bradley_terry leads (its r12 quantization fix missed the window at
# position 51 — ADVICE r12 #1), then the 5 keys whose formulas changed
# this round (the mood/bhattacharyya ADVICE fences and the three
# sf0.001 census fixes: kruskal, interpolate, rank_rbp), then the 6 new
# r13 keys, then the keys whose PLANS this optimization round rewrote
# (VERDICT freshness criterion (a): module edited after latest record —
# every one selfcheck-hash-verified at 3 SFs, but the driver record
# should confirm; the scorer-spine family shares one new helper, so it
# is listed in full), then the stalest r01-vintage records fill the
# tail. Future rounds keep refreshing the oldest records by taking the
# next ~50. PRIORITY is a unique, complete cover of the registry
# (test-enforced); _ordered merely tolerates registry drift by dropping
# unknown names and appending unlisted ones.
PRIORITY = [
    "k_bradley_terry", "k_bhattacharyya_hists", "k_mood_median", "k_kruskal_wallis",
    "e_win_interpolate", "k_rank_rbp", "q_sql_udtf", "q_like_any",
    "k_eval_bleu", "k_eval_rouge_n", "k_eval_distinct_n", "k_eval_chrf",
    # --- r14 plan-rewrite refresh (criterion (a)): every one selfcheck-
    # hash-verified at 3 SFs, but the driver record should confirm ---
    "k_state_sizing", "k_ngram_entropy_rate", "k_dedup_segments",
    "k_cluster_silhouette", "k_threshold_knee", "k_query_expansion_prf",
    # --- r13 plan-rewrite refresh (criterion (a)) ---
    "k_quality_logreg", "k_eval_auc", "k_eval_calibration", "k_eval_brier",
    "k_jackknife_se", "k_threshold_sweep", "k_threshold_youden", "k_eval_avg_precision",
    "k_pareto_skyline", "k_eval_lift_curve", "k_calibration_isotonic", "k_eval_ece",
    "k_eval_auc_by_segment", "k_learning_curve", "k_pref_length_bias", "k_dsir_weights",
    "k_text_dup_ngram_frac", "k_rag_mmr", "k_source_divergence", "d_agg_countmin",
    "k_conformal_interval", "k_markov_absorption", "k_eval_ranker_delta", "k_attribution_shapley",
    "k_sim_reciprocal_nn", "k_dedup_bands_sweep", "k_lsh_multiprobe", "d_agg_minhash_jaccard_est",
    "k_label_noise_knn", "k_outlier_lof", "k_coreset_kcenter", "d_agg_weighted_median",
    "j_map_in_pandas", "k_eval_heldout_ppl", "k_attribution_markov", "k_dedup_spans",
    "k_text_novelty",
    # --- r01-vintage freshness tail (criterion (b)) ---
    "a_scan_parquet", "a_scan_prune", "a_scan_filter_pushdown", "a_sink_parquet_roundtrip",
    "a_sink_partitioned", "a_sink_csv_json", "a_sink_orc", "a_source_python_ds",
    "a_sink_table", "b_project_arith", "b_filter_simple", "b_filter_compound",
    "b_filter_like", "b_filter_null_semantics", "b_distinct", "b_filter_scalar_subquery",
    "b_filter_corr_subquery", "c_join_inner", "c_join_multiway", "c_join_broadcast",
    "c_join_left", "c_join_right", "c_join_full", "c_join_semi",
    "c_join_anti", "c_join_cross", "c_join_theta_band", "c_join_interval",
    "c_join_asof", "c_join_salted", "c_join_bucketed", "c_join_tpch_q3",
    "c_join_tpch_q14", "c_join_tpch_q10", "d_agg_global", "d_agg_groupby",
    "d_agg_having", "d_agg_distinct", "d_agg_multi_distinct", "d_agg_rollup",
    "d_agg_cube", "d_agg_grouping_sets", "d_agg_stats", "d_agg_percentile",
    "d_agg_conditional", "d_agg_minmax_by", "d_agg_approx", "d_agg_collect",
    "d_agg_pivot", "d_agg_tpch_q6", "c_join_asof_forward", "d_agg_theta_sets",
    "d_agg_funnel_window", "k_attribution_last_touch", "e_win_rolling_median", "k_event_transitions",
    "f_keyset_page", "i_session_dynamic_gap", "k_dedup_exact", "k_dedup_near",
    "k_sim_topk", "k_text_tfidf", "k_sim_ivf", "k_dedup_minhash_sql",
    "k_graph_pagerank", "k_dedup_semantic", "k_eval_lsh_calibration", "k_eval_cluster_purity",
    "k_dedup_simhash", "k_multimodal_features", "k_text_entropy", "k_rank_fusion",
    "k_sample_stratified", "k_split_train_test", "k_text_pii_redact", "k_dedup_embedding",
    "k_pack_sequences", "k_text_contamination", "k_dedup_levenshtein", "k_chunk_rag",
    "k_dpo_pairs", "k_sample_temperature", "k_filter_gate", "k_mix_epochs",
    "k_drift_psi", "k_ab_ztest", "k_pipeline_e2e", "k_eval_ndcg",
    "k_text_zipf", "k_text_collocations", "e_win_rank", "e_win_lag_lead",
    "e_win_running", "e_win_sliding_rows", "e_win_range_frame", "e_win_distribution",
    "e_win_first_last", "e_win_scd2", "e_win_streak", "f_sort_verify",
    "f_topk", "f_topk_per_group", "f_offset", "g_union_all",
    "g_union_distinct", "g_intersect", "g_except", "g_symmetric_diff",
    "h_str_basic", "h_str_regex", "h_date_funcs", "h_math_funcs",
    "h_cond_funcs", "h_cast", "h_array_funcs", "h_map_json",
    "h_explode", "h_struct", "h_array_higher_order", "h_variant",
    "i_tumbling", "i_sliding", "i_session", "i_watermark_late",
    "i_stateful", "i_stream_sink", "i_dedup_keys", "i_stream_join",
    "j_udf_scalar", "j_pandas_udf_scalar", "j_pandas_udaf", "j_grouped_map",
    "j_udtf", "j_cogroup", "q_tpch_q08", "q_tpch_q18",
    "q_tpch_q21", "q_recursive_cte", "a_sink_avro", "a_sink_hive_table",
    "a_source_kafka_shaped", "c_join_spatial_grid", "c_join_existence_flag", "d_agg_skew_detect",
    "d_agg_wilson_ci", "d_agg_kmv_sketch", "d_agg_kmv_union", "d_agg_percentile_disc",
    "k_neyman_allocation", "e_win_range_frame_linear", "e_win_running_distinct", "h_listagg",
    "k_event_pattern_negation", "j_sql_udf", "k_dedup_prefix", "k_dup_cross_source",
    "k_hubness_audit", "k_source_overlap_matrix", "k_cross_lingual_dups", "k_colbert_maxsim",
    "k_text_langid", "k_tokenizer_fertility", "k_boilerplate_phrases", "k_blocklist_gate",
    "q_tpch_q01", "q_tpch_q05", "q_tpch_q09", "q_pipe_sql",
    "q_group_by_all", "q_ctas_insert", "k_pack_sequences_sharded", "k_budget_select",
    "k_chat_template_render", "k_span_mask_mlm", "k_prompt_dedup_sft", "k_embed_norm_audit",
    "k_eval_mrr_labels", "k_benford_digits", "k_seasonal_dow", "k_eval_map_labels",
    "k_rank_rbo", "k_daily_growth", "k_rfm_segments", "k_threshold_otsu",
    "k_ab_cuped", "k_text_ngram_coverage", "k_text_readability", "e_win_ignore_nulls",
    "e_win_pareto", "e_win_ewma", "e_win_nth_value", "g_union_byname",
    "g_except_all", "g_intersect_all", "h_bitwise", "h_trig_funcs",
    "h_nested_struct_array", "h_try_funcs", "h_hash_funcs", "h_xml_roundtrip",
    "h_collation", "h_mask_funcs", "h_explode_outer", "h_aes_roundtrip",
    "h_str_distance", "h_map_higher_order", "h_interval_funcs", "h_url_funcs",
    "h_json_build", "h_format_funcs", "i_window_chain", "i_gap_fill",
    "i_stateful_sessions", "i_stream_static", "i_upsert_sink", "i_stream_outer_join",
    "i_stream_file_sink", "i_state_reader", "j_pandas_on_spark", "j_udtf_analyze",
    "j_udf_arrow", "j_apply_in_arrow", "j_map_in_arrow", "q_tpch_q02",
    "q_tpch_q04", "q_tpch_q07", "q_tpch_q12", "q_tpch_q13",
    "q_tpch_q15", "q_tpch_q16", "q_tpch_q17", "q_tpch_q19",
    "q_tpch_q22", "q_tpch_q11", "q_tpch_q20", "q_param_sql",
    "q_execute_immediate", "q_sql_script", "a_source_jdbc", "a_source_binaryfile",
    "a_scan_metadata", "a_observe_metrics", "c_join_dpp", "c_join_lateral",
    "d_agg_mode_det", "c_join_bloom", "d_agg_bitmap", "a_cbo_stats",
    "k_embed_gram", "k_hard_negatives", "k_class_weights", "k_tokenizer_vocab_export",
    "k_anonymize_tclose", "k_ivf_balance", "k_text_winnowing", "k_graph_kcore",
    "k_fwer_holm", "k_dp_noised_counts", "k_eb_shrinkage", "k_offpolicy_ips",
    "k_ols_multifeature", "k_user_entropy", "k_dedup_lines", "k_loop_detect",
    "k_instruction_mine", "k_gate_cascade_order", "k_dup_weighted_sampling", "k_ivf_probe_sweep",
    "k_embed_isotropy", "k_eval_recall_curve", "i_stream_topk",
    "j_udtf_table_arg", "k_uplift_qini", "k_feature_woe",
    "k_reid_risk", "k_shuffle_quality", "k_eval_pass_at_k", "k_fleiss_kappa",
    "q_tpch_refresh", "k_dedup_jaccard_histogram", "c_join_er_blocking", "k_forecast_snaive",
    "k_markov_stationary", "k_sim_tfidf_pairs", "k_design_effect",
    "e_win_hampel_repair", "d_agg_linear_counting", "d_agg_bloom_audit", "a_sink_xml",
    "k_cohens_d", "k_brown_forsythe", "k_eval_mcnemar", "k_bootstrap_src_ci",
    "k_permutation_ab", "k_theil_sen", "e_win_bollinger", "k_seasonal_strength",
    "e_win_rsi", "k_mix_waterfill", "k_degree_distribution", "i_stream_union",
    "q_sql_hints", "q_distribute_by", "k_heaps_law", "k_text_ttr",
    "k_welch_t", "k_embed_standardize", "k_filter_funnel", "k_position_bias",
    "k_mann_whitney", "k_mann_kendall", "k_runs_test", "k_friedman_test",
    "k_cronbach_alpha", "k_cochran_q", "k_embed_mmd", "k_graph_hits",
    "k_quantile_normalize", "q_window_named", "q_values_inline", "k_page_hinkley",
    "a_scan_json_corrupt", "q_pivot_sql", "q_lateral_view", "d_agg_median_counting",
    "i_idempotent_sink", "c_join_asof_tolerance", "k_srm_check", "k_importance_ess",
    "k_fdr_bh", "k_power_mde", "k_capture_recapture", "k_best_split_stump",
    "q_filter_clause", "e_win_rolling_corr", "k_lag_corr_ccf", "j_udf_iterator",
    "j_pandas_udaf_window", "k_dedup_token_savings", "k_code_detect", "k_raking_ipf",
    "k_did_estimator", "k_propensity_strata", "k_text_kn_bigram", "k_temporal_split_audit",
    "k_contingency_chi2", "k_seasonal_decompose", "k_rank_kendall", "k_consistent_hash_ring",
    "k_bucket_independence", "k_dau_mau", "k_abc_classification", "k_group_sequential",
    "k_graph_modularity", "a_sink_parquet_codecs", "k_ocr_artifact_gate", "e_win_dow_anomaly",
    "f_top_p_mass", "a_scan_text", "a_sink_compact", "a_source_csv_malformed",
    "a_sink_partition_overwrite", "a_scan_schema_merge", "a_source_python_stream", "a_sink_sorted_layout",
    "a_cache_reuse", "a_source_python_ds_pushdown", "a_sink_python_ds", "a_sink_zorder",
    "a_scan_glob", "b_filter_in_subquery", "b_lateral_alias", "c_join_band_bucketed",
    "c_merge_scd1", "c_join_null_safe", "c_join_overlap", "c_merge_cdc",
    "c_join_asof_nearest", "c_join_pit", "c_join_cardinality_est", "d_agg_bool",
    "d_agg_histogram", "d_agg_unpivot", "d_agg_approx_quantile", "d_agg_hll_sketch",
    "d_agg_grouping_id", "d_transpose", "d_agg_group_by_all", "d_agg_listagg",
    "d_agg_regression", "d_agg_crosstab", "d_agg_approx_top_k", "d_agg_moments",
    "d_agg_corr_matrix", "d_agg_histogram_equiheight", "e_win_reset_sum", "e_win_zscore_rolling",
    "e_win_vwap", "e_win_drawdown", "k_conversion_lag", "k_survival_km",
    "k_cohort_ltv", "k_autocorr_daily", "k_peak_concurrency", "k_event_paths",
    "k_dedup_containment", "k_sim_threshold", "k_cluster_assign", "k_text_tokens",
    "k_text_stats", "k_multimodal_join", "k_dedup_minhash", "k_cluster_iterate",
    "k_dedup_clusters", "k_text_keywords", "k_eval_dedup_recall",
    "k_graph_triangles", "k_anonymize_kanon", "k_incremental_agg", "k_expectations",
    "k_dedup_apply", "k_dataset_card", "k_vocab_coverage", "k_negatives_random",
    "k_sim_pq", "k_sim_pq_rerank", "k_anonymize_ldiv", "k_dedup_incremental",
    "k_sim_matryoshka", "k_dup_family_sizes", "k_dedup_canonical_best", "k_sim_hamming",
    "k_text_quality", "k_text_fingerprint", "k_text_token_count", "k_multimodal_decode",
    "k_multimodal_framesample", "k_multimodal_resize", "k_text_ngram_chars", "k_multimodal_dedup",
    "k_bpe_first_merge", "k_text_normalize", "k_text_bm25", "k_bpe_apply",
    "k_text_compressibility", "k_truncation_loss", "k_text_repetition",
    "k_profile_table", "k_text_unigram_logprob", "k_embed_quantize", "k_mix_report",
    "k_curriculum", "k_sft_records", "k_winsorize_embed",
    "k_sample_weighted", "k_shard_balance", "k_text_bigram_logprob", "k_retention_cohorts",
    "k_anomaly_zscore", "k_batch_padding_waste", "k_active_margin", "k_embed_drift",
    "k_group_kfold", "k_dataset_diff", "k_shard_plan", "k_sample_balanced",
    "k_fk_orphans", "k_target_encoding", "k_embed_pca_project", "k_embed_outliers",
    "k_eval_regression", "k_eval_ks_test", "k_ab_sprt", "k_rank_spearman",
    "k_eval_interleave", "k_eval_langid_confusion", "k_eval_kappa", "k_text_burstiness",
    "k_text_hashing_trick", "k_graph_jaccard", "k_tail_hill", "k_gini_sources",
    "k_assoc_rules", "k_chi2_terms", "k_changepoint_cusum", "k_anomaly_mad",
    "k_trimmed_mean", "k_interarrival", "d_agg_freq_items", "k_sim_ann",
    "k_sim_ann_sql", "k_eval_ann_recall", "k_graph_assortativity", "k_graph_clustering_coeff",
    "k_forecast_ses", "k_pacf_closed", "k_eval_topk_accuracy", "k_simpson_check",
    "a_source_rest_paged", "k_bucket_batching_gain", "k_dedup_fingerprint", "k_eval_err",
    "k_eval_tost_equivalence", "k_freshness_weights", "k_pinball_loss", "k_sample_fixed_k",
    "k_schema_drift", "k_wilcoxon_signed", "k_winsorized_mean", "q_identifier_clause",
    "q_order_by_all", "q_star_except", "k_forecast_holt", "k_forecast_mase",
    "k_durbin_watson", "k_hurst_rs", "k_jarque_bera", "k_grubbs_test",
    "k_anderson_darling", "k_partial_corr", "k_krippendorff_alpha", "k_ordinal_assoc",
    "q_distinct_on", "q_tvf_range", "k_cliffs_delta", "k_bartlett_test",
    "k_odds_ratio_ci", "k_gumbel_block_maxima", "k_theil_index", "k_fdr_by",
    "q_semi_anti_sql", "k_ljung_box", "k_dft_periodogram", "k_mutual_info",
    "k_tail_gpd", "k_anova_oneway", "k_welch_anova", "k_icc_oneway",
    "d_agg_geomean", "k_vocab_overlap", "k_ab_bayes", "k_spc_rules",
    "k_graph_components",
]


def _ordered(mapping: dict) -> dict:
    head = {k: mapping[k] for k in PRIORITY if k in mapping}
    return head | {k: v for k, v in mapping.items() if k not in head}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, category
    cross-section first (see PRIORITY)."""
    return _ordered(dict(registry.QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL per key; keys absent here get a rows-only check."""
    return _ordered(dict(registry.ORACLES))
