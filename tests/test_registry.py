"""Contract tests for the driver-facing registry: full §2 inventory, stable
keys, resolvable oracles."""

from __future__ import annotations

import os

import duckdb
import pytest

from data_service_spark.registry import ORACLES, QUERIES, load_all

load_all()

DECLARED = """
a_scan_parquet a_scan_prune a_scan_filter_pushdown a_sink_parquet_roundtrip
a_sink_partitioned a_sink_csv_json a_sink_orc a_source_python_ds a_sink_table
b_project_arith b_filter_simple b_filter_compound b_filter_like
b_filter_null_semantics b_distinct b_filter_scalar_subquery
b_filter_corr_subquery
c_join_inner c_join_multiway c_join_broadcast c_join_left c_join_right
c_join_full c_join_semi c_join_anti c_join_cross c_join_theta_band
c_join_interval c_join_asof c_join_salted c_join_bucketed c_join_tpch_q3 c_join_tpch_q10 c_join_tpch_q14
d_agg_global d_agg_groupby d_agg_having d_agg_distinct d_agg_multi_distinct
d_agg_rollup d_agg_cube d_agg_grouping_sets d_agg_stats d_agg_percentile
d_agg_conditional d_agg_minmax_by d_agg_approx d_agg_collect d_agg_pivot d_agg_tpch_q6 d_agg_bool d_agg_histogram
e_win_rank e_win_lag_lead e_win_running e_win_sliding_rows e_win_range_frame
e_win_distribution e_win_first_last e_win_ignore_nulls e_win_scd2
f_sort_verify f_topk f_topk_per_group f_offset
g_union_all g_union_distinct g_intersect g_except g_union_byname
h_str_basic h_str_regex h_date_funcs h_math_funcs h_cond_funcs h_cast
h_array_funcs h_map_json h_explode h_struct h_array_higher_order h_bitwise
h_trig_funcs
i_tumbling i_sliding i_session i_dedup_keys i_watermark_late i_stateful
i_stream_sink i_stream_join i_stream_static i_upsert_sink
j_udf_scalar j_pandas_udf_scalar j_pandas_udaf j_grouped_map j_map_in_pandas
j_udtf j_cogroup
k_dedup_exact k_dedup_near k_sim_topk k_sim_threshold k_sim_ann
k_text_tokens k_text_tfidf k_text_stats k_multimodal_join k_cluster_assign
k_dedup_simhash k_text_langid k_text_quality k_text_fingerprint
k_text_token_count k_multimodal_decode k_dedup_minhash k_sim_ivf
k_multimodal_features k_cluster_iterate k_multimodal_framesample
k_dedup_minhash_sql k_sim_ann_sql a_source_jdbc k_dedup_clusters
d_agg_unpivot
q_tpch_q01 q_tpch_q05
q_tpch_q02 q_tpch_q04 q_tpch_q07 q_tpch_q08 q_tpch_q09 q_tpch_q12
q_tpch_q13 q_tpch_q15 q_tpch_q16 q_tpch_q17 q_tpch_q18 q_tpch_q19
q_tpch_q21 q_tpch_q22 q_tpch_q11 q_tpch_q20
k_multimodal_resize
k_sample_stratified k_split_train_test k_text_pii_redact k_text_repetition
k_profile_table k_dedup_embedding
a_source_binaryfile a_scan_text i_window_chain i_gap_fill h_url_funcs
k_pack_sequences k_text_contamination k_text_unigram_logprob k_embed_quantize
a_sink_compact i_stateful_sessions d_agg_mode_det k_dedup_levenshtein
d_agg_approx_quantile d_agg_hll_sketch k_graph_pagerank
c_join_dpp i_stream_outer_join k_text_ngram_chars c_join_band_bucketed
a_source_csv_malformed h_nested_struct_array h_try_funcs
k_eval_ann_recall k_mix_report a_sink_partition_overwrite a_scan_metadata
k_dedup_segments k_cluster_silhouette k_multimodal_dedup
e_win_streak k_text_keywords c_join_lateral b_filter_in_subquery
d_agg_freq_items h_hash_funcs e_win_pareto k_curriculum a_scan_schema_merge
k_bpe_first_merge k_text_normalize h_json_build g_symmetric_diff
k_sft_records k_eval_dedup_recall
k_chunk_rag k_dpo_pairs k_winsorize_embed a_observe_metrics
j_sql_udf h_variant q_recursive_cte k_text_entropy
k_sample_weighted k_quality_logreg k_dsir_weights
k_graph_triangles c_merge_scd1
a_source_python_stream a_sink_sorted_layout h_xml_roundtrip
e_win_ewma j_pandas_on_spark c_join_null_safe
h_collation d_agg_grouping_id q_param_sql j_udtf_analyze
g_except_all g_intersect_all d_agg_bitmap h_mask_funcs
c_join_bloom a_cbo_stats a_cache_reuse i_state_reader
q_pipe_sql q_execute_immediate q_sql_script j_udf_arrow j_map_in_arrow
d_transpose d_agg_group_by_all b_lateral_alias i_stream_file_sink
a_source_python_ds_pushdown a_sink_python_ds k_anonymize_kanon
k_incremental_agg h_explode_outer j_apply_in_arrow a_sink_zorder
k_expectations d_agg_listagg d_agg_regression h_aes_roundtrip
h_str_distance e_win_nth_value k_dedup_apply h_map_higher_order
h_interval_funcs k_dataset_card k_vocab_coverage d_agg_crosstab
k_embed_gram k_embed_pca_project k_hard_negatives k_class_weights
k_dedup_containment d_agg_approx_top_k k_shard_balance k_text_bm25
k_text_bigram_logprob k_source_divergence k_retention_cohorts
k_embed_outliers k_label_noise_knn k_anomaly_zscore
k_dedup_semantic k_dedup_spans k_sample_temperature k_eval_heldout_ppl
d_agg_countmin k_filter_gate e_win_interpolate k_text_novelty
k_eval_lsh_calibration k_mix_epochs d_agg_theta_sets
e_win_rolling_median h_format_funcs k_rank_fusion a_scan_glob
i_session_dynamic_gap k_coreset_kcenter k_drift_psi k_ab_ztest
k_eval_cluster_purity d_agg_funnel_window k_attribution_last_touch
k_pipeline_e2e c_join_asof_forward k_event_transitions
k_negatives_random f_keyset_page
k_eval_auc k_eval_ndcg k_eval_calibration
k_text_zipf k_text_collocations k_text_burstiness
k_changepoint_cusum k_anomaly_mad c_join_overlap
k_sim_pq k_sim_pq_rerank
k_rag_mmr k_text_hashing_trick k_eval_regression
d_agg_moments e_win_reset_sum k_anonymize_ldiv
k_bpe_apply k_graph_jaccard k_text_compressibility
d_agg_corr_matrix k_dedup_incremental c_merge_cdc
k_batch_padding_waste k_active_margin k_embed_drift
k_tail_hill k_gini_sources c_join_asof_nearest
k_group_kfold k_query_expansion_prf e_win_zscore_rolling
c_join_pit c_join_cardinality_est d_agg_histogram_equiheight
k_eval_ks_test k_ab_sprt k_eval_brier
k_learning_curve k_dataset_diff k_conversion_lag
k_rank_spearman k_jackknife_se
k_eval_interleave k_assoc_rules
d_agg_weighted_median k_survival_km
k_threshold_sweep k_threshold_youden k_shard_plan
k_eval_langid_confusion e_win_vwap k_trimmed_mean
k_cohort_ltv k_autocorr_daily k_peak_concurrency k_event_paths
k_sample_balanced k_fk_orphans
k_sim_matryoshka k_truncation_loss
e_win_drawdown k_dup_family_sizes k_interarrival
k_dedup_canonical_best k_sim_hamming k_target_encoding
k_chi2_terms k_eval_kappa
k_pack_sequences_sharded e_win_range_frame_linear
a_sink_avro a_sink_hive_table a_source_kafka_shaped
k_eval_mrr_labels k_benford_digits q_group_by_all h_listagg
k_seasonal_dow k_eval_map_labels k_text_ngram_coverage
k_dedup_prefix k_budget_select k_text_readability k_sim_reciprocal_nn
k_dup_cross_source k_tokenizer_fertility q_ctas_insert k_boilerplate_phrases
k_chat_template_render k_span_mask_mlm c_join_spatial_grid
d_agg_skew_detect k_embed_norm_audit k_rank_rbo
k_daily_growth k_hubness_audit k_blocklist_gate k_source_overlap_matrix
k_prompt_dedup_sft d_agg_wilson_ci e_win_running_distinct
d_agg_kmv_sketch c_join_existence_flag k_rfm_segments
k_threshold_otsu d_agg_kmv_union k_cross_lingual_dups
k_event_pattern_negation k_ab_cuped d_agg_percentile_disc
k_colbert_maxsim k_neyman_allocation k_pareto_skyline
k_dedup_jaccard_histogram c_join_er_blocking k_forecast_snaive
k_markov_stationary k_sim_tfidf_pairs k_state_sizing k_design_effect
e_win_hampel_repair k_eval_lift_curve
d_agg_linear_counting d_agg_bloom_audit d_agg_minhash_jaccard_est a_sink_xml
k_kruskal_wallis k_cohens_d k_brown_forsythe k_eval_mcnemar
k_bootstrap_src_ci k_permutation_ab
k_theil_sen e_win_bollinger k_seasonal_strength e_win_rsi
k_mix_waterfill k_degree_distribution i_stream_union q_sql_hints
q_distribute_by
k_heaps_law k_text_ttr k_welch_t k_embed_standardize
k_filter_funnel k_position_bias
k_mann_whitney k_mann_kendall k_runs_test
k_friedman_test k_cronbach_alpha k_cochran_q
k_embed_mmd k_graph_hits k_quantile_normalize
q_window_named q_values_inline k_page_hinkley
k_calibration_isotonic k_eval_avg_precision a_scan_json_corrupt
q_pivot_sql q_lateral_view d_agg_median_counting
i_idempotent_sink
c_join_asof_tolerance k_srm_check k_importance_ess
k_fdr_bh k_power_mde
k_capture_recapture k_best_split_stump q_filter_clause
e_win_rolling_corr k_lag_corr_ccf
j_udf_iterator j_pandas_udaf_window
k_dedup_token_savings k_code_detect
k_raking_ipf k_attribution_markov
k_did_estimator k_propensity_strata k_text_kn_bigram
k_temporal_split_audit k_contingency_chi2 k_seasonal_decompose
k_rank_kendall k_consistent_hash_ring
k_bucket_independence k_eval_ece
k_dau_mau k_abc_classification
k_group_sequential k_graph_modularity k_bradley_terry
a_sink_parquet_codecs k_ocr_artifact_gate
e_win_dow_anomaly f_top_p_mass
k_tokenizer_vocab_export k_anonymize_tclose k_ivf_balance
k_conformal_interval k_text_winnowing k_graph_kcore
k_fwer_holm k_dp_noised_counts k_eb_shrinkage
k_offpolicy_ips k_ols_multifeature k_user_entropy
k_dedup_lines k_loop_detect k_instruction_mine
k_gate_cascade_order k_dup_weighted_sampling k_ivf_probe_sweep
k_embed_isotropy k_eval_recall_curve k_ngram_entropy_rate
i_stream_topk j_udtf_table_arg k_rank_rbp
k_lsh_multiprobe k_uplift_qini k_dedup_bands_sweep
k_outlier_lof k_feature_woe k_threshold_knee
k_reid_risk k_attribution_shapley
k_pref_length_bias k_shuffle_quality k_eval_ranker_delta
k_eval_pass_at_k k_fleiss_kappa q_tpch_refresh
k_graph_components k_graph_assortativity k_graph_clustering_coeff
k_forecast_ses k_spc_rules k_pacf_closed k_eval_topk_accuracy
k_ab_bayes k_simpson_check k_dedup_fingerprint k_text_dup_ngram_frac
k_schema_drift k_freshness_weights
k_markov_absorption k_wilcoxon_signed k_bucket_batching_gain
k_sample_fixed_k k_eval_auc_by_segment
q_star_except q_order_by_all k_eval_tost_equivalence k_winsorized_mean
k_eval_err k_pinball_loss a_source_rest_paged q_identifier_clause
k_forecast_holt k_forecast_mase k_durbin_watson k_hurst_rs
k_jarque_bera k_grubbs_test k_anderson_darling k_partial_corr
k_krippendorff_alpha k_ordinal_assoc q_distinct_on q_tvf_range
k_cliffs_delta k_bartlett_test k_odds_ratio_ci k_gumbel_block_maxima
k_theil_index k_mood_median k_fdr_by k_bhattacharyya_hists
q_semi_anti_sql k_ljung_box k_dft_periodogram k_mutual_info k_tail_gpd
k_anova_oneway k_welch_anova k_icc_oneway d_agg_geomean k_vocab_overlap
q_sql_udtf q_like_any k_eval_bleu k_eval_rouge_n k_eval_distinct_n
k_eval_chrf
""".split()


def test_full_inventory_registered():
    assert set(QUERIES) == set(DECLARED), (
        sorted(set(DECLARED) - set(QUERIES)),
        sorted(set(QUERIES) - set(DECLARED)),
    )


def test_rows_only_keys_are_the_declared_ones():
    assert set(QUERIES) - set(ORACLES) == {
        "d_agg_approx",  # HLL sketches differ across engines
        "k_sim_ann",  # LSH is approximate
        "k_dedup_minhash",  # MinHash signatures are approximate
        "k_sim_ivf",  # IVF probes one cell; recall < 1 by design
        "d_agg_approx_quantile",  # KLL sketch estimates are engine-specific
        "d_agg_hll_sketch",  # DataSketches HLL bytes are engine-specific
        "d_agg_freq_items",  # KSP frequent-items candidate sets are impl-specific
        "k_embed_pca_project",  # eigenvectors aren't SQL-expressible
        "k_text_compressibility",  # no deflate surface in DuckDB SQL
    }


@pytest.mark.parametrize("key", sorted(ORACLES))
def test_oracle_sql_parses_in_duckdb(key):
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    # PREPARE-style validation: plan it with LIMIT 0 (cheap, catches dialect
    # errors without running the full query).
    con.execute(f"SELECT * FROM ({ORACLES[key]}) q LIMIT 0")


def test_driver_contract_surface(spark, sf_dir):
    """Mirror of the driver's smoke: entry() yields rows with a stable
    schema; queries()/oracle_sql() keys line up."""
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    assert df.columns == ["n_name", "revenue"]
    q, o = E.queries(), E.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(DECLARED)


def test_survey_s2_matches_registry():
    """SURVEY §2 is titled THE CORRECTNESS CONTRACT — its enumerated keys
    (first table cell per row) must equal the registry exactly, or the
    contract drifts behind the code (r03 verdict item #6: 72 keys were
    registered but absent from §2)."""
    import re

    with open(os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")) as fh:
        text = fh.read()
    m = re.search(r"^## *§?2\b.*$", text, re.M)
    m2 = re.search(r"^## *§?3\b.*$", text, re.M)
    s2 = text[m.start() : m2.start()]
    enumerated = set(re.findall(r"^\| +`([a-z][a-z0-9_]+)`", s2, re.M))
    # range-style rows (`q_tpch_q02..q22`) aren't key cells; every key has
    # an explicit row somewhere in §2.
    assert enumerated == set(QUERIES), (
        sorted(set(QUERIES) - enumerated),
        sorted(enumerated - set(QUERIES)),
    )


# The DecimalType-output audit lives in tests/test_plans.py::
# test_registry_wide_cartesian_and_decimal_audit (r13: merged with the
# cartesian sweep so the ~600 key DataFrames are built once, not twice).


def test_registry_totals_match_prose():
    """The prose totals drift behind the code every round (r04 verdict
    item: SURVEY said 120, README said 411, BASELINE said 489 while the
    registry held 498). Pin the two living documents' counts to the
    registry so totals are generated facts, not typed ones."""
    import re

    root = os.path.join(os.path.dirname(__file__), "..")
    with open(os.path.join(root, "SURVEY.md")) as fh:
        survey = fh.read()
    m = re.search(
        r"Inventory totals: (\d+) registered keys — (\d+) SQL-oracle, "
        r"(\d+) rows-only",
        survey,
    )
    assert m, "SURVEY.md inventory-totals line missing or reworded"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        len(QUERIES),
        len(ORACLES),
        len(QUERIES) - len(ORACLES),
    )
    with open(os.path.join(root, "README.md")) as fh:
        readme = fh.read()
    m = re.search(r"the (\d+)-key operator inventory", readme)
    assert m, "README.md key-count line missing or reworded"
    assert int(m.group(1)) == len(QUERIES)


def test_priority_keys_all_exist():
    # _ordered() silently drops unknown PRIORITY keys — pin them instead so
    # a rename can't quietly shrink the driver's recorded-verdict sample.
    import __spark_entry__ as E

    assert set(E.PRIORITY) == set(QUERIES)
    assert len(E.PRIORITY) == len(set(E.PRIORITY))


def test_power_sum_keys_document_their_governor():
    """Every key whose oracle SQL or builder computes a same-identifier
    squared/cubed SUM (the int64 power-sum class: DuckDB widens BIGINT
    sums to HUGEINT while non-ANSI Spark silently wraps, so the engines
    diverge EXACTLY at the bound with no error) must state its governor
    in the docstring — either the int64/overflow bound sized to the
    SQUARED term, or an explicit note that the sums accumulate in DOUBLE
    (where the 2^53 mantissa, not int64, is the limit). Automates the
    round-6 grep audit (r06 verdict item #5); analysis-only, no Spark
    jobs."""
    import inspect
    import re as _re

    # [\w.]+ also catches table-qualified columns (sum(a.x * a.x)); the
    # registered ORACLES string is scanned IN ADDITION to the function
    # source because helper-built oracles (oracle=_body_xxx()) never
    # appear in inspect.getsource(fn).
    sq = _re.compile(r"sum\(\s*([\w.]+)\s*\*\s*\1\s*\)", _re.I)
    cube = _re.compile(r"([\w.]+)\s*\*\s*\1\s*\*\s*\1")
    governor = _re.compile(r"int64|overflow|wrap|2\^53|\b2\*\*53\b", _re.I)
    offenders = {}
    for key, fn in sorted(QUERIES.items()):
        src = inspect.getsource(fn) + "\n" + ORACLES.get(key, "")
        if not (sq.search(src) or cube.search(src)):
            continue
        doc = inspect.getdoc(fn) or ""
        if not governor.search(doc):
            offenders[key] = sorted({m.group(1) for m in sq.finditer(src)})
    assert not offenders, (
        "power-sum keys missing an int64/DOUBLE governor note: "
        f"{offenders}"
    )


def test_memo_caches_evict_stopped_session_entries():
    """Every per-(session, corpus) memo evicts entries keyed by a stale
    applicationId on its next miss (ADVICE r07): a session-restarting
    process must not accumulate checkpointed-DataFrame handles bound to
    stopped contexts. Concurrent callers of one cold key build it once,
    and the memo's hit/miss counters add up to its calls. Pure-Python —
    exercised through corpus_memo with a stub session."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from data_service_spark.io import MEMOS, corpus_memo

    class _Ctx:
        def __init__(self, app_id):
            self.applicationId = app_id

    class _StubSession:
        def __init__(self, app_id):
            self.sparkContext = _Ctx(app_id)

    class _StubFrame:
        def localCheckpoint(self):
            return self

    builds = []

    @corpus_memo
    def _builder(spark, sf_dir):
        time.sleep(0.05)  # widen the window a second builder would race in
        builds.append((spark.sparkContext.applicationId, sf_dir))
        return _StubFrame()

    try:
        assert MEMOS[-1] is _builder
        s1, s2 = _StubSession("app-1"), _StubSession("app-2")
        n_threads = 8
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            frames = list(
                pool.map(lambda _: _builder(s1, "/corpus/a"), range(n_threads))
            )
        assert builds == [("app-1", "/corpus/a")]
        assert all(f is frames[0] for f in frames)
        assert (_builder.misses, _builder.hits) == (1, n_threads - 1)
        assert _builder.build_s > 0
        _builder(s1, "/corpus/b")
        assert len(_builder._cache) == 2
        _builder(s1, "/corpus/a")  # hit: no rebuild, no eviction
        assert len(builds) == 2
        assert (_builder.misses, _builder.hits) == (2, n_threads)
        # New session: first miss purges BOTH app-1 entries before storing.
        _builder(s2, "/corpus/a")
        assert set(_builder._cache) == {("app-2", "/corpus/a")}
        assert _builder.misses == 3
    finally:
        MEMOS.remove(_builder)


def test_oracles_use_global_flag_on_regexp_replace():
    """Trap audit (r08 regex core): DuckDB regexp_replace replaces only
    the FIRST match unless the 'g' flag is passed, while Spark's is
    global by default — a DuckDB-side replace without the flag silently
    under-replaces. Analysis-only: every regexp_replace( call in every
    registered oracle must carry a 4th options argument."""
    import re as _re

    offenders = {}
    for key, sql in sorted(ORACLES.items()):
        for m in _re.finditer(r"regexp_replace\s*\(", sql):
            # walk the call to its closing paren, counting top-level commas
            depth, args, i = 1, 1, m.end()
            while i < len(sql) and depth:
                ch = sql[i]
                if ch == "'":  # skip string literal (doubled-quote escapes)
                    i += 1
                    while i < len(sql):
                        if sql[i] == "'":
                            if i + 1 < len(sql) and sql[i + 1] == "'":
                                i += 2
                                continue
                            break
                        i += 1
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif ch == "," and depth == 1:
                    args += 1
                i += 1
            if args < 4:
                offenders.setdefault(key, 0)
                offenders[key] += 1
    assert not offenders, (
        "oracle regexp_replace without the DuckDB 'g' flag (first-match "
        f"semantics): {offenders}"
    )

