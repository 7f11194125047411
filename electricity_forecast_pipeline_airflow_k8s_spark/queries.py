"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark_builder, oracle_sql) pair.

Each entry's Spark callable takes (spark, sf_dir) and returns a DataFrame;
``oracle`` is the DuckDB-equivalent ANSI SQL over the same parquet tables
(None for non-SQL-expressible ops -> driver records rows-only check).
Column names and rounding are aligned on both sides so the driver's
order-insensitive value-hash matches.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import load_table


@dataclass
class Query:
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None


_REGISTRY: dict[str, Query] = {}

# The driver verifies a bounded prefix of the registry (50 queries in
# registration order per round). The window leads with the 113 lanes whose
# code changed since the benchmark harness landed: the builders rewritten
# since (lineage cuts collapsed onto one reuse(), the options no caller set
# deleted, the TPC-H SQL lanes registering only the views they name), and
# every lane whose build runs a package function changed since (traced
# build by build at sf0.001; the footer-pinned table read that every lane
# runs is left out, as it orders nothing). They sort oldest evidence
# first, then come all other lanes strictly by evidence age (never-proven
# sorts as round 0). Regenerate with
# tools/rotate_window.py --oldest-first --changed <lanes>.
_VERIFICATION_WINDOW: tuple[str, ...] = (
    "ml_forecast_next",
    "ml_train_eval_metrics",
    "rel_bitmap_overlap",  # last green r5
    "text_tokenizer_fertility",  # last green r5
    "sample_curriculum_order",  # last green r5
    "sample_group_kfold",  # last green r6
    "quality_profile_approx",  # last green r6
    "ts_theilsen_trend",  # last green r6
    "text_setsim_prefix_join",  # last green r6
    "rel_rfm_segments_scale",  # last green r6
    "rel_exact_quantiles_scale",  # last green r6
    "rel_weighted_quantiles_scale",  # last green r6
    "val_winsorized_stats",  # last green r6
    "tpch_small_qty_revenue",  # last green r6
    "tpch_disjunctive_revenue",  # last green r6
    "tpch_sole_supplier_orders",  # last green r6
    "sim_recall_eval",  # last green r6
    "graph_label_propagation",  # last green r7
    "ml_ridge_lag1_parity",  # last green r7
    "text_bpe_merge_step",  # last green r7
    "sample_class_balance",  # last green r7
    "rel_salted_skew_join",  # last green r7
    "sim_halfdim_overlap",  # last green r7
    "text_sparse_cosine_pairs",  # last green r7
    "graph_pagerank",  # last green r7
    "stream_upsert_replay_state",  # last green r7
    "text_span_dedup",  # last green r8
    "layout_bloom_pruning",  # last green r8
    "inc_kmv_distinct_merge",  # last green r8
    "text_span_dedup_impact",  # last green r8
    "graph_ppr_unrolled",  # last green r8
    "emb_pq_train_curve",  # last green r8
    "emb_pq_assign",  # last green r8
    "sim_pq_adc_recall",  # last green r8
    "sim_ivfpq_recall",  # last green r8
    "ml_forecast_next_lag1",  # last green r8
    "ml_invariants",  # last green r8
    "dedup_ngram_jaccard_pairs",  # last green r8
    "ts_cusum_changepoint",  # last green r8
    "ts_seasonal_naive_error",  # last green r8
    "sample_weighted_topk",  # last green r8
    "text_pack_chunks",  # last green r8
    "inc_agg_merge",  # last green r8
    "ml_forecast_next_lag1_h3",  # last green r9
    "dedup_containment_pairs",  # last green r9
    "rel_basket_lift",  # last green r9
    "sample_stratified_topk",  # last green r9
    "text_packing_estimate",  # last green r9
    "sample_split_assign",  # last green r9
    "dedup_simhash_neardup_pairs",  # last green r9
    "text_bigram_lm_score",  # last green r9
    "emb_top_pc_power_iteration",  # last green r9
    "emb_kcenter_seeds",  # last green r9
    "tpch_discount_revenue",  # last green r9
    "tpch_market_share",  # last green r9
    "tpch_cust_order_dist",  # last green r9
    "ts_gap_fill_locf",  # last green r9
    "graph_kcore",  # last green r10
    "graph_link_prediction",  # last green r10
    "graph_bfs_reachability",  # last green r10
    "graph_sssp_weighted",  # last green r10
    "val_value_stats",  # last green r10
    "val_summary",  # last green r10
    "val_grouped_stats",  # last green r10
    "rel_events_by_segment",  # last green r10
    "dedup_minhash_lsh_pairs",  # last green r11
    "inc_minhash_new_batch",  # last green r11
    "dedup_lsh_recall_eval",  # last green r11
    "dedup_lsh_bucket_histogram",  # last green r11
    "text_top_tokens",  # last green r11
    "text_tfidf_top_terms",  # last green r11
    "dedup_simhash_codes",  # last green r11
    "tpch_min_balance_supplier",  # last green r11
    "tpch_significant_parts",  # last green r11
    "tpch_top_supplier",  # last green r11
    "tpch_part_supplier_counts",  # last green r11
    "tpch_nation_volume",  # last green r11
    "tpch_idle_rich_customers",  # last green r11
    "ts_scaler_params",  # last green r11
    "ts_ks_drift",  # last green r11
    "quality_profile",  # last green r11
    "quality_profile_scale_contract",  # last green r11
    "approx_distinct_and_quantiles",  # last green r11
    "dedup_clusters",  # last green r12
    "dedup_keep_best",  # last green r12
    "dedup_semantic_clusters",  # last green r12
    "dedup_semantic_clusters_scale",  # last green r12
    "inc_cc_new_edges",  # last green r12
    "corpus_prep_e2e",  # last green r12
    "corpus_prep_inc_batch",  # last green r12
    "dedup_contamination_check",  # last green r12
    "graph_triangle_count",  # last green r12
    "graph_triangle_estimate",  # last green r12
    "inc_triangle_estimate_merge",  # last green r12
    "layout_zorder_locality",  # last green r12
    "layout_zonemap_pruning",  # last green r12
    "rel_equidepth_histogram",  # last green r12
    "rel_decile_lift",  # last green r12
    "sess_absorbing_markov",  # last green r12
    "sample_poisson_bootstrap",  # last green r12
    "sim_topk_bruteforce",  # last green r12
    "emb_neardup_pairs",  # last green r12
    "text_bpe_token_estimate",  # last green r12
    "sample_mix_sources",  # last green r12
    "emb_centroid_assign",  # last green r12
    "text_fuzzy_prefix_pairs",  # last green r12
    "tpch_large_orders",  # last green r12
    "tpch_product_profit",  # last green r12
    "tpch_returned_items",  # last green r12
    "ts_split_counts",  # last green r12
    "ts_resample_hourly",  # last green r12
    "ts_psi_drift",  # last green r12
    "rel_abc_classification",  # last green r12
    "sess_touch_attribution",  # last green r5
    "sess_entropy_rate",  # last green r5
    "rel_km_repurchase",  # last green r5
    "ts_hurst_rs",  # last green r5
    "ts_pinball_loss",  # last green r5
    "ts_ljung_box",  # last green r5
    "ts_granger_lag1",  # last green r5
    "ts_missing_block_report",  # last green r5
    "ts_spectral_flatness",  # last green r5
    "val_cramers_v",  # last green r5
    "rel_price_volume_mix",  # last green r5
    "sess_next_pred_accuracy",  # last green r5
    "sample_token_budget_plan",  # last green r5
    "emb_kmeans_step",  # last green r5
    "sess_lifecycle_states",  # last green r5
    "graph_modularity",  # last green r5
    "text_langid_confusion",  # last green r5
    "val_key_skew_report",  # last green r5
    "val_join_cardinality",  # last green r5
    "val_median_of_means",  # last green r5
    "val_k_anonymity",  # last green r5
    "mm_audio_frame_energy",  # last green r5
    "rel_cdf_normalize",  # last green r5
    "ts_forecast_ensemble",  # last green r5
    "val_duplicate_payments",  # last green r5
    "text_code_detect_stats",  # last green r5
    "ts_intermittency_stats",  # last green r5
    "text_boilerplate_share",  # last green r5
    "text_negative_sampling_dist",  # last green r5
    "rel_discount_elasticity",  # last green r5
    "graph_reciprocity",  # last green r5
    "rel_holiday_lift",  # last green r5
    "ts_max_drawdown",  # last green r5
    "ts_variance_ratio",  # last green r5
    "ts_pacf",  # last green r5
    "graph_degree_powerlaw",  # last green r5
    "rel_largest_remainder_alloc",  # last green r5
    "val_t_closeness",  # last green r5
    "layout_compaction_plan",  # last green r5
    "text_oov_rate",  # last green r5
    "ts_croston",  # last green r5
    "sim_topk_hamming",  # last green r5
    "ts_sax_motifs",  # last green r6
    "dedup_winnow_shared_spans",  # last green r6
    "val_mutual_information",  # last green r6
    "ts_psi_weekly_trend",  # last green r6
    "emb_cosine_pair_histogram",  # last green r6
    "val_simpson_slope_reversal",  # last green r6
    "mm_phash_dup_groups",  # last green r6
    "ts_daily_profile_motifs",  # last green r6
    "sess_interarrival_burstiness",  # last green r6
    "dedup_cross_source_leakage",  # last green r6
    "ml_hpo_best_trials",  # last green r6
    "ts_w1_drift",  # last green r6
    "stream_hopping_topk",  # last green r6
    "text_chunk_overlap",  # last green r6
    "ts_gap_fill_interp",  # last green r6
    "ts_spectral_daily_strength",  # last green r6
    "rel_woe_iv",  # last green r6
    "sess_pattern_funnel",  # last green r6
    "rel_max_concurrent_intervals",  # last green r6
    "text_cms_freq_est",  # last green r6
    "text_heavy_hitters",  # last green r6
    "rel_interval_union_days",  # last green r6
    "ts_rolling_median_7d",  # last green r6
    "ts_acf",  # last green r6
    "ts_rolling_z_anomaly",  # last green r6
    "ts_value_histogram",  # last green r6
    "ts_stl_seasonal",  # last green r6
    "rel_window_count_distinct",  # last green r6
    "rel_corr_covar",  # last green r6
    "rel_merge_upsert",  # last green r6
    "text_bm25_topk",  # last green r6
    "inc_sessionize_rollforward",  # last green r7
    "mm_scene_change",  # last green r7
    "text_ndcg_eval",  # last green r7
    "dedup_cluster_size_histogram",  # last green r7
    "sess_window_funnel",  # last green r7
    "emb_label_separability",  # last green r7
    "text_winnow_fingerprints",  # last green r7
    "stream_stream_join",  # last green r7
    "val_benford_digits",  # last green r7
    "rel_skyline_pareto",  # last green r7
    "sess_markov_transitions",  # last green r7
    "text_zipf_slope",  # last green r7
    "ts_holt_winters",  # last green r7
    "sess_path_topk",  # last green r7
    "rel_hll_mergeable",  # last green r7
    "rel_tombstone_read",  # last green r7
    "ts_hierarchical_reconcile",  # last green r7
    "stream_join_windowed_attribution",  # last green r7
    "val_referential_integrity",  # last green r7
    "val_pk_uniqueness",  # last green r7
    "emb_mahalanobis_outliers",  # last green r7
    "rel_asof_nearest",  # last green r7
    "ts_permutation_entropy",  # last green r7
    "ts_xcorr_click_purchase",  # last green r7
    "val_outlier_consensus",  # last green r7
    "sess_conversion_latency",  # last green r7
    "ts_peak_stats",  # last green r7
    "ts_load_factor",  # last green r7
    "rel_order_value_gini",  # last green r7
    "stream_kmv_merge",  # last green r8
    "rel_scd2_merge",  # last green r8
    "sim_int8_recall",  # last green r8
    "val_snapshot_diff",  # last green r8
    "ts_coincidence_factor",  # last green r8
    "inc_quantile_merge",  # last green r8
    "inc_topk_merge",  # last green r8
    "rel_scd2_intervals",  # last green r8
    "sess_cogroup_hour_corr",  # last green r8
    "ts_time_weighted_avg",  # last green r8
    "ts_minmax_downsample",  # last green r8
    "text_pmi_source_terms",  # last green r8
    "sess_retention_cohorts",  # last green r8
    "rel_variant_props",  # last green r8
    "rel_lateral_explode",  # last green r8
    "rel_null_safe_join",  # last green r8
    "ts_week_spine_rcte",  # last green r8
    "val_checksum_reconciliation",  # last green r8
    "val_mad_outliers",  # last green r8
    "val_drift_chi2",  # last green r8
    "val_monotonic_event_ids",  # last green r8
    "text_quality_gopher",  # last green r9
    "stream_topk_merge",  # last green r9
    "rel_ntile_deciles",  # last green r9
    "rel_cohort_ltv",  # last green r9
    "rel_rfm_segments",  # last green r9
    "rel_supplier_hhi",  # last green r9
    "stream_quality_counts",  # last green r9
    "stream_static_enrich",  # last green r9
    "sess_dau_wau",  # last green r9
    "sess_shapley_attribution",  # last green r9
    "ts_pi_coverage",  # last green r9
    "ts_load_profile_how",  # last green r9
    "ts_ramp_rate_stats",  # last green r9
    "ts_load_duration_curve",  # last green r9
    "ts_cvar_ramp",  # last green r9
    "text_pii_redaction",  # last green r9
    "emb_norm_stats",  # last green r9
    "text_ngram_novelty",  # last green r9
    "text_para_dedup",  # last green r9
    "mm_frame_sample",  # last green r9
    "emb_dim_stats",  # last green r9
    "emb_quantize_int8",  # last green r9
    "emb_contrastive_triplets",  # last green r9
    "sample_temperature_mix",  # last green r9
    "text_ttr_by_source",  # last green r9
    "ts_ewma",  # last green r9
    "stream_quantile_merge",  # last green r9
    "stream_triangle_ivm_merge",  # last green r10
    "inc_ridge_moments_merge",  # last green r10
    "text_repetition_stats",  # last green r10
    "graph_assortativity",  # last green r10
    "val_dup_count",  # last green r10
    "val_top_group",  # last green r10
    "val_distinct_groups",  # last green r10
    "val_dup_rows",  # last green r10
    "rel_shipping_priority",  # last green r10
    "rel_nation_revenue",  # last green r10
    "rel_semi_join",  # last green r10
    "rel_anti_join",  # last green r10
    "rel_topk_orders",  # last green r10
    "rel_set_ops",  # last green r10
    "rel_rollup",  # last green r10
    "rel_cube",  # last green r10
    "rel_window_rank",  # last green r10
    "rel_date_functions",  # last green r10
    "rel_string_functions",  # last green r10
    "rel_json_extract",  # last green r10
    "rel_range_join",  # last green r10
    "rel_sql_exists_priority",  # last green r10
    "rel_sql_above_nation_avg",  # last green r10
    "rel_outer_join_counts",  # last green r10
    "rel_pivot_status_priority",  # last green r10
    "rel_grouping_sets",  # last green r10
    "rel_regex_extract",  # last green r10
    "rel_union_pages",  # last green r10
    "rel_promo_share",  # last green r10
    "rel_part_brand_stats",  # last green r10
    "rel_window_analytic",  # last green r10
    "ts_moving_avg_1h",  # last green r10
    "val_domain_violations",  # last green r10
    "val_extreme_gate",  # last green r10
    "rel_math_functions",  # last green r10
    "stream_windowed_stats",  # last green r11
    "text_token_stats",  # last green r11
    "text_quality_score",  # last green r11
    "text_lang_id",  # last green r11
    "text_fingerprint",  # last green r11
    "text_quality_filter_stats",  # last green r11
    "text_length_profile",  # last green r11
    "dedup_tokenset_groups",  # last green r11
    "sim_topk_lsh",  # last green r11
    "ts_window_counts",  # last green r11
    "ts_tail_window",  # last green r11
    "ts_scaled_values",  # last green r11
    "ts_hour_coverage",  # last green r11
    "val_null_counts",  # last green r11
    "val_gap_stats",  # last green r11
    "val_outlier_rows",  # last green r11
    "ml_linreg_trend",  # last green r11
    "rel_pricing_summary",  # last green r11
    "rel_star_revenue",  # last green r11
    "rel_topk_per_group",  # last green r11
    "rel_window_running",  # last green r11
    "rel_asof_click_before_purchase",  # last green r11
    "rel_unpivot_measures",  # last green r11
    "rel_salted_skew_stats",  # last green r11
    "sess_user_sessions",  # last green r11
    "stream_corpus_dedup_merge",  # last green r12
    "rel_monthly_revenue_growth",  # last green r12
    "stream_dedup_counts",  # last green r12
    "sess_funnel_counts",  # last green r12
    "stream_session_stats",  # last green r12
    "scd2_user_type_versions",  # last green r12
    "scd2_point_in_time",  # last green r12
    "dedup_exact_stats",  # last green r12
    "sim_topk_ivf",  # last green r12
    "mm_decode_features",  # last green r12
    "text_pii_stats",  # last green r12
    "text_entropy_stats",  # last green r12
    "ts_sequence_windows",  # last green r12
    "ts_calendar_features",  # last green r12
    "ts_backtest_folds",  # last green r12
    "ts_resample_15min",  # last green r12
    "val_volume_anomaly_days",  # last green r12
    "rel_purchase_gap_stats",  # last green r12
)



def register(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = Query(fn, oracle)
        return fn

    return deco


def registry() -> dict[str, Query]:
    _load_all()
    ordered = {n: _REGISTRY[n] for n in _VERIFICATION_WINDOW if n in _REGISTRY}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in registry().items() if q.oracle is not None}


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    import electricity_forecast_pipeline_airflow_k8s_spark.querydefs  # noqa: F401


def table(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    return load_table(spark, name, sf_dir)
