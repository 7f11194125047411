"""Regenerate docs/PLANS.md: formatted physical plans for the headline
queries with the scale-relevant facts called out (pushdown, pruning,
broadcasts, exchanges). Run: python tools/dump_plans.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from electricity_forecast_pipeline_airflow_k8s_spark.plans.inspect import (  # noqa: E402
    explain_str,
    plan_counts,
    pushed_filters,
    read_schema_columns,
)
from electricity_forecast_pipeline_airflow_k8s_spark.queries import registry  # noqa: E402
from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    "quality_profile",
    "quality_profile_approx",
    "rel_pricing_summary",
    "rel_star_revenue",
    "ts_sequence_windows",
    "dedup_minhash_lsh_pairs",
    "sim_topk_bruteforce",
    # round 3
    "ts_calendar_features",
    "emb_centroid_assign",
    "rel_salted_skew_stats",
    "text_fuzzy_prefix_pairs",
    "ml_linreg_trend",
    # round 4
    "emb_norm_stats",
    "sample_stratified_topk",
    "text_packing_estimate",
    "text_para_dedup",
    "val_mad_outliers",
    "mm_frame_sample",
    "dedup_simhash_neardup_pairs",
    "emb_dim_stats",
    "ts_gap_fill_locf",
    "text_bigram_lm_score",
    "tpch_market_share",
    "inc_agg_merge",
    "emb_quantize_int8",
    "rel_variant_props",
    "ts_cusum_changepoint",
    "sess_retention_cohorts",
    "ts_seasonal_naive_error",
    "val_checksum_reconciliation",
    "ts_week_spine_rcte",
    # round 5
    "ts_acf",
    "ts_rolling_z_anomaly",
    "ts_value_histogram",
    "rel_window_count_distinct",
    "rel_merge_upsert",
    "sim_recall_eval",
    "text_bm25_topk",
    "rel_skyline_pareto",
    "sample_poisson_bootstrap",
    "rel_hll_mergeable",
    "tpch_sole_supplier_orders",
    "rel_asof_nearest",
    "ts_permutation_entropy",
    "text_sparse_cosine_pairs",
    "val_outlier_consensus",
    "emb_mahalanobis_outliers",
    "rel_salted_skew_join",
    "graph_pagerank",
    "graph_triangle_count",
    "graph_triangle_estimate",
    "dedup_semantic_clusters_scale",
    "dedup_lsh_bucket_histogram",
    "dedup_lsh_recall_eval",
    "layout_zorder_locality",
    "rel_equidepth_histogram",
    "sess_cogroup_hour_corr",
    "ts_time_weighted_avg",
    "ts_minmax_downsample",
    "text_pmi_source_terms",
    "emb_top_pc_power_iteration",
    "graph_link_prediction",
    "emb_kcenter_seeds",
    "sess_shapley_attribution",
    "graph_bfs_reachability",
    "emb_contrastive_triplets",
    "ts_pi_coverage",
    "rel_cohort_ltv",
    "rel_basket_lift",
    "rel_rfm_segments",
    "sess_dau_wau",
    "rel_supplier_hhi",
    "ts_ramp_rate_stats",
    "rel_rfm_segments_scale",
    "rel_exact_quantiles_scale",
    "val_winsorized_stats",
    "text_heavy_hitters",
    "rel_interval_union_days",
    "ts_rolling_median_7d",
    "rel_weighted_quantiles_scale",
    "text_setsim_prefix_join",
    "rel_max_concurrent_intervals",
    "text_cms_freq_est",
    "ts_spectral_daily_strength",
    "rel_woe_iv",
    "sess_pattern_funnel",
    "graph_kcore",
    "ts_theilsen_trend",
    "ts_gap_fill_interp",
    "text_chunk_overlap",
    "ts_w1_drift",
    "rel_abc_classification",
    "rel_purchase_gap_stats",
    "sess_touch_attribution",
    "val_volume_anomaly_days",
    "ts_missing_block_report",
    "sim_topk_hamming",
    "rel_km_repurchase",
    "ts_hurst_rs",
    "ts_pinball_loss",
    "rel_bitmap_overlap",
    "ts_granger_lag1",
    "val_cramers_v",
    "rel_price_volume_mix",
    "sample_token_budget_plan",
    "emb_kmeans_step",
    "sess_lifecycle_states",
    "graph_modularity",
    "text_langid_confusion",
    "ts_ljung_box",
    "ts_spectral_flatness",
    "sess_next_pred_accuracy",
    "rel_decile_lift",
    "val_key_skew_report",
    "val_join_cardinality",
    "sample_curriculum_order",
    "text_boilerplate_share",
    "mm_audio_frame_energy",
    "val_duplicate_payments",
    "ts_intermittency_stats",
    "ts_forecast_ensemble",
    "rel_cdf_normalize",
    "val_k_anonymity",
    # round 7
    "inc_minhash_new_batch",
    "inc_sessionize_rollforward",
    "graph_label_propagation",
    "emb_pq_assign",
    "sim_pq_adc_recall",
    "mm_scene_change",
    "text_ndcg_eval",
    "layout_zonemap_pruning",
    "ml_ridge_lag1_parity",
    "sess_window_funnel",
    # round 8
    "sim_ivfpq_recall",
    "inc_cc_new_edges",
    "inc_quantile_merge",
    "inc_topk_merge",
    "emb_pq_train_curve",
    "dedup_containment_pairs",
    "rel_scd2_intervals",
    # round 8b
    "rel_scd2_merge",
    "text_span_dedup",
    "text_quality_gopher",
    "sim_int8_recall",
    "layout_bloom_pruning",
    "inc_kmv_distinct_merge",
    "inc_ridge_moments_merge",
    "val_snapshot_diff",
    "text_span_dedup_impact",
    "graph_ppr_unrolled",
    "ts_coincidence_factor",
    # round 9
    "corpus_prep_e2e",
    "ml_forecast_next_lag1_h3",
    "corpus_prep_inc_batch",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    out = [
        "# Physical plans (generated by tools/dump_plans.py)",
        "",
        f"Catalyst output at {sf_dir} with the session defaults "
        "(AQE on, 64 MiB broadcast threshold). What to look for: "
        "`PushedFilters`/`ReadSchema` at the scans (pushdown + pruning), "
        "`BroadcastHashJoin`/`BroadcastExchange` where a tiny side meets a "
        "big one, and how few `Exchange` operators each plan needs.",
        "",
    ]
    for name in SHOWCASE:
        df = reg[name].build(spark, sf_dir)
        plan = explain_str(df)
        out.append(f"## {name}")
        out.append("")
        pf = pushed_filters(df)
        rs = read_schema_columns(df)
        out.append(f"- pushed filters: `{pf or 'none'}`")
        out.append(f"- scanned columns: `{sorted(set(rs))}`")
        # counts come from the simple-mode plan: the formatted tree splits
        # node names from their arguments, so substring counts on it are
        # silently zero (ADVICE r3)
        counts = plan_counts(df)
        out.append(
            f"- broadcast joins: {counts['broadcast_joins']}, "
            f"hash exchanges: {counts['hash_exchanges']}, "
            f"range exchanges: {counts['range_exchanges']}"
        )
        out.append("")
        out.append("```")
        # keep the operator tree, drop the verbose field dump
        tree = plan.split("\n\n")[0]
        out.append(tree.strip())
        out.append("```")
        out.append("")
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md")


if __name__ == "__main__":
    main()
