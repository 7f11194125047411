"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Each query is fully materialized through the noop sink (format("noop"))
so column pruning can't skip work the way .count() can.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from electricity_forecast_pipeline_airflow_k8s_spark.queries import queries as all_queries
from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark

HEADLINE = [
    "quality_profile",
    "quality_profile_approx",
    "val_grouped_stats",
    "val_outlier_rows",
    "val_gap_stats",
    "rel_pricing_summary",
    "rel_star_revenue",
    "rel_shipping_priority",
    "rel_nation_revenue",
    "rel_topk_per_group",
    "rel_rollup",
    "ts_split_counts",
    "ts_sequence_windows",
    "ts_resample_hourly",
    "ts_psi_drift",
    "ts_moving_avg_1h",
    "ts_ks_drift",
    "sess_user_sessions",
    "text_quality_score",
    "dedup_minhash_lsh_pairs",
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    "emb_neardup_pairs",
    "tpch_large_orders",
    # round-3 additions (dedup_keep_best/dedup_clusters excluded: their
    # iterative connected-components materializes during plan BUILD via
    # its per-iteration convergence counts, so a write-bracketed timer
    # would underreport them)
    "ts_calendar_features",
    "ts_backtest_folds",
    "text_entropy_stats",
    "emb_centroid_assign",
    "tpch_returned_items",
    # round-4 additions
    "text_pii_redaction",
    "emb_norm_stats",
    "sample_stratified_topk",
    "text_packing_estimate",
    "text_ngram_novelty",
    "sample_split_assign",
    "text_para_dedup",
    "val_mad_outliers",
    "ts_ewma",
    "rel_ntile_deciles",
    "tpch_market_share",
    "tpch_cust_order_dist",
    "tpch_discount_revenue",
    "emb_dim_stats",
    "dedup_simhash_neardup_pairs",
    "ts_gap_fill_locf",
    "text_bigram_lm_score",
    "ts_cusum_changepoint",
    "sess_retention_cohorts",
    "inc_agg_merge",
    "emb_quantize_int8",
    "rel_variant_props",
    "val_checksum_reconciliation",
    "ts_seasonal_naive_error",
    "sample_weighted_topk",
    "text_pack_chunks",
    # round-5 additions
    "tpch_small_qty_revenue",
    "tpch_disjunctive_revenue",
    "tpch_sole_supplier_orders",
    "ts_acf",
    "ts_rolling_z_anomaly",
    "ts_value_histogram",
    "ts_stl_seasonal",
    "rel_window_count_distinct",
    "rel_corr_covar",
    "rel_merge_upsert",
    "sim_recall_eval",
    "text_bm25_topk",
    "val_benford_digits",
    "rel_skyline_pareto",
    "sess_markov_transitions",
    "text_zipf_slope",
    "sample_poisson_bootstrap",
    "ts_holt_winters",
    "sess_path_topk",
    "sample_class_balance",
    "rel_hll_mergeable",
    "rel_tombstone_read",
    "ts_hierarchical_reconcile",
    "rel_salted_skew_join",
    "sim_halfdim_overlap",
    "val_referential_integrity",
    "val_pk_uniqueness",
    "emb_mahalanobis_outliers",
    "rel_asof_nearest",
    "ts_permutation_entropy",
    "text_sparse_cosine_pairs",
    "ts_xcorr_click_purchase",
    "val_outlier_consensus",
    "sess_conversion_latency",
    "ts_peak_stats",
    "ts_load_factor",
    "rel_order_value_gini",
    "dedup_lsh_bucket_histogram",
    "dedup_lsh_recall_eval",
    "graph_pagerank",
    "graph_triangle_count",
    "graph_triangle_estimate",
    "inc_triangle_estimate_merge",
    "sess_cogroup_hour_corr",
    "ts_time_weighted_avg",
    "ts_minmax_downsample",
    "text_pmi_source_terms",
    "graph_link_prediction",
    "val_drift_chi2",
    "sess_shapley_attribution",
    "emb_contrastive_triplets",
    "ts_pi_coverage",
    "val_monotonic_event_ids",
    "rel_cohort_ltv",
    "rel_basket_lift",
    "sample_temperature_mix",
    "graph_assortativity",
    "rel_rfm_segments",
    "sess_dau_wau",
    "ts_load_profile_how",
    "rel_supplier_hhi",
    "ts_ramp_rate_stats",
    "text_ttr_by_source",
    "rel_interval_union_days",
    "ts_rolling_median_7d",
    # round-5 additions: exact prefix-filtering set-similarity join,
    # sweep-line max concurrency, count-min sketch contract
    "text_setsim_prefix_join",
    "rel_max_concurrent_intervals",
    "text_cms_freq_est",
    "ts_spectral_daily_strength",
    "rel_woe_iv",
    "sess_pattern_funnel",
    "ts_theilsen_trend",
    "ts_gap_fill_interp",
    "text_chunk_overlap",
    "ts_w1_drift",
    "rel_purchase_gap_stats",
    "sess_touch_attribution",
    "val_volume_anomaly_days",
    "ts_missing_block_report",
    "sim_topk_hamming",
    "sess_entropy_rate",
    # survival / long-memory / forecast-eval batch
    "rel_km_repurchase",
    "ts_hurst_rs",
    "ts_pinball_loss",
    "ts_ljung_box",
    "rel_bitmap_overlap",
    "ts_granger_lag1",
    "ts_spectral_flatness",
    "val_cramers_v",
    "rel_price_volume_mix",
    "sess_next_pred_accuracy",
    "sample_token_budget_plan",
    "text_bpe_merge_step",
    "ts_sax_motifs",
    "text_winnow_fingerprints",
    "dedup_winnow_shared_spans",
    "sess_window_funnel",
    "val_mutual_information",
    "graph_sssp_weighted",
    "ts_psi_weekly_trend",
    "emb_cosine_pair_histogram",
    "val_simpson_slope_reversal",
    "mm_phash_dup_groups",
    "ts_daily_profile_motifs",
    "sample_group_kfold",
    "sess_interarrival_burstiness",
    "emb_label_separability",
    "dedup_cross_source_leakage",
    # round-7 additions
    "ml_ridge_lag1_parity",
    "inc_minhash_new_batch",
    "inc_sessionize_rollforward",
    "graph_label_propagation",
    "mm_scene_change",
    "text_ndcg_eval",
    "ml_forecast_next_lag1",
    "dedup_cluster_size_histogram",
    "emb_kmeans_step",
    "sess_lifecycle_states",
    "graph_modularity",
    "text_langid_confusion",
    "val_key_skew_report",
    "val_join_cardinality",
    "val_median_of_means",
    "text_tokenizer_fertility",
    "val_k_anonymity",
    "mm_audio_frame_energy",
    "rel_cdf_normalize",
    "ts_forecast_ensemble",
    "val_duplicate_payments",
    "text_code_detect_stats",
    "ts_intermittency_stats",
    "text_boilerplate_share",
    "text_negative_sampling_dist",
    "rel_discount_elasticity",
    "graph_reciprocity",
    "rel_holiday_lift",
    # stats7 batch: risk/diagnostics + planning/governance
    "ts_max_drawdown",
    "ts_variance_ratio",
    "ts_pacf",
    "graph_degree_powerlaw",
    "rel_largest_remainder_alloc",
    "val_t_closeness",
    "layout_compaction_plan",
    "sess_absorbing_markov",
    "text_oov_rate",
    "ts_croston",
    # round-8 additions (inc_cc_new_edges / emb_pq_train_curve are
    # ITERATIVE-only: their CC fixpoints / training collects run at build)
    "inc_quantile_merge",
    "inc_topk_merge",
    "dedup_containment_pairs",
    "rel_scd2_intervals",
    # round-8b additions (layout_bloom_pruning is ITERATIVE: edge-binned
    # layout boundary jobs run at build)
    "rel_scd2_merge",
    "text_span_dedup",
    "text_quality_gopher",
    "sim_int8_recall",
    "inc_kmv_distinct_merge",
    "inc_ridge_moments_merge",
    "val_snapshot_diff",
    "text_span_dedup_impact",
    "graph_ppr_unrolled",
    "ts_coincidence_factor",
    # round-9 additions (VERDICT r8 item 3: close the ledger-coverage
    # gap -- every remaining batch lane; dedup_ngram_jaccard_pairs is the
    # documented O(n^2) brute-force verification surface of the LSH path
    # and is the only multi-second entry)
    "ml_forecast_next_lag1_h3",
    "ml_forecast_next",
    "ts_load_duration_curve",
    "ts_cvar_ramp",
    "mm_frame_sample",
    "ml_train_eval_metrics",
    "val_dup_count",
    "val_value_stats",
    "val_summary",
    "val_top_group",
    "val_distinct_groups",
    "val_dup_rows",
    "rel_semi_join",
    "rel_anti_join",
    "rel_topk_orders",
    "rel_set_ops",
    "rel_cube",
    "rel_window_rank",
    "rel_date_functions",
    "rel_string_functions",
    "rel_json_extract",
    "rel_range_join",
    "rel_sql_exists_priority",
    "rel_sql_above_nation_avg",
    "rel_outer_join_counts",
    "rel_pivot_status_priority",
    "rel_grouping_sets",
    "rel_regex_extract",
    "rel_union_pages",
    "rel_promo_share",
    "rel_part_brand_stats",
    "rel_window_analytic",
    "rel_events_by_segment",
    "val_domain_violations",
    "val_extreme_gate",
    "rel_math_functions",
    "text_token_stats",
    "text_lang_id",
    "text_fingerprint",
    "text_quality_filter_stats",
    "text_length_profile",
    "text_top_tokens",
    "text_tfidf_top_terms",
    "dedup_tokenset_groups",
    "dedup_simhash_codes",
    "sim_topk_lsh",
    "tpch_min_balance_supplier",
    "tpch_significant_parts",
    "tpch_top_supplier",
    "tpch_part_supplier_counts",
    "tpch_nation_volume",
    "tpch_idle_rich_customers",
    "ts_window_counts",
    "ts_tail_window",
    "ts_scaler_params",
    "ts_scaled_values",
    "ts_hour_coverage",
    "quality_profile_scale_contract",
    "val_null_counts",
    "ml_linreg_trend",
    "rel_window_running",
    "rel_asof_click_before_purchase",
    "approx_distinct_and_quantiles",
    "rel_unpivot_measures",
    "rel_salted_skew_stats",
    "rel_monthly_revenue_growth",
    "sess_funnel_counts",
    "scd2_user_type_versions",
    "scd2_point_in_time",
    "dedup_exact_stats",
    "mm_decode_features",
    "text_bpe_token_estimate",
    "text_repetition_stats",
    "text_pii_stats",
    "sample_mix_sources",
    "dedup_contamination_check",
    "text_fuzzy_prefix_pairs",
    "tpch_product_profit",
    "ts_resample_15min",
    "ml_hpo_best_trials",
    "ml_invariants",
    "dedup_ngram_jaccard_pairs",
    "rel_lateral_explode",
    "rel_null_safe_join",
    "ts_week_spine_rcte",
]

# Streaming queries are EXCLUDED from the timing ledger by policy (same
# policy as rounds 2-4, made explicit as a lane list in round 9 -- VERDICT
# r8 item 3): they run real Structured Streaming sinks + checkpoints
# inside the query builder (availableNow triggers, temp-dir state), so
# neither timing bracket measures a comparable per-query quantity -- the
# wall-clock is dominated by micro-batch scheduling and checkpoint I/O at
# this data size, and the lanes exist to prove streaming CORRECTNESS
# (batch-oracle hash parity), not throughput. The list is explicit so
# HEADLINE + ITERATIVE + STREAMING_EXCLUDED covers the registry exactly
# (pinned by tests/test_bench_smoke.py::test_bench_covers_registry).
STREAMING_EXCLUDED = [
    "stream_windowed_stats",
    "stream_dedup_counts",
    "stream_session_stats",
    "stream_quality_counts",
    "stream_static_enrich",
    "stream_hopping_topk",
    "stream_stream_join",
    "stream_join_windowed_attribution",
    "stream_upsert_replay_state",
    "stream_topk_merge",
    "stream_quantile_merge",
    "stream_kmv_merge",
    "stream_corpus_dedup_merge",
    "stream_triangle_ivm_merge",
]

# The iterative connected-components queries materialize during plan BUILD
# (lineage-capping checkpoints), so the noop-write bracket above would
# underreport them. This lane times build+materialize WALL-CLOCK instead —
# the number a user actually waits for — so the repo's two most expensive
# operators have tracked perf (VERDICT r3 item 4).
ITERATIVE = [
    "dedup_clusters",
    "dedup_keep_best",
    # two-phase: d^2 Gram cut whose shuffle stages run at build, then
    # fixed-point iterations — wall-clock is the honest number (see
    # querydefs/textops.py)
    "emb_top_pc_power_iteration",
    # same shape: one cut corpus pass + k argmax rounds
    "emb_kcenter_seeds",
    # checkpoint-per-hop traversal (edge build dominates the wall-clock)
    "graph_bfs_reachability",
    # distributed global-rank NTILE: the offsets jobs run at build time
    "rel_rfm_segments_scale",
    # exact distributed quantiles: offsets job at build, rank selection
    "rel_exact_quantiles_scale",
    # Misra-Gries candidate pass collects at build time
    "text_heavy_hitters",
    # exact_quantiles thresholds (offsets job) computed at build time
    "val_winsorized_stats",
    # weight-sum offsets job at build time
    "rel_weighted_quantiles_scale",
    # edge-binned NTILE: boundary-tuple derivation jobs run at build time
    "layout_zorder_locality",
    "rel_equidepth_histogram",
    # round-7: deciles moved from a single-partition ntile(10) window to
    # ntile_by_edges, so the boundary jobs now run at build time too
    "rel_decile_lift",
    # fixed-point peeling: per-iteration count jobs at build time
    "graph_kcore",
    # distributed prefix-sum: per-partition sum offsets job at build time
    "rel_abc_classification",
    # exact global rank: range-sort + offsets jobs at build time
    "sample_curriculum_order",
    # PQ codebook is a k-sized boundary collect at build time
    "emb_pq_assign",
    # two edge-binned layouts: boundary jobs at build time
    "layout_zonemap_pruning",
    # codebook + query collects at build time
    "sim_pq_adc_recall",
    "sim_ivfpq_recall",
    # round-8: two CC fixpoints (old half + contracted merge) checkpoint
    # during build, same policy as dedup_clusters
    "inc_cc_new_edges",
    # round-8: two k-means training passes collect at build time
    "emb_pq_train_curve",
    # round-8b: edge-binned layout boundary jobs at build time (same
    # policy as layout_zonemap_pruning)
    "layout_bloom_pruning",
    # round-9: stage manifests + per-source counts are reuse() cuts whose
    # shuffle stages run at build time (the write-manifest-between-stages
    # discipline), so wall-clock is the honest number
    "corpus_prep_e2e",
    # connected-components fixpoint checkpoints at build (same policy
    # as dedup_clusters)
    "dedup_semantic_clusters",
    # round-9: state build + merge both checkpoint manifests and run two
    # CC fixpoints at build time -- wall-clock is the honest number
    "corpus_prep_inc_batch",
    # round-10: LSH-bucketed scale twin of dedup_semantic_clusters (CC
    # fixpoint at build time, same wall-clock convention as dedup_clusters)
    "dedup_semantic_clusters_scale",
]

# Per-query budget at sf0.1 / local[32]: 1.5x the best recorded driver run
# (BENCH_r01/r03 minimum per query; new queries get 1.5x their first
# measurement; a few carry ~1.2x extra headroom after observed
# ambient-load breaches -- SCALING.md documents +/-20-30% run-to-run
# variance at this data size). Exceeding a budget doesn't fail the bench
# -- it lands in "over_budget" in the JSON so regressions are visible in
# the round ledger and in tests/test_bench_smoke.py's opt-in budget gate.
#
# Round-6 re-baseline (VERDICT r5 item 9): three lanes changed plans this
# round and their budgets were refreshed from a quiet-machine best-of-3
# at sf0.1 (warmup at sf0.001, noop sink):
#   layout_zorder_locality  1.80 -> 7.20 (4.77 quiet best-of-2): the two
#     global ntile(64) single-partition windows became distributed
#     edge-binning (ranking.py ntile_by_edges) -- 2 narrow
#     boundary-derivation sorts + codegen binary-search binning, timed as
#     ITERATIVE wall-clock (edge jobs run at build). At sf0.1 that trades
#     ~3.5 s of fixed multi-job latency for a plan with no single-task
#     stage at 100 TB.
#   rel_equidepth_histogram 0.45 -> 1.50 (0.99 measured): same trade
#     (ntile(10) window -> ntile_by_edges, ITERATIVE wall-clock).
#   quality_profile_approx  1.10 -> 1.80 (1.18 measured): quantiles moved
#     from percentile_approx sketches to exact-on-grid histogram deciles
#     via ROLLUP(group, bin) -- still ONE fact scan, ~same cost, and the
#     whole output is now DuckDB-hash-verifiable driver evidence.
# Round-8 re-baseline (VERDICT r7 item 7): Sum(budgets) had drifted to
# ~1.85x Sum(current best) -- stale-loose budgets would let a real 1.4x
# regression on an old lane pass silently. Every lane whose budget
# exceeded 2x its best recorded time (r7 committed ledger vs the r8
# opening run, 63 lanes) was re-based to 1.5x best. Plan-changed lanes
# re-measured warm best-of-3 with the codebook-trajectory memo:
# emb_pq_assign 1.70 -> 2.55, sim_pq_adc_recall 4.50 -> 6.75,
# sim_ivfpq_recall 4.78 -> 7.20 (training now memoized per corpus, the
# persisted-index production shape). graph_link_prediction bumped
# 1.95 -> 2.50 (1.5x its 1.66 best) after flapping at 2.003 in the r7
# judge marathon.
# Round-9 re-baseline (VERDICT r8 item 4): 13 lanes whose budget exceeded
# 2x their r8 committed-ledger time dropped to 1.5x that ledger best
# (emb_norm_stats, inc_cc_new_edges, inc_topk_merge, layout_bloom_pruning,
# rel_holiday_lift, rel_scd2_intervals, sample_stratified_topk,
# sim_ivfpq_recall, sim_pq_adc_recall, sim_recall_eval,
# sim_topk_bruteforce, text_para_dedup, val_mad_outliers);
# ml_forecast_next_lag1 re-based the other way, 2.60 -> 3.50 = 1.5x its
# post-tiebreak-rewrite 2.34 best (the old budget was 1.5x the
# pre-rewrite plan's best and left almost no headroom for the current
# plan). Round-9 additions (the previously unbenched batch lanes):
# 1.5x warm best-of-3 at sf0.1, measured 2026-08-16.
#
# Round-10 noise floor (VERDICT r9 item 4): lanes whose best is ~0.2-0.4 s
# get budgets at the ambient noise floor -- a single GC pause or a
# concurrent pytest run exceeds the whole lane, so 1.5x-of-best false-alarms
# on them (r8b: text_heavy_hitters, val_winsorized_stats; r9 judge run:
# dedup_tokenset_groups at 0.343 vs 0.340 -- all retry-clean, none a plan
# change). Round-10 used an absolute floor max(budget, 0.75 s); ADVICE r10
# pointed out that a flat floor lets a ~0.15 s lane regress 5x unnoticed.
# Round-11 replaces it with an ADDITIVE noise margin: the effective budget
# is max(budget, best + NOISE_MARGIN_SEC) where best ~= budget / 1.5
# (budgets are recorded as 1.5x the best driver-measured run). A 0.15 s
# lane now gates at ~0.50 s (proportional protection restored) while a GC
# pause or concurrent-process blip of a few hundred ms is still absorbed;
# lanes whose 1.5x budget already exceeds best+margin are unchanged.
# 0.35 s covers the historical flap band (scd2_user_type_versions best
# 0.45 flapped at 0.682/0.688 in both r10 closing runs -- ~0.24 s of
# ambient drift; best + 0.35 absorbs it with room, where 1.5x alone
# would not).
NOISE_MARGIN_SEC = 0.35
# Round-11 re-base (VERDICT r10 item 8): the 23 lanes whose budget
# exceeded 1.8x their committed-ledger time were re-based to 1.5x that
# time; the 3 unbudgeted ITERATIVE lanes got budgets; and
# dedup_minhash_lsh_pairs was re-based to its new shuffle-hash plan
# (solo-measured 0.60 -> budget 0.90; the r11 closing marathon then timed
# the new plan at 0.34 -- warm parity with the old broadcast plan that
# OOM'd the 50x corpus, so the scale fix cost nothing at bench scale). Post-re-base Sum(budget)/Sum(time) = 1.36:
# the 1.5x-of-best convention bounds this ratio near 1.5 by construction
# (a lane timed exactly at best sits at 1.5), so the ratchet target is
# "no lane's budget exceeds 2x its committed time" -- now zero such
# lanes -- rather than an aggregate that the convention cannot reach.


def effective_budget(name: str) -> float:
    budget = BUDGETS[name]
    return max(budget, budget / 1.5 + NOISE_MARGIN_SEC)


BUDGETS: dict[str, float] = {
    "quality_profile": 1.70,
    "quality_profile_approx": 1.80,
    "val_grouped_stats": 0.40,
    "val_outlier_rows": 0.70,
    "val_gap_stats": 0.55,
    "rel_pricing_summary": 1.00,
    "rel_star_revenue": 1.70,
    "rel_shipping_priority": 0.75,
    "rel_nation_revenue": 1.00,
    "rel_topk_per_group": 0.75,
    "rel_rollup": 0.55,
    "ts_split_counts": 0.75,
    "ts_sequence_windows": 2.40,
    "ts_resample_hourly": 0.50,
    "ts_psi_drift": 0.75,
    "ts_moving_avg_1h": 1.20,
    "ts_ks_drift": 1.15,
    "sess_user_sessions": 1.05,
    "text_quality_score": 0.95,
    "dedup_minhash_lsh_pairs": 0.9,
    "sim_topk_bruteforce": 0.43,
    "sim_topk_ivf": 1.15,
    "emb_neardup_pairs": 0.75,
    "tpch_large_orders": 1.85,
    "ts_calendar_features": 0.55,
    "ts_backtest_folds": 0.85,
    "text_entropy_stats": 1.50,
    "emb_centroid_assign": 0.88,
    "tpch_returned_items": 1.35,
    # round-4 additions: 1.5x idle-machine best-of-3 (2026-08-14)
    "text_pii_redaction": 1.08,
    "emb_norm_stats": 0.25,
    "sample_stratified_topk": 0.22,
    "text_packing_estimate": 0.4,
    "text_ngram_novelty": 2.0,
    "sample_split_assign": 0.14,
    "text_para_dedup": 0.7,
    "val_mad_outliers": 0.85,
    "ts_ewma": 1.10,
    "rel_ntile_deciles": 0.50,
    "tpch_market_share": 1.25,
    "tpch_cust_order_dist": 0.58,
    "tpch_discount_revenue": 0.25,
    "emb_dim_stats": 0.43,
    "dedup_simhash_neardup_pairs": 1.00,
    "ts_gap_fill_locf": 1.18,
    # two full corpus passes by construction (model + score), the repo's
    # heaviest text op
    "text_bigram_lm_score": 4.30,
    "ts_cusum_changepoint": 1.14,
    "sess_retention_cohorts": 0.75,
    "inc_agg_merge": 0.55,
    "emb_quantize_int8": 0.58,
    "rel_variant_props": 0.71,
    "val_checksum_reconciliation": 0.68,
    "ts_seasonal_naive_error": 0.46,
    "sample_weighted_topk": 0.35,
    "text_pack_chunks": 0.54,
    # round-5 additions: 1.5x idle-machine best-of-3 (2026-08-14)
    "tpch_small_qty_revenue": 0.60,
    "tpch_disjunctive_revenue": 0.42,
    "tpch_sole_supplier_orders": 1.30,
    "ts_acf": 0.86,
    # breached at 2.77 in a 104-lane full run (solo best-of-4: 1.88);
    # carries the ambient-load headroom like the other flagged lanes
    "ts_rolling_z_anomaly": 2.90,
    "ts_value_histogram": 0.66,
    "ts_stl_seasonal": 0.76,
    "rel_window_count_distinct": 0.67,
    "rel_corr_covar": 0.57,
    "rel_merge_upsert": 0.77,
    "sim_recall_eval": 1.21,
    "text_bm25_topk": 0.88,
    "val_benford_digits": 0.39,
    "rel_skyline_pareto": 0.63,
    "sess_markov_transitions": 0.77,
    "text_zipf_slope": 0.43,
    "sample_poisson_bootstrap": 1.92,
    "ts_holt_winters": 1.25,
    "sess_path_topk": 0.65,
    "sample_class_balance": 0.62,
    "rel_hll_mergeable": 0.35,
    "rel_tombstone_read": 0.64,
    "ts_hierarchical_reconcile": 0.53,
    "rel_salted_skew_join": 0.58,
    "sim_halfdim_overlap": 0.63,  # r8 noise-floor headroom: sub-second lane flapped at 0.69/0.72 vs the 1.5x-best 0.65
    "val_referential_integrity": 0.59,
    "val_pk_uniqueness": 0.7,
    "emb_mahalanobis_outliers": 1.11,
    "rel_asof_nearest": 0.81,
    "ts_permutation_entropy": 0.88,
    "text_sparse_cosine_pairs": 1.27,
    "ts_xcorr_click_purchase": 0.91,
    "val_outlier_consensus": 1.43,
    "sess_conversion_latency": 0.35,
    "ts_peak_stats": 0.78,
    "ts_load_factor": 0.44,
    "rel_order_value_gini": 1.16,
    "dedup_lsh_bucket_histogram": 1.55,
    "dedup_lsh_recall_eval": 1.51,
    # graph lanes: budgets date from when bench timed the plan without
    # the node^2-bounded edge-list reuse; bench now times the same reused
    # plan every caller runs (see querydefs/graph.py)
    "graph_pagerank": 4.40,
    "graph_triangle_count": 7.90,
    # round-10: DOULION sampled-triangle estimator, 1.5x its quiet
    # best-of-3 (1.256)
    "graph_triangle_estimate": 1.90,
    # round-10: incremental sampled-triangle maintenance, 1.5x its quiet
    # best-of-3 (1.924)
    "inc_triangle_estimate_merge": 2.89,
    "layout_zorder_locality": 7.20,
    "rel_equidepth_histogram": 1.50,
    "sess_cogroup_hour_corr": 1.30,
    "ts_time_weighted_avg": 0.76,
    "ts_minmax_downsample": 1.01,
    "text_pmi_source_terms": 0.92,
    "emb_top_pc_power_iteration": 5.25,
    "graph_link_prediction": 2.5,
    "emb_kcenter_seeds": 1.27,
    "val_drift_chi2": 0.44,
    "sess_shapley_attribution": 1.30,
    "graph_bfs_reachability": 4.42,
    "emb_contrastive_triplets": 1.46,
    "ts_pi_coverage": 0.77,
    "val_monotonic_event_ids": 0.62,
    "rel_cohort_ltv": 1.08,
    "rel_basket_lift": 2.23,
    "sample_temperature_mix": 0.27,
    # r10 re-base: the hour-cap row_number window (shared with the other
    # co-occurrence lanes) lifted the quiet best 0.73 -> 0.844; 1.5x that
    "graph_assortativity": 1.27,
    "rel_rfm_segments": 0.62,
    "sess_dau_wau": 1.02,
    "ts_load_profile_how": 0.51,
    "rel_supplier_hhi": 1.62,
    "ts_ramp_rate_stats": 0.83,
    "text_ttr_by_source": 0.57,
    "rel_rfm_segments_scale": 1.37,
    "rel_exact_quantiles_scale": 1.79,
    "text_heavy_hitters": 1.08,
    "rel_interval_union_days": 1.55,
    "ts_rolling_median_7d": 0.47,
    "val_winsorized_stats": 1.71,
    "rel_weighted_quantiles_scale": 1.99,
    "text_setsim_prefix_join": 7.50,
    "rel_max_concurrent_intervals": 1.95,
    "text_cms_freq_est": 0.75,
    "ts_spectral_daily_strength": 0.54,
    "rel_woe_iv": 0.70,
    "sess_pattern_funnel": 0.60,
    "ts_theilsen_trend": 0.49,
    "ts_gap_fill_interp": 0.75,
    "text_chunk_overlap": 0.51,
    "ts_w1_drift": 0.69,
    "rel_purchase_gap_stats": 0.95,
    "sess_touch_attribution": 0.80,
    "val_volume_anomaly_days": 0.55,
    "ts_missing_block_report": 0.65,
    "sim_topk_hamming": 1.15,
    "graph_kcore": 2.55,
    "rel_abc_classification": 0.78,
    "sess_entropy_rate": 0.90,
    "rel_km_repurchase": 0.91,
    "ts_hurst_rs": 0.97,
    "ts_pinball_loss": 0.97,
    # r7: deciles moved to ntile_by_edges (boundary jobs at build ->
    # ITERATIVE wall-clock; first quiet best-of-2 was 1.88). r8 re-base:
    # warm marathon best settled at ~1.0, budget 1.5x that -- the 1.88
    # was a cold first measurement, superseded
    "rel_decile_lift": 1.5,
    "ts_ljung_box": 1.19,
    "rel_bitmap_overlap": 0.5,
    "ts_granger_lag1": 0.52,
    "ts_spectral_flatness": 0.65,
    "val_cramers_v": 0.54,
    "rel_price_volume_mix": 0.99,
    # first-measured under a concurrent full-bench run: extra headroom
    "sess_next_pred_accuracy": 1.62,
    "sample_token_budget_plan": 0.86,
    "emb_kmeans_step": 1.31,
    "sess_lifecycle_states": 0.65,
    "graph_modularity": 2.00,
    "text_langid_confusion": 1.23,
    "val_key_skew_report": 1.78,
    "val_join_cardinality": 1.27,
    "val_median_of_means": 0.36,
    "text_tokenizer_fertility": 0.66,
    "sample_curriculum_order": 2.95,  # r8 headroom after 2.49/2.74 flaps vs 2.40
    "val_k_anonymity": 0.39,
    "mm_audio_frame_energy": 0.6,
    "rel_cdf_normalize": 0.75,
    "ts_forecast_ensemble": 1.60,
    "val_duplicate_payments": 0.80,
    "text_code_detect_stats": 0.33,
    "ts_intermittency_stats": 1.20,
    "text_boilerplate_share": 0.6,
    "text_negative_sampling_dist": 0.45,
    "rel_discount_elasticity": 0.90,
    "graph_reciprocity": 0.65,
    "rel_holiday_lift": 0.51,
    # stats7 batch: 1.5x idle-machine best-of-3 (2026-08-15)
    "ts_max_drawdown": 0.62,
    "ts_variance_ratio": 0.70,
    "ts_pacf": 0.85,
    "graph_degree_powerlaw": 1.91,
    "rel_largest_remainder_alloc": 0.77,
    "val_t_closeness": 0.66,
    "layout_compaction_plan": 0.48,
    "sess_absorbing_markov": 1.92,
    "text_oov_rate": 1.07,
    "text_bpe_merge_step": 0.51,
    "ts_sax_motifs": 1.1,
    "text_winnow_fingerprints": 0.73,
    "dedup_winnow_shared_spans": 1.50,
    "sess_window_funnel": 0.84,
    "val_mutual_information": 0.54,
    # r7 re-baseline: the reused edge frame is shared across
    # iterations, so the recorded
    # best is 0.14 s -- the old 3.20 came from a cold first-measurement
    "graph_sssp_weighted": 0.22,
    "ts_psi_weekly_trend": 0.81,
    "emb_cosine_pair_histogram": 0.48,
    "val_simpson_slope_reversal": 0.4,
    "mm_phash_dup_groups": 0.51,
    "ts_daily_profile_motifs": 1.35,
    "sample_group_kfold": 0.46,
    "sess_interarrival_burstiness": 0.72,
    "emb_label_separability": 0.66,
    "dedup_cross_source_leakage": 0.58,
    "ts_croston": 1.89,
    # round-7 additions: 1.5x quiet-machine best-of-3 (1.41 / 0.65 /
    # 0.65 / 2.66 / 4.43 wall-clock)
    "ml_ridge_lag1_parity": 2.10,
    "inc_minhash_new_batch": 0.54,
    "inc_sessionize_rollforward": 0.55,
    # r7 re-baseline: same plan-cache reuse as sssp (recorded best 0.16;
    # the 4.00 was a cold wall-clock first measurement)
    "graph_label_propagation": 0.25,
    # r7 reshape to posexplode+codegen (was 4.43 HOF form); r8 trained
    # codebook re-measured warm best 1.70 -> 1.5x
    "emb_pq_assign": 1.96,
    "mm_scene_change": 0.43,
    "text_ndcg_eval": 1.35,
    "layout_zonemap_pruning": 5.95,
    # r7 reshape (HOF lambdas -> posexplode + codegen hash-agg, SCALING.md
    # "distance-computation shape"): bests 1.40 / 3.61 / 4.56
    "sim_pq_adc_recall": 4.76,
    "sim_ivfpq_recall": 5.19,
    # r8b re-base: the 1.90 budget came from an unusually warm 1.27 best;
    # marathon history runs 1.54-2.05 (Arrow python-worker pressure) and a
    # quiet isolated best-of-3 is 1.74 -> 1.5x isolated best, the
    # graph_link_prediction convention for marathon-flapping lanes
    "ml_forecast_next_lag1": 3.5,
    "dedup_cluster_size_histogram": 0.46,
    # round-8 lanes: 1.5x warm best-of-3 at sf0.1 (3.31 / 0.86 / 0.32 /
    # 3.82 with the codebook-trajectory memo; see SCALING.md round-8)
    "inc_cc_new_edges": 3.46,
    # directed-containment posting join, undirected-count form: 4.06 warm
    "dedup_containment_pairs": 6.10,
    # SCD2 gaps-and-islands: one user exchange, three stacked windows
    "rel_scd2_intervals": 0.63,
    "inc_quantile_merge": 1.30,
    "inc_topk_merge": 0.3,
    "emb_pq_train_curve": 5.75,
    # round-8b lanes: 1.5x warm best-of-3 at sf0.1 (1.18 / 2.09 / 0.70 /
    # 1.26 / 4.74)
    "rel_scd2_merge": 1.23,
    "text_span_dedup": 2.18,
    "text_quality_gopher": 0.86,
    "sim_int8_recall": 1.38,
    "layout_bloom_pruning": 4.57,
    "inc_kmv_distinct_merge": 0.85,
    # batch 3: 1.5x warm best-of-3 at sf0.1 (0.97 / 0.56 / 2.46)
    "inc_ridge_moments_merge": 1.45,
    "val_snapshot_diff": 0.7,
    "text_span_dedup_impact": 3.70,
    # batch 4: 1.5x warm best-of-3 at sf0.1 (2.83 / 0.42)
    "graph_ppr_unrolled": 4.25,
    "ts_coincidence_factor": 0.54,
    # round-9 additions: 1.5x warm best-of-3 at sf0.1 (2026-08-16)
    "corpus_prep_inc_batch": 14.55,  # 1.5x warm best-of-3 9.70 (state+merge, 2 CC fixpoints)
    # (a second ambient-drift pass re-based 15 more marginal sub-second
    # flaps to 1.5x their slow-marathon timing -- the committed ledger's
    # run-to-run spread at this data size is +/-15%, see SCALING.md)
    # (text_repetition_stats measured ~180 s in the first coverage run --
    # an unbound-HOF re-tokenization bug the new ledger coverage exposed;
    # fixed with let-bindings in operators/text.py, re-based to 1.5x the
    # fixed 4.2 s best. 22 of these sub-second lanes flapped 1.0-1.5x in the first full
    # 323-lane marathon -- solo-measured budgets don't survive marathon
    # JVM pressure at the noise floor -- and were re-based to 1.5x their
    # marathon-recorded best, the same convention as
    # graph_link_prediction / sim_halfdim_overlap)
    "ml_forecast_next_lag1_h3": 2.26,
    "ml_forecast_next": 5.04,
    "ts_load_duration_curve": 0.68,
    "ts_cvar_ramp": 0.74,
    "mm_frame_sample": 0.15,
    # r10 re-base: breached 2.84/2.89 in 2 of 3 closing runs; quiet
    # isolated best-of-3 is 2.449 (the old 1.89 best was an unusually
    # warm-day outlier, same signature as r8b's graph_link_prediction)
    "ml_train_eval_metrics": 3.67,
    "val_dup_count": 0.42,
    "val_value_stats": 0.34,
    "val_summary": 0.31,
    "val_top_group": 0.15,
    "val_distinct_groups": 0.15,
    "val_dup_rows": 0.7,
    "rel_semi_join": 0.26,
    "rel_anti_join": 0.19,
    "rel_topk_orders": 0.15,
    "rel_set_ops": 0.33,
    "rel_cube": 0.36,
    "rel_window_rank": 0.33,
    "rel_date_functions": 0.33,
    "rel_string_functions": 0.15,
    "rel_json_extract": 0.38,
    "rel_range_join": 4.1,
    "rel_sql_exists_priority": 0.58,
    "rel_sql_above_nation_avg": 0.26,
    "rel_outer_join_counts": 0.43,
    "rel_pivot_status_priority": 0.31,
    "rel_grouping_sets": 0.29,
    "rel_regex_extract": 0.15,
    "rel_union_pages": 0.44,
    "rel_promo_share": 0.97,
    "rel_part_brand_stats": 0.22,
    "rel_window_analytic": 0.5,
    "rel_events_by_segment": 0.49,
    "val_domain_violations": 0.15,
    "val_extreme_gate": 0.2,
    "rel_math_functions": 0.27,
    "text_token_stats": 0.35,
    "text_lang_id": 1.16,
    "text_fingerprint": 0.15,
    "text_quality_filter_stats": 0.31,
    "text_length_profile": 0.28,
    "text_top_tokens": 0.37,
    "text_tfidf_top_terms": 1.16,
    "dedup_tokenset_groups": 0.34,
    "dedup_simhash_codes": 0.46,
    "sim_topk_lsh": 0.54,
    "tpch_min_balance_supplier": 0.31,
    "tpch_significant_parts": 1.65,
    "tpch_top_supplier": 0.62,
    "tpch_part_supplier_counts": 1.21,
    "tpch_nation_volume": 0.98,
    "tpch_idle_rich_customers": 0.36,
    # r10 re-base: breached 1.08-1.13 in all 3 closing runs; quiet
    # isolated best-of-3 is 0.849 vs the 0.68 warm-day outlier best
    "ts_window_counts": 1.27,
    "ts_tail_window": 0.41,
    "ts_scaler_params": 0.28,
    "ts_scaled_values": 0.36,
    "ts_hour_coverage": 0.49,
    "quality_profile_scale_contract": 1.02,
    "val_null_counts": 0.15,
    "ml_linreg_trend": 0.48,
    "rel_window_running": 0.33,
    "rel_asof_click_before_purchase": 0.64,
    "approx_distinct_and_quantiles": 5.46,
    "rel_unpivot_measures": 1.71,
    "rel_salted_skew_stats": 0.54,
    "rel_monthly_revenue_growth": 0.46,
    "sess_funnel_counts": 2.05,
    "scd2_user_type_versions": 0.68,
    "scd2_point_in_time": 0.59,
    "dedup_exact_stats": 0.5,
    "mm_decode_features": 0.58,
    "text_bpe_token_estimate": 0.73,
    "text_repetition_stats": 6.31,
    "text_pii_stats": 0.68,
    "sample_mix_sources": 0.99,
    "dedup_contamination_check": 1.72,
    "text_fuzzy_prefix_pairs": 9.01,
    "tpch_product_profit": 1.81,
    "ts_resample_15min": 0.63,
    "ml_hpo_best_trials": 1.34,
    "ml_invariants": 4.83,
    "dedup_ngram_jaccard_pairs": 29.4,
    "rel_lateral_explode": 0.34,
    "rel_null_safe_join": 0.58,
    "ts_week_spine_rcte": 0.61,
    "corpus_prep_e2e": 7.88,
    "dedup_semantic_clusters": 2.23,
    # Round-11: the last three unbudgeted ITERATIVE lanes (predated
    # per-lane budgets) get the standard 1.5x committed-ledger best.
    "dedup_clusters": 2.37,
    "dedup_keep_best": 2.32,
    "dedup_semantic_clusters_scale": 4.78,
}


def compact_stdout_line(payload: dict, max_len: int = 1900) -> str:
    """Compact the bench payload into ONE stdout JSON line <= max_len chars.

    The driver's BENCH_r*.json keeps only the last 2,000 chars of stdout;
    the full 300+-lane payload is ~9 KB, so printing it whole leaves the
    driver's parsed field null (BENCH_r09/r10 both show it). This emits the
    aggregate metrics plus the top lanes by time, shrinking the query dict
    until the line fits. The complete per-lane dict is in
    BENCH_LEDGER/latest.json (committed per round).
    """
    timings = payload["queries"]
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "sf": payload["sf"],
        "lanes": len(timings),
        "n_iter": payload["n_iter"],
        "over_budget": payload["over_budget"],
        "retried_lanes": payload["retried_lanes"],
        "ledger": "BENCH_LEDGER/latest.json",
    }
    # A pathological run can overflow the budget/retry dicts themselves
    # (e.g. every lane over budget): cap them to the worst offenders first
    # so the aggregate line always parses.
    over = compact["over_budget"]
    if len(json.dumps(compact)) > max_len // 2 and len(over) > 8:
        worst = sorted(over, key=lambda n: -(over[n]["sec"] - over[n]["budget"]))
        compact["over_budget"] = {n: over[n] for n in worst[:8]}
        compact["over_budget_total"] = len(over)
        compact["retried_lanes"] = compact["retried_lanes"][:8]
    by_time = sorted(timings, key=lambda n: -timings[n])
    line = json.dumps(compact)
    for keep in range(24, -1, -4):
        candidate = dict(compact)
        candidate["queries"] = {n: timings[n] for n in sorted(by_time[:keep])}
        line = json.dumps(candidate)
        if len(line) <= max_len:
            break
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="efp-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # JIT/codegen warmup: run every headline query once at the smallest sf
    # (untimed) so the timed run measures steady-state plans, not first-run
    # whole-stage-codegen compilation; fall back to the bench dir itself if
    # no sf0.001 sibling exists (custom SPARK_GRAFT_SF_DIR roots)
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE + ITERATIVE:
        qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()

    # three timed iterations, report the min (steady-state; OS cache, JIT
    # and machine-load noise dominates single runs at this data size --
    # BENCH_r03's uniform ~1.2x drift vs r01 was exactly that, see
    # SCALING.md "Bench methodology"). Timing brackets the noop
    # materialization of the plan every caller gets; the build runs outside
    # the timer. operators.partitioning.reuse cuts lineage lazily, but under
    # AQE building a cut runs the shuffle stages below it, so that share of
    # a reuse lane's work falls outside this bracket -- the ITERATIVE lanes
    # below time build + materialization instead.
    n_iter = int(os.environ.get("SPARK_GRAFT_BENCH_ITER", "3"))
    timings: dict[str, float] = {}
    for _ in range(n_iter):
        for name in HEADLINE:
            df = qs[name](spark, sf_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, elapsed), elapsed)

    # iterative lane: wall-clock from build through materialization
    # (checkpoint jobs run at build time, so the bracket starts BEFORE the
    # build call). Best of 2 -- these run multi-job iterations and are the
    # most expensive operators in the repo.
    for name in ITERATIVE:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 3)
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = best

    # -- marathon-drift retry policy (round 7) -------------------------------
    # A 200+-lane run accumulates JVM pressure (GC, code-cache, shuffle
    # files, lingering checkpoint blocks) that can push a single lane far
    # past its quiet-machine budget even though the plan is unchanged --
    # r6's judge run saw emb_top_pc_power_iteration at 2.49x budget in the
    # marathon vs 0.65x in isolation. So any lane that lands over budget
    # gets ONE retry after a cache purge + GC hint; the min of all
    # attempts is recorded. A real regression stays over budget on the
    # clean retry; a long-session transient cannot poison the ledger.
    def _run_lane(name: str) -> float:
        if name in ITERATIVE:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - t0, 3)
        df = qs[name](spark, sf_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    # Record BOTH attempts per retried lane (first = the over-budget
    # marathon timing, retry = the clean re-run): a recurring intermittent
    # regression then shows up as a repeatedly-high `first` across ledgers
    # even when the retry passes, which pure-min recording would hide.
    retried: dict[str, dict[str, float]] = {}
    for name in sorted(timings):
        if name in BUDGETS and timings[name] > effective_budget(name):
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            retry_t = _run_lane(name)
            retried[name] = {"first": timings[name], "retry": retry_t}
            timings[name] = min(timings[name], retry_t)

    over_budget = {
        name: {"sec": timings[name], "budget": effective_budget(name)}
        for name in timings
        if name in BUDGETS and timings[name] > effective_budget(name)
    }
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "iterative_wallclock": ITERATIVE,
        "n_iter": n_iter,
        "retried_lanes": sorted(retried),
        "retried": retried,
        "over_budget": over_budget,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Full per-lane ledger: the driver's BENCH_r*.json keeps only the last
    # 2,000 chars of stdout, which truncates a 300+-lane timings dict to
    # parsed:null (BENCH_r09/r10 both show it) -- so every run writes the
    # complete JSON to BENCH_LEDGER/ (committed per round) for
    # round-over-round comparison.
    ledger_dir = os.environ.get(
        "SPARK_GRAFT_BENCH_LEDGER",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LEDGER"),
    )
    try:
        os.makedirs(ledger_dir, exist_ok=True)
        with open(os.path.join(ledger_dir, "latest.json"), "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the compact stdout line below still lands
    print(compact_stdout_line(payload))


if __name__ == "__main__":
    main()
