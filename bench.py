"""Benchmark harness (driver contract): time every batch lane of the
registry at $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

One timer, time_lane, brackets each lane from its Query.build call to the
end of a noop-sink write of the frame the builder returns: the number a
user waits for, including any jobs the builder runs (collects, lineage
cuts, fixed-point iterations). The noop sink materializes every column, so
pruning can't skip work the way .count() can. The timed lanes are the
registry minus the stream_* lanes (timed_lanes()).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from electricity_forecast_pipeline_airflow_k8s_spark.queries import registry
from electricity_forecast_pipeline_airflow_k8s_spark.session import (
    _BASE_CONF,
    default_parallelism,
    get_spark,
)


def timed_lanes() -> list[str]:
    """Every registry lane except the stream_* lanes, in registry order.

    The stream_* lanes run real Structured Streaming sinks and checkpoints
    inside their builders, so their wall-clock is micro-batch scheduling
    and checkpoint I/O, not a per-query quantity comparable with the batch
    lanes; tools/streaming_bench.py times them into their own ledger."""
    return [n for n in registry() if not n.startswith("stream_")]


def time_lane(spark, build, sf_dir: str) -> tuple[float, float]:
    """Build one lane and write it to the noop sink: (build_s, exec_s).

    build_s runs from the build call until the builder returns, so jobs
    the builder fires land there; exec_s is the noop write of the frame it
    returned. Their sum is the lane's time."""
    t0 = time.perf_counter()
    df = build(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return round(t1 - t0, 3), round(t2 - t1, 3)


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, seconds spent compiling them) by Spark's code
    generator since the JVM started; a cache hit compiles nothing."""
    jvm = spark.sparkContext._jvm
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    compile_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return compiled, compile_ns / 1e9


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
#     build-inclusive wall-clock (edge jobs run at build). At sf0.1 that trades
#     ~3.5 s of fixed multi-job latency for a plan with no single-task
#     stage at 100 TB.
#   rel_equidepth_histogram 0.45 -> 1.50 (0.99 measured): same trade
#     (ntile(10) window -> ntile_by_edges, build-inclusive wall-clock).
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
# time; the 3 unbudgeted build-timed lanes got budgets; and
# dedup_minhash_lsh_pairs was re-based to its new shuffle-hash plan
# (solo-measured 0.60 -> budget 0.90; the r11 closing marathon then timed
# the new plan at 0.34 -- warm parity with the old broadcast plan that
# OOM'd the 50x corpus, so the scale fix cost nothing at bench scale). Post-re-base Sum(budget)/Sum(time) = 1.36:
# the 1.5x-of-best convention bounds this ratio near 1.5 by construction
# (a lane timed exactly at best sits at 1.5), so the ratchet target is
# "no lane's budget exceeds 2x its committed time" -- now zero such
# lanes -- rather than an aggregate that the convention cannot reach.
#
# Build-inclusive re-base (2026-10-17): every lane is now timed from its
# build call (time_lane), so the 300 lanes that used to be timed
# execute-only had their budgets re-based once, by one formula, to cover
# the build work they always did: B + 1.5 x build_s, build_s being the
# build split of the lane's best pass in one full run at sf0.1 /
# local[4]. The build-timed lanes' budgets already covered it and were
# left alone (CHANGES.md has the per-lane table).


def effective_budget(name: str) -> float:
    budget = BUDGETS[name]
    return max(budget, budget / 1.5 + NOISE_MARGIN_SEC)


BUDGETS: dict[str, float] = {
    "quality_profile": 1.99,
    "quality_profile_approx": 2.24,
    "val_grouped_stats": 0.46,
    "val_outlier_rows": 0.77,
    "val_gap_stats": 0.63,
    "rel_pricing_summary": 1.11,
    "rel_star_revenue": 1.82,
    "rel_shipping_priority": 0.86,
    "rel_nation_revenue": 1.12,
    "rel_topk_per_group": 0.81,
    "rel_rollup": 0.6,
    "ts_split_counts": 0.81,
    "ts_sequence_windows": 2.55,
    "ts_resample_hourly": 0.55,
    "ts_psi_drift": 0.87,
    "ts_moving_avg_1h": 1.27,
    "ts_ks_drift": 1.29,
    "sess_user_sessions": 1.14,
    "text_quality_score": 1.1,
    "dedup_minhash_lsh_pairs": 3.68,
    "sim_topk_bruteforce": 0.57,
    "sim_topk_ivf": 1.48,
    "emb_neardup_pairs": 0.91,
    "tpch_large_orders": 1.99,
    "ts_calendar_features": 0.67,
    "ts_backtest_folds": 0.99,
    "text_entropy_stats": 1.62,
    "emb_centroid_assign": 1.03,
    "tpch_returned_items": 1.48,
    # round-4 additions: 1.5x idle-machine best-of-3 (2026-08-14)
    "text_pii_redaction": 1.19,
    "emb_norm_stats": 0.34,
    "sample_stratified_topk": 0.28,
    "text_packing_estimate": 0.54,
    "text_ngram_novelty": 2.17,
    "sample_split_assign": 0.19,
    "text_para_dedup": 0.82,
    "val_mad_outliers": 0.96,
    "ts_ewma": 1.18,
    "rel_ntile_deciles": 0.59,
    "tpch_market_share": 1.41,
    "tpch_cust_order_dist": 0.69,
    "tpch_discount_revenue": 0.37,
    "emb_dim_stats": 0.53,
    "dedup_simhash_neardup_pairs": 1.57,
    "ts_gap_fill_locf": 1.83,
    # two full corpus passes by construction (model + score), the repo's
    # heaviest text op
    "text_bigram_lm_score": 4.49,
    "ts_cusum_changepoint": 1.27,
    "sess_retention_cohorts": 0.81,
    "inc_agg_merge": 0.71,
    "emb_quantize_int8": 0.67,
    "rel_variant_props": 0.77,
    "val_checksum_reconciliation": 0.74,
    "ts_seasonal_naive_error": 0.61,
    "sample_weighted_topk": 0.42,
    "text_pack_chunks": 0.65,
    # round-5 additions: 1.5x idle-machine best-of-3 (2026-08-14)
    "tpch_small_qty_revenue": 0.73,
    "tpch_disjunctive_revenue": 0.53,
    "tpch_sole_supplier_orders": 1.41,
    "ts_acf": 1.01,
    # breached at 2.77 in a 104-lane full run (solo best-of-4: 1.88);
    # carries the ambient-load headroom like the other flagged lanes
    "ts_rolling_z_anomaly": 3.08,
    "ts_value_histogram": 0.82,
    "ts_stl_seasonal": 0.85,
    "rel_window_count_distinct": 0.78,
    "rel_corr_covar": 0.67,
    "rel_merge_upsert": 0.89,
    "sim_recall_eval": 1.73,
    "text_bm25_topk": 1.12,
    "val_benford_digits": 0.47,
    "rel_skyline_pareto": 0.69,
    "sess_markov_transitions": 0.85,
    "text_zipf_slope": 0.52,
    "sample_poisson_bootstrap": 2.08,
    "ts_holt_winters": 1.35,
    "sess_path_topk": 0.75,
    "sample_class_balance": 0.7,
    "rel_hll_mergeable": 0.45,
    "rel_tombstone_read": 0.7,
    "ts_hierarchical_reconcile": 0.73,
    "rel_salted_skew_join": 0.68,
    "sim_halfdim_overlap": 0.95,  # r8 noise-floor headroom: sub-second lane flapped at 0.69/0.72 vs the 1.5x-best 0.65
    "val_referential_integrity": 1.06,
    "val_pk_uniqueness": 1.02,
    "emb_mahalanobis_outliers": 1.23,
    "rel_asof_nearest": 0.9,
    "ts_permutation_entropy": 1.06,
    "text_sparse_cosine_pairs": 1.53,
    "ts_xcorr_click_purchase": 1.03,
    "val_outlier_consensus": 1.66,
    "sess_conversion_latency": 0.45,
    "ts_peak_stats": 0.95,
    "ts_load_factor": 0.52,
    "rel_order_value_gini": 1.24,
    "dedup_lsh_bucket_histogram": 1.81,
    "dedup_lsh_recall_eval": 3.88,
    # graph lanes: budgets date from when bench timed the plan without
    # the node^2-bounded edge-list reuse; bench now times the same reused
    # plan every caller runs (see querydefs/graph.py)
    "graph_pagerank": 6.2,
    "graph_triangle_count": 10.17,
    # round-10: DOULION sampled-triangle estimator, 1.5x its quiet
    # best-of-3 (1.256)
    "graph_triangle_estimate": 3.77,
    # round-10: incremental sampled-triangle maintenance, 1.5x its quiet
    # best-of-3 (1.924)
    "inc_triangle_estimate_merge": 5.3,
    "layout_zorder_locality": 7.20,
    "rel_equidepth_histogram": 1.50,
    "sess_cogroup_hour_corr": 1.38,
    "ts_time_weighted_avg": 0.87,
    "ts_minmax_downsample": 1.12,
    "text_pmi_source_terms": 1.09,
    "emb_top_pc_power_iteration": 5.25,
    "graph_link_prediction": 3.52,
    "emb_kcenter_seeds": 1.27,
    "val_drift_chi2": 0.57,
    "sess_shapley_attribution": 1.53,
    "graph_bfs_reachability": 4.42,
    "emb_contrastive_triplets": 1.64,
    "ts_pi_coverage": 0.97,
    "val_monotonic_event_ids": 0.7,
    "rel_cohort_ltv": 1.17,
    "rel_basket_lift": 3.76,
    "sample_temperature_mix": 0.35,
    # r10 re-base: the hour-cap row_number window (shared with the other
    # co-occurrence lanes) lifted the quiet best 0.73 -> 0.844; 1.5x that
    "graph_assortativity": 1.53,
    "rel_rfm_segments": 0.73,
    "sess_dau_wau": 1.13,
    "ts_load_profile_how": 0.57,
    "rel_supplier_hhi": 1.78,
    "ts_ramp_rate_stats": 0.95,
    "text_ttr_by_source": 0.69,
    "rel_rfm_segments_scale": 1.37,
    "rel_exact_quantiles_scale": 1.79,
    "text_heavy_hitters": 1.08,
    "rel_interval_union_days": 1.62,
    "ts_rolling_median_7d": 0.55,
    "val_winsorized_stats": 1.71,
    "rel_weighted_quantiles_scale": 1.99,
    "text_setsim_prefix_join": 7.79,
    "rel_max_concurrent_intervals": 2.04,
    "text_cms_freq_est": 0.9,
    "ts_spectral_daily_strength": 0.7,
    "rel_woe_iv": 0.89,
    "sess_pattern_funnel": 0.7,
    "ts_theilsen_trend": 0.92,
    "ts_gap_fill_interp": 0.95,
    "text_chunk_overlap": 0.6,
    "ts_w1_drift": 0.82,
    "rel_purchase_gap_stats": 1.1,
    "sess_touch_attribution": 0.92,
    "val_volume_anomaly_days": 0.69,
    "ts_missing_block_report": 0.78,
    "sim_topk_hamming": 1.7,
    "graph_kcore": 2.55,
    "rel_abc_classification": 0.78,
    "sess_entropy_rate": 1.06,
    "rel_km_repurchase": 1.13,
    "ts_hurst_rs": 1.42,
    "ts_pinball_loss": 1.18,
    # r7: deciles moved to ntile_by_edges (boundary jobs at build ->
    # build-inclusive wall-clock; first quiet best-of-2 was 1.88). r8 re-base:
    # warm marathon best settled at ~1.0, budget 1.5x that -- the 1.88
    # was a cold first measurement, superseded
    "rel_decile_lift": 1.5,
    "ts_ljung_box": 1.71,
    "rel_bitmap_overlap": 0.84,
    "ts_granger_lag1": 0.85,
    "ts_spectral_flatness": 0.99,
    "val_cramers_v": 0.72,
    "rel_price_volume_mix": 1.19,
    # first-measured under a concurrent full-bench run: extra headroom
    "sess_next_pred_accuracy": 1.89,
    "sample_token_budget_plan": 1.15,
    "emb_kmeans_step": 1.55,
    "sess_lifecycle_states": 0.89,
    "graph_modularity": 2.27,
    "text_langid_confusion": 1.71,
    "val_key_skew_report": 2.03,
    "val_join_cardinality": 1.58,
    "val_median_of_means": 0.43,
    "text_tokenizer_fertility": 0.77,
    "sample_curriculum_order": 2.95,  # r8 headroom after 2.49/2.74 flaps vs 2.40
    "val_k_anonymity": 0.49,
    "mm_audio_frame_energy": 0.84,
    "rel_cdf_normalize": 0.85,
    "ts_forecast_ensemble": 2.3,
    "val_duplicate_payments": 0.88,
    "text_code_detect_stats": 0.44,
    "ts_intermittency_stats": 1.34,
    "text_boilerplate_share": 0.69,
    "text_negative_sampling_dist": 0.55,
    "rel_discount_elasticity": 1.08,
    "graph_reciprocity": 0.82,
    "rel_holiday_lift": 0.62,
    # stats7 batch: 1.5x idle-machine best-of-3 (2026-08-15)
    "ts_max_drawdown": 0.76,
    "ts_variance_ratio": 0.94,
    "ts_pacf": 1.22,
    "graph_degree_powerlaw": 2.02,
    "rel_largest_remainder_alloc": 0.95,
    "val_t_closeness": 0.83,
    "layout_compaction_plan": 0.6,
    "sess_absorbing_markov": 2.87,
    "text_oov_rate": 1.21,
    "text_bpe_merge_step": 0.89,
    "ts_sax_motifs": 1.35,
    "text_winnow_fingerprints": 0.87,
    "dedup_winnow_shared_spans": 1.66,
    "sess_window_funnel": 1.01,
    "val_mutual_information": 0.85,
    # r7 re-baseline: the reused edge frame is shared across
    # iterations, so the recorded
    # best is 0.14 s -- the old 3.20 came from a cold first-measurement
    "graph_sssp_weighted": 4.52,
    "ts_psi_weekly_trend": 0.98,
    "emb_cosine_pair_histogram": 0.65,
    "val_simpson_slope_reversal": 0.5,
    "mm_phash_dup_groups": 0.68,
    "ts_daily_profile_motifs": 1.62,
    "sample_group_kfold": 0.56,
    "sess_interarrival_burstiness": 0.86,
    "emb_label_separability": 0.88,
    "dedup_cross_source_leakage": 0.69,
    "ts_croston": 2.08,
    # round-7 additions: 1.5x quiet-machine best-of-3 (1.41 / 0.65 /
    # 0.65 / 2.66 / 4.43 wall-clock)
    "ml_ridge_lag1_parity": 3.9,
    "inc_minhash_new_batch": 2.29,
    "inc_sessionize_rollforward": 0.79,
    # r7 re-baseline: same plan-cache reuse as sssp (recorded best 0.16;
    # the 4.00 was a cold wall-clock first measurement)
    "graph_label_propagation": 5.43,
    # r7 reshape to posexplode+codegen (was 4.43 HOF form); r8 trained
    # codebook re-measured warm best 1.70 -> 1.5x
    "emb_pq_assign": 1.96,
    "mm_scene_change": 0.59,
    "text_ndcg_eval": 1.67,
    "layout_zonemap_pruning": 5.95,
    # r7 reshape (HOF lambdas -> posexplode + codegen hash-agg, SCALING.md
    # "distance-computation shape"): bests 1.40 / 3.61 / 4.56
    "sim_pq_adc_recall": 4.76,
    "sim_ivfpq_recall": 5.19,
    # r8b re-base: the 1.90 budget came from an unusually warm 1.27 best;
    # marathon history runs 1.54-2.05 (Arrow python-worker pressure) and a
    # quiet isolated best-of-3 is 1.74 -> 1.5x isolated best, the
    # graph_link_prediction convention for marathon-flapping lanes
    "ml_forecast_next_lag1": 4.02,
    "dedup_cluster_size_histogram": 0.57,
    # round-8 lanes: 1.5x warm best-of-3 at sf0.1 (3.31 / 0.86 / 0.32 /
    # 3.82 with the codebook-trajectory memo; see SCALING.md round-8)
    "inc_cc_new_edges": 3.46,
    # directed-containment posting join, undirected-count form: 4.06 warm
    "dedup_containment_pairs": 8.38,
    # SCD2 gaps-and-islands: one user exchange, three stacked windows
    "rel_scd2_intervals": 0.77,
    "inc_quantile_merge": 1.47,
    "inc_topk_merge": 0.39,
    "emb_pq_train_curve": 5.75,
    # round-8b lanes: 1.5x warm best-of-3 at sf0.1 (1.18 / 2.09 / 0.70 /
    # 1.26 / 4.74)
    "rel_scd2_merge": 1.52,
    "text_span_dedup": 2.61,
    "text_quality_gopher": 1.16,
    "sim_int8_recall": 1.64,
    "layout_bloom_pruning": 4.57,
    "inc_kmv_distinct_merge": 1.06,
    # batch 3: 1.5x warm best-of-3 at sf0.1 (0.97 / 0.56 / 2.46)
    "inc_ridge_moments_merge": 1.79,
    "val_snapshot_diff": 0.86,
    "text_span_dedup_impact": 4.11,
    # batch 4: 1.5x warm best-of-3 at sf0.1 (2.83 / 0.42)
    "graph_ppr_unrolled": 6.35,
    "ts_coincidence_factor": 0.69,
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
    "ml_forecast_next_lag1_h3": 2.72,
    "ml_forecast_next": 8.63,
    "ts_load_duration_curve": 0.85,
    "ts_cvar_ramp": 0.89,
    "mm_frame_sample": 0.22,
    # r10 re-base: breached 2.84/2.89 in 2 of 3 closing runs; quiet
    # isolated best-of-3 is 2.449 (the old 1.89 best was an unusually
    # warm-day outlier, same signature as r8b's graph_link_prediction)
    "ml_train_eval_metrics": 6.91,
    "val_dup_count": 0.45,
    "val_value_stats": 0.43,
    "val_summary": 0.44,
    "val_top_group": 0.19,
    "val_distinct_groups": 0.18,
    "val_dup_rows": 0.74,
    "rel_semi_join": 0.3,
    "rel_anti_join": 0.23,
    "rel_topk_orders": 0.18,
    "rel_set_ops": 0.4,
    "rel_cube": 0.4,
    "rel_window_rank": 0.4,
    "rel_date_functions": 0.37,
    "rel_string_functions": 0.2,
    "rel_json_extract": 0.42,
    "rel_range_join": 4.16,
    "rel_sql_exists_priority": 0.62,
    "rel_sql_above_nation_avg": 0.29,
    "rel_outer_join_counts": 0.48,
    "rel_pivot_status_priority": 0.36,
    "rel_grouping_sets": 0.32,
    "rel_regex_extract": 0.18,
    "rel_union_pages": 0.49,
    "rel_promo_share": 1.03,
    "rel_part_brand_stats": 0.27,
    "rel_window_analytic": 0.57,
    "rel_events_by_segment": 0.56,
    "val_domain_violations": 0.2,
    "val_extreme_gate": 0.25,
    "rel_math_functions": 0.36,
    "text_token_stats": 0.4,
    "text_lang_id": 1.36,
    "text_fingerprint": 0.18,
    "text_quality_filter_stats": 0.4,
    "text_length_profile": 0.34,
    "text_top_tokens": 0.43,
    "text_tfidf_top_terms": 1.5,
    "dedup_tokenset_groups": 0.44,
    "dedup_simhash_codes": 0.86,
    "sim_topk_lsh": 1.07,
    "tpch_min_balance_supplier": 0.42,
    "tpch_significant_parts": 1.77,
    "tpch_top_supplier": 0.76,
    "tpch_part_supplier_counts": 1.36,
    "tpch_nation_volume": 1.12,
    "tpch_idle_rich_customers": 0.51,
    # r10 re-base: breached 1.08-1.13 in all 3 closing runs; quiet
    # isolated best-of-3 is 0.849 vs the 0.68 warm-day outlier best
    "ts_window_counts": 1.42,
    "ts_tail_window": 0.46,
    "ts_scaler_params": 0.41,
    "ts_scaled_values": 0.44,
    "ts_hour_coverage": 0.56,
    "quality_profile_scale_contract": 1.56,
    "val_null_counts": 0.21,
    "ml_linreg_trend": 0.6,
    "rel_window_running": 0.39,
    "rel_asof_click_before_purchase": 0.7,
    "approx_distinct_and_quantiles": 5.6,
    "rel_unpivot_measures": 1.79,
    "rel_salted_skew_stats": 0.67,
    "rel_monthly_revenue_growth": 0.53,
    "sess_funnel_counts": 2.24,
    "scd2_user_type_versions": 0.77,
    "scd2_point_in_time": 0.69,
    "dedup_exact_stats": 0.55,
    "mm_decode_features": 0.7,
    "text_bpe_token_estimate": 0.78,
    "text_repetition_stats": 6.96,
    "text_pii_stats": 0.79,
    "sample_mix_sources": 1.12,
    "dedup_contamination_check": 2.11,
    "text_fuzzy_prefix_pairs": 9.45,
    "tpch_product_profit": 1.94,
    "ts_resample_15min": 0.69,
    "ml_hpo_best_trials": 1.6,
    "ml_invariants": 7.79,
    "dedup_ngram_jaccard_pairs": 29.72,
    "rel_lateral_explode": 0.37,
    "rel_null_safe_join": 0.7,
    "ts_week_spine_rcte": 0.68,
    "corpus_prep_e2e": 7.88,
    "dedup_semantic_clusters": 2.23,
    # Round-11: the last three unbudgeted build-timed lanes (predated
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
        "ledger": "BENCH_LEDGER/latest.json",
    }
    # A pathological run can overflow the budget dict itself (e.g. every
    # lane over budget): cap it to the worst offenders first so the
    # aggregate line always parses.
    over = compact["over_budget"]
    if len(json.dumps(compact)) > max_len // 2 and len(over) > 8:
        worst = sorted(over, key=lambda n: -(over[n]["sec"] - over[n]["budget"]))
        compact["over_budget"] = {n: over[n] for n in worst[:8]}
        compact["over_budget_total"] = len(over)
    by_time = sorted(timings, key=lambda n: -timings[n])
    line = json.dumps(compact)
    for keep in range(24, -1, -4):
        candidate = dict(compact)
        candidate["queries"] = {n: timings[n] for n in sorted(by_time[:keep])}
        line = json.dumps(candidate)
        if len(line) <= max_len:
            break
    return line


def sf_of(sf_dir: str) -> float | str:
    """The scale factor an ``.../sf<N>`` data dir holds (the dir name if
    it does not end in a number)."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def run_meta(spark, sf_dir: str) -> dict:
    """What every ledger records about the run that wrote it."""
    return {
        "sf": sf_of(sf_dir),
        "cpus": default_parallelism(),
        "master": spark.sparkContext.master,
        "git_sha": _git_sha(),
        "conf": {
            k: spark.conf.get(k, None) for k in (*_BASE_CONF, "spark.sql.shuffle.partitions")
        },
    }


def warm_dir_for(sf_dir: str) -> str:
    """The warmup data for sf_dir: its sf0.001 sibling, or sf_dir itself
    when it has none (custom SPARK_GRAFT_SF_DIR roots)."""
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    return warm_dir if os.path.isdir(warm_dir) else sf_dir


def ledger_dir() -> str:
    """$SPARK_GRAFT_BENCH_LEDGER, default the committed BENCH_LEDGER/."""
    return os.environ.get(
        "SPARK_GRAFT_BENCH_LEDGER",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LEDGER"),
    )


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def run_bench(spark, lanes: list[str], sf_dir: str, warm_dir: str, n_iter: int) -> dict:
    """Warm every lane once at warm_dir, time n_iter passes at sf_dir and
    return the ledger payload; each lane keeps the split of its best pass."""
    qs = registry()
    # JIT/codegen warmup (untimed): every lane's generated classes are
    # compiled here and stay cached (the session's codegen cache holds the
    # whole registry's working set). The timed passes compile only the
    # classes of plans chosen anew at sf_dir's size and of lanes whose
    # generated code changes from run to run; the payload counts them as
    # codegen_compiles.
    for name in lanes:
        time_lane(spark, qs[name].build, warm_dir)

    # best of n_iter passes: OS cache, JIT and machine-load noise dominate
    # single runs at this data size (SCALING.md "Bench methodology")
    best: dict[str, tuple[float, float]] = {}
    compiled_before = codegen_counters(spark)[0]
    for _ in range(n_iter):
        for name in lanes:
            split = time_lane(spark, qs[name].build, sf_dir)
            if name not in best or sum(split) < sum(best[name]):
                best[name] = split

    timings = {name: round(sum(best[name]), 3) for name in lanes}
    over_budget = {
        name: {"sec": timings[name], "budget": effective_budget(name)}
        for name in lanes
        if timings[name] > effective_budget(name)
    }
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "splits": {n: {"build_s": b, "exec_s": e} for n, (b, e) in best.items()},
        "build_s_total": round(sum(b for b, _ in best.values()), 3),
        "exec_s_total": round(sum(e for _, e in best.values()), 3),
        "n_iter": n_iter,
        "codegen_compiles": codegen_counters(spark)[0] - compiled_before,
        "over_budget": over_budget,
        **run_meta(spark, sf_dir),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="efp-bench")
    spark.sparkContext.setLogLevel("ERROR")
    n_iter = int(os.environ.get("SPARK_GRAFT_BENCH_ITER", "3"))
    payload = run_bench(spark, timed_lanes(), sf_dir, warm_dir_for(sf_dir), n_iter)
    # Full per-lane ledger: the driver's BENCH_r*.json keeps only the last
    # 2,000 chars of stdout, which truncates a 300+-lane timings dict to
    # parsed:null (BENCH_r09/r10 both show it) -- so every run writes the
    # complete JSON to BENCH_LEDGER/ (committed per round) for
    # round-over-round comparison.
    try:
        os.makedirs(ledger_dir(), exist_ok=True)
        with open(os.path.join(ledger_dir(), "latest.json"), "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the compact stdout line below still lands
    print(compact_stdout_line(payload))


if __name__ == "__main__":
    main()
