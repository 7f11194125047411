"""Pin Catalyst behavior: pushdown, pruning, broadcast, shuffle shape.
These are the optimizations the reference hand-codes into its REST request
(`core/data_extraction.py:62-74`); here they must come out of the optimizer,
and regressions should fail loudly."""

import pyspark.sql.functions as F
import pytest

from electricity_forecast_pipeline_airflow_k8s_spark.plans.inspect import (
    explain_str,
    forced_broadcast_count,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)
from electricity_forecast_pipeline_airflow_k8s_spark.plans.skew import salted_count
from electricity_forecast_pipeline_airflow_k8s_spark.queries import registry
from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import load_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    q = li.filter(F.col("l_orderkey") <= 40).select("l_orderkey", "l_quantity")
    pushed = pushed_filters(q)
    assert any("l_orderkey" in p and "LessThanOrEqual" in p for p in pushed), pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    q = li.select("l_orderkey", "l_quantity")
    cols = read_schema_columns(q)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_star_join_broadcasts_dims(spark, sf_dir):
    q = registry()["rel_star_revenue"].build(spark, sf_dir)
    assert has_broadcast_join(q)


def test_star_join_does_not_force_customer_broadcast(spark, sf_dir):
    """Only the SF-invariant dims (nation=25, region=5 rows) may carry an
    explicit broadcast hint. customer grows ~150k rows/SF -- a forced
    broadcast OOMs at sf100, so its join strategy is left to AQE."""
    q = registry()["rel_star_revenue"].build(spark, sf_dir)
    assert forced_broadcast_count(q) == 2


def test_quality_profile_single_scan_single_shuffle(spark, sf_dir):
    """The flagship profile must be join-free: quantile bounds ride the
    whole-partition window, outliers are flagged inline, and the one hash
    exchange on the group key serves windows and final agg alike."""
    q = registry()["quality_profile"].build(spark, sf_dir)
    plan = explain_str(q)
    tree = plan.split("\n\n")[0]  # operator tree (details repeat operators)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert tree.count("Scan parquet") == 1
    # one hash exchange for windows+agg, one range exchange for the final sort
    assert tree.count("Exchange") <= 2


def test_quality_profile_scale_windows_never_partition_rows_by_group_alone(
    spark, sf_dir
):
    """The 100 TB profile layout: no O(rows) window may partition by the
    group key alone (that caps parallelism at the group count). Row-level
    lag windows must partition by (group, bucket); the only group-keyed
    window allowed is the boundary pass over the tiny per-bucket
    aggregate."""
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.profile import (
        quality_profile_scale,
    )

    ev = load_table(spark, "events", sf_dir)
    q = quality_profile_scale(
        ev, group_col="event_type", ts_col="ts", value_col="value"
    )
    plan = explain_str(q)
    # the row-level gap window shuffles on (event_type, _bkt)
    assert "hashpartitioning(event_type" in plan
    tree = plan.split("\n\n")[0]
    # details section: every Window's partition spec
    import re

    specs = re.findall(r"Window .*?partitionspec=\[([^\]]*)\]", plan) or re.findall(
        r"\[partitionspec=\[([^\]]*)\]", plan
    )
    # fall back to operator-tree inspection if spec extraction finds nothing
    if specs:
        row_windows = [s for s in specs if "_bkt" not in s]
        # at most the boundary window (over the groups x buckets aggregate)
        assert len(row_windows) <= 1, specs
    assert "CartesianProduct" not in tree


def test_window_then_groupby_reuses_partitioning(spark, sf_dir):
    """gap stats: window on (event_type) then groupBy(event_type) must not
    add a second hash exchange on the same key."""
    # simple mode: formatted splits node names from arguments, so the
    # substring count there is silently zero / vacuous (ADVICE r3)
    q = registry()["val_gap_stats"].build(spark, sf_dir)
    plan = explain_str(q, "simple")
    n_hash_exchanges = plan.count("Exchange hashpartitioning(event_type")
    assert n_hash_exchanges == 1, plan[:2000]


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partition layout (the snapshot/bronze layout at scale):
    a filter on the partition column must prune directories, not scan them."""
    ev = load_table(spark, "events", sf_dir)
    path = str(tmp_path / "events_part")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = explain_str(back)
    assert "PartitionFilters" in plan
    assert back.count() == ev.filter(F.col("event_type") == "click").count()


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketed tables co-located on the join key: the join must run
    without exchanging either side (the 100 TB answer to repeated big-big
    joins on a stable key)."""
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # unique names: the warehouse dir outlives the in-memory catalog, so a
    # fixed table name collides on its old location across sessions
    import uuid

    suffix = uuid.uuid4().hex[:8]
    o_tbl, li_tbl = f"orders_bkt_{suffix}", f"lineitem_bkt_{suffix}"
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(o_tbl)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(li_tbl)
    joined = (
        spark.table(li_tbl)
        .join(
            spark.table(o_tbl),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # simple mode so the exchange substrings are actually observable
    # (formatted splits node name from arguments -- ADVICE r3); also pin
    # that the join really happened, so the negative assertions can't be
    # vacuous against an unexpectedly join-free plan
    plan = explain_str(joined, "simple")
    assert "Join" in plan, plan[:2000]
    # no hash exchange may feed the join (broadcast of orders is also
    # acceptable shuffle-freedom; assert no exchange on either join key)
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert joined.count() > 0
    spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {li_tbl}")


def test_salted_count_matches_plain_count(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    plain = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        r["event_type"]: r["n"]
        for r in salted_count(ev, ["event_type"], n_salts=8).collect()
    }
    assert plain == salted


def test_stratified_topk_truncates_in_window_group_limit(spark, sf_dir):
    """sample_stratified_topk's scale claim: the rank filter must compile
    to WindowGroupLimit (map-side top-K truncation BEFORE the exchange +
    final truncation after), never a full per-group sort-materialize."""
    q = registry()["sample_stratified_topk"].build(spark, sf_dir)
    plan = explain_str(q, "simple")
    assert plan.count("WindowGroupLimit") == 2, plan[:2000]


def test_ivf_cluster_partitioned_layout_prunes_at_scan(spark, sf_dir, tmp_path):
    """The IVF scale story pinned (SCALING.md): with the corpus WRITTEN
    partitioned by assigned centroid, probing n_probe clusters is
    partition pruning at the scan -- directories for unprobed clusters are
    never read."""
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.similarity import (
        centroid_assign,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    assigned = centroid_assign(emb).select(
        "vec_id", F.col("assigned_label").alias("cluster")
    )
    corpus = emb.join(assigned, "vec_id")
    path = str(tmp_path / "ivf_corpus")
    corpus.write.partitionBy("cluster").mode("overwrite").parquet(path)

    probe = spark.read.parquet(path).filter(F.col("cluster").isin(0, 1))
    plan = explain_str(probe)
    assert "PartitionFilters" in plan
    # pruned read returns exactly the probed clusters' rows
    want = corpus.filter(F.col("cluster").isin(0, 1)).count()
    assert probe.count() == want
    assert want > 0


def test_histogram_broadcasts_span_map(spark, sf_dir):
    """ts_value_histogram joins per-type (min,max) back onto the fact scan
    -- the span side is group-count-sized and must broadcast, never
    shuffle the fact."""
    q = registry()["ts_value_histogram"].build(spark, sf_dir)
    assert has_broadcast_join(q)


def test_skyline_windows_only_date_level_rows(spark, sf_dir):
    """rel_skyline_pareto's cumulative max must run over the per-date
    aggregate (#dates rows), never a global single-partition window over
    raw orders: the Window node sits above a date-level HashAggregate and
    the threshold map broadcasts back onto the fact."""
    q = registry()["rel_skyline_pareto"].build(spark, sf_dir)
    plan = explain_str(q)
    tree = plan.split("\n\n")[0]
    assert has_broadcast_join(q)
    win = tree.find("Window")
    agg_below = tree.find("HashAggregate", win)
    assert win != -1 and agg_below != -1, tree


def test_bm25_topk_is_distributed_take_ordered(spark, sf_dir):
    """The corpus-wide rank cut must compile to TakeOrderedAndProject (a
    distributed top-k), not a single-partition global sort of every scored
    document."""
    q = registry()["text_bm25_topk"].build(spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(q)


def test_merge_upsert_single_merge_join(spark, sf_dir):
    """The MERGE layout is ONE join on the merge key (full outer), with
    the changeset derived by filters -- no extra joins to build it."""
    q = registry()["rel_merge_upsert"].build(spark, sf_dir)
    plan = explain_str(q)
    tree = plan.split("\n\n")[0]
    assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") <= 1
    assert "FullOuter" in plan


def test_mahalanobis_broadcasts_stats(spark, sf_dir):
    """The (label x dim) stats table is k x 64 rows and must broadcast
    onto the exploded vector stream -- a shuffle join there would shuffle
    corpus x 64 rows."""
    q = registry()["emb_mahalanobis_outliers"].build(spark, sf_dir)
    assert has_broadcast_join(q)


def test_asof_nearest_is_join_free(spark, sf_dir):
    """Nearest-click attribution rides ONE window pass (backward max +
    forward min in the same sort); the inequality join is the oracle's
    brute force, never the Spark plan."""
    q = registry()["rel_asof_nearest"].build(spark, sf_dir)
    plan = explain_str(q)
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree, tree
    assert tree.count("Exchange hashpartitioning") <= 1, tree


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Spark's runtime row-level filtering: a selective dim-side predicate
    on a shuffle join should inject a bloom filter (bloom_filter_agg on
    the creation side, might_contain on the fact scan) so fact rows that
    cannot join are dropped BEFORE the shuffle. The 10 GB
    application-side default only engages on cluster-scale scans, so the
    test scopes the thresholds down — the assertion is the plan shape a
    100 TB fact join gets for free; values must be identical either way."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt[:2000]
        assert "bloom_filter_agg" in opt, opt[:2000]
        filtered = {(r["o_orderpriority"], r["n"]) for r in j.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        "o_orderpriority = '1-URGENT'"
    )
    plain = {
        (r["o_orderpriority"], r["n"])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert filtered == plain and filtered


def test_zorder_locality_has_no_single_partition_window(spark, sf_dir):
    """layout_zorder_locality's two equi-depth binnings must ride the
    distributed ranker (range repartition + offsets), never an
    unpartitioned ntile WindowExec over the orders fact (VERDICT r5)."""
    q = registry()["layout_zorder_locality"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:2000]


def test_equidepth_histogram_has_no_single_partition_window(spark, sf_dir):
    """rel_equidepth_histogram's decile assignment must use ntile_global,
    not a global-order WindowExec over all orders (VERDICT r5)."""
    q = registry()["rel_equidepth_histogram"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:2000]


def test_decile_lift_deciles_are_edge_binned(spark, sf_dir):
    """rel_decile_lift's decile assignment must ride ntile_by_edges
    (broadcast boundary binning), never an unpartitioned ntile(10)
    WindowExec over the customer dimension (VERDICT r6). The only Window
    operators left in the plan are the cumulative sums over the 10-row
    decile aggregate -- no ntile anywhere."""
    q = registry()["rel_decile_lift"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan, plan[:2000]


def test_window_funnel_two_partitioned_range_windows_one_join(spark, sf_dir):
    """sess_window_funnel = two user-partitioned forward-min window passes
    (STRICT t+1 RangeFrame, matching the oracle's `>` -- ADVICE r6) joined
    once on (user, chosen click ts). Pin: every Window carries the user_id
    partition spec (never a single-partition frame over events), the
    frames are RangeFrames starting at 1, and there is exactly one
    view-to-click join."""
    q = registry()["sess_window_funnel"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert win_lines, plan[:2000]
    for ln in win_lines:
        assert "user_id" in ln, ln
        assert "RangeFrame, 1, unboundedfollowing" in ln, ln
    assert plan.count("Join") == 1, plan[:2000]


def test_winnow_shared_spans_is_postings_join_shaped(spark, sf_dir):
    """dedup_winnow_shared_spans must stay inverted-index shaped: doc-
    partitioned winnow windows feeding fingerprint equi-joins -- never a
    CartesianProduct / all-pairs doc comparison, and never an
    unpartitioned window over the gram stream."""
    q = registry()["dedup_winnow_shared_spans"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan[:2000]
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "doc_id" in ln, ln


def test_phash_dup_groups_decodes_via_map_in_pandas(spark, sf_dir):
    """mm_phash_dup_groups' decode/feature step must cross the Python
    boundary ONCE as an Arrow-batched MapInPandas over the raw media
    columns, with the phash grouping as a plain hash exchange downstream
    -- no row-at-a-time BatchEvalPython anywhere."""
    q = registry()["mm_phash_dup_groups"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]
    assert "hashpartitioning(phash" in plan, plan[:2000]


def test_pq_assign_is_single_scan_no_join(spark, sf_dir):
    """emb_pq_assign must keep the codebook in the expression tree
    (broadcast-by-literal): one corpus scan, zero joins, one Generate
    (the dim posexplode feeding the codegen distance aggregates -- it
    never materializes: scan -> Generate -> partial hash-agg share one
    codegen stage), and the exchanges carry only map-side-combined
    (vector, subspace) rows and the (subspace, centroid) aggregate --
    never raw corpus rows."""
    q = registry()["emb_pq_assign"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    tree = plan.split("\n\n")[0]
    assert "Join" not in plan, plan[:2000]
    assert tree.count("Scan parquet") == 1, plan[:2000]
    assert tree.count("Generate") == 1, plan[:2000]


def test_pq_adc_recall_two_scans_broadcast_rankings(spark, sf_dir):
    """sim_pq_adc_recall: the per-query ADC tables and query vectors ride
    the closure as literals, so the corpus contributes exactly two
    codegen scan passes (PQ codes + exact-L2 truth) and the only joins
    are over k-sized top-k frames -- no corpus-side join, no cartesian,
    no Python. Top-k windows must stay partitioned by query_id."""
    q = registry()["sim_pq_adc_recall"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2, plan[:2000]
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "query_id" in ln, ln


def test_ivfpq_recall_probes_broadcast_corpus_never_nested_loop(spark, sf_dir):
    """sim_ivfpq_recall: the probe list (queries x nprobe rows) must reach
    the candidate join as a BROADCAST side against the single-pass PQ
    codes -- the corpus side never cartesians and never feeds a
    nested-loop; ranking windows stay query-partitioned."""
    q = registry()["sim_ivfpq_recall"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "query_id" in ln, ln


def test_inc_minhash_probe_side_filtered_below_join(spark, sf_dir):
    """inc_minhash_new_batch: the candidate join must be (full banded
    index) x (BATCH-FILTERED bands) -- the probe never becomes full x
    full. Pin: the batch predicate (doc_id % 10 = 9) sits below the
    band/hash equi-join as a Filter on exactly one join input, and the
    join itself is an equi-join (no cartesian)."""
    q = registry()["inc_minhash_new_batch"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan[:2000]
    assert "% 10) = 9" in plan, plan[:3000]


def test_containment_pairs_posting_join_shaped(spark, sf_dir):
    """dedup_containment_pairs must stay inverted-index shaped: shingle
    equi-joins only (candidates = pairs sharing a kept shingle), never a
    CartesianProduct / nested-loop all-pairs comparison, and no Python
    boundary."""
    q = registry()["dedup_containment_pairs"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_int8_recall_all_joins_broadcast(spark, sf_dir):
    """sim_int8_recall: the dim stats (64 rows), probe code/dim frames
    (10 x 64) and the final recall join are all broadcast sides -- no
    SortMergeJoin anywhere, so the corpus stream is never re-sorted or
    re-shuffled for a join; candidate rows only shuffle for the
    query-partitioned top-k windows. No cartesian, no Python."""
    q = registry()["sim_int8_recall"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "query_id" in ln, ln


def test_bloom_pruning_probe_joins_broadcast(spark, sf_dir):
    """layout_bloom_pruning: every probe-side join (bits, truth, zones,
    and the output assembly) is a broadcast against 20-row / 60-row
    frames; the only nested-loop is the 20 x 64 probe x zone range join
    (the zonemap comparison, same accepted shape as the zonemap lane).
    The fact table itself never sort-merge-joins."""
    q = registry()["layout_bloom_pruning"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_scd2_merge_windows_never_span_users(spark, sf_dir):
    """rel_scd2_merge: every window in the merge path partitions by
    user_id (the gaps-and-islands windows over pseudo+batch, the
    current-row pick, the per-version lead) -- no global window, so no
    single-task bottleneck at any corpus size. No Python boundary."""
    q = registry()["rel_scd2_merge"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "user_id" in ln, ln
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_span_dedup_df_is_aggregate_join_back(spark, sf_dir):
    """text_span_dedup: gram document-frequency must be the map-side-
    combinable groupBy + join-back (partial_count below the gram
    exchange), never a gram-partitioned window (the boilerplate-gram
    hot-spot); the island window partitions by doc_id."""
    q = registry()["text_span_dedup"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, plan[:2000]
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "doc_id" in ln, ln
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_kmv_windows_rank_truncating_per_group(spark, sf_dir):
    """inc_kmv_distinct_merge: the bottom-k selections are row_number
    windows partitioned by event_type over DISTINCT-key frames --
    WindowGroupLimit pushes the k-truncation below the exchange, and no
    window is unpartitioned."""
    q = registry()["inc_kmv_distinct_merge"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "event_type" in ln, ln


def test_corpus_prep_e2e_serves_counts_from_manifests(spark, sf_dir):
    """corpus_prep_e2e (round 9): the final per-source aggregation must be
    served from the id-sized stage manifests (checkpointed RDD scans),
    never by replaying prior stages' text pipelines per consumer. Pin:
    every stage count reads an ExistingRDD manifest, the only non-equi
    join is the broadcast of the 1-row mix total, and -- because the
    per-source counts frame itself is materialized -- the FINAL plan
    reads no parquet at all."""
    q = registry()["corpus_prep_e2e"].build(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0, plan[:3000]
    assert "Scan ExistingRDD" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
