"""Plan-level broadcast audit (round 11): no scale-ledger lane may build
a broadcast from an unguarded fact-table scan.

The 50x run caught `dedup_minhash_lsh_pairs` OOM-ing the driver because
the static planner under-estimated the projected shingle subtree and
broadcast the corpus-sized side of the verify join. This audit walks
every scale-ledger lane's physical plan and fails if any
BroadcastExchange subtree reaches a documents/embeddings/events/
lineitem/orders FileScan without an Aggregate or Limit in between --
i.e. a broadcast whose size grows with the corpus. Aggregated/limited
subtrees (centroids, codebooks, thresholds, boundary tuples) are the
legitimate broadcast pattern and pass.

Opt-in (SPARK_GRAFT_RUN_PLAN_AUDIT=1): building all ~57 lanes takes
minutes. The round-11 "57/57 clean" never looked past the AdaptiveSparkPlan
root, so it checked nothing. Walking inside it, the 10x corpus flags 4 of
the 57 lanes (dedup_keep_best, rel_range_join, rel_star_revenue,
tpch_large_orders); CHANGES.md has the fleet-wide run. The default-suite
test below pins that the guard sees a broadcast at all.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from electricity_forecast_pipeline_airflow_k8s_spark.plans.inspect import (
    has_broadcast_join,
    plan_children,
)
from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import load_table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FACTS = ("documents", "embeddings", "events", "lineitem", "orders")
GUARDS = (
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Limit",
    "TakeOrdered",
)


def corpus_broadcasts(df) -> list[list[str]]:
    """All BroadcastExchange subtrees of df's physical plan that reach an
    unguarded fact scan. The walk goes through plan_children, which looks
    inside AdaptiveSparkPlan: under AQE (the session default) the plan
    root is that wrapper, a leaf with no children."""
    bad: list[list[str]] = []

    def scan(node, guarded: bool, found: list[str]) -> None:
        nm = node.nodeName()
        if any(g in nm for g in GUARDS):
            guarded = True
        if "Scan" in nm:
            head = node.toString().split("\n")[0]
            for f in FACTS:
                if f"/{f}.parquet" in head and not guarded:
                    found.append(f)
        for child in plan_children(node, nm):
            scan(child, guarded, found)

    def walk(node) -> None:
        nm = node.nodeName()
        if "BroadcastExchange" in nm:
            found: list[str] = []
            scan(node, False, found)
            if found:
                bad.append(sorted(set(found)))
        for child in plan_children(node, nm):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return bad


def test_audit_flags_a_broadcast_fact_scan_and_passes_an_aggregate(spark, sf_dir):
    """The guard itself, on the live planner: a hand-forced broadcast of
    the documents scan is flagged; a broadcast of its per-source
    aggregate is the legitimate pattern and passes."""
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select("source", "n_chars").join(F.broadcast(docs.select("source")), "source")
    assert corpus_broadcasts(raw) == [["documents"]]
    per_source = docs.groupBy("source").agg(F.max("n_chars").alias("top"))
    agg = docs.select("source", "n_chars").join(F.broadcast(per_source), "source")
    assert has_broadcast_join(agg)
    assert corpus_broadcasts(agg) == []


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_RUN_PLAN_AUDIT") != "1",
    reason="opt-in: builds every scale-ledger lane (set SPARK_GRAFT_RUN_PLAN_AUDIT=1)",
)
def test_no_scale_lane_broadcasts_a_fact_scan(spark):
    # The audit only means something at a corpus where fact tables exceed
    # the broadcast threshold: at sf0.001 every table legitimately
    # broadcasts. Run against the (regenerable) 10x corpus.
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", os.path.join(ROOT, ".scale10x")
    )
    if not os.path.isdir(scale_dir):
        pytest.skip(f"{scale_dir} not built (run tools/scale_bench.py)")
    from electricity_forecast_pipeline_airflow_k8s_spark.queries import registry

    with open(os.path.join(ROOT, "BENCH_LEDGER", "scale10x.json")) as f:
        lanes = sorted(json.load(f)["lanes"])
    reg = registry()
    suspects = {}
    for lane in lanes:
        df = reg[lane].build(spark, scale_dir)
        bad = corpus_broadcasts(df)
        if bad:
            suspects[lane] = bad
    assert not suspects, f"corpus-sized broadcast builds: {suspects}"
