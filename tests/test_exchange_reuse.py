"""Pin single-fact-scan behavior for self-joined aggregates.

Operators that join an aggregate against itself (Theil-Sen's daily
partials) must not scan + aggregate the fact table once per branch: the
branches plan DIFFERENT exchange types (broadcast vs shuffle), so
Catalyst's ReuseExchange cannot stamp them, and the honest fix is an
explicit ``reuse`` cut (the pagerank pattern). These tests pin that every
branch really does read one checkpointed relation instead of re-scanning
the source, that setsim keeps its measured choice of no cut, and that
the generic identical-exchange case still reuses without any cut.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.plans.inspect import explain_str


def _checkpoint_scans(plan: str) -> list[str]:
    """The RDD behind every checkpointed-relation scan in a formatted plan
    (one entry per ``Scan ExistingRDD`` node)."""
    return re.findall(r"(\w+RDD\[\d+\]) at localCheckpoint", plan)


def test_theilsen_single_fact_scan(spark, sf_dir):
    from electricity_forecast_pipeline_airflow_k8s_spark.queries import registry

    df = registry()["ts_theilsen_trend"].build(spark, sf_dir)
    plan = explain_str(df)
    # the fact scan sits below the cut, so the plan never re-reads events;
    # both self-join branches read the SAME checkpointed daily partials
    assert "Scan parquet" not in plan, plan
    scans = _checkpoint_scans(plan)
    assert len(scans) >= 2 and len(set(scans)) == 1, plan


def test_setsim_ordered_sets_stay_uncut(spark):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.setsim import (
        setsim_prefix_join,
    )

    docs = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z"), ("c", "p q r")],
        "doc_id string, text string",
    )
    df = setsim_prefix_join(docs, num=1, den=2)
    plan = explain_str(df)
    # the three consumers re-derive the ordered sets: a reuse() cut there
    # was measured slower than the recomputes (see operators/setsim.py)
    assert not _checkpoint_scans(plan), plan
    # and the result is still exact
    rows = {(r["doc_a"], r["doc_b"]) for r in df.collect()}
    assert rows == {("a", "b")}


def test_static_plan_never_stamps_reuse_under_aqe(spark):
    # why the explicit cut (not ReuseExchange) is the pinned mechanism:
    # with AQE on, exchange reuse is deferred to runtime stage dedup and
    # the static plan never shows ReusedExchange even for bit-identical
    # branches — so a "reuse will save us" assumption is untestable and
    # the explicit cut is the only guarantee a plan test can check.
    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") % 13).alias("v")
    )
    agg = df.groupBy("g").agg(F.sum("v").alias("s"))
    a, b = agg.alias("a"), agg.alias("b")
    joined = a.join(b, F.col("a.g") == F.col("b.g")).select(F.col("a.g"))
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert "ReusedExchange" not in explain_str(joined)
