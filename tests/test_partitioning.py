"""Focused tests for operators/partitioning.py (round-11 optimization
primitives): fanout (input-parallelism repair) and reuse (the one
lineage-cut primitive), plus the guard that keeps reuse the only one."""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import (
    fanout,
    reuse,
)
from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "electricity_forecast_pipeline_airflow_k8s_spark",
)


def _jobs_started(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _counting_udf(spark):
    """(udf, accumulator): the udf passes a long through and counts every
    row it evaluates."""
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    return F.udf(tick, "long"), acc


@contextlib.contextmanager
def _no_checkpoint_dir_after(spark):
    """Reset the JVM-side checkpoint dir on exit so later tests keep the
    localCheckpoint path ($-named Scala setter needs getattr)."""
    try:
        yield
    finally:
        sc = spark.sparkContext
        none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(none)


def test_fanout_widens_narrow_input(spark):
    df = spark.range(0, 1000).coalesce(1)
    out = fanout(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 1000


def test_fanout_is_noop_when_already_wide(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000).repartition(n + 4)
    out = fanout(df)
    # already at/above parallelism: the SAME plan object, no new exchange
    assert out is df


def test_reuse_is_lazy_and_identical(spark):
    """Over a shuffle-free frame, reuse must (a) launch no job at build
    time and (b) return the same rows: the checkpoint is a lineage cut,
    not a semantic change."""
    df = spark.range(0, 100).withColumn("v", F.col("id") * 3)
    before = _jobs_started(spark)
    out = reuse(df)
    assert _jobs_started(spark) == before, "lazy reuse must not launch jobs at build"
    expect = sorted(r["v"] for r in df.collect())
    got = sorted(r["v"] for r in out.collect())
    assert got == expect


def test_reuse_over_exchange_runs_shuffle_at_build_result_at_first_action(spark):
    """What the reuse docstring promises: under AQE (the session default)
    building the cut runs the shuffle stages below it; the result stage
    runs once, at the first action, and later actions read its blocks.
    With AQE off nothing runs at build time."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    udf, acc = _counting_udf(spark)
    agg = spark.range(0, 1000).groupBy((F.col("id") % 7).alias("g")).agg(
        F.count(F.lit(1)).alias("n")
    )
    df = agg.select("g", udf("n").alias("n"))

    before = _jobs_started(spark)
    out = reuse(df)
    assert _jobs_started(spark) - before >= 1, "AQE runs the shuffle stage at build"
    assert acc.value == 0, "the result stage must wait for the first action"
    assert sorted(r["n"] for r in out.collect()) == sorted(
        len(range(g, 1000, 7)) for g in range(7)
    )
    assert acc.value == 7
    assert out.count() == 7
    assert acc.value == 7, "later actions must read the checkpointed blocks"

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = _jobs_started(spark)
        reuse(agg)
        assert _jobs_started(spark) == before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_reuse_reliable_checkpoint_computes_frame_once(spark, tmp_path):
    """With a checkpoint dir, reuse writes a reliable checkpoint -- in a
    second job over the same RDD, which must read the first action's
    blocks rather than evaluate every row again."""
    udf, acc = _counting_udf(spark)
    df = spark.range(0, 1000).select(udf("id").alias("v"))
    ckdir = tmp_path / "ck"
    with _no_checkpoint_dir_after(spark):
        spark.sparkContext.setCheckpointDir(str(ckdir))
        out = reuse(df)
        assert out.count() == 1000
        assert out.agg(F.sum("v")).first()[0] == sum(range(1000))
        written = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert written, "no reliable checkpoint files written"
    assert acc.value == 1000


def test_get_spark_sets_checkpoint_dir_from_env(spark, tmp_path, monkeypatch):
    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
    with _no_checkpoint_dir_after(spark):
        # same arguments as the session fixture, so getOrCreate hands back
        # the shared session without changing its conf
        s = get_spark(app_name="efp-tests", master="local[8]", shuffle_partitions=8)
        assert s is spark
        assert ckdir in (s.sparkContext.getCheckpointDir() or "")


def test_reuse_is_the_only_lineage_cut():
    """One execution mode: no package module reads the removed scoped-cache
    switch, lineage cuts go through reuse, and the eager cuts / persists
    that stay are the few whose reason is written beside them."""
    removed_switch = "SPARK_GRAFT_" + "SCOPED_CACHE"
    cut_ok = {
        "operators/partitioning.py",
        # eager: a read followed by an overwrite of the same path, or
        # backing files that vanish when the function returns
        "streaming/foldstate.py",
        "querydefs/sessions.py",
    }
    persist_ok = {"operators/partitioning.py", "operators/ranking.py"}
    bad = []
    for dirpath, _, files in os.walk(_PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
            with open(path) as fh:
                src = fh.read()
            if removed_switch in src:
                bad.append(f"{rel}: reads the removed switch")
            if ("localCheckpoint(" in src or ".checkpoint(" in src) and rel not in cut_ok:
                bad.append(f"{rel}: cuts lineage outside reuse()")
            if (".persist(" in src or ".cache()" in src) and rel not in persist_ok:
                bad.append(f"{rel}: persists outside reuse()")
    assert not bad, bad
