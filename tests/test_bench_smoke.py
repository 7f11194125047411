"""Bench smoke gate (VERDICT r2 item 5): every lane bench.py times must
be registered and build its plan, and the bench's one timer (time_lane)
must count a builder's jobs in the lane's time. Round 2's bench crashed
(rc 1, no timings) on a loader regression that this file now catches
locally before the driver's per-round bench run ever sees it.
"""

import json
import os
import time

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

import bench
from electricity_forecast_pipeline_airflow_k8s_spark.plans.inspect import SHAPE_FIELDS, plan_shape
from electricity_forecast_pipeline_airflow_k8s_spark.queries import (
    queries as all_queries,
    registry,
)
from electricity_forecast_pipeline_airflow_k8s_spark.session import _BASE_CONF

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# Gated fingerprint fields: all but the round-robin exchanges, which only
# fanout() adds, and only when its input has fewer partitions than
# defaultParallelism -- so their count depends on the core count.
GATED_FIELDS = tuple(f for f in SHAPE_FIELDS if f != "exchange_round_robin")
PLAN_SHAPE_LEDGER = os.path.join(ROOT, "BENCH_LEDGER", "plan_shape.json")


def _plan_shape_ledger() -> dict:
    with open(PLAN_SHAPE_LEDGER) as fh:
        return json.load(fh)


def shape_drift(df, recorded: dict) -> dict:
    """Gated fields where df's plan shape differs from the recorded one:
    {field: (recorded, now)}."""
    now = plan_shape(df)
    return {f: (recorded.get(f), now[f]) for f in GATED_FIELDS if recorded.get(f) != now[f]}


def test_every_bench_lane_is_registered_and_headline_plans_build(spark, sf_dir):
    """Round-12 (VERDICT r11 item 2): the per-lane noop materialization
    of every bench lane duplicated test_oracle_parity -- the whole registry
    already MATERIALIZES there (compare() collects every lane) in the same
    session. What bench.py can still break on its own is a dangling lane
    name or a query whose PLAN no longer builds; both are caught here by
    planning every timed lane without materializing it. Builders that run
    jobs (lineage cuts, boundary collects, fixed-point iterations) run
    them here too, at sf0.001. The full materialize-everything loop
    remains available opt-in (SPARK_GRAFT_SLOW_TESTS=1) below.

    Each physical plan's shape must equal its BENCH_LEDGER/plan_shape.json
    entry exactly, on every gated field: a plan change shows up in review
    as a regenerated ledger diff (python tools/plan_shape.py)."""
    ledger = _plan_shape_ledger()
    assert ledger["run"]["sf"] == bench.sf_of(sf_dir), "ledger built at another sf"
    qs = all_queries()
    drift = {}
    for name in bench.timed_lanes():
        d = shape_drift(qs[name](spark, sf_dir), ledger["lanes"].get(name, {}))
        if d:
            drift[name] = d
    assert not drift, (
        f"plan shape {{field: (ledger, now)}} changed for {len(drift)} lanes "
        f"(regenerate with python tools/plan_shape.py if intended): {drift}"
    )


def test_plan_shape_ledger_is_self_describing():
    """BENCH_LEDGER/plan_shape.json fingerprints exactly the timed lanes,
    in order, each with exactly the plan_shape fields, and records the
    run that wrote it."""
    ledger = _plan_shape_ledger()
    assert set(ledger) == {"run", "lanes"}
    assert set(ledger["run"]) == {"sf", "cpus", "master", "git_sha", "spark_version"}
    assert ledger["run"]["cpus"] > 0 and ledger["run"]["spark_version"]
    assert list(ledger["lanes"]) == bench.timed_lanes()
    for name, shape in ledger["lanes"].items():
        assert list(shape) == list(SHAPE_FIELDS), name
        assert all(isinstance(v, int) and v >= 0 for v in shape.values()), name


@pytest.mark.parametrize(
    "inject, field",
    [
        (lambda df: df.crossJoin(df), "join_bnlj"),
        (
            lambda df: df.withColumn("rn", F.row_number().over(Window.orderBy(df.columns[0]))),
            "window_unpartitioned",
        ),
    ],
    ids=["cross_join", "unpartitioned_window"],
)
def test_plan_shape_gate_catches_injected_shape(spark, sf_dir, inject, field):
    """A lane whose frame gains a cross join or a single-partition window
    fails the gate; the untouched frame passes it."""
    name = "rel_topk_orders"
    recorded = _plan_shape_ledger()["lanes"][name]
    df = all_queries()[name](spark, sf_dir)
    assert shape_drift(df, recorded) == {}
    assert field in shape_drift(inject(df), recorded)


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SLOW_TESTS") != "1",
    reason="opt-in: materializes every bench lane (set SPARK_GRAFT_SLOW_TESTS=1)",
)
@pytest.mark.parametrize("name", bench.timed_lanes())
def test_bench_lane_materializes(spark, sf_dir, name):
    bench.time_lane(spark, all_queries()[name], sf_dir)


def test_every_budget_key_is_benched():
    """BUDGETS is keyed by exactly the timed lanes -- a budget for a query
    that no longer runs is dead weight, a timed lane without a budget
    escapes the regression gate."""
    lanes = set(bench.timed_lanes())
    assert set(bench.BUDGETS) == lanes, (
        f"stale budgets: {sorted(set(bench.BUDGETS) - lanes)}; "
        f"unbudgeted lanes: {sorted(lanes - set(bench.BUDGETS))}"
    )


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_RUN_BENCH_BUDGETS") != "1",
    reason="opt-in: full sf0.1 timing run (set SPARK_GRAFT_RUN_BENCH_BUDGETS=1)",
)
def test_headline_queries_within_budget():
    """Opt-in budget gate (VERDICT r3 item 2): run the real bench timing
    loop at sf0.1 in a fresh subprocess (the bench needs its own session
    confs) and assert every query lands under its 1.5x-of-best budget."""
    import json
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(root, "bench.py")],
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=root,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    parsed = json.loads(out.stdout.strip().splitlines()[-1])
    assert parsed["over_budget"] == {}, parsed["over_budget"]


def test_bench_covers_registry():
    """Ledger-coverage pin (VERDICT r8 item 3): the timed lanes are the
    registry minus the stream_* lanes, in registry order -- no batch lane
    can silently fall out of the perf gate -- and every stream_* lane
    (timed into BENCH_LEDGER/streaming.json instead) is excluded."""
    reg = list(registry())
    lanes = bench.timed_lanes()
    assert lanes == [n for n in reg if not n.startswith("stream_")]
    streaming = set(reg) - set(lanes)
    assert streaming and all(n.startswith("stream_") for n in streaming)


def test_compact_stdout_line_fits_driver_tail():
    """Round-11: the driver's BENCH_r*.json parses only the last 2,000
    chars of stdout -- r09/r10 both recorded parsed:null because the full
    327-lane payload is ~9 KB. The emitted line must always fit and carry
    the contract keys (metric/value/unit/queries/sf), for a normal payload
    AND a pathological one where every lane is over budget."""
    import json

    payload = {
        "metric": "headline_queries_total",
        "value": 320.1,
        "unit": "sec",
        "sf": 0.1,
        "n_iter": 3,
        "queries": {f"lane_{i:03d}_with_a_realistic_name": i * 0.01 for i in range(330)},
        "over_budget": {},
    }
    line = bench.compact_stdout_line(payload)
    assert len(line) <= 1900
    d = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in d, key
    assert d["lanes"] == 330
    # kept lanes are the most expensive ones
    assert "lane_329_with_a_realistic_name" in d["queries"]

    payload["over_budget"] = {
        n: {"sec": t, "budget": t / 2} for n, t in payload["queries"].items()
    }
    line = bench.compact_stdout_line(payload)
    assert len(line) <= 1900
    d = json.loads(line)
    assert d["over_budget_total"] == 330


def _jobs_started(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_time_lane_counts_build_jobs_in_build_s(spark, sf_dir):
    """A builder that runs a Spark job before returning its lazy frame
    shows that job inside build_s; a lazy builder fires no job before the
    write, and the write's jobs land in exec_s."""
    seen = {}

    def eager(spark, sf_dir):
        j0, t0 = _jobs_started(spark), time.perf_counter()
        spark.range(1000).collect()
        seen["eager_s"] = time.perf_counter() - t0
        seen["eager_jobs"] = _jobs_started(spark) - j0
        return spark.range(10)

    def lazy(spark, sf_dir):
        seen["lazy_jobs_at_return"] = _jobs_started(spark)
        return spark.range(10).selectExpr("id * 2 AS x")

    build_s, exec_s = bench.time_lane(spark, eager, sf_dir)
    assert seen["eager_jobs"] == 1
    assert build_s >= round(seen["eager_s"], 3) > 0
    assert exec_s > 0

    j0 = _jobs_started(spark)
    build_s, exec_s = bench.time_lane(spark, lazy, sf_dir)
    assert seen["lazy_jobs_at_return"] == j0  # nothing ran before the write
    assert _jobs_started(spark) > j0  # the noop write ran the plan
    assert exec_s > 0


def test_bench_payload_is_self_describing(spark, sf_dir):
    """The ledger payload pins its keys: per-lane build/exec splits of the
    best pass beside the per-lane totals, both split sums, the classes the
    timed passes compiled (none: the warmup compiled them), and the run's
    provenance (cpus, master, sf, git sha, the engine's session conf as
    the session reads it back)."""
    lanes = ["val_summary", "rel_topk_orders"]
    payload = bench.run_bench(spark, lanes, sf_dir, sf_dir, n_iter=1)
    assert set(payload) == {
        "metric", "value", "unit", "queries", "splits", "build_s_total",
        "exec_s_total", "n_iter", "codegen_compiles", "over_budget",
        "sf", "cpus", "master", "git_sha", "conf",
    }
    assert payload["codegen_compiles"] == 0
    assert payload["conf"] == {
        **_BASE_CONF,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    assert list(payload["queries"]) == lanes
    for name in lanes:
        split = payload["splits"][name]
        assert set(split) == {"build_s", "exec_s"}
        assert payload["queries"][name] == round(split["build_s"] + split["exec_s"], 3)
    assert payload["build_s_total"] == round(
        sum(s["build_s"] for s in payload["splits"].values()), 3
    )
    assert payload["value"] == round(sum(payload["queries"].values()), 3)
    assert payload["master"] == spark.sparkContext.master
    assert payload["cpus"] > 0
