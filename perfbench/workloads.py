"""The workloads: the lane list, one pass of each workload, and the untimed
correctness checks. WORKLOADS.md records why each was chosen.

Each workload is a closed loop with one client: the next operation starts
when the previous one has finished.
"""

from __future__ import annotations

import math
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

from telemetry import ExecStats, exec_stats, jobs_started

# Short scan-and-aggregate lanes over the star schema and the events table:
# their time goes to table loads, planning and the fixed cost of each job.
LANE_SCAN = (
    "val_null_counts",
    "val_grouped_stats",
    "val_summary",
    "ts_resample_hourly",
    "ts_scaler_params",
    "rel_rollup",
    "rel_cube",
    "rel_semi_join",
    "rel_nation_revenue",
    "tpch_top_supplier",
    "tpch_discount_revenue",
)

DAG_RUN_TS = "20240401_000000"
DAG_LOOKBACK, DAG_HORIZON = 24, 6


@dataclass
class PassResult:
    """One pass over the lane list, or one DAG run."""

    wall_s: float
    op_s: dict[str, float]
    attempted: int
    failed: int
    trace_ids: set[int] = field(default_factory=set)
    layers: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    exec: ExecStats = field(default_factory=ExecStats)
    report: object = None  # the DAG's RunReport

    @property
    def ok(self) -> bool:
        return self.failed == 0

    @property
    def dag_metrics(self) -> dict | None:
        return self.report.results.get("notify", {}).get("metrics") if self.report else None


def _traced_op(spark, tracer, res: PassResult, label: str):
    """Open one operation's trace; returns a closer that reads its jobs."""
    tracer.trace_id += 1
    res.trace_ids.add(tracer.trace_id)
    spark.sparkContext.setJobGroup(f"perfbench:{label}", label)
    j0, w0 = jobs_started(spark), time.time()

    def close():
        w1 = time.time()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        res.exec.add(exec_stats(spark, j0, jobs_started(spark), w0, w1))

    return close


def lane_pass(spark, registry, lanes, data_dir: str, tracer=None) -> PassResult:
    """Build each lane and write it to the noop sink, one after another.

    A lane's time runs from the ``Query.build`` call until the noop write
    returns. The cache is cleared between lanes, outside the lane's time,
    so persisted frames do not pile up across passes.
    """
    res = PassResult(0.0, {}, 0, 0)
    t_pass = time.perf_counter()
    for name in lanes:
        res.attempted += 1
        close = _traced_op(spark, tracer, res, name) if tracer else None
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = registry[name].build(spark, data_dir)
                df.write.format("noop").mode("overwrite").save()
            else:
                with tracer.span("querydefs.build") as b:
                    df = registry[name].build(spark, data_dir)
                with tracer.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("exec.noop_write"):
                    df.write.format("noop").mode("overwrite").save()
                res.layers["querydefs.build_s"] += b.end - b.start
                res.layers["querydefs.build_jobs"] += b.jobs
        except Exception:  # noqa: BLE001 -- a failing lane is counted, not fatal
            res.failed += 1
            print(f"perfbench: lane {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
        else:
            res.op_s[name] = time.perf_counter() - t0
        finally:
            if close:
                close()
            spark.catalog.clearCache()
    res.wall_s = time.perf_counter() - t_pass
    return res


def dag_pass(spark, data_dir: str, lake: str, tracer=None) -> PassResult:
    """One weekly DAG run into ``lake``, from trigger to ``notify``. The
    caller removes the lake once it has checked what it needs."""
    from electricity_forecast_pipeline_airflow_k8s_spark.orchestrate import (
        electricity_dag,
        run_dag,
    )

    res = PassResult(0.0, {}, 0, 0)
    close = _traced_op(spark, tracer, res, "weekly_dag") if tracer else None
    t0 = time.perf_counter()
    tasks = electricity_dag(
        spark, data_dir, lake, run_ts=DAG_RUN_TS, lookback=DAG_LOOKBACK, horizon=DAG_HORIZON
    )
    report = run_dag(tasks, ctx={"spark": spark})
    res.wall_s = time.perf_counter() - t0
    if close:
        close()
    for name, tr in report.tasks.items():
        res.attempted += 1
        res.layers["orchestrate.attempts"] += tr.attempts
        res.layers["orchestrate.retried_attempts"] += max(0, tr.attempts - 1)
        if tr.state == "success":
            res.op_s[name] = tr.seconds
            res.layers[f"orchestrate.task_s.{name}"] += tr.seconds
        else:
            res.failed += 1
            print(f"perfbench: DAG task {name} {tr.state}: {tr.error}", file=sys.stderr)
    res.report = report
    return res


def check_lanes(spark, lanes, data_dir: str) -> list[str]:
    """Compare every lane with its DuckDB oracle; oracle-less lanes must
    return rows. Returns one message per mismatch."""
    from electricity_forecast_pipeline_airflow_k8s_spark import parity

    bad = []
    for name in lanes:
        r = parity.compare(spark, name, data_dir)
        spark.catalog.clearCache()
        if not r["ok"] or r["rows"] < 1:
            bad.append(f"{name}: {r}")
    return bad


def check_dag(spark, res: PassResult, n_readings: int) -> list[str]:
    """Untimed checks on one DAG run's outputs."""
    if not res.ok:
        return ["DAG run had tasks that did not succeed"]
    results = res.report.results
    prep, train = results["prepare"], results["train"]
    bad = []
    if not prep.report.is_valid:
        bad.append(f"validation failed: {prep.report.errors}")
    if prep.record_count != n_readings:
        bad.append(f"records {prep.record_count} != generated {n_readings}")
    # run_training fits the region with the most readings only
    n_fc = train.forecasts.count()
    if n_fc != DAG_HORIZON:
        bad.append(f"forecast rows {n_fc} != 1 region x horizon {DAG_HORIZON}")
    m = res.dag_metrics or {}
    if not m.get("n") or not all(
        isinstance(m.get(k), float) and math.isfinite(m[k]) for k in ("rmse", "mape", "mae")
    ):
        bad.append(f"training metrics not finite: {m}")
    return bad
