"""Minimal dependency-ordered job orchestration (SURVEY §3, the
"Airflow schedules Spark jobs" shell).

The reference's Airflow DAG (`core/airflow_dag.py:736-778`) is a
PythonOperator chain -- extract >> validate >> quality_summary >>
compile_and_upload >> generate_params >> cleanup >> notify -- with
XCom result passing and per-task retries from default_args. This module
is that shell with zero scheduler dependency: a task runner whose tasks
are THIS engine's Spark jobs. Airflow/cron/K8s can still own the clock
(`jobs.py` exposes spark-submit CLIs); what lives here is the intra-run
dependency graph, retry, result passing, and the run report -- the parts
of the DAG that are pipeline logic rather than scheduling.

Semantics mirrored from Airflow's executor: a task starts as soon as
every upstream has succeeded, so independent tasks run concurrently (on
driver threads, each submitting its own Spark jobs); failures mark all
transitive downstreams ``upstream_failed`` (never silently skipped); a
failed attempt retries up to ``retries`` times (`core/airflow_dag.py:41-47`
default_args: retries=2); each task's return value is available to
downstreams by task name (XCom analog, `core/airflow_dag.py:137-146`
xcom_pull).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Mapping
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from graphlib import CycleError, TopologicalSorter
from typing import Any

from pyspark import inheritable_thread_target


@dataclass(frozen=True)
class Task:
    """One node: ``fn(ctx, results)`` where ``ctx`` is the shared run
    context (spark session, paths, config) and ``results`` maps the names
    of the tasks finished before this one started (every upstream among
    them) to their return values."""

    name: str
    fn: Callable[[Mapping[str, Any], Mapping[str, Any]], Any]
    deps: tuple[str, ...] = ()
    retries: int = 0


@dataclass
class TaskReport:
    state: str  # success | failed | upstream_failed
    attempts: int = 0
    seconds: float = 0.0
    error: str | None = None
    start_s: float | None = None  # offset from the run's start; None if never started


@dataclass
class RunReport:
    tasks: dict[str, TaskReport] = field(default_factory=dict)
    results: dict[str, Any] = field(default_factory=dict)
    wall_s: float = 0.0

    @property
    def ok(self) -> bool:
        return all(t.state == "success" for t in self.tasks.values())


def _attempts(task: Task, ctx, results, t_run: float) -> tuple[TaskReport, Any]:
    """Run ``task`` with its retries; returns its report and value."""
    t0 = time.perf_counter()
    tr = TaskReport(state="failed", start_s=round(t0 - t_run, 3))
    value = None
    for attempt in range(task.retries + 1):
        tr.attempts = attempt + 1
        try:
            value = task.fn(ctx, results)
            tr.state = "success"
            tr.error = None
            break
        except Exception as e:  # noqa: BLE001 -- task boundary
            tr.error = f"{type(e).__name__}: {e}"
    tr.seconds = round(time.perf_counter() - t0, 3)
    return tr, value


def run_dag(tasks: list[Task], ctx: Mapping[str, Any] | None = None) -> RunReport:
    """Execute the task graph as Airflow's executor does: every task
    whose upstream tasks have all finished starts at once, on its own
    driver thread, so independent branches overlap. Unknown deps,
    duplicate names and cycles raise before any task runs.

    Each task reads a snapshot of the results finished when it started.
    When ``ctx`` carries ``"spark"``, task threads inherit the caller's
    Spark local properties (job group, description, scheduler pool), so
    ``cancelJobGroup`` covers a whole run. ``RunReport.tasks`` lists the
    tasks in a deterministic topological order (ties broken by name),
    whatever order they finished in."""
    by_name = {t.name: t for t in tasks}
    if len(by_name) != len(tasks):
        raise ValueError("duplicate task names")
    for t in tasks:
        missing = [d for d in t.deps if d not in by_name]
        if missing:
            raise ValueError(f"task {t.name!r} depends on unknown {missing}")
    sorter = TopologicalSorter({t.name: set(t.deps) for t in tasks})
    try:
        sorter.prepare()
    except CycleError as e:
        raise ValueError(f"dependency cycle: {e.args[1]}") from e
    # deterministic report order: repeatedly take the lexicographically
    # smallest ready task
    done: set[str] = set()
    ordered: list[str] = []
    pending = set(by_name)
    while pending:
        ready = sorted(
            n for n in pending if all(d in done for d in by_name[n].deps)
        )
        ordered.append(ready[0])
        done.add(ready[0])
        pending.remove(ready[0])

    ctx = dict(ctx or {})
    spark = ctx.get("spark")
    states: dict[str, TaskReport] = {}
    results: dict[str, Any] = {}  # written by this thread only
    t_run = time.perf_counter()
    with ThreadPoolExecutor(max_workers=len(tasks) or 1) as pool:
        running = {}
        while sorter.is_active():
            for name in sorted(sorter.get_ready()):
                task = by_name[name]
                if any(states[d].state != "success" for d in task.deps):
                    states[name] = TaskReport(state="upstream_failed")
                    sorter.done(name)
                    continue
                # a task thread's JVM thread starts without the caller's
                # local properties; wrapping copies them now, once per task
                body = _attempts if spark is None else inheritable_thread_target(spark)(_attempts)
                running[pool.submit(body, task, ctx, dict(results), t_run)] = name
            if not running:
                continue  # upstream_failed marks made more tasks ready
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                name = running.pop(fut)
                states[name], value = fut.result()
                if states[name].state == "success":
                    results[name] = value
                sorter.done(name)
    return RunReport(
        tasks={n: states[n] for n in ordered},
        results={n: results[n] for n in ordered if n in results},
        wall_s=round(time.perf_counter() - t_run, 3),
    )


def electricity_dag(
    spark,
    sf_dir: str,
    root: str,
    run_ts: str | None = None,
    lookback: int = 24,
    horizon: int = 6,
    retention_keep: int = 10,
) -> list[Task]:
    """The reference DAG's task chain re-expressed over this engine
    (`core/airflow_dag.py:778`: extract >> validate >> quality_summary >>
    [train] >> cleanup >> notify), each node one of the engine's jobs:

      extract          events -> readings frame (ref extract_data :87-127)
      prepare          snapshot + validate + report (ref validate_data
                       :129-227; run_preparation owns the raising-on-error
                       semantics of the DAG's task failure)
      quality_summary  per-group record counts from prepare's validation
                       report (ref :420-478 re-reads and restructures the
                       validation report)
      train            per-group ridge fit + metrics (the Katib/KFP stage,
                       ref generate_pipeline_parameters :481-:568)
      register         versioned params in the model registry
      cleanup          snapshot retention, the run's only prune, after
                       success (ref cleanup_old_files :570-631)
      notify           run summary dict (ref send_success_notification
                       :635-733) -- pure result assembly, no side channel
    """
    from electricity_forecast_pipeline_airflow_k8s_spark.ml import registry as REG
    from electricity_forecast_pipeline_airflow_k8s_spark.pipeline import (
        run_preparation,
        run_training,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.sources.normalize import (
        events_as_readings,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import (
        load_table,
        read_parquet,
    )

    def t_extract(ctx, results):
        ev = load_table(spark, "events", sf_dir)
        return events_as_readings(ev)

    def t_prepare(ctx, results):
        return run_preparation(spark, results["extract"], root, run_ts)

    def t_quality(ctx, results):
        per_region = results["prepare"].report.stats["per_region"]
        return {r: v["records"] for r, v in per_region.items()}

    def t_train(ctx, results):
        readings = read_parquet(spark, results["prepare"].validated_path)
        return run_training(
            spark, readings, lookback=lookback, horizon=horizon
        )

    def t_register(ctx, results):
        tr = results["train"]
        version = REG.register_model(
            spark, tr.params, root, "load-forecaster", tr.metrics
        )
        return version

    def t_cleanup(ctx, results):
        from electricity_forecast_pipeline_airflow_k8s_spark.sources.snapshots import (
            apply_retention,
        )

        deleted = []
        for prefix in ("raw", "processed", "reports"):
            deleted += apply_retention(spark, root, prefix, keep=retention_keep)
        return deleted

    def t_notify(ctx, results):
        prep = results["prepare"]
        return {
            "records": prep.record_count,
            "validated": prep.validated_path is not None,
            "groups_profiled": len(results["quality_summary"]),
            "model_version": results["register"],
            "metrics": results["train"].metrics,
            "snapshots_deleted": len(results["cleanup"]),
        }

    # the reference's default_args apply retries=2 to EVERY task in the
    # chain (core/airflow_dag.py:81), not just extract -- mirror that.
    return [
        Task("extract", t_extract, retries=2),
        Task("prepare", t_prepare, deps=("extract",), retries=2),
        Task("quality_summary", t_quality, deps=("prepare",), retries=2),
        Task("train", t_train, deps=("prepare",), retries=2),
        Task("register", t_register, deps=("train",), retries=2),
        Task("cleanup", t_cleanup, deps=("register", "quality_summary"), retries=2),
        Task("notify", t_notify, deps=("cleanup",), retries=2),
    ]
