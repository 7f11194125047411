"""DAG runner semantics (Airflow-executor analog: independent tasks run
concurrently, retries, upstream_failed propagation, XCom result passing)
and the end-to-end electricity chain over sf0.001
(`core/airflow_dag.py:736-778`)."""

from __future__ import annotations

import random
import sys
import threading
import time

import pytest

from electricity_forecast_pipeline_airflow_k8s_spark.orchestrate import (
    Task,
    electricity_dag,
    run_dag,
)


def test_topological_order_deterministic():
    """The report lists tasks in topological order with ties broken by
    name, whatever order they finished in: "b" finishes last here."""

    def mk(name, delay=0.0):
        return lambda ctx, results: time.sleep(delay) or name

    tasks = [
        Task("c", mk("c"), deps=("a", "b")),
        Task("b", mk("b", 0.2), deps=("a",)),
        Task("a", mk("a")),
        Task("d", mk("d"), deps=("a",)),
    ]
    report = run_dag(tasks)
    assert report.ok
    assert list(report.tasks) == ["a", "b", "c", "d"]
    assert list(report.results) == ["a", "b", "c", "d"]
    assert report.tasks["d"].start_s < report.tasks["b"].start_s + report.tasks["b"].seconds
    assert report.wall_s >= report.tasks["b"].seconds


def test_task_starts_after_all_upstreams_finish():
    """From a start/finish log kept under a lock: no task starts before
    every upstream has finished, and each task sees every upstream's
    result. Sixteen tasks over three layers, more threads than cores,
    and a short switch interval to shake out interleavings."""
    log, lock = [], threading.Lock()
    rng = random.Random(7)

    def mk(name, deps):
        delay = rng.uniform(0.0, 0.02)

        def fn(ctx, results):
            with lock:
                log.append(("start", name))
            assert all(results[d] == d for d in deps), (name, sorted(results))
            time.sleep(delay)
            with lock:
                log.append(("end", name))
            return name

        return Task(name, fn, deps=deps)

    mids = [f"b{i}" for i in range(10)]
    tasks = [mk("a", ())] + [mk(b, ("a",)) for b in mids]
    tasks += [mk(f"c{i}", (mids[i], mids[(i + 3) % 10])) for i in range(4)]
    tasks.append(mk("z", tuple(f"c{i}" for i in range(4)) + ("b9",)))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        report = run_dag(tasks)
    finally:
        sys.setswitchinterval(old)
    assert report.ok, {n: t.error for n, t in report.tasks.items() if t.error}
    pos = {event: i for i, event in enumerate(log)}
    assert len(pos) == 2 * len(tasks)
    for t in tasks:
        for d in t.deps:
            assert pos[("end", d)] < pos[("start", t.name)], (d, t.name)


def test_sibling_tasks_run_concurrently():
    """Two siblings meet at a barrier: both succeed only if they run at
    the same time, as Airflow's executor runs them."""
    barrier = threading.Barrier(2, timeout=10)

    def meet(ctx, results):
        return barrier.wait()

    tasks = [
        Task("a", lambda ctx, r: 1),
        Task("b", meet, deps=("a",)),
        Task("c", meet, deps=("a",)),
    ]
    report = run_dag(tasks)
    assert report.ok, {n: t.error for n, t in report.tasks.items()}
    assert sorted(report.results[n] for n in "bc") == [0, 1]


def test_task_threads_inherit_spark_job_group(spark):
    """Every job a two-branch run fires, from any task thread, lands in
    the caller's job group, so cancelJobGroup covers the whole run."""
    sc = spark.sparkContext
    group = f"dag-{time.time_ns()}"

    def count(n):
        return lambda ctx, r: spark.range(n).count()

    tasks = [
        Task("a", count(10)),
        Task("b", count(20), deps=("a",)),
        Task("c", count(30), deps=("a",)),
        Task("d", lambda ctx, r: r["b"] + r["c"], deps=("b", "c")),
    ]
    jobs = sc._jsc.sc().dagScheduler()
    sc.setJobGroup(group, "weekly run")
    try:
        before = jobs.numTotalJobs()
        report = run_dag(tasks, ctx={"spark": spark})
        after = jobs.numTotalJobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert report.ok, {n: t.error for n, t in report.tasks.items()}
    assert report.results["d"] == 50
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert after - before >= 3
    assert sorted(sc.statusTracker().getJobIdsForGroup(group)) == list(range(before, after))


def test_results_pass_downstream_like_xcom():
    tasks = [
        Task("extract", lambda ctx, r: 42),
        Task("double", lambda ctx, r: r["extract"] * 2, deps=("extract",)),
    ]
    report = run_dag(tasks)
    assert report.results["double"] == 84


def test_retries_then_success():
    calls = {"n": 0}

    def flaky(ctx, r):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    report = run_dag([Task("flaky", flaky, retries=2)])
    assert report.ok
    assert report.tasks["flaky"].attempts == 3


def test_failure_marks_transitive_downstream_upstream_failed():
    def boom(ctx, r):
        raise RuntimeError("boom")

    tasks = [
        Task("a", lambda ctx, r: 1),
        Task("b", boom, deps=("a",)),
        Task("c", lambda ctx, r: 2, deps=("b",)),
        Task("d", lambda ctx, r: 3, deps=("c",)),
        Task("e", lambda ctx, r: 4, deps=("a",)),  # sibling still runs
    ]
    report = run_dag(tasks)
    assert not report.ok
    assert report.tasks["b"].state == "failed"
    assert "RuntimeError" in report.tasks["b"].error
    assert report.tasks["c"].state == "upstream_failed"
    assert report.tasks["d"].state == "upstream_failed"
    assert report.tasks["e"].state == "success"
    assert "c" not in report.results


def test_cycle_and_unknown_dep_raise_before_running():
    ran = {"any": False}

    def mark(ctx, r):
        ran["any"] = True

    with pytest.raises(ValueError, match="cycle"):
        run_dag([Task("a", mark, deps=("b",)), Task("b", mark, deps=("a",))])
    with pytest.raises(ValueError, match="unknown"):
        run_dag([Task("a", mark, deps=("ghost",))])
    with pytest.raises(ValueError, match="duplicate"):
        run_dag([Task("a", mark), Task("a", mark)])
    assert not ran["any"]


def test_electricity_dag_end_to_end(spark, sf_dir, tmp_path):
    root = str(tmp_path / "lake")
    tasks = electricity_dag(spark, sf_dir, root, run_ts="20240101_000000")
    report = run_dag(tasks, ctx={"spark": spark})
    assert report.ok, {n: (t.state, t.error) for n, t in report.tasks.items()}
    summary = report.results["notify"]
    assert summary["validated"] is True
    assert summary["records"] > 0
    assert summary["groups_profiled"] == 5
    assert summary["model_version"] == 1
    assert set(summary["metrics"]) >= {"rmse", "mae"}
    # snapshots on disk for every prefix the reference writes
    import os

    for prefix in ("raw", "processed", "reports"):
        assert os.path.isdir(f"{root}/{prefix}/run_ts=20240101_000000"), prefix


def test_electricity_dag_retention_runs_once_in_cleanup(spark, sf_dir, tmp_path):
    """Retention is the cleanup task's job alone: a second run into the
    same lake with keep=1 has cleanup delete the first run's raw,
    processed and reports snapshots, and notify reports all three."""
    import os

    root = str(tmp_path / "lake")
    for run_ts in ("20240101_000000", "20240108_000000"):
        tasks = electricity_dag(spark, sf_dir, root, run_ts=run_ts, retention_keep=1)
        report = run_dag(tasks, ctx={"spark": spark})
        assert report.ok, {n: (t.state, t.error) for n, t in report.tasks.items()}
    assert report.results["notify"]["snapshots_deleted"] == 3
    for prefix in ("raw", "processed", "reports"):
        kept = [d for d in os.listdir(f"{root}/{prefix}") if d.startswith("run_ts=")]
        assert kept == ["run_ts=20240108_000000"], prefix


def test_electricity_dag_failure_path(spark, sf_dir, tmp_path, monkeypatch):
    """A failing prepare must mark quality_summary/train/register/cleanup/
    notify upstream_failed -- the quality summary reads prepare's
    validation report, as the reference's summary task follows validate --
    the Airflow failure semantics, not a crash."""
    root = str(tmp_path / "lake")
    tasks = electricity_dag(spark, sf_dir, root, run_ts="20240101_000000")

    def boom(ctx, results):
        raise RuntimeError("storage down")

    tasks = [
        Task(t.name, boom, deps=t.deps) if t.name == "prepare" else t
        for t in tasks
    ]
    report = run_dag(tasks)
    assert report.tasks["prepare"].state == "failed"
    for name in ("quality_summary", "train", "register", "cleanup", "notify"):
        assert report.tasks[name].state == "upstream_failed", name


# The warm weekly DAG run's Spark jobs on the benchmark's readings. It was
# 42 before validation became two actions, the fit was cut with reuse() and
# the driver-built frames became local relations, and 28 before the quality
# summary reused the validation report instead of profiling the extract.
DAG_JOB_BUDGET = 24


def test_electricity_dag_job_budget(spark, tmp_path):
    """Jobs per run is the DAG's cost model (ROADMAP item 2): on the
    benchmark-sized readings (10 regions x 30 days, hourly) a warm second
    run into the same lake fires at most DAG_JOB_BUDGET jobs, its
    quality_summary starts before train finishes, and its training
    metrics equal the first run's."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "perfbench", "datagen.py")
    spec = importlib.util.spec_from_file_location("perfbench_datagen", path)
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    data = str(tmp_path / "data")
    assert datagen.write_readings(data, seed=1, days=30) == 7200

    jobs = spark.sparkContext._jsc.sc().dagScheduler()
    notify, fired, reports = [], [], []
    for run_ts in ("20240401_000000", "20240408_000000"):
        before = jobs.numTotalJobs()
        tasks = electricity_dag(spark, data, str(tmp_path / "lake"), run_ts, lookback=24, horizon=6)
        report = run_dag(tasks, ctx={"spark": spark})
        fired.append(jobs.numTotalJobs() - before)
        assert report.ok, {n: (t.state, t.error) for n, t in report.tasks.items()}
        notify.append(report.results["notify"])
        reports.append(report)
    assert fired[1] <= DAG_JOB_BUDGET, fired
    # the parallel branch overlaps train, as Airflow's executor runs it
    train, qual = reports[1].tasks["train"], reports[1].tasks["quality_summary"]
    assert qual.start_s < train.start_s + train.seconds, reports[1].tasks
    assert notify[1]["metrics"] == notify[0]["metrics"]
    assert [n["model_version"] for n in notify] == [1, 2]
