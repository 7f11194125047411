"""The repository's benchmark: the weekly DAG and two sets of registry lanes,
timed end to end and, in a separate traced run, split by layer.

    python3 perfbench/run.py --workload lane_scan --seed 1 --seconds 18 --trace 0

Run it from the repository root. One workload runs in this process on
``local[nproc]``, as a closed loop with one client:

1. Generate the workload's inputs from ``--seed`` under ``.perfbench/``.
2. Set up several times (``session.get_spark`` plus a first query on the
   generated events table) and keep the median.
3. Check the outputs, untimed: every lane against its DuckDB oracle, or one
   DAG run's validation report, record count, forecast and metrics.
4. Run one untimed warm-up pass (one pass over the lane list, or one DAG
   run), then time passes until the next would end after ``--seconds``,
   and at least three passes ran.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is the run record (inputs, lane order, every pass and the run
metadata) that ``perfbench/compare.py`` reads. The exit code is non-zero when
an output check fails or no pass succeeded.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "electricity_forecast_pipeline_airflow_k8s_spark"

WORKLOADS = ("weekly_dag", "lane_scan")
SF = 0.01  # lane tables: lineitem = 60,000 rows
DAG_DAYS = 30  # readings: 10 regions x 30 days x 24 hours
SETUPS = 5
MIN_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "run_wall_s": "s",
    "lane_s_p50": "s",
    "lane_s_p95": "s",
    "success_ratio": "ratio",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "python.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "sources.load_table_s": "s",
    "sources.load_table_calls": "count",
    "sources.load_table_jobs": "count",
    "sources.write_snapshot_s": "s",
    "sources.write_snapshot_bytes": "bytes",
    "sources.apply_retention_s": "s",
    "querydefs.build_s": "s",
    "querydefs.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.jobs": "count",
    "exec.s_per_job": "s",
    "exec.idle_s": "s",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_s": "s",
    "validation.validate_s": "s",
    "validation.validate_jobs": "count",
    "profile.quality_profile_s": "s",
    "pipeline.run_preparation_s": "s",
    "pipeline.run_training_s": "s",
    "ml.register_model_s": "s",
    **{
        f"orchestrate.task_s.{t}": "s"
        for t in ("extract", "prepare", "quality_summary", "train", "register", "cleanup", "notify")
    },
    "orchestrate.attempts": "count",
    "orchestrate.retried_attempts": "count",
    "trace.overhead_s": "s",
}

# per-layer metric -> (span name, field) for the spans recorded in tracing.py
_SPAN_METRICS = {
    "sources.load_table_s": ("sources.load_table", "s"),
    "sources.load_table_calls": ("sources.load_table", "calls"),
    "sources.load_table_jobs": ("sources.load_table", "jobs"),
    "sources.write_snapshot_s": ("sources.write_snapshot", "s"),
    "sources.write_snapshot_bytes": ("sources.write_snapshot", "bytes"),
    "sources.apply_retention_s": ("sources.apply_retention", "s"),
    "catalyst.plan_s": ("catalyst.plan", "s"),
    "validation.validate_s": ("validation.validate", "s"),
    "validation.validate_jobs": ("validation.validate", "jobs"),
    "profile.quality_profile_s": ("profile.quality_profile", "s"),
    "pipeline.run_preparation_s": ("pipeline.run_preparation", "s"),
    "pipeline.run_training_s": ("pipeline.run_training", "s"),
    "ml.register_model_s": ("ml.register_model", "s"),
}


def _environment(work: str) -> None:
    """Process environment, set before the JVM starts so that the JVM and
    Spark's Python workers inherit it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the program's default reuse mode, whatever the caller's shell says
    os.environ.pop("SPARK_GRAFT_SCOPED_CACHE", None)
    # Python workers import the package by name, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # scratch files (shuffle, spill, checkpoints, temp) stay in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}") if p
    )
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def _p95(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=20, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def _layer_values(tracer, res) -> dict[str, float]:
    totals = tracer.totals(res.trace_ids)
    out = {m: float(totals.get(span, {}).get(f, 0.0)) for m, (span, f) in _SPAN_METRICS.items()}
    ex = res.exec
    out.update({
        "exec.jobs": ex.jobs,
        "exec.s_per_job": ex.job_s / ex.jobs if ex.jobs else 0.0,
        "exec.idle_s": ex.idle_s,
        "exec.stages": ex.stages,
        "exec.tasks": ex.tasks,
        "exec.shuffle_read_bytes": ex.shuffle_read_bytes,
        "exec.shuffle_write_bytes": ex.shuffle_write_bytes,
        "exec.spill_bytes": ex.spill_bytes,
        "exec.executor_run_s": ex.executor_run_s,
    })
    for m in PER_LAYER:
        if m.startswith(("querydefs.", "orchestrate.")):
            out[m] = float(res.layers.get(m, 0.0))
    return out


def run(args, work: str) -> int:
    import datagen
    import workloads as W
    from tracing import Tracer

    phase_s: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phase_s[name] = now - t_phase
        t_phase = now

    data = os.path.join(work, "data")
    if args.workload == "weekly_dag":
        rows = {"events": datagen.write_readings(data, args.seed, DAG_DAYS)}
    else:
        rows = datagen.write_lane_tables(data, args.seed, SF)
    phase("datagen")

    from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark
    from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import load_table
    from telemetry import StealMeter, peak_rss_mb, reset_peak_rss, run_metadata

    setup_s, get_spark_s = [], []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench")
            t1 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            load_table(spark, "events", data).count()
            setup_s.append(time.perf_counter() - t0)
            get_spark_s.append(t1 - t0)
        phase("setup")

        # -- correctness, untimed ------------------------------------------
        lanes: list[str] = []
        ref_metrics = None
        if args.workload == "weekly_dag":
            lakes = itertools.count()

            def run_pass(tracer):
                lake = os.path.join(work, f"lake-{next(lakes)}")
                try:
                    return W.dag_pass(spark, data, lake, tracer)
                finally:
                    shutil.rmtree(lake, ignore_errors=True)

            lake = os.path.join(work, f"lake-{next(lakes)}")
            first = W.dag_pass(spark, data, lake)
            bad = W.check_dag(spark, first, rows["events"])
            shutil.rmtree(lake, ignore_errors=True)
            ref_metrics = first.dag_metrics
        else:
            from electricity_forecast_pipeline_airflow_k8s_spark.queries import registry

            reg = registry()
            lanes = list(W.LANE_SCAN)
            random.Random(args.seed).shuffle(lanes)

            def run_pass(tracer):
                return W.lane_pass(spark, reg, lanes, data, tracer)

            bad = W.check_lanes(spark, lanes, data)
        if bad:
            print("perfbench: output check failed:\n  " + "\n  ".join(bad), file=sys.stderr)
            return 1
        phase("check")

        # -- timed passes ----------------------------------------------------
        # One untimed pass first: the JVM is still compiling after the check,
        # and the pass that follows it runs 10-50% slower than the next. Then
        # passes run in blocks, one untraced pass, or with --trace 1 the
        # untraced/traced/traced/untraced order, which cancels a steady
        # drift out of the tracing overhead, until the next block would end
        # after --seconds, and at least MIN_PASSES passes ran.
        spark.sparkContext._jvm.System.gc()  # the check grew the heap
        run_pass(None)
        phase("warmup")
        reset_peak_rss(spark)
        steal = StealMeter()
        tracer = Tracer(spark) if args.trace else None
        block = (False, True, True, False) if tracer else (False,)
        passes: list[tuple[bool, object]] = []
        t_end = time.perf_counter() + args.seconds
        while len(passes) < MIN_PASSES or (
            time.perf_counter() + len(block) * statistics.median(r.wall_s for _, r in passes) <= t_end
        ):
            for traced in block:
                if traced:
                    tracer.install()
                try:
                    passes.append((traced, run_pass(tracer if traced else None)))
                finally:
                    if traced:
                        tracer.uninstall()
        phase("timed")

        # every DAG run of the same input must reproduce the checked metrics
        correct = all(r.dag_metrics == ref_metrics for _, r in passes if r.ok and r.report)
        attempted = sum(r.attempted for _, r in passes)
        failed = sum(r.failed for _, r in passes)
        plain = [r for t, r in passes if not t]
        plain_ok = [r.wall_s for r in plain if r.ok]
        ops = [sec for r in plain for sec in r.op_s.values()]
        if not plain_ok or not ops:
            print("perfbench: no pass succeeded", file=sys.stderr)
            return 1
        rss = peak_rss_mb(spark)
        e2e = {
            "setup_s": statistics.median(setup_s),
            "run_wall_s": statistics.median(plain_ok),
            "lane_s_p50": statistics.median(ops),
            "lane_s_p95": _p95(ops),
            "success_ratio": (attempted - failed) / attempted,
        }
        if tracer is None:
            metrics = e2e
        else:
            traced_ok = [r for t, r in passes if t and r.ok]
            if not traced_ok:
                print("perfbench: no traced pass succeeded", file=sys.stderr)
                return 1
            per_pass = [_layer_values(tracer, r) for r in traced_ok]
            metrics = {m: statistics.median(v[m] for v in per_pass) for m in per_pass[0]}
            metrics["session.get_spark_s"] = statistics.median(get_spark_s)
            metrics["python.peak_rss_mb"] = rss["python"]
            metrics["jvm.peak_rss_mb"] = rss["jvm"]
            metrics["trace.overhead_s"] = statistics.median(r.wall_s for r in traced_ok) - e2e["run_wall_s"]
            os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json"))
        units = PER_LAYER if tracer else END_TO_END
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "sf": SF if lanes else None,
            "input_rows": rows,
            "lanes": lanes,
            "phase_s": phase_s,
            "setup_samples_s": setup_s,
            "get_spark_samples_s": get_spark_s,
            "passes": [
                {"traced": t, "wall_s": r.wall_s, "failed": r.failed, "op_s": r.op_s} for t, r in passes
            ],
            "fail_ratio": failed / attempted,
            "peak_rss_mb": rss,
            "cpu_steal_share": steal.share(),
            "end_to_end": e2e,
            "metrics": metrics,
            **run_metadata(spark, ROOT, PACKAGE),
        }
        print(json.dumps({"record": record}))
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()},
        }))
        if not correct:
            print("perfbench: DAG metrics differ between runs of the same input", file=sys.stderr)
            return 1
        return 0
    finally:
        if spark is not None:
            _stop(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found beside perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _environment(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
