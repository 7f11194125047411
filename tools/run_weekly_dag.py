"""Run the reference's weekly DAG end-to-end at sf0.1 and commit the
produced artifacts under docs/weekly_run/ (VERDICT r9 item 7).

The orchestration surface (`orchestrate.electricity_dag`) runs in pytest
at sf0.001 every round; this tool is the *exhibit* run — the full
extract → prepare → quality → train → register → cleanup → notify chain
at the bench scale factor, with the validation-report JSON, the model
registry summary, and the per-task run report captured as committed
files so the reference-faithful "weekly run" is a reviewable artifact,
not a transient test side effect.

Reference parity: `core/airflow_dag.py:778` (task chain), `:186-197`
(report JSON beside snapshots), `core/kubeflow_pipeline.py:341-356`
(registered model version). Deterministic: fixed run_ts, fixed sf dir,
closed-form ridge trainer.

Usage: python tools/run_weekly_dag.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUN_TS = "20260816_000000"


def main(
    sf_dir: str = "/root/testdata/sf0.1",
    out_dir: str | None = None,
) -> int:
    from electricity_forecast_pipeline_airflow_k8s_spark.orchestrate import (
        electricity_dag,
        run_dag,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = out_dir or os.path.join(repo, "docs", "weekly_run")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="weekly-dag", master="local[8]", shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as lake:
        tasks = electricity_dag(spark, sf_dir, lake, run_ts=RUN_TS)
        report = run_dag(tasks, ctx={"spark": spark})

        # -- per-task run report (the Airflow UI view, as data): start_s is
        # each task's offset from the run's start, so overlapping tasks show
        # as overlapping [start_s, start_s + seconds) intervals -----------
        run_report = {
            "sf_dir": sf_dir,
            "run_ts": RUN_TS,
            "ok": report.ok,
            "wall_s": report.wall_s,
            "tasks": {
                n: {
                    "state": t.state,
                    "attempts": t.attempts,
                    "start_s": t.start_s,
                    "seconds": t.seconds,
                }
                for n, t in report.tasks.items()
            },
            "notify_summary": report.results.get("notify"),
        }
        with open(os.path.join(out_dir, "run_report.json"), "w") as f:
            json.dump(run_report, f, indent=1, sort_keys=True)

        # -- the validation report the prepare task wrote beside snapshots --
        prep = report.results["prepare"]
        with open(os.path.join(out_dir, "validation_report.json"), "w") as f:
            json.dump(prep.report.as_dict(), f, indent=1, sort_keys=True)

        # -- model registry summary (catalog + per-group params shape) ------
        tr = report.results["train"]
        params = [
            {
                "respondent": r["respondent"],
                "lookback": r["lookback"],
                "horizon": r["horizon"],
                "n_train": r["n_train"],
                "n_weights": len(r["weights"]),
            }
            for r in tr.params.collect()
        ]
        registry_summary = {
            "model_name": "load-forecaster",
            "registered_version": report.results["register"],
            "metrics": tr.metrics,
            "params": sorted(params, key=lambda p: p["respondent"]),
            "forecast_rows": tr.forecasts.count(),
        }
        with open(os.path.join(out_dir, "registry_summary.json"), "w") as f:
            json.dump(registry_summary, f, indent=1, sort_keys=True)

    print(json.dumps({"ok": report.ok, "out_dir": out_dir}))
    return 0 if report.ok else 1


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
