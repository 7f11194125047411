"""Schedulable job entrypoints (BASELINE.json spark_approach: "Airflow
schedules Spark jobs for forecasting pipeline").

Each job is a plain function over a SparkSession plus a __main__ CLI, so a
scheduler runs `spark-submit -m ... jobs.py prepare --input ... --lake ...`
on whatever cron the reference used (`0 0 * * 0`,
`core/airflow_dag.py:729`). XComs become return dicts; task boundaries
become function calls inside ONE Spark application (SURVEY §3.1 re-design).
"""

from __future__ import annotations

import argparse
import json
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.operators.timeseries import (
    ks_drift,
    psi_drift,
)
from electricity_forecast_pipeline_airflow_k8s_spark.pipeline import (
    run_preparation,
    run_training,
)
from electricity_forecast_pipeline_airflow_k8s_spark.sources.normalize import (
    events_as_readings,
    normalize_readings,
)
from electricity_forecast_pipeline_airflow_k8s_spark.sources.snapshots import (
    apply_retention,
    latest_snapshot,
    list_snapshots,
)
from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import read_parquet


def prepare_job(
    spark: SparkSession,
    input_path: str,
    lake_root: str,
    run_ts: str | None = None,
) -> dict[str, Any]:
    """Weekly preparation: read raw -> normalize -> validate -> snapshot ->
    retention, plus the drift check the reference only configured
    (`config.yaml:44-47`): PSI + KS between the trailing week and the rest
    of the new batch. Retention runs only after a successful validation,
    as the reference's cleanup task runs only after its upstream tasks
    succeed: a failed run adds its snapshots and deletes none."""
    # the loader's footer-pinned read: any `ts` precision lands as TIMESTAMP
    raw = read_parquet(spark, input_path)
    if "ts" in raw.columns and "period" not in raw.columns:
        raw = events_as_readings(raw)
    res = run_preparation(spark, raw, lake_root, run_ts=run_ts, fail_on_errors=False)
    if res.validated_path is not None:
        for prefix in ("raw", "processed", "reports"):
            apply_retention(spark, lake_root, prefix)

    normalized = normalize_readings(raw)
    # timestamp arithmetic, not date_sub: date_sub truncates to midnight,
    # shifting the trailing-week boundary by up to 24h from max(period)
    split_ts = normalized.agg(
        (F.max("period") - F.expr("INTERVAL 7 DAYS"))
    ).collect()[0][0]
    drift = {}
    if split_ts is not None:
        psi = {r["respondent"]: r["psi"] for r in psi_drift(normalized, F.lit(split_ts)).collect()}
        ks = {
            r["respondent"]: r["ks_stat"]
            for r in ks_drift(normalized, F.lit(split_ts)).collect()
        }
        drift = {"split_ts": str(split_ts), "psi": psi, "ks": ks}

    return {
        "raw_path": res.raw_path,
        "validated_path": res.validated_path,
        "is_valid": res.report.is_valid,
        "errors": res.report.errors,
        "warnings": res.report.warnings,
        "record_count": res.record_count,
        "drift": drift,
        "snapshots": list_snapshots(spark, lake_root, "raw"),
    }


def train_job(
    spark: SparkSession,
    lake_root: str,
    lookback: int = 168,
    horizon: int = 24,
    model_name: str = "electricity-load-forecaster",
) -> dict[str, Any]:
    """Training on the newest validated snapshot (S9 latest-read,
    `core/train_katib.py:99-104`), then registry publication: the trained
    per-group params are registered as the next model version with the
    eval metrics as the version description, mirroring the reference's
    MLflow register_model step (`core/kubeflow_pipeline.py:341-356`)."""
    from electricity_forecast_pipeline_airflow_k8s_spark.ml.registry import (
        register_model,
    )

    readings = latest_snapshot(spark, lake_root, "processed")
    res = run_training(spark, readings, lookback=lookback, horizon=horizon)
    # forecasts land in the lake, never on the driver (VERDICT r3: at 100x
    # group cardinality a collect() here is the job's memory ceiling); the
    # report carries only the path and a count
    forecast_path = f"{lake_root}/forecasts/model={model_name}"
    res.forecasts.write.mode("overwrite").parquet(forecast_path)
    n_forecast_rows = read_parquet(spark, forecast_path).count()
    version = register_model(
        spark, res.params, lake_root, model_name, metrics=res.metrics
    )
    return {
        "metrics": res.metrics,
        "n_forecast_rows": n_forecast_rows,
        "forecast_path": forecast_path,
        "model_name": model_name,
        "model_version": version,
    }


def main() -> None:
    from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark

    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="job", required=True)
    prep = sub.add_parser("prepare")
    prep.add_argument("--input", required=True)
    prep.add_argument("--lake", required=True)
    prep.add_argument("--run-ts", default=None)
    tr = sub.add_parser("train")
    tr.add_argument("--lake", required=True)
    tr.add_argument("--lookback", type=int, default=168)
    tr.add_argument("--horizon", type=int, default=24)
    args = p.parse_args()

    spark = get_spark(app_name=f"efp-{args.job}")
    if args.job == "prepare":
        out = prepare_job(spark, args.input, args.lake, args.run_ts)
    else:
        out = train_job(spark, args.lake, args.lookback, args.horizon)
    print(json.dumps(out, default=str))


if __name__ == "__main__":
    main()
