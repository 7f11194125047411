"""End-to-end job assembly (SURVEY §3.1 re-design): the Airflow DAG's
extract -> validate -> summarize -> cleanup task chain collapses into one
Spark application with three actions; XComs become return values; any
scheduler (Airflow per BASELINE.json's approach) owns only the cron
trigger.

Reference flow: `core/airflow_dag.py:778`
    extract_data >> validate_data >> data_quality_summary >> ... >>
    cleanup_old_files
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from functools import cached_property
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.ml.forecast import (
    fit_per_group,
    forecast_rows,
    predict_per_group,
)
from electricity_forecast_pipeline_airflow_k8s_spark.ml.metrics import forecast_metrics
from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import reuse
from electricity_forecast_pipeline_airflow_k8s_spark.operators.scaling import (
    apply_minmax,
    fit_minmax,
    inverse_minmax,
)
from electricity_forecast_pipeline_airflow_k8s_spark.operators.timeseries import (
    chronological_split,
    sequence_windows,
    tail_window,
)
from electricity_forecast_pipeline_airflow_k8s_spark.operators.validation import (
    ValidationReport,
    validate,
)
from electricity_forecast_pipeline_airflow_k8s_spark.session import local_frame
from electricity_forecast_pipeline_airflow_k8s_spark.sources.normalize import (
    normalize_readings,
)
from electricity_forecast_pipeline_airflow_k8s_spark.sources.snapshots import (
    write_snapshot,
)


@dataclass
class PreparationResult:
    raw_path: str
    validated_path: str | None
    report: ValidationReport
    record_count: int


def run_preparation(
    spark: SparkSession,
    raw: DataFrame,
    root: str,
    run_ts: str | None = None,
    fail_on_errors: bool = True,
) -> PreparationResult:
    """extract->validate->persist as one Spark app.

    Mirrors `core/airflow_dag.py:87-225`: raw snapshot, validation
    (raising on errors like the DAG's task failure), validated snapshot +
    JSON report. Storage is Parquet snapshots instead of CSV objects
    (SURVEY §4.2). Retention is the caller's step, run only after a
    successful preparation, as the reference's cleanup_old_files
    (`core/airflow_dag.py:570-631`) runs only after its upstream tasks
    succeed: the DAG's cleanup task, or jobs.prepare_job."""
    normalized = normalize_readings(raw)
    raw_path = write_snapshot(normalized, root, "raw", run_ts)

    report = validate(normalized)
    validated_path = None
    if report.is_valid:
        validated_path = write_snapshot(normalized, root, "processed", run_ts)
    n = report.stats["total_records"]

    # report JSON beside the snapshots (reference: `core/airflow_dag.py:186-197`)
    report_df = local_frame(spark, [(json.dumps(report.as_dict()),)], "report string")
    write_snapshot(report_df, root, "reports", run_ts)

    if fail_on_errors and not report.is_valid:
        raise ValueError(f"validation failed: {report.errors}")
    return PreparationResult(raw_path, validated_path, report, n)


@dataclass
class TrainingResult:
    params: DataFrame
    metrics: dict[str, Any]
    scaled: DataFrame = field(repr=False)
    scale_params: DataFrame = field(repr=False)
    lookback: int = field(repr=False)

    @cached_property
    def forecasts(self) -> DataFrame:
        """(respondent, hour, predicted_load): the next ``horizon`` hours
        after each group's last ``lookback`` scaled readings, in load
        units. Built on first access, since building the frame costs
        driver-side analysis and py4j calls that a caller which only
        registers the model (the weekly DAG) does not need."""
        lookback = self.lookback
        # collect_list has no ordering guarantee after a shuffle; sort (ts, v)
        # structs then project to keep the window chronological
        latest = (
            tail_window(self.scaled, n=lookback)
            .groupBy("respondent")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("period", "value_scaled"))
                ).alias("pairs")
            )
            .select(
                "respondent",
                F.transform("pairs", lambda p: p.getField("value_scaled")).alias("x"),
            )
            .filter(F.size("x") >= lookback)
            .select("respondent", F.slice("x", -lookback, lookback).alias("x"))
        )
        fc = forecast_rows(predict_per_group(latest, self.params))
        return inverse_minmax(
            fc.withColumnRenamed("predicted_load", "value_scaled"),
            self.scale_params,
            out_col="predicted_load",
        ).select("respondent", "hour", "predicted_load")


def run_training(
    spark: SparkSession,
    readings: DataFrame,
    lookback: int = 168,
    horizon: int = 24,
) -> TrainingResult:
    """The Kubeflow training pipeline (SURVEY §3.2) as DataFrame stages:
    region select (A12: the region with the most readings, ties to the
    smallest name) -> minmax scale (U3; the full-series fit replicates the
    reference's leakage, `core/kubeflow_pipeline.py:108-109`) ->
    chronological split (W4) -> windows (W3) -> per-group ridge fit/eval
    (U4/U5) -> inverse-scaled forecast, built when
    ``TrainingResult.forecasts`` is first read.

    The fitted params frame is cut with ``reuse``, so the fit runs once per
    training run: the metrics collect, the forecasts and every later
    consumer of ``TrainingResult.params`` (the registry write, a job's
    forecast write) read the blocks of its first action instead of
    re-running read -> region select -> split -> scale -> windows -> fit."""
    top = (
        readings.groupBy("respondent")
        .count()
        .orderBy(F.desc("count"), "respondent")
        .limit(1)
    )
    readings = readings.join(F.broadcast(top.select("respondent")), "respondent")

    split = chronological_split(readings)
    params_mm = fit_minmax(split)
    scaled = apply_minmax(split, params_mm)

    wins = sequence_windows(
        scaled,
        value_col="value_scaled",
        lookback=lookback,
        horizon=horizon,
        extra_partition_cols=("split",),
    )
    model = reuse(fit_per_group(wins, lookback=lookback, horizon=horizon))

    test = wins.filter(F.col("split") == "test").select("respondent", "x", "y")
    preds = predict_per_group(test, model)
    pairs = preds.select(
        "respondent", F.explode(F.arrays_zip("y", "forecast")).alias("z")
    ).select(
        "respondent",
        F.col("z.y").alias("actual"),
        F.col("z.forecast").alias("predicted"),
    )
    m = forecast_metrics(pairs).collect()
    metrics = (
        {"n": m[0]["n"], "rmse": m[0]["rmse"], "mape": m[0]["mape"], "mae": m[0]["mae"]}
        if m and m[0]["n"]
        else {"n": 0, "rmse": None, "mape": None, "mae": None}
    )

    return TrainingResult(model, metrics, scaled, params_mm, lookback)
