"""Model registry on the lake: versioned params-as-data.

The reference registers each trained model in an MLflow Model Registry
backed by MinIO (`core/kubeflow_pipeline.py:330-368`: log_model ->
register_model -> version number -> metric description) and resolves
"latest" at serving time. Spark-first, a model IS a DataFrame (the
params-as-data convention of ml/forecast.py), so the registry is two
parquet surfaces:

* ``<root>/registry/<name>/v=<version>/`` -- the immutable per-version
  params snapshot (one row per group: weights, lookback, horizon);
* ``<root>/registry_catalog/`` -- an append-only catalog of
  (model_name, version, created_ts, metrics_json, path) rows. Appends
  are atomic at the parquet-file level, versions are monotonically
  increasing per name, and "latest" is an argmax over the catalog. It
  sits beside ``registry/``, not in it, so no model name can clash with
  it, and its name starts with neither ``_`` nor ``.``, which Spark and
  pyarrow treat as hidden.

No external service, no pickle: everything is columnar, scan-parallel,
and readable by any engine. Retention composes with
sources/snapshots.apply_retention semantics (keep-newest-K versions).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.session import local_frame
from electricity_forecast_pipeline_airflow_k8s_spark.sources.snapshots import _fs_and_path
from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import read_parquet

CATALOG_SCHEMA = (
    "model_name string, version long, created_ts timestamp, "
    "metrics_json string, path string"
)


def _catalog_path(root: str) -> str:
    return f"{root.rstrip('/')}/registry_catalog"


def _version_path(root: str, name: str, version: int) -> str:
    return f"{root.rstrip('/')}/registry/{name}/v={version}"


def _catalog_exists(spark: SparkSession, root: str) -> bool:
    """False before the first registration."""
    fs, jpath, _ = _fs_and_path(spark, _catalog_path(root))
    return fs.exists(jpath)


def _read_catalog(spark: SparkSession, root: str) -> DataFrame:
    if not _catalog_exists(spark, root):
        return local_frame(spark, [], CATALOG_SCHEMA)
    return spark.read.schema(CATALOG_SCHEMA).parquet(_catalog_path(root))


def register_model(
    spark: SparkSession,
    params: DataFrame,
    root: str,
    name: str,
    metrics: dict | None = None,
) -> int:
    """Persist ``params`` as the next version of ``name`` and append the
    catalog row; returns the new version number (1-based, monotone).

    Mirrors `core/kubeflow_pipeline.py:341-356` (register + versioned
    description carrying the eval metrics)."""
    version = (latest_version(spark, root, name) or 0) + 1
    path = _version_path(root, name, version)
    params.write.mode("errorifexists").parquet(path)
    row = [(name, version, None, json.dumps(metrics or {}, sort_keys=True), path)]
    entry = local_frame(spark, row, CATALOG_SCHEMA).withColumn(
        "created_ts", F.current_timestamp()
    )
    entry.write.mode("append").parquet(_catalog_path(root))
    return version


def latest_version(spark: SparkSession, root: str, name: str) -> int | None:
    """Newest registered version of ``name``, or None. Before the first
    registration that takes no Spark job: an aggregate over the empty
    catalog would still run one."""
    if not _catalog_exists(spark, root):
        return None
    v = (
        _read_catalog(spark, root)
        .filter(F.col("model_name") == name)
        .agg(F.max("version").alias("v"))
        .collect()[0]["v"]
    )
    return int(v) if v is not None else None


def load_model(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> DataFrame:
    """Params DataFrame for (name, version); latest when version is None
    (the serving-time "load current model" resolution the reference does
    through the MLflow client)."""
    if version is None:
        version = latest_version(spark, root, name)
        if version is None:
            raise FileNotFoundError(f"no registered versions of {name!r}")
    return read_parquet(spark, _version_path(root, name, version))


def describe(spark: SparkSession, root: str, name: str | None = None) -> DataFrame:
    """Catalog view: one row per (model, version) with parsed metric
    columns, newest first."""
    cat = _read_catalog(spark, root)
    if name is not None:
        cat = cat.filter(F.col("model_name") == name)
    return cat.orderBy(F.desc("created_ts"), F.desc("version"))


def apply_version_retention(
    spark: SparkSession, root: str, name: str, keep: int = 3
) -> list[int]:
    """Drop all but the newest ``keep`` versions of ``name`` (storage
    hygiene for per-group params that can be wide at many groups).
    Returns the deleted version numbers. Catalog rows for deleted
    versions are retained as history (MLflow keeps registry metadata for
    archived versions too)."""
    versions = sorted(
        r["version"]
        for r in _read_catalog(spark, root)
        .filter(F.col("model_name") == name)
        .select("version")
        .distinct()
        .collect()
    )
    doomed = versions[:-keep] if keep > 0 else versions
    for v in doomed:
        fs, jpath, _ = _fs_and_path(spark, _version_path(root, name, v))
        fs.delete(jpath, True)
    return [int(v) for v in doomed]
