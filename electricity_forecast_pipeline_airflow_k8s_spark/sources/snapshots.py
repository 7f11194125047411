"""Immutable snapshot layout + latest-snapshot selection + retention
(SURVEY §2.1 S6/S9/S10).

The reference writes timestamped CSV objects to MinIO and manages them with
client-side list/sort/delete loops (`core/airflow_dag.py:113-123,570-631`;
latest-read at `core/train_katib.py:99-104`). Spark-native: snapshots are
Parquet directories under ``<root>/<prefix>/run_ts=<ts>/``; "latest" is a
max() over the partition listing; retention is keep-newest-K over the same
listing. Listing goes through the Hadoop FileSystem API, so the identical
code runs against file://, hdfs://, or s3a:// (MinIO)."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import read_parquet


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath, jvm


def write_snapshot(
    df: DataFrame, root: str, prefix: str, run_ts: str | None = None
) -> str:
    """Write one immutable snapshot; returns its path. run_ts format mirrors
    the reference's %Y%m%d_%H%M%S object names (`core/airflow_dag.py:113`)."""
    run_ts = run_ts or datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S")
    path = f"{root}/{prefix}/run_ts={run_ts}"
    df.write.mode("errorifexists").parquet(path)
    return path


def list_snapshots(spark: SparkSession, root: str, prefix: str) -> list[str]:
    """Snapshot run_ts values, ascending (lexicographic == chronological
    for the fixed timestamp format)."""
    fs, jpath, _ = _fs_and_path(spark, f"{root}/{prefix}")
    if not fs.exists(jpath):
        return []
    out = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if name.startswith("run_ts="):
            out.append(name.split("=", 1)[1])
    return sorted(out)


def latest_snapshot(spark: SparkSession, root: str, prefix: str) -> DataFrame:
    """Read the newest snapshot (`core/train_katib.py:99-104` semantics),
    schema pinned from its footer."""
    snaps = list_snapshots(spark, root, prefix)
    if not snaps:
        raise FileNotFoundError(f"no snapshots under {root}/{prefix}")
    return read_parquet(spark, f"{root}/{prefix}/run_ts={snaps[-1]}")


def apply_retention(
    spark: SparkSession, root: str, prefix: str, keep: int = 10
) -> list[str]:
    """Delete all but the newest ``keep`` snapshots (keep=10 per
    `core/airflow_dag.py:607`); returns deleted run_ts values."""
    snaps = list_snapshots(spark, root, prefix)
    doomed = snaps[:-keep] if keep > 0 else snaps
    fs, _, jvm = _fs_and_path(spark, f"{root}/{prefix}")
    for ts in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/{prefix}/run_ts={ts}"), True)
    return doomed


def schema_drift(old: DataFrame, new: DataFrame) -> dict[str, list]:
    """Schema diff between two snapshots: added / dropped / type-changed
    columns -- the check a weekly ingest runs BEFORE processing so an
    upstream contract change (EIA adding a facet column, a type widening)
    surfaces as a report instead of a mid-job cast error. The reference's
    permissive Pandera schema (`core/data_validation.py:28-70`,
    strict=False + coerce) tolerates drift silently; at 100 TB silent
    drift means a corrupted backfill, so surface it.

    Metadata-only: reads both schemas, touches zero data rows."""
    old_t = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    new_t = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    return {
        "added": sorted(n for n in new_t if n not in old_t),
        "dropped": sorted(n for n in old_t if n not in new_t),
        "type_changed": sorted(
            (n, old_t[n], new_t[n])
            for n in old_t.keys() & new_t.keys()
            if old_t[n] != new_t[n]
        ),
    }
