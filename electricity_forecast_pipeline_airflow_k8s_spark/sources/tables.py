"""Parquet table loaders for the driver testdata layout (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings -- one parquet per table under an sf directory.

Columnar Parquet replaces the reference's CSV snapshots
(`core/airflow_dag.py:203` writes CSV; every downstream stage re-parses
timestamps, e.g. `core/kubeflow_pipeline.py:94`): with Parquet the schema is
typed once, in the footer, and pinned from there without a Spark job; scans
are vectorized, and Catalyst pushes filters/projections into the row groups.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.errors import PySparkTypeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import LongType, StructField, StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> tuple[StructType, bool]:
    """(Spark schema, whether ``ts`` is TIMESTAMP(NANOS)) of a parquet file
    or directory, from one footer read on the driver -- no Spark job.

    Spark-written footers carry the Spark schema itself, which is what
    Spark's own inference returns. Other footers map field by field as
    Spark infers them, except TIMESTAMP(NANOS): Spark has no nanosecond
    type, so ``ts`` reads as its raw int64 nanos and any other nanos
    column is an error rather than a silent bigint.
    """
    try:
        arrow = ds.dataset(path, format="parquet").schema
    except (OSError, pa.ArrowInvalid) as exc:
        raise ValueError(f"cannot read the parquet footer of {path!r}: {exc}") from exc
    spark_json = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return StructType.fromJson(json.loads(spark_json)), False
    fields, ts_nanos = [], False
    for f in arrow:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            if f.name != "ts":
                raise ValueError(
                    f"column {f.name!r} of {path!r} is TIMESTAMP(NANOS); only "
                    "the events 'ts' column may carry nanoseconds"
                )
            dtype, ts_nanos = LongType(), True
        else:
            try:
                dtype = from_arrow_type(f.type, prefer_timestamp_ntz=True)
            except PySparkTypeError as exc:
                raise ValueError(
                    f"column {f.name!r} of {path!r} has arrow type {f.type}, "
                    "which has no Spark type"
                ) from exc
        fields.append(StructField(f.name, dtype, True))
    return StructType(fields), ts_nanos


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet with the schema pinned from its footer. A ``ts``
    column comes back as a session-TZ TIMESTAMP whatever precision or
    annotation the writer chose, which every downstream consumer assumes:

    - TIMESTAMP(NANOS): read as int64 nanos and truncated to microsecond
      timestamps with integer arithmetic -- the same truncation DuckDB
      applies casting TIMESTAMP_NS -> TIMESTAMP, so oracle comparisons
      stay exact.
    - TIMESTAMP(MICROS/MILLIS, isAdjustedToUTC=false): read as
      TIMESTAMP_NTZ, which `unix_micros`/interval arithmetic reject, and
      cast to TIMESTAMP. The cast reinterprets the wall-clock fields in
      the session TZ (UTC here), which is exactly how DuckDB's `epoch_us`
      treats the same values, so oracle parity holds.
    - already TIMESTAMP, or a genuine int64 (no timestamp annotation):
      passthrough.
    """
    schema, ts_nanos = _footer_schema(path)
    df = spark.read.schema(schema).parquet(path)
    if ts_nanos:
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if "ts" in schema.fieldNames() and isinstance(schema["ts"].dataType, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one testdata table. Plain parquet scan -- predicate pushdown,
    column pruning, and split-based parallelism all come from Catalyst;
    the schema comes from the footer (:func:`read_parquet`)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")
