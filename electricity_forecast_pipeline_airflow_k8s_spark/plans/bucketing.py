"""Bucketed-table co-located joins (SURVEY §4 / SCALING.md shuffle
elimination).

The reference never joins at scale (single-node pandas merges); at 100 TB
the dominant cost of a fact-fact join is shuffling both sides on the key.
Spark's bucketed tables pre-shuffle AT WRITE TIME: ``bucketBy(n, key)``
hash-partitions files by key, so two tables bucketed the same way join
with ZERO exchanges -- the scan itself satisfies the join's distribution
requirement. With ``sortBy`` the merge-sort is free too. This is the
write-once/join-many layout for the lakehouse tables a pipeline joins
every run (fact-to-fact: lineitem x orders on orderkey).

Bucketed tables live in the session catalog (``saveAsTable``); plain
``.parquet()`` writes cannot carry bucket metadata. Reader requirements:
``spark.sql.sources.bucketing.enabled`` (default true) and a bucket count
matching or dividing evenly for bucket-join alignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from electricity_forecast_pipeline_airflow_k8s_spark.plans.inspect import plan_shape


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Write (or overwrite) a managed bucketed, optionally sort-bucketed,
    table."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def exchange_count(df: DataFrame) -> int:
    """Number of hash and range shuffle exchanges in the physical plan --
    the metric a bucketed join drives to zero."""
    shape = plan_shape(df)
    return shape["exchange_hash"] + shape["exchange_range"]


def bucket_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two co-bucketed catalog tables on their bucket key. With both
    sides bucketed identically this compiles to a SortMergeJoin whose
    children are bare scans (no Exchange): the shuffle was paid once at
    write time and is amortized over every subsequent join."""
    return spark.table(left_table).join(spark.table(right_table), on)
