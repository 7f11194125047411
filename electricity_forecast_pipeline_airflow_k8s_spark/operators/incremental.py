"""Incremental aggregate maintenance: mergeable per-group partial stats.

The reference recomputes its validation stats over the full CSV on every
weekly run (`core/airflow_dag.py:156-197`). At 100 TB a full recompute
per ingest is the bottleneck, so the scale design keeps per-group partial
aggregates as STATE (count / decimal sum / min / max), folds each new
batch's partials in with a state-sized merge, and derives the final stats
from state -- the classic mergeable-aggregate rollup:

    state_t = merge(state_{t-1}, partial_stats(batch_t))
    finalize(state_t) == full recompute over all batches (proved by the
    `inc_agg_merge` oracle, which recomputes from scratch in DuckDB)

Every partial here is algebraically mergeable (sums of counts/decimal
sums, min of mins, max of maxes), so the merge is exact regardless of how
the data was batched -- decimal sums make it association-order free.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partial_stats(
    df: DataFrame, group_col: str = "respondent", value_col: str = "value"
) -> DataFrame:
    """Per-group mergeable partials for one batch: one hash agg with full
    map-side combine; the shuffle carries n_groups rows per partition."""
    v = F.col(value_col)
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(v).alias("n_vals"),
        F.sum(v.cast("decimal(18,2)")).alias("sum_dec"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    )


def merge_partial_stats(*states: DataFrame) -> DataFrame:
    """Fold any number of partial-stats frames into one state frame.
    Cost is proportional to state size (groups x batches rows), never to
    the underlying data."""
    group_col = states[0].columns[0]
    merged = reduce(lambda a, b: a.unionByName(b), states)
    return merged.groupBy(group_col).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_vals").alias("n_vals"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def finalize_stats(state: DataFrame) -> DataFrame:
    """Derive reportable stats from state. Mean = exact decimal sum /
    count (the repo-wide cross-engine-exact convention), at 4 decimals."""
    group_col = state.columns[0]
    mean = F.try_divide(F.col("sum_dec").cast("double"), F.col("n_vals"))
    return state.select(
        F.col(group_col),
        "n_rows",
        "n_vals",
        (F.floor(mean * 10000 + 0.5) / 10000).alias("mean_v"),
        "min_v",
        "max_v",
    )
