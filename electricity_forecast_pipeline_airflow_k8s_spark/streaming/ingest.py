"""Structured Streaming surface (SURVEY §2.9; reference roadmap item
`README.md:917` -- "real-time streaming predictions", unimplemented there).

The reference's batch semantics carry over:
  * duplicate (respondent, period) rows are errors
    (`core/data_validation.py:149-154`)      -> watermark + dropDuplicates
  * quality checks per batch                  -> same Column expressions as
    operators/validation (they are plan-agnostic: batch or streaming)
  * tumbling extraction windows               -> window() aggregations

Each function takes a *streaming* DataFrame (spark.readStream...) and
returns a transformed streaming DataFrame; callers pick the sink/trigger
(tests use availableNow + memory sink). The same functions accept batch
DataFrames too -- one definition, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_late_data(
    stream: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    watermark: str = "3 hours",
) -> DataFrame:
    """Drop duplicate (group, ts) arrivals within the watermark horizon --
    the streaming form of the reference's duplicate-timestamp error. State
    is bounded by the watermark (late beyond it is dropped by Spark)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(
        [group_col, ts_col]
    )


def windowed_stats(
    stream: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
    window_duration: str = "1 hour",
    watermark: str = "3 hours",
) -> DataFrame:
    """Tumbling per-group window aggregates: the streaming analog of the
    batch resample (operators/timeseries.resample)."""
    win = F.window(ts_col, window_duration)
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
        exact_mean,
        portable_round,
    )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(group_col), win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.floor(exact_mean(value_col) * 10000 + 0.5) / 10000).alias("avg_value"),
            portable_round(F.min(value_col), 4).alias("min_value"),
            portable_round(F.max(value_col), 4).alias("max_value"),
        )
        .select(
            group_col,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n",
            "avg_value",
            "min_value",
            "max_value",
        )
    )


def incremental_ingest(
    stream: DataFrame,
    root: str,
    group_col: str = "respondent",
    ts_col: str = "period",
    checkpoint: str | None = None,
):
    """Streaming ingestion into the snapshot lake: watermark-deduped rows
    appended per micro-batch via foreachBatch, each batch validated with
    the SAME batch validation suite (operators/validation) before landing.
    Batches with errors land in a quarantine prefix instead of processed/
    -- the streaming form of the DAG's fail-the-run behavior
    (`core/airflow_dag.py:217-218`), without dropping data on the floor.

    Returns the StreamingQuery (caller controls trigger/termination)."""
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.validation import (
        validate,
    )

    deduped = dedup_late_data(stream, group_col, ts_col)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        report = validate(batch_df, group_col=group_col, ts_col=ts_col)
        prefix = "processed" if report.is_valid else "quarantine"
        batch_df.write.mode("append").parquet(f"{root}/{prefix}/batch_id={batch_id}")

    writer = deduped.writeStream.foreachBatch(land).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def session_windows(
    stream: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    gap: str = "30 minutes",
) -> DataFrame:
    """Native session windows: a session closes after ``gap`` inactivity --
    the streaming counterpart of the batch boundary-flag-cumsum
    sessionization (querydefs/sessions.py). Rows more than 3 hours late
    are dropped."""
    return (
        stream.withWatermark(ts_col, "3 hours")
        .groupBy(F.col(group_col), F.session_window(ts_col, gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            group_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def stream_quality_counts(
    stream: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
    window_duration: str = "1 hour",
) -> DataFrame:
    """Per-window violation counters (nulls, negatives) -- the incremental
    form of the batch validation suite's global checks. Rows more than 3
    hours late are dropped."""
    v = F.col(value_col)
    return (
        stream.withWatermark(ts_col, "3 hours")
        .groupBy(F.col(group_col), F.window(ts_col, window_duration).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("n_nulls"),
            F.sum(F.when(v < 0, 1).otherwise(0)).alias("n_negative"),
        )
        .select(
            group_col,
            F.col("win.start").alias("window_start"),
            "n_rows",
            "n_nulls",
            "n_negative",
        )
    )


def stream_enrich_counts(
    stream: DataFrame,
    dim: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
    dim_value_col: str = "baseline",
    watermark: str = "3 hours",
    window_duration: str = "1 hour",
) -> DataFrame:
    """Stream-static enrichment: join each event to a small static
    dimension keyed on ``group_col`` (Spark broadcasts the static side into
    every micro-batch -- no state, no shuffle of the stream beyond the
    windowed agg), then count events above their group's static baseline
    per tumbling window.

    The streaming form of the reference's per-region outlier gate
    (`core/data_validation.py:176-218`): thresholds computed offline, the
    live stream only compares against them. At scale the dim stays
    broadcast-sized (one row per group) no matter how large the stream."""
    v = F.col(value_col)
    enriched = stream.withWatermark(ts_col, watermark).join(dim, group_col)
    return (
        enriched.groupBy(F.col(group_col), F.window(ts_col, window_duration).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(v > F.col(dim_value_col), 1).otherwise(0)).alias("n_above"),
        )
        .select(
            group_col,
            F.col("win.start").alias("window_start"),
            "n_rows",
            "n_above",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    watermark: str = "4 hours",
    max_gap: str = "4 hours",
) -> DataFrame:
    """Stream-stream inner join on a key plus an event-time interval:
    right rows within (left_ts, left_ts + max_gap]. Both sides carry
    watermarks and the join condition bounds event time on BOTH inputs, so
    Spark can expire join state -- per-side state is O(rows inside the
    watermark horizon), not unbounded. This is the streaming form of the
    reference pipeline's click->purchase attribution window; at 100 TB/day
    the state bound (watermark x arrival rate) is what makes it runnable.

    The key equality keeps the join co-partitioned on ``key_col`` (one
    shuffle per side); the interval predicate is evaluated within matching
    key partitions only.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(f"l_{key_col}") == F.col(f"r_{key_col}"))
        & (F.col(right_ts) > F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"interval {max_gap}"))
    )
    return lw.join(rw, cond, "inner")


def idempotent_upsert_sink(
    stream: DataFrame,
    root: str,
    key_cols: list[str] | None = None,
    checkpoint: str | None = None,
):
    """Replay-safe keyed upsert sink for update-mode aggregates.

    foreachBatch is documented AT-LEAST-ONCE: after a failure between the
    sink write and the checkpoint commit, the next run REPLAYS the batch
    with the SAME batch_id. The standard defense (Structured Streaming
    programming guide, foreachBatch idempotence note) is to make the
    write a deterministic function of (batch_id, data): each batch lands
    under ``root/batch_id=N`` with mode=overwrite, so a replay rewrites
    the same files instead of double-appending. Readers reconstruct the
    current table as latest-batch-per-key (`read_upsert_state`), which is
    insensitive to replays by construction.

    At 100 TB/day this layout is also the compaction-friendly one: the
    per-batch dirs are an ordered change log; a periodic job folds
    batches <= B into a base snapshot and drops the dirs (same
    latest-wins semantics the reader applies on the fly).

    Returns the StreamingQuery (availableNow trigger; caller awaits)."""
    keys = key_cols or ["respondent"]

    def land(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # overwrite => replaying batch N is a no-op state-wise
        batch_df.write.mode("overwrite").parquet(f"{root}/batch_id={batch_id}")

    land.__efp_keys__ = keys  # introspectable for tests
    writer = stream.writeStream.outputMode("update").foreachBatch(land).trigger(
        availableNow=True
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start(), land


def read_upsert_state(spark, root: str, key_cols: list[str]) -> DataFrame:
    """Reconstruct the current upsert state: for each key, the row from
    the HIGHEST batch_id (update-mode emits a key only when it changes,
    so the latest emission is the live value). basePath + partition
    discovery turns the batch dirs into a `batch_id` column; one window
    per key over the (small) change log."""
    from pyspark.sql import Window as W

    df = spark.read.option("basePath", root).parquet(f"{root}/batch_id=*")
    w = W.partitionBy(*key_cols).orderBy(F.col("batch_id").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )
