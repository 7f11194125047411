"""Per-group data-quality profile -- the engine's flagship query.

Re-expresses the entire quality pass of the reference validator
(`core/data_validation.py:110-226`) as ONE declarative Spark plan instead of
O(regions) Python loops that each re-scan the whole frame
(`core/data_validation.py:116-133,177-185,192-218` -- the anti-pattern table
in SURVEY §4.2).

Per group key (reference: `respondent` region; driver analog: events
`event_type`) it computes in a single pass + two tiny self-joins:

  * row/null counts and null rate        (A1/A2,  `core/data_validation.py:139-147,158-159`)
  * min/max timestamp                    (A5,     `core/data_validation.py:163-164`)
  * mean/stddev/median                   (A6/A7,  `core/data_validation.py:167-171`)
  * exact Q1/Q3 -> IQR x3 outlier bounds (A8/A10, `core/data_validation.py:192-200`)
  * outlier count + pct                  (A11,    `core/data_validation.py:202-218`)
  * duplicate-timestamp count            (A13,    `core/data_validation.py:149-154`)
  * gap count + max gap via lag          (W1,     `core/data_validation.py:110-133`)

Scale notes (100 TB): the heavy input is scanned ONCE and shuffled ONCE
(hash on the group key, sorted by ts for the lag window). Quantiles are
evaluated as whole-partition window aggregates over that same shuffle, so
every row carries its group's IQR bounds and the outlier flag is computed
inline -- no second scan, no bounds join-back. The final groupBy reuses
the window's partitioning (no extra exchange -- pinned by
tests/test_plans.py). Measured 4-8x faster than the two-scan
broadcast-join layout at sf0.1. With few group keys AQE skew handling
applies (session default). Quantiles are exact ``percentile``, matched by
the DuckDB oracle; :func:`quality_profile_scale` is the mergeable layout
for inputs too large for one task per group.

The thresholds are the reference's fixed values, shared by the Spark
builders, their DuckDB oracles and ``operators.validation``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 1.5x the expected hourly cadence, as in the reference
# (`core/data_validation.py:124-126`: Timedelta(hours=1) * 1.5).
GAP_TOLERANCE_SECONDS = 5400
# outlier bounds Q1 - k*IQR, Q3 + k*IQR (`core/data_validation.py:195-197`)
IQR_K = 3.0
# decimals of every double the profile reports, in both engines
ROUND_TO = 4
# the scale path's quantile grid: values binned to 10^-GRID_DECIMALS
GRID_DECIMALS = 2


def windowed_by_group(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """The rows of ``df`` (group, ts and value only), each carrying its
    group's exact quantiles ``_q1``/``_median``/``_q3``, IQR x ``IQR_K`` bounds
    ``_lower``/``_upper`` and ``_gap_us``, the microseconds since the
    group's previous timestamp.

    One shuffle serves both window computations over the same hash
    partitioning: the ordered lag (gaps) and the whole-partition
    quantiles (bounds). Every row then carries its group's IQR bounds, so
    the outlier comparison (`core/data_validation.py:195-202`, a
    per-region Python loop there) happens inline, and one grouped agg
    over this frame finishes a per-group pass without another exchange
    (:func:`quality_profile`, ``operators.validation.validate``)."""
    g, t, v = F.col(group_col), F.col(ts_col), F.col(value_col)
    quantiles = F.percentile(v, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    wp = Window.partitionBy(g)
    wo = wp.orderBy(t)
    gap_us = F.unix_micros(t) - F.unix_micros(F.lag(t).over(wo))
    q1, q3 = F.element_at("_qs", 1), F.element_at("_qs", 3)
    return df.select(
        g.alias(group_col),
        t.alias(ts_col),
        v.alias(value_col),
        quantiles.over(wp).alias("_qs"),
        gap_us.alias("_gap_us"),
    ).withColumns(
        {
            "_q1": q1,
            "_median": F.element_at("_qs", 2),
            "_q3": q3,
            "_lower": q1 - IQR_K * (q3 - q1),
            "_upper": q3 + IQR_K * (q3 - q1),
        }
    )


def quality_profile(
    df: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
) -> DataFrame:
    """One row per group with the full quality profile. Deterministic
    (all stats are exact aggregates; doubles rounded to ``ROUND_TO``)."""
    t, v = F.col(ts_col), F.col(value_col)
    enriched = windowed_by_group(df, group_col, ts_col, value_col)
    lower, upper = F.col("_lower"), F.col("_upper")

    from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
        portable_round,
    )

    r = lambda c: portable_round(c, ROUND_TO)  # noqa: E731
    tol_us = GAP_TOLERANCE_SECONDS * 1_000_000
    return (
        enriched.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("n_nulls"),
            F.min(t).alias("min_ts"),
            F.max(t).alias("max_ts"),
            # exact-decimal mean: avg() of fixed-decimal data rounds
            # differently across engines at half boundaries (functions.stats)
            F.try_divide(
                F.sum(v.cast("decimal(18,2)")).cast("double"), F.count(v)
            ).alias("_mean"),
            F.stddev_samp(v).alias("_std"),
            F.first("_median").alias("_median_v"),
            F.first("_q1").alias("_q1_v"),
            F.first("_q3").alias("_q3_v"),
            F.first("_lower").alias("_lower"),
            F.first("_upper").alias("_upper"),
            F.sum(F.when((v < lower) | (v > upper), 1).otherwise(0)).alias("n_outliers"),
            # == per-group duplicated().sum() (`core/data_validation.py:150`)
            (F.count(F.lit(1)) - F.count_distinct(F.struct(t))).alias("n_dups"),
            F.sum(F.when(F.col("_gap_us") > tol_us, 1).otherwise(0)).alias("n_gaps"),
            (F.max("_gap_us") / 1_000_000.0).alias("_max_gap_s"),
        )
        .select(
            group_col,
            "n_rows",
            "n_nulls",
            r(F.col("n_nulls") * 100.0 / F.col("n_rows")).alias("null_pct"),
            "min_ts",
            "max_ts",
            r("_mean").alias("mean_value"),
            r("_std").alias("std_value"),
            r("_median_v").alias("median_value"),
            r("_q1_v").alias("q1"),
            r("_q3_v").alias("q3"),
            r("_lower").alias("lower_bound"),
            r("_upper").alias("upper_bound"),
            "n_outliers",
            r(F.col("n_outliers") * 100.0 / F.col("n_rows")).alias("outlier_pct"),
            "n_dups",
            "n_gaps",
            r("_max_gap_s").alias("max_gap_seconds"),
        )
        .orderBy(group_col)
    )


def quality_profile_scale(
    df: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
    quantile_mode: str = "sketch",
) -> DataFrame:
    """The 100 TB layout of :func:`quality_profile` (same output schema;
    quantile-derived columns are percentile_approx sketches, or -- with
    ``quantile_mode="grid"`` -- exact-on-grid quantiles from a
    (group, rounded-value-bin) histogram).

    Grid mode (round 6, the oracle-able scale path): bin values to a
    10^-GRID_DECIMALS grid with the portable floor-round, count per
    (group, bin) in one mergeable agg, then take the discrete quantile as
    the smallest bin whose cumulative count reaches ceil(p * n). State per
    group is the distinct-bin count (value range x 10^GRID_DECIMALS),
    bounded regardless of row count, and the result is DETERMINISTIC and
    bit-replayable by any engine -- unlike percentile_approx sketches.
    Accuracy: within half a grid step of the exact DISCRETE quantile
    (vs the interpolated continuous quantile, add the local sample
    spacing at that rank). The cumulative window runs over the tiny bins
    frame (one task per group over its bins), never the fact.

    The exact flagship's whole-partition windows put each group's entire
    history into ONE task, so its reduce stage parallelizes at the GROUP
    count (5 region-like keys => 5 tasks) and exact ``percentile`` is a
    non-mergeable ObjectAgg. This variant keeps parallelism proportional
    to data volume, in exactly TWO scan-parallel passes over the fact:

    * pass 1 (stats): one groupBy with only mergeable aggregates
      (count/sum/stddev/min/max/approx-quantile sketches) -- map-side
      partial aggregation everywhere, the shuffle moves sketches, not
      rows. The derived per-group IQR bounds frame is tiny (n_groups
      rows) and is broadcast into pass 2.
    * pass 2 (outliers + gaps, one shuffle on (group, day bucket)): the
      lag window partitions by (group, bucket), so parallelism is
      groups x buckets, not groups; the broadcast bounds ride along so
      the outlier flag aggregates in the same pass. The per-(group,
      bucket) aggregate also carries bucket endpoints, and a lag over
      that TINY frame closes the gaps spanning bucket edges -- gap
      results are EXACT, identical to the flagship's full-sequence lag.

    The tiny bounds frame feeds both the broadcast and the final output
    (and, in grid mode, the rollup feeds both stats and histogram)
    without a lineage cut, which measured faster than a ``reuse`` cut
    (see the note in pass 1).
    """
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
        portable_round,
    )

    g, t, v = F.col(group_col), F.col(ts_col), F.col(value_col)
    r = lambda c: portable_round(c, ROUND_TO)  # noqa: E731
    tol_us = GAP_TOLERANCE_SECONDS * 1_000_000

    if quantile_mode not in ("sketch", "grid"):
        raise ValueError(f"quantile_mode must be sketch|grid, got {quantile_mode!r}")

    # -- pass 1: mergeable stats + sketches, full map-side combine ----------
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("n_nulls"),
        F.min(t).alias("min_ts"),
        F.max(t).alias("max_ts"),
        F.try_divide(
            F.sum(v.cast("decimal(18,2)")).cast("double"), F.count(v)
        ).alias("_mean"),
        F.stddev_samp(v).alias("_std"),
    ]
    if quantile_mode == "sketch":
        aggs.append(
            F.percentile_approx(
                v, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
            ).alias("_qs")
        )
        stats = df.groupBy(group_col).agg(*aggs)
        bounds = stats.withColumns(
            {
                "_q1": F.element_at("_qs", 1),
                "_median": F.element_at("_qs", 2),
                "_q3": F.element_at("_qs", 3),
            }
        )
    else:
        # ONE fact scan serves both grains via ROLLUP(group, bin): the
        # (group) level carries the scalar stats, the (group, bin) level
        # the histogram counts -- partial aggregation map-side for both,
        # the shuffle moves (groups x bins) + (groups) partials, never
        # rows. grouping(bin) splits the levels back apart.
        binc = portable_round(v, GRID_DECIMALS).alias("_bin")
        roll = (
            df.select(g.alias(group_col), t.alias(ts_col), v.alias(value_col), binc)
            .rollup(group_col, "_bin")
            .agg(*aggs, F.grouping("_bin").alias("_gb"), F.grouping(group_col).alias("_gg"))
        )
        # no reuse() cut here or on bounds below: measured at sf0.1 on 4
        # cores, best of 5 build + execute, quality_profile_approx ran
        # 1.73 s uncut vs 2.10 s cut, quality_profile_scale_contract 1.20
        # vs 1.21 s
        stats = roll.filter((F.col("_gb") == 1) & (F.col("_gg") == 0)).drop(
            "_bin", "_gb", "_gg"
        )
        bins = (
            roll.filter((F.col("_gb") == 0) & (F.col("_gg") == 0) & F.col("_bin").isNotNull())
            .select(
                F.col(group_col).alias("_qg"),
                "_bin",
                (F.col("n_rows") - F.col("n_nulls")).alias("_c"),
            )
        )
        wcum = Window.partitionBy("_qg").orderBy("_bin")
        wtot = Window.partitionBy("_qg")
        cum = bins.withColumn("_cum", F.sum("_c").over(wcum)).withColumn(
            "_n", F.sum("_c").over(wtot)
        )

        def _gq(p: float):
            return F.min(
                F.when(F.col("_cum") >= F.ceil(F.col("_n") * p), F.col("_bin"))
            )

        gq = cum.groupBy("_qg").agg(
            _gq(0.25).alias("_q1"), _gq(0.5).alias("_median"), _gq(0.75).alias("_q3")
        )
        bounds = stats.join(
            gq, on=F.col(group_col).eqNullSafe(F.col("_qg")), how="left"
        ).drop("_qg")
    bounds = bounds.withColumns(
        {
            "_lower": F.col("_q1") - IQR_K * (F.col("_q3") - F.col("_q1")),
            "_upper": F.col("_q3") + IQR_K * (F.col("_q3") - F.col("_q1")),
        }
    )
    # n_groups rows; feeds the final output AND the broadcast below

    # -- pass 2: one (group, bucket) shuffle serves gaps AND outliers -------
    # (right-side key renamed: bounds derives from df, and Spark rejects
    # same-lineage join keys as ambiguous)
    b = F.broadcast(
        bounds.select(F.col(group_col).alias("_bg"), "_lower", "_upper")
    )
    bkt = F.date_trunc("day", t).alias("_bkt")
    win_in = Window.partitionBy(g, F.col("_bkt")).orderBy(t)
    per_bucket = (
        df.select(g.alias(group_col), t.alias(ts_col), v.alias(value_col), bkt)
        .join(b, on=g.eqNullSafe(F.col("_bg")), how="left")
        .withColumn(
            "_gap_us",
            F.unix_micros(t) - F.unix_micros(F.lag(t).over(win_in)),
        )
        .groupBy(group_col, "_bkt")  # reuses the window's partitioning
        .agg(
            F.sum(F.when(F.col("_gap_us") > tol_us, 1).otherwise(0)).alias("_ng_in"),
            F.max("_gap_us").alias("_mx_in"),
            F.min(t).alias("_bmin"),
            F.max(t).alias("_bmax"),
            F.sum(
                F.when((v < F.col("_lower")) | (v > F.col("_upper")), 1).otherwise(0)
            ).alias("_no"),
            # duplicate timestamps are consecutive zero gaps in this sorted
            # window (equal ts always share a bucket), so the dup count that
            # would cost a count_distinct shuffle in pass 1 (~10x the whole
            # profile, measured) is free here; null ts sort first with null
            # gaps, so they are tallied separately below
            F.sum(F.when(F.col("_gap_us") == 0, 1).otherwise(0)).alias("_dup_in"),
            F.sum(F.when(t.isNull(), 1).otherwise(0)).alias("_n_null_ts"),
        )
    )
    # groups x buckets rows from here on: the lag over buckets closes the
    # seams the in-bucket windows cannot see, then one tiny final agg
    win_b = Window.partitionBy(g).orderBy(F.col("_bkt"))
    fin = (
        per_bucket.withColumn(
            "_bgap_us",
            F.unix_micros(F.col("_bmin"))
            - F.unix_micros(F.lag("_bmax").over(win_b)),
        )
        .groupBy(group_col)
        .agg(
            (
                F.sum("_ng_in")
                + F.sum(F.when(F.col("_bgap_us") > tol_us, 1).otherwise(0))
            ).alias("_n_gaps"),
            F.greatest(F.max("_mx_in"), F.max("_bgap_us")).alias("_mx_us"),
            F.sum("_no").alias("n_outliers"),
            # exact-flagship convention: all-null-ts rows collapse to one
            # distinct struct(null), i.e. n_null - 1 extra duplicates
            (
                F.sum("_dup_in")
                + F.greatest(F.sum("_n_null_ts") - 1, F.lit(0))
            ).alias("_n_dups"),
        )
    )

    fin = fin.withColumnRenamed(group_col, "_rg")
    out = bounds.join(
        fin, on=F.col(group_col).eqNullSafe(F.col("_rg")), how="left"
    ).drop("_rg")
    result = (
        out.select(
            group_col,
            "n_rows",
            "n_nulls",
            r(F.col("n_nulls") * 100.0 / F.col("n_rows")).alias("null_pct"),
            "min_ts",
            "max_ts",
            r("_mean").alias("mean_value"),
            r("_std").alias("std_value"),
            r("_median").alias("median_value"),
            r("_q1").alias("q1"),
            r("_q3").alias("q3"),
            r("_lower").alias("lower_bound"),
            r("_upper").alias("upper_bound"),
            F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
            r(F.coalesce("n_outliers", F.lit(0)) * 100.0 / F.col("n_rows")).alias(
                "outlier_pct"
            ),
            F.coalesce("_n_dups", F.lit(0)).alias("n_dups"),
            F.coalesce("_n_gaps", F.lit(0)).alias("n_gaps"),
            r(F.col("_mx_us") / 1_000_000.0).alias("max_gap_seconds"),
        )
        .orderBy(group_col)
    )
    return result


def profile_oracle_sql(
    table: str = "events",
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB ANSI-SQL equivalent of :func:`quality_profile` (same column
    names; rounding via the portable floor formula so tie-adjacent doubles
    round identically in both engines -- see functions/stats.py)."""
    tol_us = GAP_TOLERANCE_SECONDS * 1_000_000
    p = 10**ROUND_TO
    return f"""
WITH stats AS (
  SELECT {group_col},
         count(*) AS n_rows,
         CAST(sum(CASE WHEN {value_col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
         min({ts_col}) AS min_ts,
         max({ts_col}) AS max_ts,
         CAST(sum(CAST({value_col} AS DECIMAL(18,2))) AS DOUBLE)
           / count({value_col}) AS _mean,
         stddev_samp({value_col}) AS _std,
         quantile_cont({value_col}, 0.5) AS _median,
         quantile_cont({value_col}, 0.25) AS _q1,
         quantile_cont({value_col}, 0.75) AS _q3,
         count(*) - count(DISTINCT ROW({ts_col})) AS n_dups
  FROM {table} GROUP BY {group_col}
), bounds AS (
  SELECT *,
         _q1 - {IQR_K} * (_q3 - _q1) AS _lower,
         _q3 + {IQR_K} * (_q3 - _q1) AS _upper
  FROM stats
), outliers AS (
  SELECT t.{group_col},
         CAST(sum(CASE WHEN t.{value_col} < b._lower OR t.{value_col} > b._upper
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM {table} t JOIN bounds b
    ON t.{group_col} IS NOT DISTINCT FROM b.{group_col}
  GROUP BY t.{group_col}
), gaps AS (
  SELECT {group_col},
         CAST(sum(CASE WHEN _gap_us > {tol_us} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gaps,
         max(_gap_us) / 1000000.0 AS _max_gap_s
  FROM (
    SELECT {group_col},
           epoch_us({ts_col}) - epoch_us(lag({ts_col}) OVER
             (PARTITION BY {group_col} ORDER BY {ts_col})) AS _gap_us
    FROM {table}
  ) GROUP BY {group_col}
)
SELECT b.{group_col},
       b.n_rows,
       b.n_nulls,
       floor((b.n_nulls * 100.0 / b.n_rows) * {p} + 0.5) / {p} AS null_pct,
       b.min_ts,
       b.max_ts,
       floor(b._mean * {p} + 0.5) / {p} AS mean_value,
       floor(b._std * {p} + 0.5) / {p} AS std_value,
       floor(b._median * {p} + 0.5) / {p} AS median_value,
       floor(b._q1 * {p} + 0.5) / {p} AS q1,
       floor(b._q3 * {p} + 0.5) / {p} AS q3,
       floor(b._lower * {p} + 0.5) / {p} AS lower_bound,
       floor(b._upper * {p} + 0.5) / {p} AS upper_bound,
       CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers,
       floor((coalesce(o.n_outliers, 0) * 100.0 / b.n_rows) * {p} + 0.5) / {p}
         AS outlier_pct,
       CAST(b.n_dups AS BIGINT) AS n_dups,
       CAST(coalesce(g.n_gaps, 0) AS BIGINT) AS n_gaps,
       floor(g._max_gap_s * {p} + 0.5) / {p} AS max_gap_seconds
FROM bounds b
LEFT JOIN outliers o ON b.{group_col} IS NOT DISTINCT FROM o.{group_col}
LEFT JOIN gaps g ON b.{group_col} IS NOT DISTINCT FROM g.{group_col}
ORDER BY b.{group_col}
"""


def profile_grid_oracle_sql(
    table: str = "events",
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB equivalent of ``quality_profile_scale(quantile_mode="grid")``
    -- identical math to the Spark side: portable-floor-round values to the
    grid, per-(group, bin) counts, discrete quantile = smallest bin whose
    cumulative count reaches ceil(p * n), IQR bounds and outliers from
    those grid quantiles. Same column names/rounding as the flagship."""
    tol_us = GAP_TOLERANCE_SECONDS * 1_000_000
    p = 10**ROUND_TO
    gp = 10**GRID_DECIMALS
    return f"""
WITH stats AS (
  SELECT {group_col},
         count(*) AS n_rows,
         CAST(sum(CASE WHEN {value_col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
         min({ts_col}) AS min_ts,
         max({ts_col}) AS max_ts,
         CAST(sum(CAST({value_col} AS DECIMAL(18,2))) AS DOUBLE)
           / count({value_col}) AS _mean,
         stddev_samp({value_col}) AS _std,
         count(*) - count(DISTINCT ROW({ts_col})) AS n_dups
  FROM {table} GROUP BY {group_col}
), bins AS (
  SELECT {group_col},
         floor({value_col} * {gp} + 0.5) / {gp} AS _bin,
         count(*) AS _c
  FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
), cum AS (
  SELECT {group_col}, _bin,
         sum(_c) OVER (PARTITION BY {group_col} ORDER BY _bin) AS _cum,
         sum(_c) OVER (PARTITION BY {group_col}) AS _n
  FROM bins
), quants AS (
  SELECT {group_col},
         min(CASE WHEN _cum >= ceil(_n * 0.25) THEN _bin END) AS _q1,
         min(CASE WHEN _cum >= ceil(_n * 0.5) THEN _bin END) AS _median,
         min(CASE WHEN _cum >= ceil(_n * 0.75) THEN _bin END) AS _q3
  FROM cum GROUP BY 1
), bounds AS (
  SELECT s.*, q._q1, q._median, q._q3,
         q._q1 - {IQR_K} * (q._q3 - q._q1) AS _lower,
         q._q3 + {IQR_K} * (q._q3 - q._q1) AS _upper
  FROM stats s LEFT JOIN quants q
    ON s.{group_col} IS NOT DISTINCT FROM q.{group_col}
), outliers AS (
  SELECT t.{group_col},
         CAST(sum(CASE WHEN t.{value_col} < b._lower OR t.{value_col} > b._upper
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM {table} t JOIN bounds b
    ON t.{group_col} IS NOT DISTINCT FROM b.{group_col}
  GROUP BY t.{group_col}
), gaps AS (
  SELECT {group_col},
         CAST(sum(CASE WHEN _gap_us > {tol_us} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gaps,
         max(_gap_us) / 1000000.0 AS _max_gap_s
  FROM (
    SELECT {group_col},
           epoch_us({ts_col}) - epoch_us(lag({ts_col}) OVER
             (PARTITION BY {group_col} ORDER BY {ts_col})) AS _gap_us
    FROM {table}
  ) GROUP BY {group_col}
)
SELECT b.{group_col},
       b.n_rows,
       b.n_nulls,
       floor((b.n_nulls * 100.0 / b.n_rows) * {p} + 0.5) / {p} AS null_pct,
       b.min_ts,
       b.max_ts,
       floor(b._mean * {p} + 0.5) / {p} AS mean_value,
       floor(b._std * {p} + 0.5) / {p} AS std_value,
       floor(b._median * {p} + 0.5) / {p} AS median_value,
       floor(b._q1 * {p} + 0.5) / {p} AS q1,
       floor(b._q3 * {p} + 0.5) / {p} AS q3,
       floor(b._lower * {p} + 0.5) / {p} AS lower_bound,
       floor(b._upper * {p} + 0.5) / {p} AS upper_bound,
       CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers,
       floor((coalesce(o.n_outliers, 0) * 100.0 / b.n_rows) * {p} + 0.5) / {p}
         AS outlier_pct,
       CAST(b.n_dups AS BIGINT) AS n_dups,
       CAST(coalesce(g.n_gaps, 0) AS BIGINT) AS n_gaps,
       floor(g._max_gap_s * {p} + 0.5) / {p} AS max_gap_seconds
FROM bounds b
LEFT JOIN outliers o ON b.{group_col} IS NOT DISTINCT FROM o.{group_col}
LEFT JOIN gaps g ON b.{group_col} IS NOT DISTINCT FROM g.{group_col}
ORDER BY b.{group_col}
"""
