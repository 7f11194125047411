"""Time-series preparation operators (SURVEY §2.5, build-plan phase 4).

Everything is expressed per group key over ``Window.partitionBy(group)`` so
100 TB scale = more partitions, never driver loops. The reference versions
materialize NumPy arrays in one process (`core/model.py:19-41`,
`core/kubeflow_pipeline.py:112-132`); here windows/splits/resamples stay
lazy DataFrame plans until an ML edge consumes them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import reuse


def chronological_split(
    df: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    tiebreak_cols: Sequence[str] = (),
    split_col: str = "split",
) -> DataFrame:
    """Positional train/val/test split per group, exact floor semantics of
    the reference (`core/kubeflow_pipeline.py:127-132`: train = first
    int(0.7*n) rows, val = next int(0.15*n), test = rest; ratios from
    `config.yaml:39-42`). One window pass; no shuffle beyond the (group, ts)
    sort."""
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(group_col).orderBy(*order)
    wall = Window.partitionBy(group_col)
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wall)
    train_n = F.floor(n * 0.7)
    val_n = F.floor(n * 0.15)
    return df.withColumn(
        split_col,
        F.when(rn <= train_n, "train")
        .when(rn <= train_n + val_n, "val")
        .otherwise("test"),
    )


def sequence_windows(
    df: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
    lookback: int = 168,
    horizon: int = 24,
    tiebreak_cols: Sequence[str] = (),
    extra_partition_cols: Sequence[str] = (),
    emit_cols: Sequence[str] = (),
) -> DataFrame:
    """Stride-1 supervised windows: x = rows [i, i+L), y = rows [i+L, i+L+H)
    (`core/model.py:19-41`). Exactly n-L-H+1 windows per partition
    (`core/model.py:32-33` -- the invariant the tests assert).

    Declarative form: two frame-spec ``collect_list`` windows + a size
    filter. The arrays are built per partition inside the sort already
    needed for ordering -- no 192x driver-side materialization (SURVEY
    §4.2). Windows never cross ``extra_partition_cols`` boundaries (pass the
    split column so train windows can't peek into val -- the reference's
    per-split window construction, `core/kubeflow_pipeline.py:134-136`).

    ``emit_cols`` projects the window-start row's named columns through
    (e.g. the tiebreak id), so downstream order-sensitive picks like
    ``tail_window`` can break ``window_start`` ties deterministically --
    without it, duplicate (group, ts) rows make the latest-window pick
    nondeterministic.
    """
    parts = [group_col, *extra_partition_cols]
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    base = Window.partitionBy(*parts).orderBy(*order)
    wx = base.rowsBetween(0, lookback - 1)
    wy = base.rowsBetween(lookback, lookback + horizon - 1)
    # collect_list SKIPS null elements, which would silently shorten
    # windows containing null values and break the n-L-H+1 invariant;
    # wrapping in a struct keeps null slots (struct itself is non-null),
    # then project back out. (A single combined L+H frame sliced into x/y
    # afterwards measures bench-equal at sf0.1 -- the cost is the struct
    # build + array copy per element, not WindowExec's per-frame
    # bookkeeping -- so this keeps the simpler two-frame form.)
    v = F.struct(F.col(value_col).alias("v"))
    unwrap = lambda c: F.transform(c, lambda s: s.getField("v"))  # noqa: E731
    out = df.select(
        *[F.col(c) for c in parts],
        F.col(ts_col).alias("window_start"),
        *[F.col(c) for c in emit_cols],
        unwrap(F.collect_list(v).over(wx)).alias("x"),
        unwrap(F.collect_list(v).over(wy)).alias("y"),
    )
    return out.filter((F.size("x") == lookback) & (F.size("y") == horizon))


def tail_window(
    df: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    n: int = 168,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Last ``n`` rows per group, ascending order restored -- the inference
    input slice (`tests/test_model_training.py:118`). Rank-from-end, not a
    global sort: TakeOrdered per group."""
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak_cols]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("_rn_from_end", F.row_number().over(w))
        .filter(F.col("_rn_from_end") <= n)
        .drop("_rn_from_end")
    )


def resample(
    df: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    interval: str = "hour",
) -> DataFrame:
    """Tumbling-window batch resample via date_trunc (§2.9 batch analog of
    the streaming `window()` agg): row count ``n`` and the 4-decimal mean
    ``avg_value`` of the ``value`` column per (group, bucket)."""
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import exact_mean

    bucket = F.date_trunc(interval, F.col(ts_col)).alias("bucket")
    return (
        df.groupBy(F.col(group_col), bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact-decimal mean: plain avg() of 2-decimal data rounds
            # differently across engines at half boundaries
            (F.floor(exact_mean("value") * 10000 + 0.5) / 10000).alias("avg_value"),
        )
        .orderBy(group_col, "bucket")
    )


def fill_gaps_hourly(
    df: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
) -> DataFrame:
    """Densify an hourly series: per group, generate the full hourly grid
    between min and max timestamp (sequence + explode -- no driver loop)
    and FULL-outer-join the observations; missing hours appear as NULL
    value rows, and observations not exactly on the hour are preserved
    (a left join from the grid would silently drop them). The distributed
    fix for the gaps the validator flags (W1)."""
    spans = df.groupBy(group_col).agg(
        F.date_trunc("hour", F.min(ts_col)).alias("_t0"),
        F.date_trunc("hour", F.max(ts_col)).alias("_t1"),
    )
    grid = spans.select(
        group_col,
        F.explode(
            F.sequence("_t0", "_t1", F.expr("INTERVAL 1 HOUR"))
        ).alias(ts_col),
    )
    return grid.join(df, [group_col, ts_col], "full")


def ks_drift(
    df: DataFrame,
    split_ts,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
) -> DataFrame:
    """Kolmogorov-Smirnov drift statistic per group: max |ECDF_ref(v) -
    ECDF_cur(v)| between the window before ``split_ts`` (reference) and
    after (current).

    Pure window-function ECDFs: one sort per group over the combined
    sample, cumulative per-window counts with a RANGE frame (ties land
    together), then a max of absolute differences -- no driver-side
    statistics. Complements :func:`psi_drift` (binned) with the exact
    distribution distance (`config.yaml:44-47` drift windows)."""
    v = F.col(value_col)
    win = F.when(F.col(ts_col) < split_ts, "ref").otherwise("cur")
    tagged = df.filter(v.isNotNull()).select(
        F.col(group_col), v.alias("v"), win.alias("win")
    )
    totals = tagged.groupBy(group_col).agg(
        F.sum(F.when(F.col("win") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("win") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf = (
        tagged.withColumn(
            "cum_ref", F.sum(F.when(F.col("win") == "ref", 1).otherwise(0)).over(w)
        )
        .withColumn(
            "cum_cur", F.sum(F.when(F.col("win") == "cur", 1).otherwise(0)).over(w)
        )
        .join(F.broadcast(totals), group_col)
    )
    # KS is undefined for a group with an empty ref or cur sample (a series
    # that stopped or newly appeared) -- exclude rather than divide by zero
    # (ANSI mode throws); callers detect those groups via the psi/coverage
    # checks instead.
    diff = F.abs(
        F.col("cum_ref") / F.col("n_ref") - F.col("cum_cur") / F.col("n_cur")
    )
    return (
        ecdf.filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .groupBy(group_col)
        .agg((F.floor(F.max(diff) * 10000 + 0.5) / 10000).alias("ks_stat"))
        .orderBy(group_col)
    )


def psi_drift(
    df: DataFrame,
    split_ts,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
) -> DataFrame:
    """Population-stability-index drift between a reference window
    (< split_ts) and a current window (>= split_ts).

    The reference only *configures* drift windows (`config.yaml:44-47`,
    threshold 0.1 per `README.md:737`) and never implements them; this is
    the aggregation-only implementation: ten value buckets of width 20 (the
    last one open) -> per-window distributions -> PSI = sum((p-q) *
    ln(p/q)), with 1e-6 added to every share. Two grouped aggs over one
    scan; no UDFs."""
    v = F.col(value_col)
    bucket = F.least(F.floor(v / 20.0), F.lit(9)).alias("bucket")
    win = F.when(F.col(ts_col) < split_ts, "ref").otherwise("cur").alias("win")
    counts = (
        df.filter(v.isNotNull())
        .select(F.col(group_col), win, bucket)
        .groupBy(group_col, "win", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = Window.partitionBy(group_col, "win")
    frac = counts.withColumn("p", F.col("n") / F.sum("n").over(totals))
    ref = frac.filter(F.col("win") == "ref").select(
        group_col, "bucket", F.col("p").alias("p_ref")
    )
    cur = frac.filter(F.col("win") == "cur").select(
        group_col, "bucket", F.col("p").alias("p_cur")
    )
    joined = ref.join(cur, [group_col, "bucket"], "full").fillna(
        0.0, subset=["p_ref", "p_cur"]
    )
    pr = F.col("p_ref") + 1e-6
    pc = F.col("p_cur") + 1e-6
    return (
        joined.groupBy(group_col)
        .agg(
            (F.floor(F.sum((pr - pc) * F.log(pr / pc)) * 10000 + 0.5) / 10000).alias(
                "psi"
            )
        )
        .orderBy(group_col)
    )


def calendar_features(
    df: DataFrame,
    ts_col: str = "period",
    round_to: int = 6,
) -> DataFrame:
    """Calendar feature engineering for forecasting models: hour-of-day,
    ISO day-of-week, month, weekend flag, plus the cyclic sin/cos
    encodings neural forecasters consume (an LSTM fed raw hour 23 and
    hour 0 cannot see they are adjacent; sin/cos makes the wraparound
    metric). Reference analog: the datetime feature derivation feeding
    model training (core/model_training.py builds sequences over the
    time-indexed series; cyclic time features are the standard public
    encoding for that input).

    All native column expressions -- codegen end-to-end, no shuffle; at
    100 TB this fuses into whatever scan precedes it.

    `isodow` is 1=Monday..7=Sunday (Spark's weekday()+1), matching
    DuckDB/Postgres `isodow` so oracles align across engines.
    """
    t = F.col(ts_col)
    two_pi = 2.0 * 3.141592653589793
    hour = F.hour(t)
    isodow = F.weekday(t) + F.lit(1)
    month = F.month(t)
    r = lambda c: F.floor(c * 10**round_to + 0.5) / 10**round_to  # noqa: E731
    return df.withColumns(
        {
            "hour": hour,
            "isodow": isodow,
            "month": month,
            "is_weekend": (isodow >= 6),
            "hour_sin": r(F.sin(hour * F.lit(two_pi) / F.lit(24.0))),
            "hour_cos": r(F.cos(hour * F.lit(two_pi) / F.lit(24.0))),
            "dow_sin": r(F.sin((isodow - 1) * F.lit(two_pi) / F.lit(7.0))),
            "dow_cos": r(F.cos((isodow - 1) * F.lit(two_pi) / F.lit(7.0))),
        }
    )


def backtest_folds(
    df: DataFrame,
    n_folds: int = 4,
    group_col: str = "respondent",
    ts_col: str = "period",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Rolling-origin (expanding-window) cross-validation fold assignment,
    the standard backtest layout for forecast HPO: the group's ordered
    history is cut into ``n_folds + 1`` equal slices; fold i trains on
    slices [0, i] and tests on slice i+1, so train always precedes test
    and later folds see strictly more history.

    Returns one row per (group, fold) with train/test row counts and
    boundary timestamps. The row-number window partitions by group --
    fine here because the output is per-fold aggregates computed in the
    SAME pass (no O(rows) second window); for volume-parallel variants
    bucket first as in quality_profile_scale.

    Fold boundaries use exact integer arithmetic (floor((i+1) * n /
    (n_folds+1))) so every engine derives identical cuts.
    """
    slices = n_folds + 1
    order = [F.col(ts_col).asc_nulls_last()] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(group_col).orderBy(*order)
    ranked = df.select(
        F.col(group_col),
        F.col(ts_col),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("_n"),
    )
    folds = ranked.select(
        group_col,
        ts_col,
        "_rn",
        "_n",
        F.explode(F.sequence(F.lit(0), F.lit(n_folds - 1))).alias("fold"),
    )
    train_end = F.floor((F.col("fold") + 1) * F.col("_n") / slices)
    test_end = F.floor((F.col("fold") + 2) * F.col("_n") / slices)
    tagged = folds.withColumn(
        "_part",
        F.when(F.col("_rn") <= train_end, "train")
        .when(F.col("_rn") <= test_end, "test")
        .otherwise(None),
    ).filter(F.col("_part").isNotNull())
    return (
        tagged.groupBy(group_col, "fold")
        .agg(
            F.sum(F.when(F.col("_part") == "train", 1).otherwise(0)).alias("train_n"),
            F.sum(F.when(F.col("_part") == "test", 1).otherwise(0)).alias("test_n"),
            F.max(F.when(F.col("_part") == "train", F.col(ts_col))).alias(
                "train_end_ts"
            ),
            F.max(F.when(F.col("_part") == "test", F.col(ts_col))).alias(
                "test_end_ts"
            ),
        )
        .orderBy(group_col, "fold")
    )


def gap_fill_locf(
    df: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
) -> DataFrame:
    """Hourly densify + last-observation-carried-forward, scale-safe.

    The textbook LOCF -- one ``last(value, ignoreNulls)`` window
    partitioned by group -- caps parallelism at n_groups regardless of
    series length (the reference has 5 regions,
    `core/data_extraction.py:51`; a 100 TB deployment still only ~10s of
    groups). Restructured into bucket-parallel phases:

      A. within-(group, day) LOCF windows: parallelism follows
         (group x day) partitions, i.e. data volume;
      B. per-day carry-ins from the TINY (group, day, last-value) frame
         (1/24th the grid rows); its group-wide running window is
         negligible-sized work and the result broadcasts;
      C. coalesce(A, B).

    Result is row-identical to the one-window form (the registered
    oracle IS that form); only the physical plan differs.
    """
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
        exact_mean,
    )

    obs = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.col(group_col), F.date_trunc("hour", F.col(ts_col)).alias("hour"))
        .agg((F.floor(exact_mean(value_col) * 10000 + 0.5) / 10000).alias("v_obs"))
    )
    # groups x hours rows -- tiny vs the fact; referenced by the span
    # calc, the grid join, and the per-day carry, so reuse it or every
    # consumer re-scans the fact (same convention as profile.py's bounds)
    obs = reuse(obs)
    spans = obs.groupBy(group_col).agg(
        F.min("hour").alias("_t0"), F.max("hour").alias("_t1")
    )
    grid = spans.select(
        group_col,
        F.explode(F.sequence("_t0", "_t1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    g = grid.join(obs, [group_col, "hour"], "left").withColumn(
        "day", F.date_trunc("day", F.col("hour"))
    )
    w_intra = (
        Window.partitionBy(group_col, "day")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = g.withColumn("v_intra", F.last("v_obs", ignorenulls=True).over(w_intra))
    # last observed value per (group, day) -- from the cached obs frame,
    # not from g (avoids recomputing the grid join); left-joined onto ALL
    # grid days (day sequence from the spans) so runs of fully-empty days
    # still receive a carry
    day_last = (
        obs.filter(F.col("v_obs").isNotNull())
        .groupBy(group_col, F.date_trunc("day", F.col("hour")).alias("day"))
        .agg(F.max_by("v_obs", "hour").alias("day_last"))
    )
    days = spans.select(
        group_col,
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("_t0")),
                F.date_trunc("day", F.col("_t1")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    w_carry = (
        Window.partitionBy(group_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        days.join(day_last, [group_col, "day"], "left")
        .withColumn("carry_in", F.last("day_last", ignorenulls=True).over(w_carry))
        .select(group_col, "day", "carry_in")
    )
    return g.join(F.broadcast(carry), [group_col, "day"]).select(
        F.col(group_col),
        F.col("hour"),
        F.coalesce("v_intra", "carry_in").alias("value_filled"),
        F.col("v_obs").isNull().alias("is_gap"),
    )


def cusum_changepoint(
    df: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
    id_col: str | None = None,
) -> DataFrame:
    """Per-group CUSUM changepoint: the row where the running cumulative
    sum of deviations from the group mean peaks in magnitude -- the
    classic level-shift detector (Page 1954) for series QA.

    Exactness across engines: deviations are quantized at 1e-6 and summed
    as DECIMAL, so the cumulative sums are association-order free; the
    group mean is the repo's exact-decimal mean. One (group) shuffle for
    the running window; the means frame is n_groups rows, broadcast.
    Ties on |CUSUM| resolve to the earliest row (deterministic argmax via
    lexicographic struct max on (|cusum|, -id))."""
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
        exact_mean,
    )

    order = [F.col(ts_col)] + ([F.col(id_col)] if id_col else [])
    base = df.filter(F.col(value_col).isNotNull() & F.col(ts_col).isNotNull())
    means = base.groupBy(group_col).agg(exact_mean(value_col).alias("_mu"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    qdev = F.floor((F.col(value_col) - F.col("_mu")) * 1_000_000 + 0.5).cast(
        "decimal(28,0)"
    )
    cusum = F.sum(qdev).over(w)
    scored = base.join(F.broadcast(means), group_col).select(
        F.col(group_col),
        F.col(ts_col),
        *([F.col(id_col)] if id_col else []),
        F.abs(cusum).alias("_abs_cusum"),
    )
    # lexicographic max = (largest |cusum|, then earliest ts, then smallest
    # id) -- negated keys turn "earliest/smallest wins the tie" into a max
    ties = [(-F.unix_micros(F.col(ts_col))).alias("t1")] + (
        [(-F.col(id_col)).alias("t2")] if id_col else []
    )
    best = F.max(
        F.struct(F.col("_abs_cusum").alias("a"), *ties, F.col(ts_col).alias("ts"))
    )
    out = scored.groupBy(group_col).agg(best.alias("_b"))
    return out.select(
        F.col(group_col),
        F.col("_b.ts").alias("cp_ts"),
        (
            F.floor(F.col("_b.a").cast("double") / 1_000_000 * 10000 + 0.5) / 10000
        ).alias("max_abs_cusum"),
    )
