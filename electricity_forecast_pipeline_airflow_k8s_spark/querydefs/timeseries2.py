"""Round-5 time-series statistics on the events table: autocorrelation,
rolling z-score anomaly detection, equi-width histograms, and an STL-lite
seasonal decomposition. All heavy math stays in native Spark expressions
(whole-stage codegen); cross-engine float determinism follows the repo
conventions — DECIMAL partial sums for order-free totals, double ratios
derived from exact inputs, portable_round at the edge.

Reference parity: the reference's validation/profiling stack
(core/data_validation.py) computes moment stats and outlier gates; these
queries extend that family with the classical diagnostics a forecasting
pipeline runs before model fit (ACF for seasonality order selection,
rolling-z for anomaly masking, histograms for drift binning, seasonal
means for STL-style decomposition).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
    portable_round,
)
from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import reuse
from electricity_forecast_pipeline_airflow_k8s_spark.queries import register, table
from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.validation import (
    EVENTS_SRC,
)

_ACF_LAGS = (1, 2, 3, 6, 12, 24)

# Exact hourly mean: DECIMAL(18,2) sum (order-free) over 2-decimal values,
# divided by the count — the same double in any engine.
_HOURLY_MEAN_SQL = f"""
  SELECT event_type,
         CAST(floor(date_part('epoch', ts) / 3600) AS BIGINT) AS hour_idx,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS hv
  FROM {EVENTS_SRC}
  WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
"""


# -- ACF at fixed lags over the hourly-mean series --------------------------
# Spark: range-frame window (RANGE BETWEEN -k AND -k on hour_idx) pulls the
# value exactly k hours earlier iff that hour exists — no join, one shuffle
# on event_type, and intermediate gaps do NOT break the pairing (unlike a
# row-based lag). Oracle: equi-join on hour_idx = hour_idx + k with a
# manual co-moment corr formula — an independent derivation of the same
# pairs. corr is computed by each engine's own accumulation; |acf| <= 1 so
# the 1e-4 rounding grid sits far above ulp noise.
@register(
    "ts_acf",
    oracle=f"""
WITH hourly AS ({_HOURLY_MEAN_SQL}),
lags(lag) AS (SELECT unnest([{", ".join(str(k) for k in _ACF_LAGS)}])),
pairs AS (
  SELECT a.event_type, l.lag, a.hv AS x, b.hv AS y
  FROM hourly a
  JOIN lags l ON true
  JOIN hourly b
    ON b.event_type = a.event_type AND a.hour_idx = b.hour_idx + l.lag
)
SELECT event_type, lag, count(*) AS n_pairs,
       floor((count(*) * sum(x * y) - sum(x) * sum(y))
             / sqrt((count(*) * sum(x * x) - sum(x) * sum(x))
                    * (count(*) * sum(y * y) - sum(y) * sum(y)))
             * 10000 + 0.5) / 10000 AS acf
FROM pairs
GROUP BY 1, 2
HAVING count(*) >= 2
ORDER BY event_type, lag
""",
)
def q_ts_acf(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_idx"),
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("value")
            ).alias("hv")
        )
    )
    lagged = ev
    for k in _ACF_LAGS:
        w = (
            Window.partitionBy("event_type")
            .orderBy("hour_idx")
            .rangeBetween(-k, -k)
        )
        lagged = lagged.withColumn(f"hv_lag{k}", F.first("hv").over(w))
    stacked = lagged.select(
        "event_type",
        "hv",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"), F.col(f"hv_lag{k}").alias("y")
                    )
                    for k in _ACF_LAGS
                ]
            )
        ).alias("p"),
    ).select("event_type", F.col("p.lag").alias("lag"), F.col("hv").alias("x"), "p.y")
    out = (
        stacked.filter(F.col("y").isNotNull())
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            portable_round(F.corr("x", "y"), 4).alias("acf"),
        )
        .filter(F.col("n_pairs") >= 2)
    )
    return out.orderBy("event_type", "lag")


# -- Rolling z-score anomalies ---------------------------------------------
# Spark: one window (ROWS BETWEEN 48 PRECEDING AND 1 PRECEDING) per
# event_type ordered by (ts, event_id) — a total order, so frames are
# identical across engines. Moments come from DECIMAL partial sums
# (order-free); mean/var/std are then the same double arithmetic on both
# sides. Oracle: row_number + self-join on the rn range — an independent
# derivation of the same frames (O(48n), oracle-scale only; the Spark
# window is the scale path).
@register(
    "ts_rolling_z_anomaly",
    oracle=f"""
WITH base AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
  FROM {EVENTS_SRC}
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
frames AS (
  SELECT a.event_type, a.rn, a.value,
         count(b.value) AS n_w,
         CAST(sum(CAST(b.value AS DECIMAL(18,2))) AS DOUBLE) AS s,
         CAST(sum(CAST(b.value AS DECIMAL(18,2))
                  * CAST(b.value AS DECIMAL(18,2))) AS DOUBLE) AS ssq
  FROM base a
  JOIN base b
    ON b.event_type = a.event_type AND b.rn BETWEEN a.rn - 48 AND a.rn - 1
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT event_type, value, n_w,
         s / n_w AS m,
         sqrt(greatest((ssq - n_w * (s / n_w) * (s / n_w)) / (n_w - 1), 0.0))
           AS sd
  FROM frames WHERE n_w >= 20
)
SELECT event_type,
       count(*) AS n_evaluated,
       CAST(count(*) FILTER (WHERE sd > 0 AND abs(value - m) > 3 * sd)
            AS BIGINT) AS n_anomalies,
       floor(max(CASE WHEN sd > 0 THEN abs(value - m) / sd ELSE 0.0 END)
             * 10000 + 0.5) / 10000 AS max_abs_z
FROM scored
GROUP BY event_type
ORDER BY event_type
""",
)
def q_ts_rolling_z_anomaly(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("event_type", "ts", "event_id", "value")
    )
    # round-11 (guide §1.2 per-task work): Spark's SlidingWindowFunctionFrame
    # re-aggregates the whole 48-row buffer for EVERY row (aggregates have
    # no retract op), so the three [-48, -1] frames cost O(48) per row per
    # aggregate on the two event_type partitions. Expanding frames
    # (UNBOUNDED PRECEDING .. k) are incremental O(1)/row, and the sliding
    # sum equals the exact DIFFERENCE of two expanding decimal sums over
    # disjoint segments -- decimal arithmetic is exact, so the values are
    # bit-identical to the framed sums; the count is min(rn - 1, 48)
    # because every row has a non-null value post-filter. Same single
    # window pass, ~48x less inner-loop work.
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w1 = wo.rowsBetween(Window.unboundedPreceding, -1)
    w49 = wo.rowsBetween(Window.unboundedPreceding, -49)
    dec = F.col("value").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(28,2)")
    framed = ev.select(
        "event_type",
        "value",
        F.least(F.row_number().over(wo) - 1, F.lit(48))
        .cast("long")
        .alias("n_w"),
        (
            F.coalesce(F.sum(dec).over(w1), zero)
            - F.coalesce(F.sum(dec).over(w49), zero)
        )
        .cast("double")
        .alias("s"),
        (
            F.coalesce(F.sum(dec * dec).over(w1), zero)
            - F.coalesce(F.sum(dec * dec).over(w49), zero)
        )
        .cast("double")
        .alias("ssq"),
    ).filter(F.col("n_w") >= 20)
    m = F.col("s") / F.col("n_w")
    var = F.greatest(
        (F.col("ssq") - F.col("n_w") * m * m) / (F.col("n_w") - 1), F.lit(0.0)
    )
    scored = framed.select(
        "event_type", "value", m.alias("m"), F.sqrt(var).alias("sd")
    )
    is_anom = (F.col("sd") > 0) & (
        F.abs(F.col("value") - F.col("m")) > 3 * F.col("sd")
    )
    z = F.when(
        F.col("sd") > 0, F.abs(F.col("value") - F.col("m")) / F.col("sd")
    ).otherwise(F.lit(0.0))
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_evaluated"),
            F.sum(is_anom.cast("long")).alias("n_anomalies"),
            portable_round(F.max(z), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


# -- Equi-width histogram --------------------------------------------------
# Spark: per-type min/max aggregate broadcast back onto the rows (two
# passes over an aggregated side, no window over the full fact). Oracle:
# window min/max over the partition — independent derivation. Bucket math
# ((v-mn)/width, floor, clamp to 9) is identical double arithmetic from
# identical exact inputs in both engines.
@register(
    "ts_value_histogram",
    oracle=f"""
WITH spanned AS (
  SELECT event_type, value,
         min(value) OVER (PARTITION BY event_type) AS mn,
         max(value) OVER (PARTITION BY event_type) AS mx
  FROM {EVENTS_SRC}
  WHERE value IS NOT NULL
),
bucketed AS (
  SELECT event_type, mn, mx,
         least(CAST(floor((value - mn) / ((mx - mn) / 10.0)) AS BIGINT), 9)
           AS bucket
  FROM spanned WHERE mx > mn
)
SELECT event_type, bucket,
       count(*) AS n_rows,
       floor((mn + bucket * ((mx - mn) / 10.0)) * 10000 + 0.5) / 10000
         AS bucket_lo,
       floor((mn + (bucket + 1) * ((mx - mn) / 10.0)) * 10000 + 0.5) / 10000
         AS bucket_hi
FROM bucketed
GROUP BY event_type, bucket, mn, mx
ORDER BY event_type, bucket
""",
)
def q_ts_value_histogram(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    spans = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(10.0)
    bucketed = (
        ev.join(F.broadcast(spans), "event_type")
        .filter(F.col("mx") > F.col("mn"))
        .select(
            "event_type",
            "mn",
            "mx",
            F.least(
                F.floor((F.col("value") - F.col("mn")) / width).cast("long"),
                F.lit(9).cast("long"),
            ).alias("bucket"),
        )
    )
    return (
        bucketed.groupBy("event_type", "bucket", "mn", "mx")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "event_type",
            "bucket",
            "n_rows",
            portable_round(F.col("mn") + F.col("bucket") * width, 4).alias(
                "bucket_lo"
            ),
            portable_round(F.col("mn") + (F.col("bucket") + 1) * width, 4).alias(
                "bucket_hi"
            ),
        )
        .orderBy("event_type", "bucket")
    )


# -- STL-lite seasonal profile ---------------------------------------------
# Decomposition with a per-day trend proxy: day_mean (exact decimal ratio)
# as trend, hour-of-day mean deviation as the seasonal component. Spark:
# window-avg over the (type, date) partition; oracle: grouped day-mean CTE
# joined back — independent derivations. The deviation sum is a ~80-term
# double sum, ulp-noisy only, far below the 1e-4 grid.
@register(
    "ts_stl_seasonal",
    oracle=f"""
WITH base AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(extract(hour FROM ts) AS INT) AS hod, value
  FROM {EVENTS_SRC}
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
day_means AS (
  SELECT event_type, d,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value)
           AS dm
  FROM base GROUP BY 1, 2
)
SELECT b.event_type, b.hod, count(*) AS n_rows,
       floor(avg(b.value - m.dm) * 10000 + 0.5) / 10000 AS seasonal_mean
FROM base b JOIN day_means m ON b.event_type = m.event_type AND b.d = m.d
GROUP BY 1, 2
ORDER BY b.event_type, b.hod
""",
)
def q_ts_stl_seasonal(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.hour("ts").cast("int").alias("hod"),
            "value",
        )
    )
    wd = Window.partitionBy("event_type", "d")
    detrended = ev.select(
        "event_type",
        "hod",
        (
            F.col("value")
            - F.sum(F.col("value").cast("decimal(18,2)")).over(wd).cast("double")
            / F.count("value").over(wd)
        ).alias("resid"),
    )
    return (
        detrended.groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            portable_round(F.avg("resid"), 4).alias("seasonal_mean"),
        )
        .orderBy("event_type", "hod")
    )


# -- Holt-Winters double exponential smoothing (round 5) --------------------
# Level + trend recursion (the reference's forecasting stack smooths
# before fit; this is the classical non-seasonal Holt form). Inherently
# sequential per group -> applyInPandas with one Arrow batch per group
# (parallelism = #groups, the same contract as ts_ewma); the oracle runs
# the SAME recursion as a recursive CTE carrying (level, trend). Both
# sides execute identical double ops in identical order, so values match
# bit-for-bit before the 1e-6 edge rounding.
_HW_ALPHA, _HW_BETA = 0.3, 0.1

_HW_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
  FROM {EVENTS_SRC} WHERE value IS NOT NULL AND ts IS NOT NULL
),
rec(event_type, rn, event_id, l, b) AS (
  SELECT event_type, rn, event_id, CAST(value AS DOUBLE), CAST(0.0 AS DOUBLE) FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.event_type, e.rn, e.event_id,
         {_HW_ALPHA} * e.value + {1.0 - _HW_ALPHA} * (r.l + r.b),
         {_HW_BETA} * (({_HW_ALPHA} * e.value + {1.0 - _HW_ALPHA} * (r.l + r.b)) - r.l)
           + {1.0 - _HW_BETA} * r.b
  FROM ev e JOIN rec r ON e.event_type = r.event_type AND e.rn = r.rn + 1
)
SELECT event_type, event_id,
       floor(l * 1000000 + 0.5) / 1000000 AS hw_level,
       floor(b * 1000000 + 0.5) / 1000000 AS hw_trend
FROM rec WHERE event_id % 25 = 0
ORDER BY event_type, event_id
"""


@register("ts_holt_winters", oracle=_HW_ORACLE)
def q_ts_holt_winters(spark: SparkSession, sf_dir: str):
    import pandas as pd

    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("event_type", "event_id", "ts", "value")
    )
    alpha, beta = _HW_ALPHA, _HW_BETA
    one_minus_a, one_minus_b = 1.0 - alpha, 1.0 - beta

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        vals = pdf["value"].to_numpy()
        levels, trends = [], []
        l = b = None
        for v in vals:
            if l is None:
                l, b = float(v), 0.0
            else:
                l_new = alpha * float(v) + one_minus_a * (l + b)
                b = beta * (l_new - l) + one_minus_b * b
                l = l_new
            levels.append(l)
            trends.append(b)
        pdf = pdf.assign(hw_level=levels, hw_trend=trends)
        keep = pdf[pdf["event_id"] % 25 == 0]
        return keep[["event_type", "event_id", "hw_level", "hw_trend"]]

    out = ev.groupBy("event_type").applyInPandas(
        hw, "event_type string, event_id long, hw_level double, hw_trend double"
    )
    return out.select(
        "event_type",
        "event_id",
        (F.floor(F.col("hw_level") * 1000000 + 0.5) / 1000000).alias("hw_level"),
        (F.floor(F.col("hw_trend") * 1000000 + 0.5) / 1000000).alias("hw_trend"),
    ).orderBy("event_type", "event_id")


# -- hierarchical forecast reconciliation (round 5) -------------------------
# Bottom-up vs top-down coherence: per-type naive forecast = mean of that
# type's last-24h values (exact decimal ratio); total forecast = forecast
# of the summed series; top-down allocation = total forecast x historical
# share. Output both allocations and the coherence gap per type — the
# standard hierarchical-forecasting sanity check, entirely as relational
# aggregates. All ratios derive from DECIMAL sums; deterministic doubles.
@register(
    "ts_hierarchical_reconcile",
    oracle=f"""
WITH base AS (
  SELECT event_type, ts, value FROM {EVENTS_SRC}
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
cutoff AS (SELECT max(ts) - INTERVAL 24 HOUR AS c0 FROM base),
tail AS (
  SELECT event_type, value FROM base, cutoff WHERE ts > cutoff.c0
),
bottom AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS fc_bu,
         count(*) AS n_tail
  FROM tail GROUP BY 1
),
hist AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hist_sum
  FROM base GROUP BY 1
),
totals AS (
  SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
           AS fc_total_per_row,
         count(*) AS n_total
  FROM tail
),
hist_total AS (
  SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS g FROM base
)
SELECT b.event_type,
       floor(b.fc_bu * 10000 + 0.5) / 10000 AS fc_bottom_up,
       floor((t.fc_total_per_row * t.n_total) * (h.hist_sum / ht.g)
             / b.n_tail * 10000 + 0.5) / 10000 AS fc_top_down,
       floor((b.fc_bu - (t.fc_total_per_row * t.n_total) * (h.hist_sum / ht.g)
              / b.n_tail) * 10000 + 0.5) / 10000 AS coherence_gap
FROM bottom b
JOIN hist h ON h.event_type = b.event_type
CROSS JOIN totals t CROSS JOIN hist_total ht
ORDER BY b.event_type
""",
)
def q_ts_hierarchical_reconcile(spark: SparkSession, sf_dir: str):
    base = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("event_type", "ts", "value")
    )
    cutoff = base.agg(
        (F.max("ts") - F.expr("interval 24 hours")).alias("c0")
    )
    tail = base.crossJoin(F.broadcast(cutoff)).filter(F.col("ts") > F.col("c0"))
    dec = F.col("value").cast("decimal(18,2)")
    bottom = tail.groupBy("event_type").agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("fc_bu"),
        F.count(F.lit(1)).alias("n_tail"),
    )
    hist = base.groupBy("event_type").agg(
        F.sum(dec).cast("double").alias("hist_sum")
    )
    totals = tail.agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias(
            "fc_total_per_row"
        ),
        F.count(F.lit(1)).alias("n_total"),
    )
    hist_total = base.agg(F.sum(dec).cast("double").alias("g"))
    td = (
        (F.col("fc_total_per_row") * F.col("n_total"))
        * (F.col("hist_sum") / F.col("g"))
        / F.col("n_tail")
    )
    return (
        bottom.join(hist, "event_type")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(hist_total))
        .select(
            "event_type",
            portable_round(F.col("fc_bu"), 4).alias("fc_bottom_up"),
            portable_round(td, 4).alias("fc_top_down"),
            portable_round(F.col("fc_bu") - td, 4).alias("coherence_gap"),
        )
        .orderBy("event_type")
    )


# -- permutation entropy (round 5) -------------------------------------------
# Ordinal-pattern complexity per series (Bandt-Pompe): consecutive value
# triples encode to one of 6 order patterns via three strict comparisons
# (bit-exact in any engine, ties resolve identically); the pattern
# distribution's Shannon entropy separates noise (high) from trends/
# oscillations (low). Spark: two lead() windows, one agg; oracle: rn+1 /
# rn+2 self-joins — independent derivations. Entropy derives from exact
# integer counts.
@register(
    "ts_permutation_entropy",
    oracle=f"""
WITH base AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
  FROM {EVENTS_SRC}
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
triples AS (
  SELECT a.event_type,
         (CASE WHEN a.value > b.value THEN 4 ELSE 0 END
          + CASE WHEN a.value > c.value THEN 2 ELSE 0 END
          + CASE WHEN b.value > c.value THEN 1 ELSE 0 END) AS pattern_id
  FROM base a
  JOIN base b ON b.event_type = a.event_type AND b.rn = a.rn + 1
  JOIN base c ON c.event_type = a.event_type AND c.rn = a.rn + 2
),
counts AS (
  SELECT event_type, pattern_id, count(*) AS n_triples
  FROM triples GROUP BY 1, 2
),
shares AS (
  SELECT event_type, pattern_id, n_triples,
         n_triples * 1.0 / sum(n_triples) OVER (PARTITION BY event_type)
           AS share_raw
  FROM counts
)
SELECT event_type, pattern_id, n_triples,
       floor(share_raw * 10000 + 0.5) / 10000 AS share,
       floor(-sum(share_raw * ln(share_raw)) OVER (PARTITION BY event_type)
             * 10000 + 0.5) / 10000 AS perm_entropy
FROM shares
ORDER BY event_type, pattern_id
""",
)
def q_ts_permutation_entropy(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("event_type", "ts", "event_id", "value")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    trip = (
        ev.withColumn("b", F.lead("value", 1).over(w))
        .withColumn("c", F.lead("value", 2).over(w))
        .filter(F.col("b").isNotNull() & F.col("c").isNotNull())
        .select(
            "event_type",
            (
                (F.col("value") > F.col("b")).cast("int") * 4
                + (F.col("value") > F.col("c")).cast("int") * 2
                + (F.col("b") > F.col("c")).cast("int")
            ).alias("pattern_id"),
        )
    )
    counts = trip.groupBy("event_type", "pattern_id").agg(
        F.count(F.lit(1)).alias("n_triples")
    )
    wt = Window.partitionBy("event_type")
    share_raw = F.col("n_triples") * 1.0 / F.sum("n_triples").over(wt)
    return (
        counts.withColumn("share", portable_round(share_raw, 4))
        .withColumn(
            "perm_entropy",
            portable_round(
                -F.sum(share_raw * F.log(share_raw)).over(wt), 4
            ),
        )
        .orderBy("event_type", "pattern_id")
    )


# -- cross-correlation between two series (round 5) -------------------------
# Lead-lag structure between click and purchase hourly means: xcorr at
# lag k pairs click(t-k) with purchase(t) over the shared hour index.
# Positive-lag peaks mean clicks LEAD purchases — the attribution-window
# diagnostic for choosing the stream-stream join bound. Same exact-
# hourly-mean base and RANGE(-k,-k) pairing as ts_acf; oracle = equi-join
# + closed-form corr.
_XCORR_LAGS = (0, 1, 2, 3, 6, 12)


@register(
    "ts_xcorr_click_purchase",
    oracle=f"""
WITH hourly AS ({_HOURLY_MEAN_SQL}),
clicks AS (SELECT hour_idx, hv FROM hourly WHERE event_type = 'click'),
purchases AS (SELECT hour_idx, hv FROM hourly WHERE event_type = 'purchase'),
lags(lag) AS (SELECT unnest([{", ".join(str(k) for k in _XCORR_LAGS)}])),
pairs AS (
  SELECT l.lag, c.hv AS x, p.hv AS y
  FROM purchases p
  JOIN lags l ON true
  JOIN clicks c ON c.hour_idx = p.hour_idx - l.lag
)
SELECT lag, count(*) AS n_pairs,
       floor((count(*) * sum(x * y) - sum(x) * sum(y))
             / sqrt((count(*) * sum(x * x) - sum(x) * sum(x))
                    * (count(*) * sum(y * y) - sum(y) * sum(y)))
             * 10000 + 0.5) / 10000 AS xcorr
FROM pairs
GROUP BY 1
HAVING count(*) >= 2
ORDER BY lag
""",
)
def q_ts_xcorr_click_purchase(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_idx"),
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("value")
            ).alias("hv")
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "hour_idx", F.col("hv").alias("x")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "hour_idx", F.col("hv").alias("y")
    )
    lags = spark.createDataFrame(
        [(k,) for k in _XCORR_LAGS], "lag int"
    )
    pairs = purchases.crossJoin(F.broadcast(lags)).join(
        clicks.withColumnRenamed("hour_idx", "c_idx"),
        F.col("c_idx") == F.col("hour_idx") - F.col("lag"),
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            portable_round(F.corr("x", "y"), 4).alias("xcorr"),
        )
        .filter(F.col("n_pairs") >= 2)
        .orderBy("lag")
    )


# -- peak detection over the hourly series (round 5) -------------------------
# Local maxima of the hourly mean: hv strictly above BOTH neighbors and
# above the series mean (exact decimal base values, so the comparisons
# are bit-identical cross-engine). The electricity-domain "peak hours"
# count the reference's capacity analysis needs. Spark: lag/lead windows
# over the hourly aggregate; oracle: hour-index self-joins — independent
# derivations.
@register(
    "ts_peak_stats",
    oracle=f"""
WITH hourly AS ({_HOURLY_MEAN_SQL}),
means AS (
  SELECT event_type, avg(hv) AS mean_hv FROM hourly GROUP BY 1
),
peaks AS (
  SELECT a.event_type, a.hv
  FROM hourly a
  JOIN hourly p ON p.event_type = a.event_type AND p.hour_idx = a.hour_idx - 1
  JOIN hourly n ON n.event_type = a.event_type AND n.hour_idx = a.hour_idx + 1
  JOIN means m ON m.event_type = a.event_type
  WHERE a.hv > p.hv AND a.hv > n.hv AND a.hv > m.mean_hv
)
SELECT event_type, count(*) AS n_peaks,
       floor(avg(hv) * 10000 + 0.5) / 10000 AS avg_peak_value,
       floor(max(hv) * 10000 + 0.5) / 10000 AS max_peak_value
FROM peaks
GROUP BY 1 ORDER BY 1
""",
)
def q_ts_peak_stats(spark: SparkSession, sf_dir: str):
    hourly = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_idx"),
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("value")
            ).alias("hv")
        )
    )
    w = Window.partitionBy("event_type").orderBy("hour_idx")
    wp = w.rangeBetween(-1, -1)
    wn = w.rangeBetween(1, 1)
    means = hourly.groupBy("event_type").agg(F.avg("hv").alias("mean_hv"))
    flagged = (
        hourly.select(
            "event_type",
            "hv",
            F.first("hv").over(wp).alias("prev_hv"),
            F.first("hv").over(wn).alias("next_hv"),
        )
        .join(F.broadcast(means), "event_type")
        .filter(
            F.col("prev_hv").isNotNull()
            & F.col("next_hv").isNotNull()
            & (F.col("hv") > F.col("prev_hv"))
            & (F.col("hv") > F.col("next_hv"))
            & (F.col("hv") > F.col("mean_hv"))
        )
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_peaks"),
            portable_round(F.avg("hv"), 4).alias("avg_peak_value"),
            portable_round(F.max("hv"), 4).alias("max_peak_value"),
        )
        .orderBy("event_type")
    )


# -- daily load factor (round 5) ---------------------------------------------
# The capacity-planning ratio the electricity reference reports per
# region: avg/peak per (type, day). Exact decimal means over 2-decimal
# values; the ratio is a deterministic double. Spark: one hash agg;
# oracle: identical aggregate shapes (this one is a straightforward
# cross-engine agreement check).
@register(
    "ts_load_factor",
    oracle=f"""
SELECT event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(value) AS n_rows,
       floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value)
             / max(value) * 10000 + 0.5) / 10000 AS load_factor,
       max(value) AS peak_value
FROM {EVENTS_SRC}
WHERE ts IS NOT NULL AND value IS NOT NULL
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_ts_load_factor(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("event_type", F.date_trunc("day", "ts").alias("day"), "value")
    )
    return (
        ev.groupBy("event_type", "day")
        .agg(
            F.count("value").alias("n_rows"),
            portable_round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("value")
                / F.max("value"),
                4,
            ).alias("load_factor"),
            F.max("value").alias("peak_value"),
        )
        .orderBy("event_type", "day")
    )


# -- time-weighted average (LOCF weighting) ----------------------------------
# The irregular-sampling average a timeseries DB ships natively
# (TimescaleDB time_weight('LOCF')): each observation counts for the
# duration until the NEXT one, so burst-sampled intervals stop dominating
# the plain mean. Exactness: values become cent-integers, durations
# integer microseconds, and the weighted numerator accumulates in
# DECIMAL(38,0) (order-free); the single double division happens at the
# edge with mirrored ops. One window (lead) + one agg per group — at
# 100 TB: shuffle on (type, day), no joins.
@register(
    "ts_time_weighted_avg",
    oracle=f"""
WITH pts AS (
  SELECT event_type, CAST(date_trunc('day', ts::TIMESTAMP) AS TIMESTAMP) AS day,
         epoch_us(ts::TIMESTAMP) AS us,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         lead(epoch_us(ts::TIMESTAMP)) OVER (
           PARTITION BY event_type, date_trunc('day', ts::TIMESTAMP)
           ORDER BY ts, event_id
         ) AS next_us
  FROM {EVENTS_SRC} WHERE ts IS NOT NULL AND value IS NOT NULL
),
agg AS (
  SELECT event_type, day, count(*) AS n_points,
         sum(CAST(cents AS DECIMAL(38,0)) * (next_us - us)) AS num,
         CAST(max(us) - min(us) AS BIGINT) AS span_us
  FROM pts GROUP BY 1, 2
)
SELECT event_type, day, n_points,
       floor(CAST(num AS DOUBLE) / (100.0 * span_us) * 10000 + 0.5) / 10000
         AS twa
FROM agg WHERE span_us > 0
ORDER BY event_type, day
""",
)
def q_ts_time_weighted_avg(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.unix_micros("ts").alias("us"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
            "ts",
            "event_id",
        )
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    pts = ev.withColumn("next_us", F.lead("us").over(w))
    agg = pts.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * (F.col("next_us") - F.col("us"))
        ).alias("num"),
        (F.max("us") - F.min("us")).cast("long").alias("span_us"),
    )
    return (
        agg.filter(F.col("span_us") > 0)
        .select(
            "event_type",
            "day",
            "n_points",
            (
                F.floor(
                    F.col("num").cast("double")
                    / (100.0 * F.col("span_us"))
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("twa"),
        )
        .orderBy("event_type", "day")
    )


# -- min/max downsampling ----------------------------------------------------
# The plotting/retention downsample: per (type, 6h bucket) keep only the
# extreme observations (earliest-timestamp tie-break), preserving the
# series envelope at a fixed output budget — 2 points per bucket
# regardless of input rate. Both engines pick extremes by the same total
# (value, ts, event_id) order, so ties are deterministic. One window
# pass, shuffle on (type, bucket).
@register(
    "ts_minmax_downsample",
    oracle=f"""
WITH pts AS (
  SELECT event_type,
         -- epoch() is fractional seconds and CAST rounds-half-away;
         -- floor first so both engines bucket on floored whole seconds
         CAST(to_timestamp(CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT)
              - CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) % 21600)
           AS TIMESTAMP) AS bucket,
         ts::TIMESTAMP AS ts, value, event_id
  FROM {EVENTS_SRC} WHERE ts IS NOT NULL AND value IS NOT NULL
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bucket
                            ORDER BY value, ts, event_id) AS rlo,
         row_number() OVER (PARTITION BY event_type, bucket
                            ORDER BY value DESC, ts, event_id) AS rhi,
         count(*) OVER (PARTITION BY event_type, bucket) AS n_points
  FROM pts
)
SELECT event_type, bucket, n_points,
       max(CASE WHEN rlo = 1 THEN ts END) AS lo_ts,
       max(CASE WHEN rlo = 1 THEN value END) AS lo_value,
       max(CASE WHEN rhi = 1 THEN ts END) AS hi_ts,
       max(CASE WHEN rhi = 1 THEN value END) AS hi_value
FROM ranked
GROUP BY 1, 2, 3
ORDER BY 1, 2
""",
)
def q_ts_minmax_downsample(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.timestamp_seconds(
                F.unix_timestamp("ts") - F.unix_timestamp("ts") % 21600
            ).alias("bucket"),
            "ts",
            "value",
            "event_id",
        )
    )
    wlo = Window.partitionBy("event_type", "bucket").orderBy(
        "value", "ts", "event_id"
    )
    whi = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("value").desc(), "ts", "event_id"
    )
    wall = Window.partitionBy("event_type", "bucket")
    ranked = (
        ev.withColumn("rlo", F.row_number().over(wlo))
        .withColumn("rhi", F.row_number().over(whi))
        .withColumn("n_points", F.count(F.lit(1)).over(wall))
    )
    return (
        ranked.groupBy("event_type", "bucket", "n_points")
        .agg(
            F.max(F.when(F.col("rlo") == 1, F.col("ts"))).alias("lo_ts"),
            F.max(F.when(F.col("rlo") == 1, F.col("value"))).alias("lo_value"),
            F.max(F.when(F.col("rhi") == 1, F.col("ts"))).alias("hi_ts"),
            F.max(F.when(F.col("rhi") == 1, F.col("value"))).alias("hi_value"),
        )
        .orderBy("event_type", "bucket")
    )


# -- prediction-interval coverage (forecast calibration) ---------------------
# ts_seasonal_naive_error measures point accuracy; this measures
# CALIBRATION: fit [q05, q95] prediction intervals from train-window
# seasonal-naive residuals (exact interpolating percentiles, the repo's
# quantile_cont convention) and report what fraction of eval-window
# actuals the interval actually covers (nominal 90%). The 24h
# seasonal alignment is an exact timestamp self-join (lag(24) would
# silently misalign across gaps). Hourly means divide a DECIMAL sum by
# an integer count once, identically on both engines, so residuals,
# quantiles, and coverage all hash-match. Scale: two shuffles (hourly
# agg, per-type quantiles over day-count-sized residual sets).
_PI_SPLIT = "2024-01-24"


@register(
    "ts_pi_coverage",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS h,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS m
  FROM {EVENTS_SRC} WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
aligned AS (
  SELECT cur.event_type, cur.h, cur.m - prev.m AS resid
  FROM hourly cur
  JOIN hourly prev ON prev.event_type = cur.event_type
                  AND prev.h = cur.h - INTERVAL 24 HOURS
),
pi AS (
  SELECT event_type,
         quantile_cont(resid, 0.05) AS q05,
         quantile_cont(resid, 0.95) AS q95
  FROM aligned WHERE h < TIMESTAMP '{_PI_SPLIT}'
  GROUP BY 1
)
SELECT a.event_type,
       count(*) AS n_eval,
       floor(avg(CASE WHEN a.resid >= p.q05 AND a.resid <= p.q95
                 THEN 1.0 ELSE 0.0 END) * 10000 + 0.5) / 10000 AS coverage,
       floor(p.q05 * 10000 + 0.5) / 10000 AS pi_lo,
       floor(p.q95 * 10000 + 0.5) / 10000 AS pi_hi
FROM aligned a JOIN pi p ON p.event_type = a.event_type
WHERE a.h >= TIMESTAMP '{_PI_SPLIT}'
GROUP BY a.event_type, p.q05, p.q95
ORDER BY a.event_type
""",
)
def q_ts_pi_coverage(spark: SparkSession, sf_dir: str):
    split = F.lit(_PI_SPLIT).cast("timestamp")
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.date_trunc("hour", "ts").alias("h"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    hourly = ev.groupBy("event_type", "h").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("m")
    )
    cur, prev = hourly.alias("cur"), hourly.alias("prev")
    aligned = cur.join(
        prev,
        (F.col("prev.event_type") == F.col("cur.event_type"))
        & (F.col("prev.h") == F.col("cur.h") - F.expr("INTERVAL 24 HOURS")),
    ).select(
        F.col("cur.event_type").alias("event_type"),
        F.col("cur.h").alias("h"),
        (F.col("cur.m") - F.col("prev.m")).alias("resid"),
    )
    pi = (
        aligned.filter(F.col("h") < split)
        .groupBy("event_type")
        .agg(
            F.expr("percentile(resid, 0.05)").alias("q05"),
            F.expr("percentile(resid, 0.95)").alias("q95"),
        )
    )
    return (
        aligned.filter(F.col("h") >= split)
        .join(F.broadcast(pi), "event_type")
        .groupBy("event_type", "q05", "q95")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            (
                F.floor(
                    F.avg(
                        F.when(
                            (F.col("resid") >= F.col("q05"))
                            & (F.col("resid") <= F.col("q95")),
                            1.0,
                        ).otherwise(0.0)
                    )
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("coverage"),
        )
        .select(
            "event_type",
            "n_eval",
            "coverage",
            (F.floor(F.col("q05") * 10000 + 0.5) / 10000).alias("pi_lo"),
            (F.floor(F.col("q95") * 10000 + 0.5) / 10000).alias("pi_hi"),
        )
        .orderBy("event_type")
    )


# -- hour-of-week load profile -----------------------------------------------
# THE canonical electricity-analytics artifact (the reference pipeline's
# whole domain): mean load by (day-of-week, hour-of-day) per event type —
# the 7x24 shape dashboards draw and schedulers plan against. Exact
# DECIMAL sums divided once per cell; dow uses ISO numbering on both
# engines. One scan, one hash agg at (type x 168) cardinality.
@register(
    "ts_load_profile_how",
    oracle=f"""
SELECT event_type,
       CAST(isodow(ts::TIMESTAMP) AS INT) AS dow,
       CAST(date_part('hour', ts::TIMESTAMP) AS INT) AS hour,
       count(*) AS n_obs,
       floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             * 10000 + 0.5) / 10000 AS mean_value
FROM {EVENTS_SRC}
WHERE ts IS NOT NULL AND value IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""",
)
def q_ts_load_profile_how(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    # Spark dayofweek is 1=Sunday; ISO dow = ((dayofweek + 5) % 7) + 1
    dow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("int")
    return (
        ev.groupBy(
            "event_type", dow.alias("dow"), F.hour("ts").alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            (
                F.floor(
                    F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                    / F.count(F.lit(1))
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("mean_value"),
        )
        .orderBy("event_type", "dow", "hour")
    )


# -- ramp-rate statistics ----------------------------------------------------
# Grid-operations metric: how fast load swings hour-to-hour. Per (type,
# day): max upward ramp, max downward ramp, and mean absolute ramp over
# consecutive-hour deltas of the hourly means. Consecutive-ness is
# enforced by the exact one-hour timestamp step (a row-lag would invent
# ramps across gaps). Hourly means divide DECIMAL sums once, mirrored;
# deltas of identical doubles are identical.
@register(
    "ts_ramp_rate_stats",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS h,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS m
  FROM {EVENTS_SRC} WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
ramps AS (
  SELECT cur.event_type,
         CAST(date_trunc('day', cur.h) AS TIMESTAMP) AS day,
         cur.m - prev.m AS ramp
  FROM hourly cur
  JOIN hourly prev ON prev.event_type = cur.event_type
                  AND prev.h = cur.h - INTERVAL 1 HOUR
)
SELECT event_type, day, count(*) AS n_ramps,
       floor(max(ramp) * 10000 + 0.5) / 10000 AS max_up_ramp,
       floor(min(ramp) * 10000 + 0.5) / 10000 AS max_down_ramp,
       floor(CAST(sum(CAST(floor(abs(ramp) * 1000000 + 0.5)
                          AS DECIMAL(28,0))) AS DOUBLE)
             / 1000000 / count(*) * 10000 + 0.5) / 10000 AS mean_abs_ramp
FROM ramps GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_ts_ramp_rate_stats(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.date_trunc("hour", "ts").alias("h"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    hourly = ev.groupBy("event_type", "h").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("m")
    )
    cur, prev = hourly.alias("cur"), hourly.alias("prev")
    ramps = cur.join(
        prev,
        (F.col("prev.event_type") == F.col("cur.event_type"))
        & (F.col("prev.h") == F.col("cur.h") - F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("cur.event_type").alias("event_type"),
        F.date_trunc("day", F.col("cur.h")).alias("day"),
        (F.col("cur.m") - F.col("prev.m")).alias("ramp"),
    )
    # mean |ramp|: per-term 1e-6 quantization into DECIMAL before the sum
    # (association-order-free), one mirrored divide at the edge
    qabs = F.floor(F.abs(F.col("ramp")) * 1000000 + 0.5).cast("decimal(28,0)")
    return (
        ramps.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_ramps"),
            (F.floor(F.max("ramp") * 10000 + 0.5) / 10000).alias("max_up_ramp"),
            (F.floor(F.min("ramp") * 10000 + 0.5) / 10000).alias("max_down_ramp"),
            (
                F.floor(
                    F.sum(qabs).cast("double")
                    / 1000000
                    / F.count(F.lit(1))
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("mean_abs_ramp"),
        )
        .orderBy("event_type", "day")
    )


# -- 7-day rolling median ----------------------------------------------------
# Exact rolling median of the daily load per type: the robust companion
# to ts_moving_avg_1h. The RANGE frame runs over integer epoch-days, so
# calendar gaps shrink the window (true trailing 7 calendar days, not 7
# rows) identically in both engines. Parallelism: the window partitions
# by type over per-day partials (types x days rows, never raw events);
# each frame holds <= 7 values, so the exact percentile buffer is
# constant-size — no relation to the exact-quantile quarantine. Daily
# sums go through DECIMAL for association-order-free totals.
@register(
    "ts_rolling_median_7d",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts::TIMESTAMP) AS TIMESTAMP) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, day,
       floor(quantile_cont(v, 0.5) OVER (
               PARTITION BY event_type
               ORDER BY datediff('day', TIMESTAMP '1970-01-01', day)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
             * 10000 + 0.5) / 10000 AS rolling_median_7d
FROM daily
ORDER BY event_type, day
""",
)
def q_ts_rolling_median_7d(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v"))
    daily = daily.withColumn(
        "d", F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rangeBetween(-6, 0)
    )
    return (
        daily.select(
            "event_type",
            "day",
            portable_round(F.percentile("v", 0.5).over(w), 4).alias(
                "rolling_median_7d"
            ),
        )
        .orderBy("event_type", "day")
    )


# -- daily-cycle spectral strength (single-bin DFT) ---------------------------
# Goertzel-style seasonality diagnostic: the magnitude of the 24h DFT bin
# of the hourly-resampled series per event_type -- the quantitative
# "how strong is the daily cycle" number a forecaster reads before
# choosing a seasonal model order (complements ts_acf, which gives lag
# correlations, and ts_stl_seasonal, which gives the shape). Cross-engine
# float determinism is total here, not just rounded: the 24 phase basis
# values cos/sin(2*pi*k/24) are evaluated ONCE driver-side and embedded
# as literal doubles in BOTH engines (no trig runs in either engine at
# all), hourly means are quantized to the 1e-6 grid, products are IEEE
# double ops on identical inputs, and the partial sums run in
# DECIMAL(28,12) so accumulation order cannot change a bit.
_COS24 = (1.0, 0.9659258262890683, 0.8660254037844387, 0.7071067811865476, 0.5000000000000001, 0.25881904510252074, 6.123233995736766e-17, -0.25881904510252063, -0.4999999999999998, -0.7071067811865475, -0.8660254037844387, -0.9659258262890682, -1.0, -0.9659258262890683, -0.8660254037844388, -0.7071067811865479, -0.5000000000000004, -0.25881904510252063, -1.8369701987210297e-16, 0.2588190451025203, 0.5000000000000001, 0.7071067811865474, 0.8660254037844384, 0.9659258262890681)
_SIN24 = (0.0, 0.25881904510252074, 0.49999999999999994, 0.7071067811865475, 0.8660254037844386, 0.9659258262890683, 1.0, 0.9659258262890683, 0.8660254037844387, 0.7071067811865476, 0.49999999999999994, 0.258819045102521, 1.2246467991473532e-16, -0.2588190451025208, -0.4999999999999997, -0.7071067811865471, -0.8660254037844384, -0.9659258262890683, -1.0, -0.9659258262890684, -0.8660254037844386, -0.7071067811865477, -0.5000000000000004, -0.25881904510252157)


@register(
    "ts_spectral_daily_strength",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         floor(avg(value) * 1000000 + 0.5) / 1000000 AS v
  FROM {EVENTS_SRC} AS events
  WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
terms AS (
  SELECT event_type,
         CAST(v * list_extract([1.0, 0.9659258262890683, 0.8660254037844387, 0.7071067811865476, 0.5000000000000001, 0.25881904510252074, 6.123233995736766e-17, -0.25881904510252063, -0.4999999999999998, -0.7071067811865475, -0.8660254037844387, -0.9659258262890682, -1.0, -0.9659258262890683, -0.8660254037844388, -0.7071067811865479, -0.5000000000000004, -0.25881904510252063, -1.8369701987210297e-16, 0.2588190451025203, 0.5000000000000001, 0.7071067811865474, 0.8660254037844384, 0.9659258262890681], hour(h) + 1)
              AS DECIMAL(28,12)) AS ct,
         CAST(v * list_extract([0.0, 0.25881904510252074, 0.49999999999999994, 0.7071067811865475, 0.8660254037844386, 0.9659258262890683, 1.0, 0.9659258262890683, 0.8660254037844387, 0.7071067811865476, 0.49999999999999994, 0.258819045102521, 1.2246467991473532e-16, -0.2588190451025208, -0.4999999999999997, -0.7071067811865471, -0.8660254037844384, -0.9659258262890683, -1.0, -0.9659258262890684, -0.8660254037844386, -0.7071067811865477, -0.5000000000000004, -0.25881904510252157], hour(h) + 1)
              AS DECIMAL(28,12)) AS st
  FROM hourly
)
SELECT event_type,
       count(*) AS n_hours,
       floor(2 * sqrt(CAST(sum(ct) AS DOUBLE) * CAST(sum(ct) AS DOUBLE)
                      + CAST(sum(st) AS DOUBLE) * CAST(sum(st) AS DOUBLE))
             / count(*) * 10000 + 0.5) / 10000 AS daily_amplitude
FROM terms GROUP BY 1 ORDER BY 1
""",
)
def q_ts_spectral_daily_strength(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg((F.floor(F.avg("value") * 1000000 + 0.5) / 1000000).alias("v"))
    )
    cos_arr = F.array(*[F.lit(v) for v in _COS24])
    sin_arr = F.array(*[F.lit(v) for v in _SIN24])
    hod = F.hour("h") + 1
    terms = ev.select(
        "event_type",
        (F.col("v") * F.element_at(cos_arr, hod)).cast("decimal(28,12)").alias("ct"),
        (F.col("v") * F.element_at(sin_arr, hod)).cast("decimal(28,12)").alias("st"),
    )
    a = F.sum("ct").cast("double")
    b = F.sum("st").cast("double")
    n = F.count(F.lit(1))
    return (
        terms.groupBy("event_type")
        .agg(
            n.alias("n_hours"),
            (
                F.floor(
                    2 * F.sqrt(a * a + b * b) / n * 10000 + 0.5
                )
                / 10000
            ).alias("daily_amplitude"),
        )
        .orderBy("event_type")
    )


# -- Theil-Sen robust trend ---------------------------------------------------
# Median-of-pairwise-slopes per event_type over the DAILY mean series:
# the robust alternative to ml_linreg_trend's OLS (REGR_*) that a single
# outlier day cannot move. The pairwise self-join runs on per-day
# partials (days x days, bounded by calendar span — NEVER events x
# events; the events-sized work is one hash agg), so the quadratic term
# is ~O(365^2) per group-year at any data scale. Daily means are
# quantized to the 1e-6 grid before the slope division so both engines
# divide identical doubles; the median interpolates the same two middle
# values on both engines.
@register(
    "ts_theilsen_trend",
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS d,
         floor(avg(value) * 1000000 + 0.5) / 1000000 AS v
  FROM {{EVENTS_SRC}} AS events
  WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type,
         (b.v - a.v) / datediff('day', a.d, b.d) AS slope
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.d > a.d
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       floor(quantile_cont(slope, 0.5) * 10000 + 0.5) / 10000
         AS theil_sen_slope
FROM slopes GROUP BY 1 ORDER BY 1
""".format(EVENTS_SRC=EVENTS_SRC),
)
def q_ts_theilsen_trend(spark: SparkSession, sf_dir: str):
    daily = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg((F.floor(F.avg("value") * 1000000 + 0.5) / 1000000).alias("v"))
    )
    # the self-join would otherwise scan+aggregate events TWICE (the two
    # branches plan different exchange types, so ReuseExchange cannot
    # stamp them): reuse the calendar-sized partials — groups x days
    # rows — so the fact scan runs once (pagerank's pattern)
    daily = reuse(daily)
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.d") > F.col("a.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.v") - F.col("a.v"))
            / F.datediff(F.col("b.d"), F.col("a.d"))
        ).alias("slope"),
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (F.floor(F.median("slope") * 10000 + 0.5) / 10000).alias(
                "theil_sen_slope"
            ),
        )
        .orderBy("event_type")
    )


# -- hourly gap fill with linear interpolation --------------------------------
# The interpolation companion to ts_gap_fill_locf: missing hours take the
# straight line between the previous and next observed hourly means
# (boundary gaps fall back to nearest-observation carry). Scale shape:
# the events-sized work is ONE hash agg to hourly means; the
# interpolation window then runs over the calendar-sized spine
# (groups x span-hours — ~9k rows per group-year at ANY data scale), so
# partitioning by group is not a bottleneck: the window input is tiny by
# construction. Means are quantized at 1e-4 before the arithmetic; the
# hour-distance ratio divides identical integer hour counts on both
# engines.
@register(
    "ts_gap_fill_interp",
    oracle="""
WITH obs AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value)
               * 10000 + 0.5) / 10000 AS v_obs
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
span AS (SELECT event_type, min(hour) AS t0, max(hour) AS t1 FROM obs GROUP BY 1),
grid AS (
  SELECT s.event_type,
         unnest(generate_series(s.t0, s.t1, INTERVAL 1 HOUR)) AS hour
  FROM span s
),
joined AS (
  SELECT g.event_type, g.hour, o.v_obs
  FROM grid g LEFT JOIN obs o USING (event_type, hour)
),
ctx AS (
  SELECT event_type, hour, v_obs,
         last_value(v_obs IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v_obs IS NOT NULL THEN hour END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
         first_value(v_obs IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v_obs IS NOT NULL THEN hour END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM joined
)
SELECT event_type, hour,
       floor(CASE
         WHEN v_obs IS NOT NULL THEN v_obs
         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           pv + (nv - pv) * (CAST(datediff('hour', ph, hour) AS DOUBLE)
                             / datediff('hour', ph, nh))
         WHEN pv IS NOT NULL THEN pv
         ELSE nv END * 10000 + 0.5) / 10000 AS value_interp,
       v_obs IS NULL AS is_gap
FROM ctx ORDER BY event_type, hour
""",
)
def q_ts_gap_fill_interp(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    obs = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        (
            F.floor(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("value")
                * 10000
                + 0.5
            )
            / 10000
        ).alias("v_obs")
    )
    span = obs.groupBy("event_type").agg(
        F.min("hour").alias("t0"), F.max("hour").alias("t1")
    )
    grid = span.select(
        "event_type",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    joined = grid.join(obs, ["event_type", "hour"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("v_obs").isNotNull(), F.col("hour"))
    ctx = joined.select(
        "event_type",
        "hour",
        "v_obs",
        F.last("v_obs", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(wp).alias("ph"),
        F.first("v_obs", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_hour, ignorenulls=True).over(wn).alias("nh"),
    )
    hours = lambda a, b: (  # noqa: E731
        (F.unix_timestamp(b) - F.unix_timestamp(a)) / 3600
    ).cast("long")
    interp = (
        F.when(F.col("v_obs").isNotNull(), F.col("v_obs"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                hours(F.col("ph"), F.col("hour")).cast("double")
                / hours(F.col("ph"), F.col("nh"))
            ),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return ctx.select(
        "event_type",
        "hour",
        (F.floor(interp * 10000 + 0.5) / 10000).alias("value_interp"),
        F.col("v_obs").isNull().alias("is_gap"),
    ).orderBy("event_type", "hour")


# -- Wasserstein-1 drift between first and last week --------------------------
# Completes the drift quartet (ts_psi_drift bins, ts_ks_drift sup-CDF,
# val_drift_chi2 categories): the earth-mover distance between the FIRST
# 168 hourly means and the LAST 168 hourly means per event_type. For
# equal-sized samples W1 is exactly mean|a_(i) - b_(i)| over rank-aligned
# order statistics — no binning, no sup, the full-shape metric. All
# windows run over the calendar-sized hourly series (the events-sized
# work is one hash agg; same scale argument as ts_gap_fill_interp);
# ranks-within-sample use the deterministic (value, hour) order and the
# rank equi-join aligns the two order statistics.
_W1_HOURS = 168


@register(
    "ts_w1_drift",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         floor(avg(value) * 1000000 + 0.5) / 1000000 AS v,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY date_trunc('hour', ts)) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_hours
  FROM {{EVENTS_SRC}} AS events
  WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)
),
a AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v, h) AS rk
  FROM hourly WHERE rn <= {_W1_HOURS}
),
b AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v, h) AS rk
  FROM hourly WHERE rn > n_hours - {_W1_HOURS}
)
SELECT a.event_type,
       count(*) AS n,
       floor(avg(abs(a.v - b.v)) * 10000 + 0.5) / 10000 AS w1_drift
FROM a JOIN b ON b.event_type = a.event_type AND b.rk = a.rk
GROUP BY 1 ORDER BY 1
""".format(EVENTS_SRC=EVENTS_SRC),
)
def q_ts_w1_drift(spark: SparkSession, sf_dir: str):
    hourly = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg((F.floor(F.avg("value") * 1000000 + 0.5) / 1000000).alias("v"))
    )
    wt = Window.partitionBy("event_type").orderBy("h")
    wn = Window.partitionBy("event_type")
    hourly = hourly.select(
        "event_type",
        "h",
        "v",
        F.row_number().over(wt).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_hours"),
    )
    wv = Window.partitionBy("event_type").orderBy("v", "h")
    a = (
        hourly.filter(F.col("rn") <= _W1_HOURS)
        .select("event_type", "v", F.row_number().over(wv).alias("rk"))
        .withColumnsRenamed({"v": "va"})
    )
    b = (
        hourly.filter(F.col("rn") > F.col("n_hours") - _W1_HOURS)
        .select("event_type", "v", F.row_number().over(wv).alias("rk"))
        .withColumnsRenamed({"v": "vb"})
    )
    return (
        a.join(b, ["event_type", "rk"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.floor(F.avg(F.abs(F.col("va") - F.col("vb"))) * 10000 + 0.5)
                / 10000
            ).alias("w1_drift"),
        )
        .orderBy("event_type")
    )


# -- missing-block report (gaps-and-islands on the hourly spine) --------------
# The structural complement to the gap FILLS (ts_gap_fill_locf/interp)
# and per-row gap stats (val_gap_stats): contiguous RUNS of missing
# hours per event_type — how many blocks, the longest outage, and when
# it started; the shape an ingest post-mortem actually asks for. Spark
# derives islands with the lag-flag + running-sum construction; the
# oracle independently uses the h - rn*1h constant-per-island trick.
# All inputs are the calendar-sized spine (events-sized work is one
# hash agg).
@register(
    "ts_missing_block_report",
    oracle=f"""
WITH obs AS (
  SELECT event_type, date_trunc('hour', ts) AS h
  FROM {{EVENTS_SRC}} AS events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
span AS (SELECT event_type, min(h) AS t0, max(h) AS t1 FROM obs GROUP BY 1),
grid AS (
  SELECT s.event_type,
         unnest(generate_series(s.t0, s.t1, INTERVAL 1 HOUR)) AS h
  FROM span s
),
missing AS (
  SELECT g.event_type, g.h FROM grid g
  LEFT JOIN obs o ON o.event_type = g.event_type AND o.h = g.h
  WHERE o.h IS NULL
),
isl AS (
  SELECT event_type, h,
         h - (row_number() OVER (PARTITION BY event_type ORDER BY h)
              * INTERVAL 1 HOUR) AS grp
  FROM missing
),
blocks AS (
  SELECT event_type, grp, count(*) AS len, min(h) AS bstart
  FROM isl GROUP BY 1, 2
),
mx AS (SELECT event_type, max(len) AS longest FROM blocks GROUP BY 1)
SELECT b.event_type,
       CAST(sum(b.len) AS BIGINT) AS n_missing_hours,
       count(*) AS n_blocks,
       max(m.longest) AS longest_block,
       min(CASE WHEN b.len = m.longest THEN b.bstart END)
         AS longest_block_start
FROM blocks b JOIN mx m ON m.event_type = b.event_type
GROUP BY 1 ORDER BY 1
""".format(EVENTS_SRC=EVENTS_SRC),
)
def q_ts_missing_block_report(spark: SparkSession, sf_dir: str):
    obs = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull())
        .select("event_type", F.date_trunc("hour", "ts").alias("h"))
        .distinct()
    )
    span = obs.groupBy("event_type").agg(
        F.min("h").alias("t0"), F.max("h").alias("t1")
    )
    grid = span.select(
        "event_type",
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    missing = grid.join(obs, ["event_type", "h"], "left_anti")
    w = Window.partitionBy("event_type").orderBy("h")
    prev = F.lag("h").over(w)
    flagged = missing.withColumn(
        "new_blk",
        F.when(
            prev.isNull()
            | (F.unix_timestamp("h") - F.unix_timestamp(prev) != 3600),
            1,
        ).otherwise(0),
    ).withColumn(
        "blk",
        F.sum("new_blk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    blocks = flagged.groupBy("event_type", "blk").agg(
        F.count(F.lit(1)).alias("len"), F.min("h").alias("bstart")
    )
    mx = F.max("len").over(Window.partitionBy("event_type"))
    return (
        blocks.withColumn("longest", mx)
        .groupBy("event_type")
        .agg(
            F.sum("len").cast("long").alias("n_missing_hours"),
            F.count(F.lit(1)).alias("n_blocks"),
            F.max("longest").alias("longest_block"),
            F.min(
                F.when(F.col("len") == F.col("longest"), F.col("bstart"))
            ).alias("longest_block_start"),
        )
        .orderBy("event_type")
    )


# -- SAX symbolization / motif histogram (round 6) ----------------------------
# Symbolic Aggregate approXimation (Lin et al.): per (group, day), PAA the
# 24 hourly means into 4 six-hour segments, z-normalize the day, map each
# segment to an alphabet-4 symbol at the Gaussian breakpoints
# (-0.6745, 0, 0.6745), and histogram the resulting motif words. SAX is
# THE classical index for similarity search over massive series archives
# (equal-probability symbols => lower-bounding distance), and the motif
# histogram is the shape-drift diagnostic a forecasting pipeline checks
# between retrains.
#
# Determinism (repo conventions): hourly means are exact DECIMAL
# sums / counts; segment means sum 1e-6-quantized hourlies as DECIMAL
# (order-free) / count; day mean and variance come from explicit
# quantized-decimal moment sums (never builtin stddev, whose summation
# order differs across engines); z is quantized to the 1e-9 grid before
# the strict breakpoint compares. Scale: two hash aggs (fact -> hourly ->
# segment) then day-level frames; no windows over the fact.
_SAX_BREAK = 0.6745


@register(
    "ts_sax_motifs",
    oracle=f"""
WITH hourly AS (
  SELECT event_type,
         date_trunc('day', ts) AS day,
         date_part('hour', ts) AS hr,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS hv
  FROM {EVENTS_SRC}
  WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2, 3
),
seg AS (
  SELECT event_type, day, CAST(hr // 6 AS INTEGER) AS s,
         CAST(sum(CAST(floor(hv * 1000000 + 0.5) / 1000000
                       AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS x
  FROM hourly GROUP BY 1, 2, 3
),
fullday AS (
  SELECT event_type, day FROM seg GROUP BY 1, 2 HAVING count(*) = 4
),
stats AS (
  SELECT s.event_type, s.day,
         CAST(sum(CAST(floor(s.x * 1e9 + 0.5) / 1e9 AS DECIMAL(38,9)))
              AS DOUBLE) / 4 AS m,
         CAST(sum(CAST(floor(s.x * s.x * 1e9 + 0.5) / 1e9 AS DECIMAL(38,9)))
              AS DOUBLE) AS sxx
  FROM seg s JOIN fullday f ON s.event_type = f.event_type AND s.day = f.day
  GROUP BY 1, 2
),
z AS (
  SELECT s.event_type, s.day, s.s,
         CASE WHEN (t.sxx - 4 * t.m * t.m) <= 0 THEN 0.0
              ELSE floor((s.x - t.m) / sqrt((t.sxx - 4 * t.m * t.m) / 3)
                         * 1e9 + 0.5) / 1e9
         END AS zq
  FROM seg s JOIN stats t ON s.event_type = t.event_type AND s.day = t.day
),
sym AS (
  SELECT event_type, day, s,
         CASE WHEN zq < -{_SAX_BREAK} THEN 'a'
              WHEN zq < 0 THEN 'b'
              WHEN zq < {_SAX_BREAK} THEN 'c'
              ELSE 'd' END AS c
  FROM z
),
words AS (
  SELECT event_type, day, string_agg(c, '' ORDER BY s) AS sax_word
  FROM sym GROUP BY 1, 2
)
SELECT event_type, sax_word, count(*) AS n_days
FROM words GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_ts_sax_motifs(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.hour("ts").alias("hr"),
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count("value")
        ).alias("hv")
    )
    q6 = (F.floor(F.col("hv") * 1_000_000 + 0.5) / 1_000_000).cast(
        "decimal(28,6)"
    )
    seg = hourly.groupBy(
        "event_type", "day", (F.col("hr") / 6).cast("int").alias("s")
    ).agg((F.sum(q6).cast("double") / F.count(F.lit(1))).alias("x"))
    fullday = (
        seg.groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("ns"))
        .filter(F.col("ns") == 4)
        .drop("ns")
    )
    seg = seg.join(fullday, ["event_type", "day"])
    q9 = lambda c: (F.floor(c * 1e9 + 0.5) / 1e9).cast("decimal(38,9)")  # noqa: E731
    stats = seg.groupBy("event_type", "day").agg(
        (F.sum(q9(F.col("x"))).cast("double") / 4).alias("m"),
        F.sum(q9(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
    )
    var = (F.col("sxx") - 4 * F.col("m") * F.col("m")) / 3
    zq = F.when(
        (F.col("sxx") - 4 * F.col("m") * F.col("m")) <= 0, F.lit(0.0)
    ).otherwise(
        F.floor((F.col("x") - F.col("m")) / F.sqrt(var) * 1e9 + 0.5) / 1e9
    )
    sym = (
        seg.join(stats, ["event_type", "day"])
        .select(
            "event_type",
            "day",
            "s",
            F.when(zq < -_SAX_BREAK, F.lit("a"))
            .when(zq < 0, F.lit("b"))
            .when(zq < _SAX_BREAK, F.lit("c"))
            .otherwise(F.lit("d"))
            .alias("c"),
        )
    )
    words = sym.groupBy("event_type", "day").agg(
        F.concat_ws(
            "", F.transform(F.array_sort(F.collect_list(F.struct("s", "c"))), lambda t: t.getField("c"))
        ).alias("sax_word")
    )
    return (
        words.groupBy("event_type", "sax_word")
        .agg(F.count(F.lit(1)).alias("n_days"))
        .orderBy("event_type", "sax_word")
    )


# -- PSI drift TREND (round 6): weekly PSI vs the first week -----------------
# ts_psi_drift answers "did the distribution move between two windows";
# production monitoring wants the TRAJECTORY: PSI of every week against
# the baseline (first) week, per group -- the chart a retrain trigger
# thresholds on. Same conventions as ts_psi_drift (fixed equal-width
# value/20 bins capped at 9, 1e-6 smoothing, 4dp portable round); the
# (group, week, bucket) universe is completed by a small grid cross so
# absent buckets contribute their smoothed share on either side.
# Scale: one fact pass to (group, week, bucket) counts; everything
# after runs on that tiny grid.
@register(
    "ts_psi_weekly_trend",
    oracle=f"""
WITH counts AS (
  SELECT event_type, date_trunc('week', ts) AS mon,
         least(floor(value / 20.0), 9) AS bucket, count(*) AS n
  FROM {EVENTS_SRC} WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2, 3
),
months AS (SELECT DISTINCT event_type, mon FROM counts),
buckets AS (SELECT DISTINCT event_type, bucket FROM counts),
grid AS (
  SELECT m.event_type, m.mon, b.bucket
  FROM months m JOIN buckets b ON m.event_type = b.event_type
),
frac AS (
  SELECT g.event_type, g.mon, g.bucket,
         coalesce(c.n, 0) * 1.0
           / sum(coalesce(c.n, 0)) OVER (PARTITION BY g.event_type, g.mon)
           AS p
  FROM grid g LEFT JOIN counts c
    ON c.event_type = g.event_type AND c.mon = g.mon AND c.bucket = g.bucket
),
base AS (
  SELECT event_type, min(mon) AS mon0 FROM months GROUP BY 1
),
joined AS (
  SELECT f.event_type, f.mon, f.bucket, f.p AS p_cur, b.p AS p_ref
  FROM frac f
  JOIN base ON base.event_type = f.event_type
  JOIN frac b ON b.event_type = f.event_type AND b.mon = base.mon0
             AND b.bucket = f.bucket
)
SELECT event_type, CAST(mon AS TIMESTAMP) AS week,
       floor(sum((p_ref - p_cur) * ln((p_ref + 1e-6) / (p_cur + 1e-6)))
             * 10000 + 0.5) / 10000 AS psi
FROM joined GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_ts_psi_weekly_trend(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    counts = ev.groupBy(
        "event_type",
        F.date_trunc("week", "ts").alias("mon"),
        F.least(F.floor(F.col("value") / 20.0), F.lit(9)).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    months = counts.select("event_type", "mon").distinct()
    buckets = counts.select("event_type", "bucket").distinct()
    grid = months.join(buckets, "event_type")
    frac = (
        grid.join(counts, ["event_type", "mon", "bucket"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .withColumn(
            "p",
            F.col("n")
            * 1.0
            / F.sum("n").over(Window.partitionBy("event_type", "mon")),
        )
    )
    base_mon = months.groupBy("event_type").agg(F.min("mon").alias("mon0"))
    base = (
        frac.join(
            base_mon,
            (frac["event_type"] == base_mon["event_type"])
            & (frac["mon"] == base_mon["mon0"]),
        )
        .select(
            frac["event_type"].alias("be"),
            frac["bucket"].alias("bb"),
            frac["p"].alias("p_ref"),
        )
    )
    joined = frac.join(
        F.broadcast(base),
        (frac["event_type"] == F.col("be")) & (frac["bucket"] == F.col("bb")),
    )
    term = (F.col("p_ref") - F.col("p")) * F.log(
        (F.col("p_ref") + 1e-6) / (F.col("p") + 1e-6)
    )
    return (
        joined.groupBy("event_type", F.col("mon").alias("week"))
        .agg((F.floor(F.sum(term) * 10000 + 0.5) / 10000).alias("psi"))
        .orderBy("event_type", "week")
    )


# -- daily-profile motifs & discords (round 6) --------------------------------
# Matrix-profile-lite at the DAY grain: z-normalize each day's 24-hour
# profile (same quantized-decimal moments as ts_sax_motifs), compute
# all-pairs Euclidean distance between days OF THE SAME GROUP, and report
# each day's nearest neighbor distance -- small values = motifs
# (recurring shapes), large values = discords (anomalous days). The
# day-pair space is (days x days) per group -- calendar-sized, never
# fact-sized -- so the quadratic join is a deliberate, bounded choice
# (a 10-year feed is 3650 days -> 6.7M pairs per group, trivial).
# Per-dimension squared differences are quantized to the 1e-9 grid and
# decimal-summed (order-free), so both engines land on identical
# distances; ties in the argmin break on the neighbor day.
@register(
    "ts_daily_profile_motifs",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('day', ts) AS day, date_part('hour', ts) AS hr,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS hv
  FROM {EVENTS_SRC} WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2, 3
),
fullday AS (
  SELECT event_type, day FROM hourly GROUP BY 1, 2 HAVING count(*) = 24
),
stats AS (
  SELECT h.event_type, h.day,
         CAST(sum(CAST(floor(h.hv * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6)))
              AS DOUBLE) / 24 AS m,
         CAST(sum(CAST(floor(h.hv * h.hv * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6)))
              AS DOUBLE) AS sxx
  FROM hourly h JOIN fullday f ON h.event_type = f.event_type AND h.day = f.day
  GROUP BY 1, 2
),
z AS (
  SELECT h.event_type, h.day, h.hr,
         CASE WHEN (s.sxx - 24 * s.m * s.m) <= 0 THEN 0.0
              ELSE floor((h.hv - s.m) / sqrt((s.sxx - 24 * s.m * s.m) / 23)
                         * 1e6 + 0.5) / 1e6
         END AS zv
  FROM hourly h JOIN stats s ON h.event_type = s.event_type AND h.day = s.day
),
dist AS (
  SELECT a.event_type, a.day AS da, b.day AS db,
         sum(CAST(floor((a.zv - b.zv) * (a.zv - b.zv) * 1e9 + 0.5) / 1e9
                  AS DECIMAL(38,9))) AS d2
  FROM z a JOIN z b
    ON a.event_type = b.event_type AND a.hr = b.hr AND a.day <> b.day
  GROUP BY 1, 2, 3
),
nn AS (
  SELECT event_type, da, db, d2,
         row_number() OVER (PARTITION BY event_type, da
                            ORDER BY d2, db) AS rk
  FROM dist
)
SELECT event_type, CAST(da AS TIMESTAMP) AS day, CAST(db AS TIMESTAMP) AS nn_day,
       floor(sqrt(CAST(d2 AS DOUBLE)) * 10000 + 0.5) / 10000 AS nn_dist
FROM nn WHERE rk = 1 ORDER BY 1, 2
""",
)
def q_ts_daily_profile_motifs(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.hour("ts").alias("hr"),
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count("value")
        ).alias("hv")
    )
    fullday = (
        hourly.groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("nh"))
        .filter(F.col("nh") == 24)
        .drop("nh")
    )
    hourly = hourly.join(fullday, ["event_type", "day"])
    q6 = lambda c: (F.floor(c * 1e6 + 0.5) / 1e6).cast("decimal(38,6)")  # noqa: E731
    stats = hourly.groupBy("event_type", "day").agg(
        (F.sum(q6(F.col("hv"))).cast("double") / 24).alias("m"),
        F.sum(q6(F.col("hv") * F.col("hv"))).cast("double").alias("sxx"),
    )
    var = (F.col("sxx") - 24 * F.col("m") * F.col("m")) / 23
    zv = F.when(
        (F.col("sxx") - 24 * F.col("m") * F.col("m")) <= 0, F.lit(0.0)
    ).otherwise(F.floor((F.col("hv") - F.col("m")) / F.sqrt(var) * 1e6 + 0.5) / 1e6)
    z = hourly.join(stats, ["event_type", "day"]).select(
        "event_type", "day", "hr", zv.alias("zv")
    )
    a = z.select("event_type", F.col("day").alias("da"), "hr", F.col("zv").alias("za"))
    b = z.select("event_type", F.col("day").alias("db"), "hr", F.col("zv").alias("zb"))
    diff2 = (F.col("za") - F.col("zb")) * (F.col("za") - F.col("zb"))
    dist = (
        a.join(b, ["event_type", "hr"])
        .filter(F.col("da") != F.col("db"))
        .groupBy("event_type", "da", "db")
        .agg(
            F.sum((F.floor(diff2 * 1e9 + 0.5) / 1e9).cast("decimal(38,9)")).alias(
                "d2"
            )
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "da").orderBy("d2", "db")
    return (
        dist.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("da").alias("day"),
            F.col("db").alias("nn_day"),
            (
                F.floor(F.sqrt(F.col("d2").cast("double")) * 10000 + 0.5) / 10000
            ).alias("nn_dist"),
        )
        .orderBy("event_type", "day")
    )


# -- coincidence / diversity factor (power-systems aggregation metric) --------
# The electricity-domain number the reference's forecasting pipeline
# implicitly depends on: the system peak is LESS than the sum of the
# per-unit peaks because units don't peak together. coincidence factor =
# system peak / sum(unit peaks) in (0, 1]; diversity factor = its
# reciprocal. Units = event types, hourly DECIMAL load sums (exact,
# order-independent), peaks = max over hours. Two shuffles ((unit, hour)
# agg, then unit- and hour-level maxes over hour-count-sized frames);
# ratios computed once on doubles, rounded at the edge.
_CF_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS h,
         sum(CAST(value AS DECIMAL(18,2))) AS load
  FROM {EVENTS_SRC} WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
unit_peaks AS (
  SELECT event_type, max(load) AS unit_peak FROM hourly GROUP BY 1
),
system_hourly AS (SELECT h, sum(load) AS sys_load FROM hourly GROUP BY 1),
agg AS (
  SELECT (SELECT count(*) FROM unit_peaks) AS n_units,
         (SELECT CAST(sum(unit_peak) AS DOUBLE) FROM unit_peaks)
           AS sum_unit_peaks,
         (SELECT CAST(max(sys_load) AS DOUBLE) FROM system_hourly)
           AS system_peak
)
SELECT CAST(n_units AS BIGINT) AS n_units,
       floor(sum_unit_peaks * 100 + 0.5) / 100 AS sum_unit_peaks,
       floor(system_peak * 100 + 0.5) / 100 AS system_peak,
       floor(system_peak / sum_unit_peaks * 10000 + 0.5) / 10000
         AS coincidence_factor,
       floor(sum_unit_peaks / system_peak * 10000 + 0.5) / 10000
         AS diversity_factor
FROM agg
"""


@register("ts_coincidence_factor", oracle=_CF_ORACLE)
def q_ts_coincidence_factor(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.date_trunc("hour", "ts").alias("h"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    hourly = ev.groupBy("event_type", "h").agg(F.sum("v").alias("load"))
    unit_peaks = hourly.groupBy("event_type").agg(F.max("load").alias("unit_peak"))
    up = unit_peaks.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("unit_peak").cast("double").alias("sum_unit_peaks"),
    )
    sys_peak = (
        hourly.groupBy("h")
        .agg(F.sum("load").alias("sys_load"))
        .agg(F.max("sys_load").cast("double").alias("system_peak"))
    )
    r2 = lambda c: F.floor(c * 100 + 0.5) / 100  # noqa: E731
    r4 = lambda c: F.floor(c * 10000 + 0.5) / 10000  # noqa: E731
    return up.crossJoin(F.broadcast(sys_peak)).select(
        F.col("n_units").cast("bigint").alias("n_units"),
        r2(F.col("sum_unit_peaks")).alias("sum_unit_peaks"),
        r2(F.col("system_peak")).alias("system_peak"),
        r4(F.col("system_peak") / F.col("sum_unit_peaks")).alias(
            "coincidence_factor"
        ),
        r4(F.col("sum_unit_peaks") / F.col("system_peak")).alias(
            "diversity_factor"
        ),
    )
