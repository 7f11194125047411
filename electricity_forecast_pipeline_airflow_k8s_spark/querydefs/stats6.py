"""Round-5 continuation operators.

Survival / long-memory / forecast evaluation: Kaplan-Meier repurchase
survival, Hurst R/S, pinball loss, Ljung-Box, Granger lag-1, spectral
flatness, inverse-MAE ensemble, demand-intermittency classification,
discount elasticity. Model/data evaluation: decile lift, next-event
prediction accuracy, lang-ID confusion, k-means iteration step.
Scale/planning diagnostics: packed-bitmap audience overlap, join-key
skew report, histogram join-cardinality estimation, median-of-means,
Cramer's V, k-anonymity, CDF normalization, price-volume-mix bridge,
duplicate-payment forensics, weekly growth accounting, transition-graph
modularity. LLM-pipeline: token-budget waterfill, tokenizer fertility,
curriculum ordering, code-vs-prose detection, boilerplate-line
detection, negative-sampling distribution, audio-style frame energy.

Numeric policy (same as stats5/timeseries2): every group/window sum runs
on exact integers or fixed-decimal quantities so accumulation is
order-free; transcendentals (ln/log2/exp/sqrt) are applied once per row
to IDENTICAL doubles on both engines and quantized through the 1e9
fixed-point grid before any further summation; final outputs go through
the portable 1e-4 rounding grid.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
    portable_round,
)
from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import (
    fanout,
    reuse,
)
from electricity_forecast_pipeline_airflow_k8s_spark.queries import register, table
from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.validation import (
    EVENTS_SRC,
)

_FP = 1_000_000_000  # 1e9 fixed-point grid for per-row transcendentals


# -- Kaplan-Meier repurchase survival ---------------------------------------
# Survival curve over inter-order gaps: each consecutive order pair of a
# customer contributes an observed "repurchase after t days" event; the
# open gap from a customer's last order to the global max order date is a
# censored observation. Product-limit estimator S(t) = prod(1 - d/n) over
# event times, accumulated as a cumulative sum of per-time ln(1 - d/n)
# terms on the 1e9 grid (exact decimal cumsum, one exp at the edge).
#
# Scale: the lead() window shuffles the fact once on o_custkey (same
# shape as rel_purchase_gap_stats); everything after the groupBy(t) runs
# on #distinct-durations rows (bounded by the date span, thousands at
# most), so the single-partition KM windows never see fact-sized data.
# Reference parity: forecast-horizon retention curves
# (/root/reference/core/data_validation.py gap/coverage family).
@register(
    "rel_km_repurchase",
    oracle=f"""
WITH o AS (
  SELECT o_custkey AS c, o_orderdate::DATE AS d, o_orderkey AS k FROM orders
),
mx AS (SELECT max(d) AS mxd FROM o),
gaps AS (
  SELECT c, d, lead(d) OVER (PARTITION BY c ORDER BY d, k) AS nd FROM o
),
subj AS (
  SELECT CASE WHEN nd IS NULL THEN (SELECT mxd FROM mx) - d ELSE nd - d END AS t,
         CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
  FROM gaps
),
agg AS (
  SELECT t, sum(ev) AS d_ev, sum(1 - ev) AS c_cens, count(*) AS m
  FROM subj GROUP BY t
),
tot AS (SELECT count(*) AS n FROM subj),
risk AS (
  SELECT t, d_ev, c_cens,
         (SELECT n FROM tot)
           - coalesce(sum(m) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM agg
),
terms AS (
  SELECT t, d_ev, c_cens, n_risk,
         CASE WHEN d_ev = 0 OR d_ev >= n_risk THEN CAST(0 AS DECIMAL(28,0))
              ELSE CAST(floor(ln(1.0 - d_ev * 1.0 / n_risk) * {_FP} + 0.5)
                        AS DECIMAL(28,0)) END AS term_fp,
         CASE WHEN d_ev >= n_risk THEN 1 ELSE 0 END AS died_out
  FROM risk
),
surv AS (
  SELECT t, d_ev, c_cens, n_risk,
         sum(term_fp) OVER (ORDER BY t) AS logsum_fp,
         max(died_out) OVER (ORDER BY t) AS hit_zero
  FROM terms
)
SELECT CAST(t AS BIGINT) AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d_ev AS BIGINT) AS n_events, CAST(c_cens AS BIGINT) AS n_censored,
       CASE WHEN hit_zero = 1 THEN 0.0
            ELSE floor(exp(CAST(logsum_fp AS DOUBLE) / {_FP}) * 10000 + 0.5)
                 / 10000 END AS survival
FROM surv WHERE d_ev > 0 ORDER BY t_days
""",
)
def q_rel_km_repurchase(spark: SparkSession, sf_dir: str):
    o = table(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("c"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    mxd = o.agg(F.max("d").alias("mxd"))
    w = Window.partitionBy("c").orderBy("d", "k")
    subj = (
        o.withColumn("nd", F.lead("d").over(w))
        .crossJoin(F.broadcast(mxd))
        .select(
            F.when(
                F.col("nd").isNull(), F.datediff("mxd", "d")
            )
            .otherwise(F.datediff("nd", "d"))
            .alias("t"),
            F.when(F.col("nd").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("ev"),
        )
    )
    agg = subj.groupBy("t").agg(
        F.sum("ev").alias("d_ev"),
        F.sum(1 - F.col("ev")).alias("c_cens"),
        F.count(F.lit(1)).alias("m"),
    )
    tot = subj.agg(F.count(F.lit(1)).alias("n"))
    wt = Window.orderBy("t")
    prior = wt.rowsBetween(Window.unboundedPreceding, -1)
    risk = agg.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        F.col("n") - F.coalesce(F.sum("m").over(prior), F.lit(0)),
    )
    terms = risk.select(
        "t",
        "d_ev",
        "c_cens",
        "n_risk",
        F.when(
            (F.col("d_ev") == 0) | (F.col("d_ev") >= F.col("n_risk")),
            F.lit(0).cast("decimal(28,0)"),
        )
        .otherwise(
            F.floor(
                F.log(1.0 - F.col("d_ev") * 1.0 / F.col("n_risk")) * _FP + 0.5
            ).cast("decimal(28,0)")
        )
        .alias("term_fp"),
        F.when(F.col("d_ev") >= F.col("n_risk"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("died_out"),
    )
    cum = wt.rowsBetween(Window.unboundedPreceding, 0)
    surv = terms.select(
        "t",
        "d_ev",
        "c_cens",
        "n_risk",
        F.sum("term_fp").over(cum).alias("logsum_fp"),
        F.max("died_out").over(cum).alias("hit_zero"),
    )
    return (
        surv.filter(F.col("d_ev") > 0)
        .select(
            F.col("t").cast("long").alias("t_days"),
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d_ev").cast("long").alias("n_events"),
            F.col("c_cens").cast("long").alias("n_censored"),
            F.when(F.col("hit_zero") == 1, F.lit(0.0))
            .otherwise(
                portable_round(
                    F.exp(F.col("logsum_fp").cast("double") / _FP), 4
                )
            )
            .alias("survival"),
        )
        .orderBy("t_days")
    )


# -- Hurst exponent via rescaled-range (R/S) analysis -----------------------
# Long-memory estimate of the hourly event-count series: for power-of-two
# window sizes w, split the dense hour spine into full chunks of w,
# compute the rescaled range R/S per chunk from exact-integer cumulative
# deviations (R = (max-min)/w of w*cumsum(x) - (pos+1)*sum(x); S from the
# integer moment identity), then fit log2(R/S) against log2(w) = {4..7}
# by closed-form least squares. H ~ 0.5 for a memoryless series.
#
# Scale: the only fact-sized stage is the groupBy(hour) count; chunk
# windows partition on (w, chunk) with frames capped at 128 rows, so
# parallelism follows #chunks, which grows linearly with the time span.
@register(
    "ts_hurst_rs",
    oracle=f"""
WITH ev AS (
  SELECT CAST(floor(date_part('epoch', ts) / 3600) AS BIGINT) AS h
  FROM {EVENTS_SRC} AS e WHERE ts IS NOT NULL
),
bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
spine AS (
  SELECT unnest(generate_series((SELECT h0 FROM bounds),
                                (SELECT h1 FROM bounds))) AS h
),
series AS (
  SELECT s.h - (SELECT h0 FROM bounds) AS idx, coalesce(c.n, 0) AS x
  FROM spine s
  LEFT JOIN (SELECT h, count(*) AS n FROM ev GROUP BY h) c ON c.h = s.h
),
total AS (SELECT count(*) AS n_hours FROM series),
sizes AS (SELECT unnest([16, 32, 64, 128]) AS w),
chunked AS (
  SELECT z.w, s.idx // z.w AS chunk, s.idx % z.w AS pos, s.x
  FROM series s CROSS JOIN sizes z
  WHERE s.idx // z.w < (SELECT n_hours FROM total) // z.w
),
run AS (
  SELECT w, chunk, pos, x,
         sum(x) OVER (PARTITION BY w, chunk ORDER BY pos) AS s_run,
         sum(x) OVER (PARTITION BY w, chunk) AS s_tot,
         sum(x * x) OVER (PARTITION BY w, chunk) AS ss_tot
  FROM chunked
),
devs AS (
  SELECT w, chunk, s_tot, ss_tot,
         max(w * s_run - (pos + 1) * s_tot) AS mx,
         min(w * s_run - (pos + 1) * s_tot) AS mn
  FROM run GROUP BY w, chunk, s_tot, ss_tot
),
rs AS (
  SELECT w,
         CAST(floor(log2((mx - mn) /
                sqrt(CAST(w AS DOUBLE) * ss_tot - CAST(s_tot AS DOUBLE) * s_tot))
                * {_FP} + 0.5) AS DECIMAL(28,0)) AS fp
  FROM devs WHERE w * ss_tot - s_tot * s_tot > 0
),
per_w AS (
  SELECT w, count(*) AS n_chunks,
         CAST(sum(fp) AS DOUBLE) / {_FP} / count(*) AS y
  FROM rs GROUP BY w
),
fit AS (
  SELECT (count(*) * sum(log2(w) * y) - sum(log2(w)) * sum(y))
         / (count(*) * sum(log2(w) * log2(w)) - sum(log2(w)) * sum(log2(w)))
           AS slope
  FROM per_w
)
SELECT CAST(w AS BIGINT) AS window_hours, CAST(n_chunks AS BIGINT) AS n_chunks,
       floor(y * 10000 + 0.5) / 10000 AS mean_log2_rs,
       floor((SELECT slope FROM fit) * 10000 + 0.5) / 10000 AS hurst_exponent
FROM per_w ORDER BY window_hours
""",
)
def q_ts_hurst_rs(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull())
        .select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h")
        )
    )
    cnts = ev.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    bounds = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1")).alias("h"), "h0"
    )
    series = (
        spine.join(cnts, "h", "left")
        .select(
            (F.col("h") - F.col("h0")).alias("idx"),
            F.coalesce("n", F.lit(0)).alias("x"),
        )
    )
    total = series.agg(F.count(F.lit(1)).alias("n_hours"))
    sizes = spark.createDataFrame([(16,), (32,), (64,), (128,)], "w int")
    chunked = (
        series.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(total))
        .filter(
            F.floor(F.col("idx") / F.col("w"))
            < F.floor(F.col("n_hours") / F.col("w"))
        )
        .select(
            "w",
            F.floor(F.col("idx") / F.col("w")).alias("chunk"),
            (F.col("idx") % F.col("w")).alias("pos"),
            "x",
        )
    )
    wc = Window.partitionBy("w", "chunk")
    wrun = wc.orderBy("pos")
    run = chunked.select(
        "w",
        "chunk",
        "pos",
        "x",
        F.sum("x").over(wrun).alias("s_run"),
        F.sum("x").over(wc).alias("s_tot"),
        F.sum(F.col("x") * F.col("x")).over(wc).alias("ss_tot"),
    )
    devs = run.groupBy("w", "chunk", "s_tot", "ss_tot").agg(
        F.max(
            F.col("w") * F.col("s_run") - (F.col("pos") + 1) * F.col("s_tot")
        ).alias("mx"),
        F.min(
            F.col("w") * F.col("s_run") - (F.col("pos") + 1) * F.col("s_tot")
        ).alias("mn"),
    )
    rs = devs.filter(
        F.col("w") * F.col("ss_tot") - F.col("s_tot") * F.col("s_tot") > 0
    ).select(
        "w",
        F.floor(
            F.log2(
                (F.col("mx") - F.col("mn"))
                / F.sqrt(
                    F.col("w").cast("double") * F.col("ss_tot")
                    - F.col("s_tot").cast("double") * F.col("s_tot")
                )
            )
            * _FP
            + 0.5
        )
        .cast("decimal(28,0)")
        .alias("fp"),
    )
    per_w = rs.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        (F.sum("fp").cast("double") / _FP / F.count(F.lit(1))).alias("y"),
    )
    lw = F.log2(F.col("w"))
    fit = per_w.agg(
        (
            (F.count(F.lit(1)) * F.sum(lw * F.col("y")) - F.sum(lw) * F.sum("y"))
            / (F.count(F.lit(1)) * F.sum(lw * lw) - F.sum(lw) * F.sum(lw))
        ).alias("slope")
    )
    return (
        per_w.crossJoin(F.broadcast(fit))
        .select(
            F.col("w").cast("long").alias("window_hours"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            portable_round(F.col("y"), 4).alias("mean_log2_rs"),
            portable_round(F.col("slope"), 4).alias("hurst_exponent"),
        )
        .orderBy("window_hours")
    )


# -- Pinball loss of per-hour-of-day empirical quantile forecasts -----------
# Quantile-forecast evaluation: train on the first 80% of days, forecast
# each (event_type, hour-of-day) as the train-set exact quantile of the
# hourly mean value at q in {0.1, 0.5, 0.9}, score the held-out days with
# the pinball (quantile) loss. Exact percentile == quantile_cont is the
# proven A8 contract; per-row loss terms are quantized to the 1e9 grid
# before the order-free decimal mean.
#
# Scale: one fact shuffle to (event_type, hour) means; the forecast table
# is (types x 24 x 3) rows and broadcast to the test join.
@register(
    "ts_pinball_loss",
    oracle=f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(date_part('epoch', ts) / 3600) AS BIGINT) AS hour_idx,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS hv
  FROM {EVENTS_SRC} AS e
  WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
days AS (SELECT min(hour_idx // 24) AS d0, max(hour_idx // 24) AS d1 FROM hourly),
split AS (
  SELECT d0 + CAST(floor((d1 - d0 + 1) * 0.8) AS BIGINT) AS cut FROM days
),
train AS (
  SELECT event_type, hour_idx % 24 AS how, hv FROM hourly
  WHERE hour_idx // 24 < (SELECT cut FROM split)
),
fc AS (
  SELECT event_type, how,
         quantile_cont(hv, 0.1) AS f10,
         quantile_cont(hv, 0.5) AS f50,
         quantile_cont(hv, 0.9) AS f90
  FROM train GROUP BY 1, 2
),
test AS (
  SELECT event_type, hour_idx % 24 AS how, hv FROM hourly
  WHERE hour_idx // 24 >= (SELECT cut FROM split)
),
scored AS (
  SELECT t.event_type, q.q,
         CAST(floor(greatest(q.q * (t.hv - q.f), (q.q - 1.0) * (t.hv - q.f))
                    * {_FP} + 0.5) AS DECIMAL(28,0)) AS term_fp
  FROM test t
  JOIN fc f ON f.event_type = t.event_type AND f.how = t.how
  CROSS JOIN LATERAL (
    SELECT unnest([0.1, 0.5, 0.9]) AS q,
           unnest([f.f10, f.f50, f.f90]) AS f
  ) q
)
SELECT event_type, CAST(q AS DOUBLE) AS quantile, count(*) AS n_test_hours,
       floor(CAST(sum(term_fp) AS DOUBLE) / {_FP} / count(*) * 10000 + 0.5)
         / 10000 AS pinball_loss
FROM scored GROUP BY 1, 2 ORDER BY event_type, quantile
""",
)
def q_ts_pinball_loss(spark: SparkSession, sf_dir: str):
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
    days = hourly.agg(
        F.min(F.floor(F.col("hour_idx") / 24)).alias("d0"),
        F.max(F.floor(F.col("hour_idx") / 24)).alias("d1"),
    )
    split = days.select(
        (
            F.col("d0")
            + F.floor((F.col("d1") - F.col("d0") + 1) * 0.8).cast("long")
        ).alias("cut")
    )
    base = hourly.crossJoin(F.broadcast(split)).withColumn(
        "how", F.col("hour_idx") % 24
    )
    train = base.filter(F.floor(F.col("hour_idx") / 24) < F.col("cut"))
    fc = train.groupBy("event_type", "how").agg(
        F.percentile("hv", F.lit(0.1)).alias("f10"),
        F.percentile("hv", F.lit(0.5)).alias("f50"),
        F.percentile("hv", F.lit(0.9)).alias("f90"),
    )
    test = base.filter(F.floor(F.col("hour_idx") / 24) >= F.col("cut"))
    joined = test.join(F.broadcast(fc), ["event_type", "how"])
    scored = joined.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(F.lit(0.1).alias("q"), F.col("f10").alias("f")),
                F.struct(F.lit(0.5).alias("q"), F.col("f50").alias("f")),
                F.struct(F.lit(0.9).alias("q"), F.col("f90").alias("f")),
            )
        ).alias("p"),
        "hv",
    ).select(
        "event_type",
        F.col("p.q").alias("q"),
        F.floor(
            F.greatest(
                F.col("p.q") * (F.col("hv") - F.col("p.f")),
                (F.col("p.q") - 1.0) * (F.col("hv") - F.col("p.f")),
            )
            * _FP
            + 0.5
        )
        .cast("decimal(28,0)")
        .alias("term_fp"),
    )
    return (
        scored.groupBy("event_type", F.col("q").alias("quantile"))
        .agg(
            F.count(F.lit(1)).alias("n_test_hours"),
            portable_round(
                F.sum("term_fp").cast("double") / _FP / F.count(F.lit(1)), 4
            ).alias("pinball_loss"),
        )
        .orderBy("event_type", "quantile")
    )


# -- Decile lift table -------------------------------------------------------
# Model-evaluation staple: rank customers by account balance (the
# "score"), cut into deciles, and report per-decile buyer rate plus
# cumulative lift vs the base rate. Deciles come from ntile_by_edges
# (operators/ranking.py): one narrow boundary sort of the projected key
# columns + broadcast binary-search binning -- no single-task WindowExec
# over the customer dimension (the r5/r6 scale fix that already carries
# layout_zorder_locality and rel_equidepth_histogram). The oracle's
# ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) is reproduced
# exactly by binning on (-c_acctbal, c_custkey) ascending -- a total
# order, so bucket assignment is deterministic across engines; every
# ratio is exact-integer-derived.
@register(
    "rel_decile_lift",
    oracle="""
WITH buyers AS (SELECT DISTINCT o_custkey AS c FROM orders),
base AS (
  SELECT c_custkey, CASE WHEN b.c IS NULL THEN 0 ELSE 1 END AS buyer,
         ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile
  FROM customer LEFT JOIN buyers b ON b.c = c_custkey
),
agg AS (
  SELECT decile, count(*) AS n_cust, sum(buyer) AS n_buyers
  FROM base GROUP BY decile
),
tot AS (SELECT sum(n_buyers) AS tb, sum(n_cust) AS tc FROM agg),
cum AS (
  SELECT decile, n_cust, n_buyers,
         sum(n_buyers) OVER (ORDER BY decile) AS cb,
         sum(n_cust) OVER (ORDER BY decile) AS cc
  FROM agg
)
SELECT decile, CAST(n_cust AS BIGINT) AS n_cust,
       CAST(n_buyers AS BIGINT) AS n_buyers,
       floor(n_buyers * 1.0 / n_cust * 10000 + 0.5) / 10000 AS buyer_rate,
       floor((cb * 1.0 / cc)
             / ((SELECT tb FROM tot) * 1.0 / (SELECT tc FROM tot))
             * 10000 + 0.5) / 10000 AS cum_lift
FROM cum ORDER BY decile
""",
)
def q_rel_decile_lift(spark: SparkSession, sf_dir: str):
    buyers = (
        table(spark, "orders", sf_dir)
        .select(F.col("o_custkey").alias("c"))
        .distinct()
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.ranking import ntile_by_edges

    cust = table(spark, "customer", sf_dir).select("c_custkey", "c_acctbal")
    scored = (
        cust.join(buyers, cust.c_custkey == buyers.c, "left")
        .select(
            "c_custkey",
            (-F.col("c_acctbal")).alias("neg_bal"),
            F.when(F.col("c").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("buyer"),
        )
    )
    # (-c_acctbal, c_custkey) ascending == (c_acctbal DESC, c_custkey):
    # decimal negation is exact, so the boundary tuples land on the same
    # customers the oracle's ntile(10) cuts at.
    base = ntile_by_edges(
        scored, ["neg_bal", "c_custkey"], k=10, tile_col="decile"
    )
    agg = base.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_cust"), F.sum("buyer").alias("n_buyers")
    )
    # the 10-row decile aggregate feeds BOTH the cumulative branch and the
    # totals branch; without a materialization Spark duplicates the whole
    # dimension-scan + edge-binning subtree per consumer (10 rows)
    agg = reuse(agg)
    tot = agg.agg(F.sum("n_buyers").alias("tb"), F.sum("n_cust").alias("tc"))
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = agg.select(
        "decile",
        "n_cust",
        "n_buyers",
        F.sum("n_buyers").over(wcum).alias("cb"),
        F.sum("n_cust").over(wcum).alias("cc"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.col("n_cust").cast("long").alias("n_cust"),
            F.col("n_buyers").cast("long").alias("n_buyers"),
            portable_round(F.col("n_buyers") * 1.0 / F.col("n_cust"), 4).alias(
                "buyer_rate"
            ),
            portable_round(
                (F.col("cb") * 1.0 / F.col("cc"))
                / (F.col("tb") * 1.0 / F.col("tc")),
                4,
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


# -- Ljung-Box white-noise test ---------------------------------------------
# Per event type, test the dense zero-filled hourly-count series for
# autocorrelation: rho_k = c_k / c_0 from full-series-mean autocovariances
# (all sums exact integers -> identical doubles), cumulative Ljung-Box
# Q_k = n(n+2) * sum_{j<=k} rho_j^2 / (n - j) via a 6-row ordered window.
# Spark pairs x_t with x_{t-k} through a RANGE(-k,-k) frame on the dense
# spine (no join); the oracle re-derives the same pairs with an explicit
# idx equi-join — independent formulations.
@register(
    "ts_ljung_box",
    oracle=f"""
WITH ev AS (
  SELECT event_type,
         CAST(floor(date_part('epoch', ts) / 3600) AS BIGINT) AS h
  FROM {EVENTS_SRC} AS e WHERE ts IS NOT NULL
),
bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
spine AS (
  SELECT unnest(generate_series((SELECT h0 FROM bounds),
                                (SELECT h1 FROM bounds))) AS h
),
types AS (SELECT DISTINCT event_type FROM ev),
series AS (
  SELECT g.event_type, g.h - (SELECT h0 FROM bounds) AS idx,
         coalesce(c.n, 0) AS x
  FROM (SELECT t.event_type, s.h FROM types t CROSS JOIN spine s) g
  LEFT JOIN (SELECT event_type, h, count(*) AS n FROM ev GROUP BY 1, 2) c
    ON c.event_type = g.event_type AND c.h = g.h
),
stats AS (
  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
  FROM series GROUP BY 1
),
lags AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS k),
pairs AS (
  SELECT a.event_type, l.k,
         sum(a.x * b.x) AS sxy, sum(a.x) AS sa, sum(b.x) AS sb,
         count(*) AS m
  FROM series a
  CROSS JOIN lags l
  JOIN series b ON b.event_type = a.event_type AND b.idx = a.idx - l.k
  GROUP BY 1, 2
),
rho AS (
  SELECT p.event_type, p.k, s.n,
         (p.sxy - (s.sx * 1.0 / s.n) * p.sa - (s.sx * 1.0 / s.n) * p.sb
            + (s.sx * 1.0 / s.n) * (s.sx * 1.0 / s.n) * p.m)
         / (s.sxx - (s.sx * 1.0 / s.n) * s.sx) AS r
  FROM pairs p JOIN stats s ON s.event_type = p.event_type
),
q AS (
  SELECT event_type, k, n, r,
         n * (n + 2.0) * sum(r * r / (n - k)) OVER (
           PARTITION BY event_type ORDER BY k) AS q_stat
  FROM rho
)
SELECT event_type, CAST(k AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_hours,
       floor(r * 10000 + 0.5) / 10000 AS rho,
       floor(q_stat * 10000 + 0.5) / 10000 AS q_ljung_box
FROM q ORDER BY event_type, lag
""",
)
def q_ts_ljung_box(spark: SparkSession, sf_dir: str):
    lags = [1, 2, 3, 4, 5, 6]
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
        )
    )
    bounds = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(F.explode(F.sequence("h0", "h1")).alias("h"), "h0")
    types = ev.select("event_type").distinct()
    cnts = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("n"))
    series = (
        types.crossJoin(F.broadcast(spine))
        .join(cnts, ["event_type", "h"], "left")
        .select(
            "event_type",
            (F.col("h") - F.col("h0")).alias("idx"),
            F.coalesce("n", F.lit(0)).alias("x"),
        )
    )
    stats = series.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    lagged = series
    for k in lags:
        w = (
            Window.partitionBy("event_type")
            .orderBy("idx")
            .rangeBetween(-k, -k)
        )
        lagged = lagged.withColumn(f"x_lag{k}", F.first("x").over(w))
    stacked = lagged.select(
        "event_type",
        "x",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"), F.col(f"x_lag{k}").alias("y")
                    )
                    for k in lags
                ]
            )
        ).alias("p"),
    ).select("event_type", F.col("p.k").alias("k"), "x", F.col("p.y").alias("y"))
    pairs = (
        stacked.filter(F.col("y").isNotNull())
        .groupBy("event_type", "k")
        .agg(
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum("x").alias("sa"),
            F.sum("y").alias("sb"),
            F.count(F.lit(1)).alias("m"),
        )
    )
    m_mean = F.col("sx") * 1.0 / F.col("n")
    rho = pairs.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "k",
        "n",
        (
            (
                F.col("sxy")
                - m_mean * F.col("sa")
                - m_mean * F.col("sb")
                + m_mean * m_mean * F.col("m")
            )
            / (F.col("sxx") - m_mean * F.col("sx"))
        ).alias("r"),
    )
    wq = (
        Window.partitionBy("event_type")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    q = rho.withColumn(
        "q_stat",
        F.col("n")
        * (F.col("n") + 2.0)
        * F.sum(F.col("r") * F.col("r") / (F.col("n") - F.col("k"))).over(wq),
    )
    return q.select(
        "event_type",
        F.col("k").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_hours"),
        portable_round(F.col("r"), 4).alias("rho"),
        portable_round(F.col("q_stat"), 4).alias("q_ljung_box"),
    ).orderBy("event_type", "lag")


# -- Packed-bitmap audience overlap -----------------------------------------
# Pairwise user-audience overlap between event types via 32-bit packed
# bitmap words: users are bucketed into word = user_id // 32 with a
# bit_or-merged mask per (type, word), and each pair's overlap is
# sum(bit_count(a & b)) over a word-aligned equi-join — the roaring-
# bitmap-index layout for segment-intersection counting at scale (masks
# stay in BIGINT; bit 31 max, so no signed-shift overflow in either
# engine). Oracle: plain DISTINCT self-join COUNT — independent.
#
# Scale: one distinct shuffle on (type, user); bitmaps compress the join
# input ~32x vs raw user rows, the pair join is word-partitioned (no
# all-pairs blowup), and masks merge associatively (bit_or), so partial
# aggregation works map-side.
@register(
    "rel_bitmap_overlap",
    oracle=f"""
WITH du AS (
  SELECT DISTINCT event_type, user_id
  FROM {EVENTS_SRC} AS e WHERE user_id IS NOT NULL
),
sizes AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_overlap
  FROM du a
  JOIN du b ON b.user_id = a.user_id AND b.event_type > a.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       CAST(p.n_overlap AS BIGINT) AS n_overlap,
       floor(p.n_overlap * 1.0 / (sa.n + sb.n - p.n_overlap) * 10000 + 0.5)
         / 10000 AS jaccard
FROM pairs p
JOIN sizes sa ON sa.event_type = p.type_a
JOIN sizes sb ON sb.event_type = p.type_b
WHERE p.n_overlap > 0
ORDER BY p.type_a, p.type_b
""",
)
def q_rel_bitmap_overlap(spark: SparkSession, sf_dir: str):
    du = (
        table(spark, "events", sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    bitmaps = du.groupBy(
        "event_type", F.floor(F.col("user_id") / 32).alias("word")
    ).agg(
        # F.shiftleft only takes a literal bit count; the per-row shift
        # goes through expr (bit 31 max, so the mask stays positive)
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
        ).alias("bits")
    )
    # the word-bitmap table (types x words, ~32x smaller than the distinct
    # pairs) feeds three consumers (sizes + both join sides): reuse it so
    # the fact scan+distinct runs once (theilsen's pattern)
    bitmaps = reuse(bitmaps)
    sizes = bitmaps.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n")
    )
    a = bitmaps.alias("a")
    b = bitmaps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.word") == F.col("a.word"))
            & (F.col("b.event_type") > F.col("a.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.sum(F.bit_count(F.col("a.bits").bitwiseAND(F.col("b.bits")))).alias(
                "n_overlap"
            )
        )
        .filter(F.col("n_overlap") > 0)
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_overlap").cast("long").alias("n_overlap"),
            portable_round(
                F.col("n_overlap")
                * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("n_overlap")),
                4,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# -- Lag-1 Granger causality between click and purchase volumes -------------
# Does the hourly click count help predict the next hour's purchase count
# (and vice versa)? Restricted model y_t ~ y_{t-1} vs unrestricted
# y_t ~ y_{t-1} + x_{t-1}; F = (RSS_r - RSS_u) / (RSS_u / (n - 3)) with
# both RSS from closed-form normal equations on exact-integer sums over
# the dense zero-filled spine, so every double op is the identical
# expression on identical inputs in both engines.
#
# Scale: the fact collapses to one row per hour per type at the first
# groupBy; everything after runs on spine-sized data.
@register(
    "ts_granger_lag1",
    oracle=f"""
WITH ev AS (
  SELECT event_type,
         CAST(floor(date_part('epoch', ts) / 3600) AS BIGINT) AS h
  FROM {EVENTS_SRC} AS e
  WHERE ts IS NOT NULL AND event_type IN ('click', 'purchase')
),
bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
spine AS (
  SELECT unnest(generate_series((SELECT h0 FROM bounds),
                                (SELECT h1 FROM bounds))) AS h
),
series AS (
  SELECT s.h,
         coalesce(c.n_click, 0) AS click, coalesce(c.n_purch, 0) AS purch
  FROM spine s
  LEFT JOIN (
    SELECT h,
           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch
    FROM ev GROUP BY h
  ) c ON c.h = s.h
),
lagged AS (
  SELECT h, click, purch,
         lag(click) OVER (ORDER BY h) AS click_1,
         lag(purch) OVER (ORDER BY h) AS purch_1
  FROM series
),
obs AS (
  SELECT 'click->purchase' AS direction, purch AS y, purch_1 AS ylag,
         click_1 AS xlag
  FROM lagged WHERE click_1 IS NOT NULL
  UNION ALL
  SELECT 'purchase->click', click, click_1, purch_1
  FROM lagged WHERE purch_1 IS NOT NULL
),
sums AS (
  SELECT direction, count(*) AS n,
         sum(y) AS sy, sum(ylag) AS s1, sum(xlag) AS s2,
         sum(y * y) AS syy, sum(ylag * ylag) AS s11, sum(xlag * xlag) AS s22,
         sum(ylag * xlag) AS s12, sum(y * ylag) AS s1y, sum(y * xlag) AS s2y
  FROM obs GROUP BY 1
),
cent AS (
  SELECT direction, n,
         syy - sy * 1.0 * sy / n AS cyy,
         s11 - s1 * 1.0 * s1 / n AS c11,
         s22 - s2 * 1.0 * s2 / n AS c22,
         s12 - s1 * 1.0 * s2 / n AS c12,
         s1y - s1 * 1.0 * sy / n AS c1y,
         s2y - s2 * 1.0 * sy / n AS c2y
  FROM sums
),
fit AS (
  SELECT direction, n,
         cyy - c1y * c1y / c11 AS rss_r,
         cyy - (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * c1y
             - (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * c2y AS rss_u
  FROM cent
)
SELECT direction, CAST(n AS BIGINT) AS n_obs,
       floor(rss_r * 10000 + 0.5) / 10000 AS rss_restricted,
       floor(rss_u * 10000 + 0.5) / 10000 AS rss_unrestricted,
       floor((rss_r - rss_u) / (rss_u / (n - 3)) * 10000 + 0.5) / 10000
         AS f_stat
FROM fit ORDER BY direction
""",
)
def q_ts_granger_lag1(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
        )
    )
    cnts = ev.groupBy("h").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "n_click"
        ),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purch"
        ),
    )
    bounds = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(F.explode(F.sequence("h0", "h1")).alias("h"))
    series = spine.join(cnts, "h", "left").select(
        "h",
        F.coalesce("n_click", F.lit(0)).alias("click"),
        F.coalesce("n_purch", F.lit(0)).alias("purch"),
    )
    w = Window.orderBy("h")
    lagged = series.select(
        "click",
        "purch",
        F.lag("click").over(w).alias("click_1"),
        F.lag("purch").over(w).alias("purch_1"),
    )
    obs = lagged.filter(F.col("click_1").isNotNull()).select(
        F.lit("click->purchase").alias("direction"),
        F.col("purch").alias("y"),
        F.col("purch_1").alias("ylag"),
        F.col("click_1").alias("xlag"),
    ).unionAll(
        lagged.filter(F.col("purch_1").isNotNull()).select(
            F.lit("purchase->click").alias("direction"),
            F.col("click").alias("y"),
            F.col("click_1").alias("ylag"),
            F.col("purch_1").alias("xlag"),
        )
    )
    sums = obs.groupBy("direction").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("ylag").alias("s1"),
        F.sum("xlag").alias("s2"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("ylag") * F.col("ylag")).alias("s11"),
        F.sum(F.col("xlag") * F.col("xlag")).alias("s22"),
        F.sum(F.col("ylag") * F.col("xlag")).alias("s12"),
        F.sum(F.col("y") * F.col("ylag")).alias("s1y"),
        F.sum(F.col("y") * F.col("xlag")).alias("s2y"),
    )
    cent = sums.select(
        "direction",
        "n",
        (F.col("syy") - F.col("sy") * 1.0 * F.col("sy") / F.col("n")).alias("cyy"),
        (F.col("s11") - F.col("s1") * 1.0 * F.col("s1") / F.col("n")).alias("c11"),
        (F.col("s22") - F.col("s2") * 1.0 * F.col("s2") / F.col("n")).alias("c22"),
        (F.col("s12") - F.col("s1") * 1.0 * F.col("s2") / F.col("n")).alias("c12"),
        (F.col("s1y") - F.col("s1") * 1.0 * F.col("sy") / F.col("n")).alias("c1y"),
        (F.col("s2y") - F.col("s2") * 1.0 * F.col("sy") / F.col("n")).alias("c2y"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    fit = cent.select(
        "direction",
        "n",
        (F.col("cyy") - F.col("c1y") * F.col("c1y") / F.col("c11")).alias("rss_r"),
        (
            F.col("cyy")
            - (F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y"))
            / det
            * F.col("c1y")
            - (F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y"))
            / det
            * F.col("c2y")
        ).alias("rss_u"),
    )
    return fit.select(
        "direction",
        F.col("n").cast("long").alias("n_obs"),
        portable_round(F.col("rss_r"), 4).alias("rss_restricted"),
        portable_round(F.col("rss_u"), 4).alias("rss_unrestricted"),
        portable_round(
            (F.col("rss_r") - F.col("rss_u"))
            / (F.col("rss_u") / (F.col("n") - 3)),
            4,
        ).alias("f_stat"),
    ).orderBy("direction")


# -- Spectral flatness of the daily cycle ------------------------------------
# Harmonic decomposition of the hourly-mean profile at k = 1..11 cycles
# per day, reusing the exact 24-point cos/sin literal basis from
# ts_spectral_daily_strength via the index identity
# cos(2*pi*k*t/24) = COS24[(k*t) mod 24]. Per-harmonic power
# P_k = a_k^2 + b_k^2 from DECIMAL(28,12) partial sums; flatness =
# geometric mean / arithmetic mean over harmonics (1.0 = white,
# -> 0 = one dominant cycle), with log P_k on the 1e9 grid and P_k on a
# 1e6 grid so both means accumulate order-free; the dominant harmonic is
# an exact-integer argmax on the quantized powers.
from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.timeseries2 import (  # noqa: E402
    _COS24,
    _SIN24,
)

_COS_SQL = "[" + ", ".join(repr(v) for v in _COS24) + "]"
_SIN_SQL = "[" + ", ".join(repr(v) for v in _SIN24) + "]"


@register(
    "ts_spectral_flatness",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         floor(avg(value) * 1000000 + 0.5) / 1000000 AS v
  FROM {EVENTS_SRC} AS events
  WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
terms AS (
  SELECT event_type, l.k,
         CAST(v * list_extract({_COS_SQL}, (l.k * hour(h)) % 24 + 1)
              AS DECIMAL(28,12)) AS ct,
         CAST(v * list_extract({_SIN_SQL}, (l.k * hour(h)) % 24 + 1)
              AS DECIMAL(28,12)) AS st
  FROM hourly CROSS JOIN (SELECT unnest(generate_series(1, 11)) AS k) l
),
power_k AS (
  SELECT event_type, k,
         CAST(sum(ct) AS DOUBLE) * CAST(sum(ct) AS DOUBLE)
           + CAST(sum(st) AS DOUBLE) * CAST(sum(st) AS DOUBLE) AS p
  FROM terms GROUP BY 1, 2
),
fp AS (
  SELECT event_type, k,
         CAST(floor(ln(greatest(p, 1e-12)) * {_FP} + 0.5) AS DECIMAL(28,0)) AS lp_fp,
         CAST(floor(p * 1000000 + 0.5) AS DECIMAL(28,0)) AS p_fp
  FROM power_k
),
mx AS (
  SELECT event_type, max(p_fp) AS max_p FROM fp GROUP BY 1
)
SELECT f.event_type,
       count(*) AS n_harmonics,
       floor(exp(CAST(sum(f.lp_fp) AS DOUBLE) / {_FP} / count(*))
             / (CAST(sum(f.p_fp) AS DOUBLE) / 1000000 / count(*))
             * 10000 + 0.5) / 10000 AS spectral_flatness,
       CAST(min(CASE WHEN f.p_fp = m.max_p THEN f.k END) AS BIGINT)
         AS dominant_k,
       floor(CAST(max(f.p_fp) AS DOUBLE) / CAST(sum(f.p_fp) AS DOUBLE)
             * 10000 + 0.5) / 10000 AS dominant_share
FROM fp f JOIN mx m ON m.event_type = f.event_type
GROUP BY f.event_type ORDER BY f.event_type
""",
)
def q_ts_spectral_flatness(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg((F.floor(F.avg("value") * 1000000 + 0.5) / 1000000).alias("v"))
    )
    cos_arr = F.array(*[F.lit(v) for v in _COS24])
    sin_arr = F.array(*[F.lit(v) for v in _SIN24])
    ks = F.explode(F.array(*[F.lit(k) for k in range(1, 12)])).alias("k")
    with_k = ev.select("event_type", "h", "v", ks)
    idx = ((F.col("k") * F.hour("h")) % 24) + 1
    terms = with_k.select(
        "event_type",
        "k",
        (F.col("v") * F.element_at(cos_arr, idx))
        .cast("decimal(28,12)")
        .alias("ct"),
        (F.col("v") * F.element_at(sin_arr, idx))
        .cast("decimal(28,12)")
        .alias("st"),
    )
    a = F.sum("ct").cast("double")
    b = F.sum("st").cast("double")
    power = terms.groupBy("event_type", "k").agg((a * a + b * b).alias("p"))
    fp = power.select(
        "event_type",
        "k",
        F.floor(F.log(F.greatest(F.col("p"), F.lit(1e-12))) * _FP + 0.5)
        .cast("decimal(28,0)")
        .alias("lp_fp"),
        F.floor(F.col("p") * 1000000 + 0.5)
        .cast("decimal(28,0)")
        .alias("p_fp"),
    ).withColumn(
        "max_p", F.max("p_fp").over(Window.partitionBy("event_type"))
    )
    out = fp.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_harmonics"),
        portable_round(
            F.exp(F.sum("lp_fp").cast("double") / _FP / F.count(F.lit(1)))
            / (F.sum("p_fp").cast("double") / 1000000 / F.count(F.lit(1))),
            4,
        ).alias("spectral_flatness"),
        F.min(F.when(F.col("p_fp") == F.col("max_p"), F.col("k")))
        .cast("long")
        .alias("dominant_k"),
        portable_round(
            F.max("p_fp").cast("double") / F.sum("p_fp").cast("double"), 4
        ).alias("dominant_share"),
    )
    return out.select(
        "event_type",
        F.col("n_harmonics").cast("long").alias("n_harmonics"),
        "spectral_flatness",
        "dominant_k",
        "dominant_share",
    ).orderBy("event_type")


# -- Cramer's V association --------------------------------------------------
# Strength of association between event type and a stable user cohort
# (user_id % 8) from the exact-integer contingency table:
# chi2 = sum (o - e)^2 / e with e = row_tot * col_tot / n, per-cell terms
# quantized to the 1e9 grid before the order-free decimal sum;
# V = sqrt(chi2 / (n * (min(r, c) - 1))).
@register(
    "val_cramers_v",
    oracle=f"""
WITH base AS (
  SELECT event_type, user_id % 8 AS cohort
  FROM {EVENTS_SRC} AS e WHERE user_id IS NOT NULL
),
obs AS (SELECT event_type, cohort, count(*) AS o FROM base GROUP BY 1, 2),
rows_t AS (SELECT event_type, sum(o) AS rt FROM obs GROUP BY 1),
cols_t AS (SELECT cohort, sum(o) AS ct FROM obs GROUP BY 1),
n AS (SELECT sum(o) AS n FROM obs),
-- the full r x c grid: empty cells still contribute (0 - e)^2 / e = e
cells AS (
  SELECT r.event_type, l.cohort, r.rt, l.ct, coalesce(ob.o, 0) AS o
  FROM rows_t r
  CROSS JOIN cols_t l
  LEFT JOIN obs ob ON ob.event_type = r.event_type AND ob.cohort = l.cohort
),
terms AS (
  SELECT CAST(floor(
           (c.o - c.rt * 1.0 * c.ct / nn.n) * (c.o - c.rt * 1.0 * c.ct / nn.n)
             / (c.rt * 1.0 * c.ct / nn.n) * {_FP} + 0.5)
         AS DECIMAL(28,0)) AS fp
  FROM cells c
  CROSS JOIN n nn
),
chi AS (
  SELECT CAST(sum(fp) AS DOUBLE) / {_FP} AS chi2,
         (SELECT count(*) FROM rows_t) AS r_levels,
         (SELECT count(*) FROM cols_t) AS c_levels,
         (SELECT n FROM n) AS n
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n_events,
       CAST(r_levels AS BIGINT) AS r_levels, CAST(c_levels AS BIGINT) AS c_levels,
       floor(chi2 * 10000 + 0.5) / 10000 AS chi2,
       floor(sqrt(chi2 / (n * (least(r_levels, c_levels) - 1))) * 10000 + 0.5)
         / 10000 AS cramers_v
FROM chi
""",
)
def q_val_cramers_v(spark: SparkSession, sf_dir: str):
    base = (
        table(spark, "events", sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("event_type", (F.col("user_id") % 8).alias("cohort"))
    )
    obs = base.groupBy("event_type", "cohort").agg(
        F.count(F.lit(1)).alias("o")
    )
    rows_t = obs.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols_t = obs.groupBy("cohort").agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").alias("n"))
    # full r x c grid so empty cells still contribute (0 - e)^2 / e = e
    cells = (
        rows_t.crossJoin(F.broadcast(cols_t))
        .join(obs, ["event_type", "cohort"], "left")
        .select(
            "event_type",
            "cohort",
            "rt",
            "ct",
            F.coalesce("o", F.lit(0)).alias("o"),
        )
    )
    e = F.col("rt") * 1.0 * F.col("ct") / F.col("n")
    terms = cells.crossJoin(F.broadcast(n)).select(
        F.floor((F.col("o") - e) * (F.col("o") - e) / e * _FP + 0.5)
        .cast("decimal(28,0)")
        .alias("fp")
    )
    rl = rows_t.agg(F.count(F.lit(1)).alias("r_levels"))
    cl = cols_t.agg(F.count(F.lit(1)).alias("c_levels"))
    chi = (
        terms.agg((F.sum("fp").cast("double") / _FP).alias("chi2"))
        .crossJoin(F.broadcast(rl))
        .crossJoin(F.broadcast(cl))
        .crossJoin(F.broadcast(n))
    )
    return chi.select(
        F.col("n").cast("long").alias("n_events"),
        F.col("r_levels").cast("long").alias("r_levels"),
        F.col("c_levels").cast("long").alias("c_levels"),
        portable_round(F.col("chi2"), 4).alias("chi2"),
        portable_round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n")
                    * (F.least(F.col("r_levels"), F.col("c_levels")) - 1)
                )
            ),
            4,
        ).alias("cramers_v"),
    )


# -- Price-volume-mix revenue bridge -----------------------------------------
# Decompose the 1998 -> 1999 revenue change per part brand into volume,
# price, and cross effects: dRev = (v2-v1)*p1 + (p2-p1)*v1 +
# (p2-p1)*(v2-v1), with revenue and volume as exact DECIMAL sums and the
# unit price p = rev/vol the identical double division in both engines.
# Scale: one fact scan with a year filter pushed to parquet, one
# (brand, year) hash agg, then a 25-row self-join.
@register(
    "rel_price_volume_mix",
    oracle="""
WITH li AS (
  SELECT p.p_brand, year(l.l_shipdate) AS y,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
           AS rev,
         sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS vol
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE year(l.l_shipdate) IN (1998, 1999)
  GROUP BY 1, 2
),
piv AS (
  SELECT a.p_brand,
         CAST(a.rev AS DOUBLE) AS rev1, CAST(b.rev AS DOUBLE) AS rev2,
         CAST(a.vol AS DOUBLE) AS vol1, CAST(b.vol AS DOUBLE) AS vol2
  FROM li a JOIN li b ON b.p_brand = a.p_brand AND a.y = 1998 AND b.y = 1999
)
SELECT p_brand,
       floor(rev1 * 100 + 0.5) / 100 AS rev_1998,
       floor(rev2 * 100 + 0.5) / 100 AS rev_1999,
       floor((vol2 - vol1) * (rev1 / vol1) * 100 + 0.5) / 100
         AS volume_effect,
       floor((rev2 / vol2 - rev1 / vol1) * vol1 * 100 + 0.5) / 100
         AS price_effect,
       floor((rev2 / vol2 - rev1 / vol1) * (vol2 - vol1) * 100 + 0.5) / 100
         AS cross_effect
FROM piv ORDER BY p_brand
""",
)
def q_rel_price_volume_mix(spark: SparkSession, sf_dir: str):
    li = table(spark, "lineitem", sf_dir).filter(
        F.year("l_shipdate").isin(1998, 1999)
    )
    p = table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    money = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    by_year = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.year("l_shipdate").alias("y"))
        .agg(
            F.sum(money).alias("rev"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("vol"),
        )
    )
    a = by_year.filter(F.col("y") == 1998).select(
        "p_brand",
        F.col("rev").cast("double").alias("rev1"),
        F.col("vol").cast("double").alias("vol1"),
    )
    b = by_year.filter(F.col("y") == 1999).select(
        "p_brand",
        F.col("rev").cast("double").alias("rev2"),
        F.col("vol").cast("double").alias("vol2"),
    )
    piv = a.join(b, "p_brand")
    p1 = F.col("rev1") / F.col("vol1")
    p2 = F.col("rev2") / F.col("vol2")
    r2 = lambda c: F.floor(c * 100 + 0.5) / 100  # noqa: E731
    return piv.select(
        "p_brand",
        r2(F.col("rev1")).alias("rev_1998"),
        r2(F.col("rev2")).alias("rev_1999"),
        r2((F.col("vol2") - F.col("vol1")) * p1).alias("volume_effect"),
        r2((p2 - p1) * F.col("vol1")).alias("price_effect"),
        r2((p2 - p1) * (F.col("vol2") - F.col("vol1"))).alias("cross_effect"),
    ).orderBy("p_brand")


# -- Next-event prediction accuracy ------------------------------------------
# The evaluation companion to sess_markov_transitions: train the argmax
# next-event predictor on the first 80% of the time span (integer-us
# cut), score it on the held-out transitions. Split membership follows
# the SOURCE event's timestamp; ties in the argmax go to the
# lexicographically smallest successor in both engines.
@register(
    "sess_next_pred_accuracy",
    oracle=f"""
WITH seq AS (
  SELECT event_type AS u, ts,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v
  FROM {EVENTS_SRC} AS e WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
bounds AS (
  SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
  FROM {EVENTS_SRC} AS e WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
trans AS (
  SELECT u, v,
         CASE WHEN epoch_us(ts) < b.t0 + (b.t1 - b.t0) * 4 // 5
              THEN 1 ELSE 0 END AS is_train
  FROM seq CROSS JOIN bounds b WHERE v IS NOT NULL
),
model AS (
  SELECT u, v AS predicted_next,
         row_number() OVER (PARTITION BY u ORDER BY c DESC, v) AS rn
  FROM (SELECT u, v, count(*) AS c FROM trans WHERE is_train = 1 GROUP BY 1, 2)
),
pred AS (SELECT u, predicted_next FROM model WHERE rn = 1),
counts AS (
  SELECT u, sum(is_train) AS n_train, sum(1 - is_train) AS n_test
  FROM trans GROUP BY u
),
correct AS (
  SELECT t.u, count(*) AS n_correct
  FROM trans t JOIN pred p ON p.u = t.u
  WHERE t.is_train = 0 AND t.v = p.predicted_next
  GROUP BY 1
)
SELECT c.u AS event_type,
       CAST(c.n_train AS BIGINT) AS n_train,
       CAST(c.n_test AS BIGINT) AS n_test,
       p.predicted_next,
       CAST(coalesce(x.n_correct, 0) AS BIGINT) AS n_correct,
       floor(coalesce(x.n_correct, 0) * 1.0 / c.n_test * 10000 + 0.5) / 10000
         AS accuracy
FROM counts c
JOIN pred p ON p.u = c.u
LEFT JOIN correct x ON x.u = c.u
WHERE c.n_test > 0
ORDER BY event_type
""",
)
def q_sess_next_pred_accuracy(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("u"),
        "ts",
        F.lead("event_type").over(w).alias("v"),
    )
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    trans = (
        seq.filter(F.col("v").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            "u",
            "v",
            F.when(
                F.unix_micros("ts")
                < F.col("t0")
                + F.expr("(t1 - t0) * 4 div 5"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("is_train"),
        )
    )
    train_counts = (
        trans.filter(F.col("is_train") == 1).groupBy("u", "v").count()
    )
    wm = Window.partitionBy("u").orderBy(F.col("count").desc(), "v")
    pred = (
        train_counts.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("u", F.col("v").alias("predicted_next"))
    )
    counts = trans.groupBy("u").agg(
        F.sum("is_train").alias("n_train"),
        F.sum(1 - F.col("is_train")).alias("n_test"),
    )
    correct = (
        trans.filter(F.col("is_train") == 0)
        .join(F.broadcast(pred), "u")
        .filter(F.col("v") == F.col("predicted_next"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n_correct"))
    )
    return (
        counts.join(F.broadcast(pred), "u")
        .join(F.broadcast(correct), "u", "left")
        .filter(F.col("n_test") > 0)
        .select(
            F.col("u").alias("event_type"),
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_test").cast("long").alias("n_test"),
            "predicted_next",
            F.coalesce("n_correct", F.lit(0)).cast("long").alias("n_correct"),
            portable_round(
                F.coalesce("n_correct", F.lit(0)) * 1.0 / F.col("n_test"), 4
            ).alias("accuracy"),
        )
        .orderBy("event_type")
    )


# -- Token-budget mixing plan (waterfill) ------------------------------------
# Epoch planning for a training-data mix: each source gets a weighted
# share of a 2x-total-token budget, capped at 3 epochs of what it has;
# surplus redistributes to uncapped sources by weight over three
# unrolled waterfill rounds. ALL allocation arithmetic is 64-bit integer
# (weighted shares via integer division), so both engines compute the
# identical plan; only the final epochs ratio is a rounded double.
# Weights derive deterministically from the source name suffix
# ((digits % 5) + 1), standing in for a configured mix table.
@register(
    "sample_token_budget_plan",
    oracle=r"""
WITH toks AS (
  SELECT source,
         sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x != ''))) AS a
  FROM documents GROUP BY 1
),
w AS (
  SELECT source, a,
         (coalesce(TRY_CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT), 0)
            % 5) + 1 AS wt,
         3 * a AS cap
  FROM toks
),
tot AS (SELECT 2 * sum(a) AS b, sum(wt) AS tw FROM w),
r1 AS (SELECT w.*, t.b, t.b * wt // t.tw AS t1 FROM w CROSS JOIN tot t),
a1 AS (
  SELECT *, least(t1, cap) AS al1,
         CASE WHEN t1 >= cap THEN 1 ELSE 0 END AS capped1
  FROM r1
),
s1 AS (
  SELECT sum(al1) AS sa1,
         sum(CASE WHEN capped1 = 0 THEN wt ELSE 0 END) AS w1
  FROM a1
),
r2 AS (
  SELECT a1.*, CASE WHEN capped1 = 0 AND s1.w1 > 0
                    THEN (b - s1.sa1) * wt // s1.w1 ELSE 0 END AS add2
  FROM a1 CROSS JOIN s1
),
a2 AS (
  SELECT *, least(al1 + add2, cap) AS al2,
         CASE WHEN capped1 = 1 OR al1 + add2 >= cap THEN 1 ELSE 0 END AS capped2
  FROM r2
),
s2 AS (
  SELECT sum(al2) AS sa2,
         sum(CASE WHEN capped2 = 0 THEN wt ELSE 0 END) AS w2
  FROM a2
),
r3 AS (
  SELECT a2.*, CASE WHEN capped2 = 0 AND s2.w2 > 0
                    THEN (b - s2.sa2) * wt // s2.w2 ELSE 0 END AS add3
  FROM a2 CROSS JOIN s2
),
a3 AS (SELECT *, least(al2 + add3, cap) AS alloc FROM r3)
SELECT source, CAST(a AS BIGINT) AS tokens_available,
       CAST(wt AS BIGINT) AS weight, CAST(cap AS BIGINT) AS cap_tokens,
       CAST(alloc AS BIGINT) AS allocated_tokens,
       floor(alloc * 1.0 / a * 10000 + 0.5) / 10000 AS epochs
FROM a3 ORDER BY source
""",
)
def q_sample_token_budget_plan(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.text import tokens

    toks = (
        table(spark, "documents", sf_dir)
        .select("source", F.size(tokens("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("a"))
    )
    w = toks.select(
        "source",
        "a",
        (
            (
                F.coalesce(
                    F.regexp_extract("source", r"(\d+)$", 1).try_cast("long"),
                    F.lit(0),
                )
            )
            % 5
            + 1
        ).alias("wt"),
        (3 * F.col("a")).alias("cap"),
    )
    tot = w.agg(
        (2 * F.sum("a")).alias("b"), F.sum("wt").alias("tw")
    )
    r1 = w.crossJoin(F.broadcast(tot)).withColumn(
        "t1", F.expr("b * wt div tw")
    )
    a1 = r1.withColumn("al1", F.least("t1", "cap")).withColumn(
        "capped1", F.when(F.col("t1") >= F.col("cap"), 1).otherwise(0)
    )
    s1 = a1.agg(
        F.sum("al1").alias("sa1"),
        F.sum(F.when(F.col("capped1") == 0, F.col("wt")).otherwise(0)).alias(
            "w1"
        ),
    )
    r2 = a1.crossJoin(F.broadcast(s1)).withColumn(
        "add2",
        F.when(
            (F.col("capped1") == 0) & (F.col("w1") > 0),
            F.expr("(b - sa1) * wt div w1"),
        ).otherwise(F.lit(0)),
    )
    a2 = r2.withColumn(
        "al2", F.least(F.col("al1") + F.col("add2"), F.col("cap"))
    ).withColumn(
        "capped2",
        F.when(
            (F.col("capped1") == 1)
            | (F.col("al1") + F.col("add2") >= F.col("cap")),
            1,
        ).otherwise(0),
    )
    s2 = a2.agg(
        F.sum("al2").alias("sa2"),
        F.sum(F.when(F.col("capped2") == 0, F.col("wt")).otherwise(0)).alias(
            "w2"
        ),
    )
    r3 = a2.crossJoin(F.broadcast(s2)).withColumn(
        "add3",
        F.when(
            (F.col("capped2") == 0) & (F.col("w2") > 0),
            F.expr("(b - sa2) * wt div w2"),
        ).otherwise(F.lit(0)),
    )
    a3 = r3.withColumn("alloc", F.least(F.col("al2") + F.col("add3"), F.col("cap")))
    return a3.select(
        "source",
        F.col("a").cast("long").alias("tokens_available"),
        F.col("wt").cast("long").alias("weight"),
        F.col("cap").cast("long").alias("cap_tokens"),
        F.col("alloc").cast("long").alias("allocated_tokens"),
        portable_round(F.col("alloc") * 1.0 / F.col("a"), 4).alias("epochs"),
    ).orderBy("source")


# -- One full k-means iteration (assign + update + diagnostics) --------------
# The contract for the iterative-refinement step emb_centroid_assign
# feeds: re-assign every vector to its nearest label centroid, recompute
# centroids from the new assignment, and report per-cluster membership,
# inertia (sum of assigned squared distances, per-row 1e-6 quantization
# before the order-free decimal sum) and centroid shift (per-dimension
# squared deltas on a 1e-12 grid before the decimal sum and final sqrt).
# Scale: two fact-sized hash aggs (old + new centroids) over vec x dim
# rows; centroids broadcast; no windows over the corpus.
@register(
    "emb_kmeans_step",
    oracle="""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
exp AS (
  SELECT vec_id, label, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM e
),
cent AS (
  SELECT label AS clabel, pos, avg(val) AS cval FROM exp GROUP BY 1, 2
),
dists AS (
  SELECT x.vec_id, c.clabel,
         sum((x.val - c.cval) * (x.val - c.cval)) AS d2
  FROM exp x JOIN cent c ON x.pos = c.pos
  GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, clabel AS new_label, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
  FROM dists
),
kept AS (SELECT vec_id, new_label, d2 FROM assign WHERE rn = 1),
newcent AS (
  SELECT k.new_label, x.pos, avg(x.val) AS nval
  FROM exp x JOIN kept k ON k.vec_id = x.vec_id
  GROUP BY 1, 2
),
shift AS (
  SELECT c.clabel,
         CAST(sum(CAST(floor((n.nval - c.cval) * (n.nval - c.cval) * 1e12 + 0.5)
                       AS DECIMAL(28,0))) AS DOUBLE) / 1e12 AS sq
  FROM cent c JOIN newcent n ON n.new_label = c.clabel AND n.pos = c.pos
  GROUP BY 1
),
stats AS (
  SELECT new_label, count(*) AS n_assigned,
         CAST(sum(CAST(floor(d2 * 1000000 + 0.5) AS DECIMAL(28,0)))
              AS DOUBLE) / 1000000 AS inertia
  FROM kept GROUP BY 1
)
SELECT s.new_label AS label,
       CAST(s.n_assigned AS BIGINT) AS n_assigned,
       floor(s.inertia * 10000 + 0.5) / 10000 AS inertia,
       floor(sqrt(h.sq) * 1000000 + 0.5) / 1000000 AS centroid_shift
FROM stats s JOIN shift h ON h.clabel = s.new_label
ORDER BY label
""",
)
def q_emb_kmeans_step(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    exp = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "val"
        ),
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "val")
    cent = exp.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.avg("val").alias("cval")
    )
    dists = (
        exp.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "clabel")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
            ).alias("d2")
        )
    )
    wv = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    kept = (
        dists.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("clabel").alias("new_label"), "d2")
    )
    newcent = (
        exp.join(kept.select("vec_id", "new_label"), "vec_id")
        .groupBy("new_label", F.col("pos").alias("npos"))
        .agg(F.avg("val").alias("nval"))
    )
    shift = (
        cent.join(
            newcent,
            (F.col("new_label") == F.col("clabel"))
            & (F.col("npos") == F.col("pos")),
        )
        .groupBy("clabel")
        .agg(
            (
                F.sum(
                    F.floor(
                        (F.col("nval") - F.col("cval"))
                        * (F.col("nval") - F.col("cval"))
                        * 1e12
                        + 0.5
                    ).cast("decimal(28,0)")
                ).cast("double")
                / 1e12
            ).alias("sq")
        )
    )
    stats = kept.groupBy("new_label").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        (
            F.sum(
                F.floor(F.col("d2") * 1000000 + 0.5).cast("decimal(28,0)")
            ).cast("double")
            / 1000000
        ).alias("inertia"),
    )
    return (
        stats.join(F.broadcast(shift), stats.new_label == shift.clabel)
        .select(
            F.col("new_label").alias("label"),
            F.col("n_assigned").cast("long").alias("n_assigned"),
            portable_round(F.col("inertia"), 4).alias("inertia"),
            (F.floor(F.sqrt(F.col("sq")) * 1000000 + 0.5) / 1000000).alias(
                "centroid_shift"
            ),
        )
        .orderBy("label")
    )


# -- Weekly growth accounting (user lifecycle states) ------------------------
# The classic growth-accounting decomposition: per week, how many active
# users are new (first-ever week), retained (also active the previous
# week), or resurrected (active, inactive last week, not new); plus how
# many of last week's actives churned. Implemented over a per-user dense
# week spine from the user's first week to the global max week so
# inactive weeks exist to carry the lag flag; all counts exact integers.
#
# Scale: one fact shuffle to the distinct (user, week) grid; the spine
# explode is bounded by users x span-weeks (dimension-sized), and the
# lag window partitions per user over that bounded span.
@register(
    "sess_lifecycle_states",
    oracle=f"""
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(floor(date_part('epoch', ts) / 86400) AS BIGINT) // 7 AS w
  FROM {EVENTS_SRC} AS e WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
firstw AS (SELECT user_id, min(w) AS fw FROM act GROUP BY 1),
maxw AS (SELECT max(w) AS mw FROM act),
spine AS (
  SELECT f.user_id, f.fw, s.w
  FROM firstw f
  CROSS JOIN maxw m
  CROSS JOIN LATERAL (SELECT unnest(generate_series(f.fw, m.mw)) AS w) s
),
flags AS (
  SELECT sp.user_id, sp.fw, sp.w,
         CASE WHEN a.user_id IS NULL THEN 0 ELSE 1 END AS is_active
  FROM spine sp LEFT JOIN act a ON a.user_id = sp.user_id AND a.w = sp.w
),
lagged AS (
  SELECT user_id, fw, w, is_active,
         lag(is_active) OVER (PARTITION BY user_id ORDER BY w) AS prev_active
  FROM flags
),
states AS (
  SELECT w,
         CASE WHEN is_active = 1 AND w = fw THEN 1 ELSE 0 END AS is_new,
         CASE WHEN is_active = 1 AND coalesce(prev_active, 0) = 1
              THEN 1 ELSE 0 END AS is_retained,
         CASE WHEN is_active = 1 AND w > fw AND coalesce(prev_active, 0) = 0
              THEN 1 ELSE 0 END AS is_resurrected,
         CASE WHEN is_active = 0 AND coalesce(prev_active, 0) = 1
              THEN 1 ELSE 0 END AS is_churned
  FROM lagged
)
SELECT w AS week,
       CAST(sum(is_new) AS BIGINT) AS n_new,
       CAST(sum(is_retained) AS BIGINT) AS n_retained,
       CAST(sum(is_resurrected) AS BIGINT) AS n_resurrected,
       CAST(sum(is_churned) AS BIGINT) AS n_churned,
       CASE WHEN sum(is_churned) = 0 THEN NULL
            ELSE floor((sum(is_new) + sum(is_resurrected)) * 1.0
                       / sum(is_churned) * 10000 + 0.5) / 10000 END
         AS quick_ratio
FROM states GROUP BY w ORDER BY week
""",
)
def q_sess_lifecycle_states(spark: SparkSession, sf_dir: str):
    act = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr(
                "CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT) div 7"
            ).alias("w"),
        )
        .distinct()
    )
    firstw = act.groupBy("user_id").agg(F.min("w").alias("fw"))
    maxw = act.agg(F.max("w").alias("mw"))
    spine = (
        firstw.crossJoin(F.broadcast(maxw))
        .select("user_id", "fw", F.explode(F.sequence("fw", "mw")).alias("w"))
    )
    flags = spine.join(
        act.withColumn("is_active", F.lit(1)), ["user_id", "w"], "left"
    ).select(
        "user_id", "fw", "w", F.coalesce("is_active", F.lit(0)).alias("is_active")
    )
    wl = Window.partitionBy("user_id").orderBy("w")
    lagged = flags.withColumn(
        "prev_active", F.coalesce(F.lag("is_active").over(wl), F.lit(0))
    )
    states = lagged.select(
        "w",
        F.when((F.col("is_active") == 1) & (F.col("w") == F.col("fw")), 1)
        .otherwise(0)
        .alias("is_new"),
        F.when((F.col("is_active") == 1) & (F.col("prev_active") == 1), 1)
        .otherwise(0)
        .alias("is_retained"),
        F.when(
            (F.col("is_active") == 1)
            & (F.col("w") > F.col("fw"))
            & (F.col("prev_active") == 0),
            1,
        )
        .otherwise(0)
        .alias("is_resurrected"),
        F.when((F.col("is_active") == 0) & (F.col("prev_active") == 1), 1)
        .otherwise(0)
        .alias("is_churned"),
    )
    agg = states.groupBy(F.col("w").alias("week")).agg(
        F.sum("is_new").cast("long").alias("n_new"),
        F.sum("is_retained").cast("long").alias("n_retained"),
        F.sum("is_resurrected").cast("long").alias("n_resurrected"),
        F.sum("is_churned").cast("long").alias("n_churned"),
    )
    return agg.select(
        "week",
        "n_new",
        "n_retained",
        "n_resurrected",
        "n_churned",
        F.when(F.col("n_churned") == 0, F.lit(None).cast("double"))
        .otherwise(
            portable_round(
                (F.col("n_new") + F.col("n_resurrected"))
                * 1.0
                / F.col("n_churned"),
                4,
            )
        )
        .alias("quick_ratio"),
    ).orderBy("week")


# -- Modularity of the event-transition graph --------------------------------
# Newman modularity Q = sum_c (e_c / m - (d_c / 2m)^2) of the undirected
# weighted transition graph under the fixed funnel-stage partition
# {view, click} / {signup, purchase} / {error}: how much more
# within-stage transition weight exists than a degree-preserving random
# graph would give. Edge weights are exact transition counts (each
# undirected edge counted once, self-loops kept with degree 2w); every
# derived ratio is the identical double op on exact integers.
@register(
    "graph_modularity",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM {EVENTS_SRC} AS e WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
edges AS (
  SELECT least(a.event_type, b.event_type) AS u,
         greatest(a.event_type, b.event_type) AS v,
         count(*) AS wgt
  FROM seq a JOIN seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
  GROUP BY 1, 2
),
comm(node, c) AS (
  SELECT * FROM (VALUES ('view', 'browse'), ('click', 'browse'),
                        ('signup', 'convert'), ('purchase', 'convert'),
                        ('error', 'error')) t(node, c)
),
m AS (SELECT sum(wgt) AS m FROM edges),
internal AS (
  SELECT cu.c, sum(e.wgt) AS e_c
  FROM edges e
  JOIN comm cu ON cu.node = e.u
  JOIN comm cv ON cv.node = e.v AND cv.c = cu.c
  GROUP BY 1
),
deg AS (
  SELECT c, sum(d) AS d_c FROM (
    SELECT cu.c, CASE WHEN e.u = e.v THEN 2 * e.wgt ELSE e.wgt END AS d
    FROM edges e JOIN comm cu ON cu.node = e.u
    UNION ALL
    SELECT cv.c, e.wgt FROM edges e JOIN comm cv ON cv.node = e.v
    WHERE e.u <> e.v
  ) GROUP BY 1
)
SELECT d.c AS community,
       CAST(coalesce(i.e_c, 0) AS BIGINT) AS internal_weight,
       CAST(d.d_c AS BIGINT) AS degree_weight,
       floor((coalesce(i.e_c, 0) * 1.0 / mm.m
              - (d.d_c * 1.0 / (2 * mm.m)) * (d.d_c * 1.0 / (2 * mm.m)))
             * 10000 + 0.5) / 10000 AS modularity_term
FROM deg d LEFT JOIN internal i ON i.c = d.c CROSS JOIN m mm
ORDER BY community
""",
)
def q_graph_modularity(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(wseq).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    edges = seq.groupBy(
        F.least("event_type", "nxt").alias("u"),
        F.greatest("event_type", "nxt").alias("v"),
    ).agg(F.count(F.lit(1)).alias("wgt"))
    comm = spark.createDataFrame(
        [
            ("view", "browse"),
            ("click", "browse"),
            ("signup", "convert"),
            ("purchase", "convert"),
            ("error", "error"),
        ],
        "node string, c string",
    )
    cu = comm.select(F.col("node").alias("u"), F.col("c").alias("cu"))
    cv = comm.select(F.col("node").alias("v"), F.col("c").alias("cv"))
    lab = edges.join(F.broadcast(cu), "u").join(F.broadcast(cv), "v")
    m = edges.agg(F.sum("wgt").alias("m"))
    internal = (
        lab.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.sum("wgt").alias("e_c"))
    )
    deg_u = lab.select(
        F.col("cu").alias("c"),
        F.when(F.col("u") == F.col("v"), 2 * F.col("wgt"))
        .otherwise(F.col("wgt"))
        .alias("d"),
    )
    deg_v = lab.filter(F.col("u") != F.col("v")).select(
        F.col("cv").alias("c"), F.col("wgt").alias("d")
    )
    deg = deg_u.unionAll(deg_v).groupBy("c").agg(F.sum("d").alias("d_c"))
    return (
        deg.join(F.broadcast(internal), "c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("c").alias("community"),
            F.coalesce("e_c", F.lit(0)).cast("long").alias("internal_weight"),
            F.col("d_c").cast("long").alias("degree_weight"),
            portable_round(
                F.coalesce("e_c", F.lit(0)) * 1.0 / F.col("m")
                - (F.col("d_c") * 1.0 / (2 * F.col("m")))
                * (F.col("d_c") * 1.0 / (2 * F.col("m"))),
                4,
            ).alias("modularity_term"),
        )
        .orderBy("community")
    )


# -- Language-ID confusion matrix / per-class metrics ------------------------
# Evaluation of the stopword-vote language heuristic (text_lang_id)
# against the labeled lang column: per class (union of actual and
# predicted labels) support, predicted-as count, true positives, and
# precision/recall/F1. The 'zh' label has no detector -> structural
# confusion; 'und' appears as predicted-only. All counts exact integers;
# ratios NULL when the denominator is zero (same CASE in both engines).
@register(
    "text_langid_confusion",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS tk
  FROM documents
),
hits AS (
  SELECT doc_id, lang,
         len(list_filter(tk, x -> list_contains(
           ['der','die','das','und','ist','von','mit','ein','zu','auf'], x))) AS hits_de,
         len(list_filter(tk, x -> list_contains(
           ['the','a','of','and','to','in','is','it','for','on'], x))) AS hits_en,
         len(list_filter(tk, x -> list_contains(
           ['el','la','de','y','es','en','un','una','que','por'], x))) AS hits_es,
         len(list_filter(tk, x -> list_contains(
           ['le','la','de','et','est','en','un','une','que','pour'], x))) AS hits_fr
  FROM toks
),
pred AS (
  SELECT lang AS actual,
         CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
              WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
              WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
              WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
              ELSE 'fr' END AS predicted
  FROM hits
),
classes AS (
  SELECT actual AS c FROM pred UNION SELECT predicted FROM pred
),
m AS (
  SELECT c.c,
         (SELECT count(*) FROM pred WHERE actual = c.c) AS support,
         (SELECT count(*) FROM pred WHERE predicted = c.c) AS n_predicted,
         (SELECT count(*) FROM pred WHERE actual = c.c AND predicted = c.c) AS tp
  FROM classes c
),
pr AS (
  SELECT c, support, n_predicted, tp,
         CASE WHEN n_predicted = 0 THEN NULL
              ELSE tp * 1.0 / n_predicted END AS p,
         CASE WHEN support = 0 THEN NULL ELSE tp * 1.0 / support END AS r
  FROM m
)
SELECT c AS lang_class,
       CAST(support AS BIGINT) AS support,
       CAST(n_predicted AS BIGINT) AS n_predicted,
       CAST(tp AS BIGINT) AS tp,
       floor(p * 10000 + 0.5) / 10000 AS precision_,
       floor(r * 10000 + 0.5) / 10000 AS recall_,
       CASE WHEN p IS NULL OR r IS NULL OR p + r = 0 THEN NULL
            ELSE floor(2 * p * r / (p + r) * 10000 + 0.5) / 10000 END AS f1
FROM pr ORDER BY lang_class
""",
)
def q_text_langid_confusion(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.text import lang_id

    docs = table(spark, "documents", sf_dir)
    pred = lang_id(docs).join(
        docs.select("doc_id", F.col("lang").alias("actual")), "doc_id"
    ).select("actual", F.col("lang_pred").alias("predicted"))
    classes = (
        pred.select(F.col("actual").alias("c"))
        .union(pred.select(F.col("predicted").alias("c")))
        .distinct()
    )
    support = pred.groupBy(F.col("actual").alias("c")).agg(
        F.count(F.lit(1)).alias("support")
    )
    n_pred = pred.groupBy(F.col("predicted").alias("c")).agg(
        F.count(F.lit(1)).alias("n_predicted")
    )
    tp = (
        pred.filter(F.col("actual") == F.col("predicted"))
        .groupBy(F.col("actual").alias("c"))
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    m = (
        classes.join(F.broadcast(support), "c", "left")
        .join(F.broadcast(n_pred), "c", "left")
        .join(F.broadcast(tp), "c", "left")
        .select(
            "c",
            F.coalesce("support", F.lit(0)).alias("support"),
            F.coalesce("n_predicted", F.lit(0)).alias("n_predicted"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    p = F.when(F.col("n_predicted") == 0, F.lit(None)).otherwise(
        F.col("tp") * 1.0 / F.col("n_predicted")
    )
    r = F.when(F.col("support") == 0, F.lit(None)).otherwise(
        F.col("tp") * 1.0 / F.col("support")
    )
    pr = m.select(
        "c", "support", "n_predicted", "tp", p.alias("p"), r.alias("r")
    )
    return pr.select(
        F.col("c").alias("lang_class"),
        F.col("support").cast("long").alias("support"),
        F.col("n_predicted").cast("long").alias("n_predicted"),
        F.col("tp").cast("long").alias("tp"),
        portable_round(F.col("p"), 4).alias("precision_"),
        portable_round(F.col("r"), 4).alias("recall_"),
        F.when(
            F.col("p").isNull() | F.col("r").isNull() | (F.col("p") + F.col("r") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            portable_round(
                2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r")), 4
            )
        )
        .alias("f1"),
    ).orderBy("lang_class")


# -- Join-key skew report ----------------------------------------------------
# The partition-planning diagnostic a 100 TB join starts from: for each
# candidate shuffle key, the key-frequency distribution's size, top-key
# share, entropy (how evenly a hash shuffle will spread), and the
# p99/median frequency ratio (how bad the stragglers get). One hash agg
# per key column; the per-key entropy terms are quantized to the 1e9
# grid before the order-free decimal sum; frequency quantiles use the
# exact percentile == quantile_cont contract.
@register(
    "val_key_skew_report",
    oracle=f"""
WITH freqs AS (
  SELECT 'events.user_id' AS key_col, user_id::VARCHAR AS k, count(*) AS c
  FROM {EVENTS_SRC} AS e WHERE user_id IS NOT NULL GROUP BY 2
  UNION ALL
  SELECT 'lineitem.l_orderkey', l_orderkey::VARCHAR, count(*)
  FROM lineitem GROUP BY 2
  UNION ALL
  SELECT 'orders.o_custkey', o_custkey::VARCHAR, count(*)
  FROM orders GROUP BY 2
),
tot AS (SELECT key_col, sum(c) AS n, count(*) AS n_keys FROM freqs GROUP BY 1),
ent AS (
  SELECT f.key_col,
         sum(CAST(floor(-(f.c * 1.0 / t.n) * log2(f.c * 1.0 / t.n)
                        * {_FP} + 0.5) AS DECIMAL(28,0))) AS e_fp,
         max(f.c) AS max_freq,
         quantile_cont(f.c, 0.5) AS p50,
         quantile_cont(f.c, 0.99) AS p99
  FROM freqs f JOIN tot t ON t.key_col = f.key_col
  GROUP BY 1
)
SELECT t.key_col,
       CAST(t.n AS BIGINT) AS n_rows,
       CAST(t.n_keys AS BIGINT) AS n_keys,
       CAST(e.max_freq AS BIGINT) AS max_freq,
       floor(e.max_freq * 1.0 / t.n * 10000 + 0.5) / 10000 AS top1_share,
       floor(CAST(e.e_fp AS DOUBLE) / {_FP} * 10000 + 0.5) / 10000
         AS key_entropy_bits,
       floor(e.p99 / e.p50 * 10000 + 0.5) / 10000 AS p99_over_median
FROM tot t JOIN ent e ON e.key_col = t.key_col
ORDER BY t.key_col
""",
)
def q_val_key_skew_report(spark: SparkSession, sf_dir: str):
    def freqs(df, col, name):
        return (
            df.filter(F.col(col).isNotNull())
            .groupBy(F.col(col).cast("string").alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.lit(name).alias("key_col"), "k", "c")
        )

    ev = table(spark, "events", sf_dir)
    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    f = (
        freqs(ev, "user_id", "events.user_id")
        .unionAll(freqs(li, "l_orderkey", "lineitem.l_orderkey"))
        .unionAll(freqs(o, "o_custkey", "orders.o_custkey"))
    )
    tot = f.groupBy("key_col").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_keys")
    )
    p = F.col("c") * 1.0 / F.col("n")
    ent = (
        f.join(F.broadcast(tot), "key_col")
        .groupBy("key_col")
        .agg(
            F.sum(
                F.floor(-p * F.log2(p) * _FP + 0.5).cast("decimal(28,0)")
            ).alias("e_fp"),
            F.max("c").alias("max_freq"),
            F.percentile("c", F.lit(0.5)).alias("p50"),
            F.percentile("c", F.lit(0.99)).alias("p99"),
        )
    )
    return (
        tot.join(ent, "key_col")
        .select(
            "key_col",
            F.col("n").cast("long").alias("n_rows"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("max_freq").cast("long").alias("max_freq"),
            portable_round(F.col("max_freq") * 1.0 / F.col("n"), 4).alias(
                "top1_share"
            ),
            portable_round(F.col("e_fp").cast("double") / _FP, 4).alias(
                "key_entropy_bits"
            ),
            portable_round(F.col("p99") / F.col("p50"), 4).alias(
                "p99_over_median"
            ),
        )
        .orderBy("key_col")
    )


# -- Join-cardinality estimator ----------------------------------------------
# Pre-join output-size estimation from per-side key histograms:
# |A join B| = sum over shared keys of f_A(k) * f_B(k), computed from two
# grouped counts instead of executing the join — the planner primitive
# for deciding broadcast vs shuffle vs pre-aggregation. Exact integers
# throughout; the three standard TPC-H join edges as rows.
@register(
    "val_join_cardinality",
    oracle="""
WITH lo AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
oo AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1),
oc AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
cc AS (SELECT c_custkey AS k, count(*) AS c FROM customer GROUP BY 1),
lp AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
pp AS (SELECT p_partkey AS k, count(*) AS c FROM part GROUP BY 1),
est AS (
  SELECT 'lineitem x orders ON orderkey' AS join_edge,
         (SELECT sum(c) FROM lo) AS n_left, (SELECT sum(c) FROM oo) AS n_right,
         count(*) AS n_shared_keys, sum(a.c * b.c) AS est_rows
  FROM lo a JOIN oo b ON b.k = a.k
  UNION ALL
  SELECT 'orders x customer ON custkey',
         (SELECT sum(c) FROM oc), (SELECT sum(c) FROM cc),
         count(*), sum(a.c * b.c)
  FROM oc a JOIN cc b ON b.k = a.k
  UNION ALL
  SELECT 'lineitem x part ON partkey',
         (SELECT sum(c) FROM lp), (SELECT sum(c) FROM pp),
         count(*), sum(a.c * b.c)
  FROM lp a JOIN pp b ON b.k = a.k
)
SELECT join_edge, CAST(n_left AS BIGINT) AS n_left,
       CAST(n_right AS BIGINT) AS n_right,
       CAST(n_shared_keys AS BIGINT) AS n_shared_keys,
       CAST(est_rows AS BIGINT) AS est_rows
FROM est ORDER BY join_edge
""",
)
def q_val_join_cardinality(spark: SparkSession, sf_dir: str):
    def hist(df, col):
        return df.groupBy(F.col(col).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        )

    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    cu = table(spark, "customer", sf_dir)
    pa = table(spark, "part", sf_dir)

    def edge(name, a, b):
        na = a.agg(F.sum("c").alias("n_left"))
        nb = b.agg(F.sum("c").alias("n_right"))
        return (
            a.join(b.withColumnRenamed("c", "cb"), "k")
            .agg(
                F.count(F.lit(1)).alias("n_shared_keys"),
                F.sum(F.col("c") * F.col("cb")).alias("est_rows"),
            )
            .crossJoin(F.broadcast(na))
            .crossJoin(F.broadcast(nb))
            .select(
                F.lit(name).alias("join_edge"),
                F.col("n_left").cast("long").alias("n_left"),
                F.col("n_right").cast("long").alias("n_right"),
                F.col("n_shared_keys").cast("long").alias("n_shared_keys"),
                F.col("est_rows").cast("long").alias("est_rows"),
            )
        )

    out = (
        edge(
            "lineitem x orders ON orderkey",
            hist(li, "l_orderkey"),
            hist(o, "o_orderkey"),
        )
        .unionAll(
            edge(
                "orders x customer ON custkey",
                hist(o, "o_custkey"),
                hist(cu, "c_custkey"),
            )
        )
        .unionAll(
            edge(
                "lineitem x part ON partkey",
                hist(li, "l_partkey"),
                hist(pa, "p_partkey"),
            )
        )
    )
    return out.orderBy("join_edge")


# -- Median-of-means robust mean --------------------------------------------
# The distributed-robust-statistics primitive: values hash into 32
# deterministic buckets (event_id % 32, partition-independent), each
# bucket's mean comes from exact DECIMAL sums, and the estimator is the
# exact interpolated median of the 32 bucket means — one heavy-tailed
# contaminator can move the plain mean but shifts only one bucket here.
# Scale: one hash agg to 32 rows; the median runs on 32 values.
@register(
    "val_median_of_means",
    oracle=f"""
WITH b AS (
  SELECT event_id % 32 AS bucket,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS bmean,
         count(*) AS bn
  FROM {EVENTS_SRC} AS e WHERE value IS NOT NULL
  GROUP BY 1
)
SELECT CAST(sum(bn) AS BIGINT) AS n_values,
       CAST(count(*) AS BIGINT) AS k_buckets,
       CAST(min(bn) AS BIGINT) AS min_bucket_n,
       floor(quantile_cont(bmean, 0.5) * 10000 + 0.5) / 10000
         AS median_of_means
FROM b
""",
)
def q_val_median_of_means(spark: SparkSession, sf_dir: str):
    b = (
        table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy((F.col("event_id") % 32).alias("bucket"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("bmean"),
            F.count(F.lit(1)).alias("bn"),
        )
    )
    return b.agg(
        F.sum("bn").cast("long").alias("n_values"),
        F.count(F.lit(1)).cast("long").alias("k_buckets"),
        F.min("bn").cast("long").alias("min_bucket_n"),
        portable_round(F.percentile("bmean", F.lit(0.5)), 4).alias(
            "median_of_means"
        ),
    )


# -- Tokenizer fertility by language ----------------------------------------
# The tokenizer-budget planning metric: per language, subword tokens per
# whitespace word (fertility) and characters per subword token, from the
# repo's integer-exact BPE-ish estimate (ceil(len/4) per piece) and the
# shared whitespace tokenizer. High-fertility languages cost more tokens
# per word — the number that drives multilingual sampling budgets.
@register(
    "text_tokenizer_fertility",
    oracle=r"""
WITH d AS (
  SELECT lang,
         length(text) AS n_chars,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x != '')) AS ws_tokens,
         coalesce(list_sum(list_transform(
           regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'),
           p -> (length(p) + 3) // 4)), 0) AS bpe_tokens
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
       CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       floor(sum(bpe_tokens) * 1.0 / sum(ws_tokens) * 10000 + 0.5) / 10000
         AS fertility,
       floor(sum(n_chars) * 1.0 / sum(bpe_tokens) * 10000 + 0.5) / 10000
         AS chars_per_token
FROM d GROUP BY lang ORDER BY lang
""",
)
def q_text_tokenizer_fertility(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.text import (
        bpe_token_estimate,
        tokens,
    )

    docs = table(spark, "documents", sf_dir)
    bpe = bpe_token_estimate(docs).select("doc_id", "est_bpe_tokens")
    d = docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        F.size(tokens("text")).alias("ws_tokens"),
    ).join(bpe, "doc_id")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").cast("long").alias("ws_tokens"),
            F.sum("est_bpe_tokens").cast("long").alias("bpe_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            portable_round(
                F.sum("est_bpe_tokens") * 1.0 / F.sum("ws_tokens"), 4
            ).alias("fertility"),
            portable_round(
                F.sum("n_chars") * 1.0 / F.sum("est_bpe_tokens"), 4
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# -- Curriculum ordering (short -> long, decorrelated within stage) ----------
# Training-order assignment: four length stages cut at the exact BPE-token
# quartiles (percentile == quantile_cont contract), then a deterministic
# md5 shuffle within each stage, then ONE exact global rank over
# (stage, md5, doc_id) — the curriculum position. Spark computes the rank
# with operators/ranking.py::global_rank (range repartition + per-
# partition offsets, partitioning-independent, NO single-task window);
# the oracle re-derives it with a plain window — independent paths.
@register(
    "sample_curriculum_order",
    oracle=r"""
WITH d AS (
  SELECT doc_id,
         coalesce(list_sum(list_transform(
           regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'),
           p -> (length(p) + 3) // 4)), 0) AS bpe
  FROM documents
),
qs AS (
  SELECT quantile_cont(bpe, 0.25) AS q25, quantile_cont(bpe, 0.5) AS q50,
         quantile_cont(bpe, 0.75) AS q75
  FROM d
),
staged AS (
  SELECT d.doc_id, d.bpe,
         1 + CASE WHEN d.bpe > q.q25 THEN 1 ELSE 0 END
           + CASE WHEN d.bpe > q.q50 THEN 1 ELSE 0 END
           + CASE WHEN d.bpe > q.q75 THEN 1 ELSE 0 END AS stage,
         md5(CAST(d.doc_id AS VARCHAR)) AS h
  FROM d CROSS JOIN qs q
)
SELECT doc_id, CAST(bpe AS BIGINT) AS bpe_tokens, CAST(stage AS BIGINT) AS stage,
       CAST(row_number() OVER (ORDER BY stage, h, doc_id) AS BIGINT)
         AS curriculum_rank
FROM staged ORDER BY doc_id
""",
)
def q_sample_curriculum_order(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.ranking import (
        global_rank,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.text import (
        bpe_token_estimate,
    )

    docs = table(spark, "documents", sf_dir)
    # round-11 F1+F4: fan the single-row-group scan out before the BPE
    # estimate, and mark it for reuse -- it feeds both the quartile agg
    # and the staged projection (2 evaluations otherwise)
    d = reuse(
        bpe_token_estimate(fanout(docs.select("doc_id", "text"))).select(
            "doc_id", F.col("est_bpe_tokens").alias("bpe")
        )
    )
    qs = d.agg(
        F.percentile("bpe", F.lit(0.25)).alias("q25"),
        F.percentile("bpe", F.lit(0.5)).alias("q50"),
        F.percentile("bpe", F.lit(0.75)).alias("q75"),
    )
    staged = d.crossJoin(F.broadcast(qs)).select(
        "doc_id",
        "bpe",
        (
            1
            + F.when(F.col("bpe") > F.col("q25"), 1).otherwise(0)
            + F.when(F.col("bpe") > F.col("q50"), 1).otherwise(0)
            + F.when(F.col("bpe") > F.col("q75"), 1).otherwise(0)
        ).alias("stage"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    # round-11: persist unconditionally -- this is an ITERATIVE
    # wall-clock bench lane (the offsets job runs at build, inside the
    # bracket), so caching the range sort between the counts job and the
    # final pass is honest and halves the sort work; the old bench-mode
    # persist=False paid the sort twice.
    ranked = global_rank(
        staged,
        ["stage", "h", "doc_id"],
        rank_col="curriculum_rank",
        persist=True,
    )
    return ranked.select(
        "doc_id",
        F.col("bpe").cast("long").alias("bpe_tokens"),
        F.col("stage").cast("long").alias("stage"),
        F.col("curriculum_rank").cast("long").alias("curriculum_rank"),
    ).orderBy("doc_id")


# -- k-anonymity / l-diversity audit -----------------------------------------
# Privacy posture of a release: group customers by the quasi-identifier
# pair (nation, market segment); k-anonymity is the smallest group, the
# re-identification tail is the share of rows in groups under 5/10, and
# l-diversity is the minimum number of distinct sensitive values
# (account-balance k$-bucket) within any group. Exact integers; one hash
# agg on the QI key, group-level reductions after.
@register(
    "val_k_anonymity",
    oracle="""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS sz,
         count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l_div
  FROM customer GROUP BY 1, 2
)
SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(sz) AS BIGINT) AS k_anonymity,
       floor(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1.0 / sum(sz)
             * 10000 + 0.5) / 10000 AS pct_rows_k_lt_5,
       floor(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) * 1.0 / sum(sz)
             * 10000 + 0.5) / 10000 AS pct_rows_k_lt_10,
       CAST(min(l_div) AS BIGINT) AS l_diversity_min,
       floor(quantile_cont(sz, 0.5) * 10000 + 0.5) / 10000
         AS median_group_size
FROM g
""",
)
def q_val_k_anonymity(spark: SparkSession, sf_dir: str):
    g = (
        table(spark, "customer", sf_dir)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.countDistinct(
                F.floor(F.col("c_acctbal") / 1000).cast("long")
            ).alias("l_div"),
        )
    )
    return g.agg(
        F.sum("sz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("sz").cast("long").alias("k_anonymity"),
        portable_round(
            F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
            * 1.0
            / F.sum("sz"),
            4,
        ).alias("pct_rows_k_lt_5"),
        portable_round(
            F.sum(F.when(F.col("sz") < 10, F.col("sz")).otherwise(0))
            * 1.0
            / F.sum("sz"),
            4,
        ).alias("pct_rows_k_lt_10"),
        F.min("l_div").cast("long").alias("l_diversity_min"),
        portable_round(F.percentile("sz", F.lit(0.5)), 4).alias(
            "median_group_size"
        ),
    )


# -- Audio-style frame energy over binary-ish media --------------------------
# The framing stage of an audio pipeline (frame 64, hop 32 — the
# overlapping-window layout of real STFT/VAD front ends), run over the
# deterministic stand-in signal "code points of the media text" so an
# independent SQL engine can recompute every frame: amplitude
# a = (cp % 256 - 128)/128, per-frame energy from the exact integer
# sum of (cp % 256 - 128)^2, RMS = sqrt(s2/64)/128. Per media: frame
# count, mean frame RMS (per-frame 1e9 grid before the decimal mean),
# and the integer-argmax peak frame. Each sample joins its <= 2 member
# frames via the two floor(pos/hop) candidates — no range join, no
# per-sample Python.
@register(
    "mm_audio_frame_energy",
    oracle=r"""
WITH m AS (
  SELECT doc_id AS media_id, text, length(text) AS n
  FROM documents WHERE doc_id < 50
),
samp AS (
  SELECT media_id, n,
         generate_subscripts(regexp_extract_all(text, '[\s\S]'), 1) - 1 AS pos0,
         ord(unnest(regexp_extract_all(text, '[\s\S]'))) AS cp
  FROM m
),
memb AS (
  SELECT media_id, n, pos0, cp, f
  FROM (
    SELECT s.*, unnest([pos0 // 32 - 1, pos0 // 32]) AS f FROM samp s
  )
  WHERE f >= 0 AND pos0 >= f * 32 AND pos0 < f * 32 + 64
        AND f * 32 + 64 <= n
),
frames AS (
  SELECT media_id, f,
         sum((cp % 256 - 128) * (cp % 256 - 128)) AS s2
  FROM memb GROUP BY 1, 2
),
rms AS (
  SELECT media_id, f, s2,
         CAST(floor(sqrt(s2 * 1.0 / 64) / 128 * 1000000000 + 0.5)
              AS DECIMAL(28,0)) AS rms_fp
  FROM frames
),
peak AS (
  SELECT media_id, f AS peak_frame, s2,
         row_number() OVER (PARTITION BY media_id ORDER BY s2 DESC, f) AS rn
  FROM rms JOIN (SELECT 1) ON true
),
agg AS (
  SELECT media_id, count(*) AS n_frames,
         CAST(sum(rms_fp) AS DOUBLE) / 1000000000 / count(*) AS mean_rms
  FROM rms GROUP BY 1
)
SELECT a.media_id,
       CAST((SELECT first(n) FROM samp s WHERE s.media_id = a.media_id)
            AS BIGINT) AS n_samples,
       CAST(a.n_frames AS BIGINT) AS n_frames,
       floor(a.mean_rms * 1000000 + 0.5) / 1000000 AS mean_rms,
       CAST(p.peak_frame AS BIGINT) AS peak_frame,
       floor(sqrt(p.s2 * 1.0 / 64) / 128 * 1000000 + 0.5) / 1000000
         AS peak_rms
FROM agg a JOIN (SELECT * FROM peak WHERE rn = 1) p ON p.media_id = a.media_id
ORDER BY a.media_id
""",
)
def q_mm_audio_frame_energy(spark: SparkSession, sf_dir: str):
    m = (
        table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 50)
        .select(
            F.col("doc_id").alias("media_id"),
            "text",
            F.length("text").alias("n"),
        )
    )
    samp = m.select(
        "media_id",
        "n",
        F.posexplode(
            F.regexp_extract_all("text", F.lit(r"[\s\S]"), 0)
        ).alias("pos0", "ch"),
    ).select("media_id", "n", "pos0", F.ascii("ch").alias("cp"))
    cand = samp.select(
        "media_id",
        "n",
        "pos0",
        "cp",
        F.explode(
            F.array(
                F.floor(F.col("pos0") / 32) - 1, F.floor(F.col("pos0") / 32)
            )
        ).alias("f"),
    )
    memb = cand.filter(
        (F.col("f") >= 0)
        & (F.col("pos0") >= F.col("f") * 32)
        & (F.col("pos0") < F.col("f") * 32 + 64)
        & (F.col("f") * 32 + 64 <= F.col("n"))
    )
    amp2 = (F.col("cp") % 256 - 128) * (F.col("cp") % 256 - 128)
    frames = memb.groupBy("media_id", "f").agg(F.sum(amp2).alias("s2"))
    rms_col = F.sqrt(F.col("s2") * 1.0 / 64) / 128
    rms = frames.select(
        "media_id",
        "f",
        "s2",
        F.floor(rms_col * 1000000000 + 0.5).cast("decimal(28,0)").alias("rms_fp"),
    )
    wpk = Window.partitionBy("media_id").orderBy(F.col("s2").desc(), "f")
    peak = (
        rms.withColumn("rn", F.row_number().over(wpk))
        .filter(F.col("rn") == 1)
        .select("media_id", F.col("f").alias("peak_frame"), F.col("s2").alias("ps2"))
    )
    agg = rms.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        (F.sum("rms_fp").cast("double") / 1000000000 / F.count(F.lit(1))).alias(
            "mean_rms"
        ),
    )
    nsamp = m.select("media_id", F.col("n").alias("n_samples"))
    return (
        agg.join(peak, "media_id")
        .join(F.broadcast(nsamp), "media_id")
        .select(
            "media_id",
            F.col("n_samples").cast("long").alias("n_samples"),
            F.col("n_frames").cast("long").alias("n_frames"),
            (F.floor(F.col("mean_rms") * 1000000 + 0.5) / 1000000).alias(
                "mean_rms"
            ),
            F.col("peak_frame").cast("long").alias("peak_frame"),
            (
                F.floor(
                    F.sqrt(F.col("ps2") * 1.0 / 64) / 128 * 1000000 + 0.5
                )
                / 1000000
            ).alias("peak_rms"),
        )
        .orderBy("media_id")
    )


# -- Cross-period CDF normalization ------------------------------------------
# Score normalization against a reference period: 19 interpolated ventile
# edges of 1995-96 order totals (exact percentile == quantile_cont)
# broadcast to the 1997 orders; each order's normalized rank = #edges
# strictly below its value. If the distribution is stationary the bucket
# shares are ~uniform — the drift view that complements KS/W1/PSI with an
# actionable per-order transform. One scan per period; the edge table is
# 19 doubles.
@register(
    "rel_cdf_normalize",
    oracle="""
WITH ref AS (
  SELECT quantile_cont(o_totalprice,
           [0.05, 0.10, 0.15, 0.20, 0.25, 0.30, 0.35, 0.40, 0.45, 0.50,
            0.55, 0.60, 0.65, 0.70, 0.75, 0.80, 0.85, 0.90, 0.95]) AS edges
  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
),
tgt AS (
  SELECT len(list_filter(r.edges, e -> o.o_totalprice > e)) AS bucket
  FROM orders o CROSS JOIN ref r
  WHERE year(o.o_orderdate) = 1997
),
tot AS (SELECT count(*) AS n FROM tgt)
SELECT bucket, count(*) AS n_orders,
       floor(count(*) * 1.0 / (SELECT n FROM tot) * 10000 + 0.5) / 10000
         AS share
FROM tgt GROUP BY bucket ORDER BY bucket
""",
)
def q_rel_cdf_normalize(spark: SparkSession, sf_dir: str):
    o = table(spark, "orders", sf_dir)
    qs = [round(0.05 * i, 2) for i in range(1, 20)]
    ref = o.filter(F.year("o_orderdate").isin(1995, 1996)).agg(
        F.percentile("o_totalprice", F.array(*[F.lit(q) for q in qs])).alias(
            "edges"
        )
    )
    tgt = (
        o.filter(F.year("o_orderdate") == 1997)
        .crossJoin(F.broadcast(ref))
        .select(
            F.size(
                F.filter(
                    F.col("edges"), lambda e: F.col("o_totalprice") > e
                )
            ).alias("bucket")
        )
    )
    tot = tgt.agg(F.count(F.lit(1)).alias("n"))
    return (
        tgt.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_orders",
            portable_round(F.col("n_orders") * 1.0 / F.col("n"), 4).alias(
                "share"
            ),
        )
        .orderBy("bucket")
    )


# -- Inverse-MAE forecast ensemble -------------------------------------------
# Model combination done the way production forecasting stacks do it:
# two base forecasters per event type — the seasonal hour-of-day train
# mean and an OLS trend line — blended with weights proportional to
# 1/train-MAE, then all three scored on the 20% holdout. Hourly means
# ride the 1e-6 fixed-point grid (exact decimal sums), OLS coefficients
# come from centered sums over exact integers, and every |error| is
# quantized to the 1e9 grid before its decimal mean, so both engines
# walk the identical double sequence.
@register(
    "ts_forecast_ensemble",
    oracle=f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(date_part('epoch', ts) / 3600) AS BIGINT) AS hour_idx,
         CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    / count(value) * 1000000 + 0.5) AS BIGINT) AS hv_fp
  FROM {EVENTS_SRC} AS e
  WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
days AS (SELECT min(hour_idx // 24) AS d0, max(hour_idx // 24) AS d1 FROM hourly),
split AS (
  SELECT d0 + CAST(floor((d1 - d0 + 1) * 0.8) AS BIGINT) AS cut FROM days
),
base AS (
  SELECT h.*, h.hour_idx % 24 AS how,
         CASE WHEN h.hour_idx // 24 < s.cut THEN 1 ELSE 0 END AS is_train
  FROM hourly h CROSS JOIN split s
),
x0 AS (SELECT event_type, min(hour_idx) AS hmin FROM base WHERE is_train = 1 GROUP BY 1),
seas AS (
  SELECT event_type, how,
         CAST(sum(hv_fp) AS DOUBLE) / 1000000 / count(*) AS f_seas
  FROM base WHERE is_train = 1 GROUP BY 1, 2
),
ols AS (
  SELECT b.event_type,
         count(*) AS n, sum(b.hour_idx - x.hmin) AS sx,
         sum((b.hour_idx - x.hmin) * (b.hour_idx - x.hmin)) AS sxx,
         sum(b.hv_fp) AS sy, sum((b.hour_idx - x.hmin) * b.hv_fp) AS sxy
  FROM base b JOIN x0 x ON x.event_type = b.event_type
  WHERE b.is_train = 1 GROUP BY 1
),
coef AS (
  SELECT event_type,
         (n * 1.0 * sxy - sx * 1.0 * sy) / (n * 1.0 * sxx - sx * 1.0 * sx)
           / 1000000 AS slope,
         (sy * 1.0 / n / 1000000)
           - (n * 1.0 * sxy - sx * 1.0 * sy) / (n * 1.0 * sxx - sx * 1.0 * sx)
             / 1000000 * (sx * 1.0 / n) AS intercept
  FROM ols
),
pred AS (
  SELECT b.event_type, b.is_train, b.hv_fp / 1000000.0 AS y,
         s.f_seas,
         c.intercept + c.slope * (b.hour_idx - x.hmin) AS f_trend
  FROM base b
  JOIN seas s ON s.event_type = b.event_type AND s.how = b.how
  JOIN coef c ON c.event_type = b.event_type
  JOIN x0 x ON x.event_type = b.event_type
),
train_mae AS (
  SELECT event_type,
         CAST(sum(CAST(floor(abs(y - f_seas) * 1000000000 + 0.5)
                       AS DECIMAL(28,0))) AS DOUBLE) / 1000000000 / count(*)
           AS mae_seas,
         CAST(sum(CAST(floor(abs(y - f_trend) * 1000000000 + 0.5)
                       AS DECIMAL(28,0))) AS DOUBLE) / 1000000000 / count(*)
           AS mae_trend
  FROM pred WHERE is_train = 1 GROUP BY 1
),
wts AS (
  SELECT event_type,
         (1.0 / mae_seas) / (1.0 / mae_seas + 1.0 / mae_trend) AS w_seas,
         (1.0 / mae_trend) / (1.0 / mae_seas + 1.0 / mae_trend) AS w_trend
  FROM train_mae
),
test_err AS (
  SELECT p.event_type,
         CAST(sum(CAST(floor(abs(p.y - p.f_seas) * 1000000000 + 0.5)
                       AS DECIMAL(28,0))) AS DOUBLE) / 1000000000 / count(*)
           AS mae_seas,
         CAST(sum(CAST(floor(abs(p.y - p.f_trend) * 1000000000 + 0.5)
                       AS DECIMAL(28,0))) AS DOUBLE) / 1000000000 / count(*)
           AS mae_trend,
         CAST(sum(CAST(floor(abs(p.y - (w.w_seas * p.f_seas
                                        + w.w_trend * p.f_trend))
                             * 1000000000 + 0.5)
                       AS DECIMAL(28,0))) AS DOUBLE) / 1000000000 / count(*)
           AS mae_ens,
         count(*) AS n_test
  FROM pred p JOIN wts w ON w.event_type = p.event_type
  WHERE p.is_train = 0 GROUP BY 1
)
SELECT t.event_type AS event_type, m.model,
       CAST(t.n_test AS BIGINT) AS n_test,
       floor(CASE m.model WHEN 'seasonal' THEN t.mae_seas
                          WHEN 'trend' THEN t.mae_trend
                          ELSE t.mae_ens END * 10000 + 0.5) / 10000 AS mae_test,
       CASE m.model WHEN 'seasonal' THEN floor(w.w_seas * 10000 + 0.5) / 10000
                    WHEN 'trend' THEN floor(w.w_trend * 10000 + 0.5) / 10000
                    ELSE NULL END AS weight
FROM test_err t
JOIN wts w ON w.event_type = t.event_type
CROSS JOIN (SELECT unnest(['seasonal', 'trend', 'ensemble']) AS model) m
ORDER BY event_type, model
""",
)
def q_ts_forecast_ensemble(spark: SparkSession, sf_dir: str):
    hourly = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_idx"),
        )
        .agg(
            F.floor(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("value")
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("hv_fp")
        )
    )
    days = hourly.agg(
        F.min(F.floor(F.col("hour_idx") / 24)).alias("d0"),
        F.max(F.floor(F.col("hour_idx") / 24)).alias("d1"),
    )
    split = days.select(
        (
            F.col("d0")
            + F.floor((F.col("d1") - F.col("d0") + 1) * 0.8).cast("long")
        ).alias("cut")
    )
    base = (
        hourly.crossJoin(F.broadcast(split))
        .select(
            "event_type",
            "hour_idx",
            "hv_fp",
            (F.col("hour_idx") % 24).alias("how"),
            F.when(F.floor(F.col("hour_idx") / 24) < F.col("cut"), 1)
            .otherwise(0)
            .alias("is_train"),
        )
    )
    train = base.filter(F.col("is_train") == 1)
    x0 = train.groupBy("event_type").agg(F.min("hour_idx").alias("hmin"))
    seas = train.groupBy("event_type", "how").agg(
        (F.sum("hv_fp").cast("double") / 1000000 / F.count(F.lit(1))).alias(
            "f_seas"
        )
    )
    xo = F.col("hour_idx") - F.col("hmin")
    ols = (
        train.join(F.broadcast(x0), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xo).alias("sx"),
            F.sum(xo * xo).alias("sxx"),
            F.sum("hv_fp").alias("sy"),
            F.sum(xo * F.col("hv_fp")).alias("sxy"),
        )
    )
    slope_expr = (
        (F.col("n") * 1.0 * F.col("sxy") - F.col("sx") * 1.0 * F.col("sy"))
        / (F.col("n") * 1.0 * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx"))
        / 1000000
    )
    coef = ols.select(
        "event_type",
        slope_expr.alias("slope"),
        (
            (F.col("sy") * 1.0 / F.col("n") / 1000000)
            - slope_expr * (F.col("sx") * 1.0 / F.col("n"))
        ).alias("intercept"),
    )
    pred = (
        base.join(F.broadcast(seas), ["event_type", "how"])
        .join(F.broadcast(coef), "event_type")
        .join(F.broadcast(x0), "event_type")
        .select(
            "event_type",
            "is_train",
            (F.col("hv_fp") / 1000000.0).alias("y"),
            "f_seas",
            (
                F.col("intercept")
                + F.col("slope") * (F.col("hour_idx") - F.col("hmin"))
            ).alias("f_trend"),
        )
    )

    def mae_fp(err_col):
        return (
            F.sum(
                F.floor(F.abs(err_col) * 1000000000 + 0.5).cast(
                    "decimal(28,0)"
                )
            ).cast("double")
            / 1000000000
            / F.count(F.lit(1))
        )

    train_mae = (
        pred.filter(F.col("is_train") == 1)
        .groupBy("event_type")
        .agg(
            mae_fp(F.col("y") - F.col("f_seas")).alias("mae_seas"),
            mae_fp(F.col("y") - F.col("f_trend")).alias("mae_trend"),
        )
    )
    wts = train_mae.select(
        "event_type",
        (
            (1.0 / F.col("mae_seas"))
            / (1.0 / F.col("mae_seas") + 1.0 / F.col("mae_trend"))
        ).alias("w_seas"),
        (
            (1.0 / F.col("mae_trend"))
            / (1.0 / F.col("mae_seas") + 1.0 / F.col("mae_trend"))
        ).alias("w_trend"),
    )
    test_err = (
        pred.filter(F.col("is_train") == 0)
        .join(F.broadcast(wts), "event_type")
        .groupBy("event_type")
        .agg(
            mae_fp(F.col("y") - F.col("f_seas")).alias("mae_seas"),
            mae_fp(F.col("y") - F.col("f_trend")).alias("mae_trend"),
            mae_fp(
                F.col("y")
                - (
                    F.col("w_seas") * F.col("f_seas")
                    + F.col("w_trend") * F.col("f_trend")
                )
            ).alias("mae_ens"),
            F.count(F.lit(1)).alias("n_test"),
        )
    )
    models = spark.createDataFrame(
        [("seasonal",), ("trend",), ("ensemble",)], "model string"
    )
    out = (
        test_err.join(F.broadcast(wts), "event_type")
        .crossJoin(F.broadcast(models))
        .select(
            "event_type",
            "model",
            F.col("n_test").cast("long").alias("n_test"),
            portable_round(
                F.when(F.col("model") == "seasonal", F.col("mae_seas"))
                .when(F.col("model") == "trend", F.col("mae_trend"))
                .otherwise(F.col("mae_ens")),
                4,
            ).alias("mae_test"),
            F.when(
                F.col("model") == "seasonal",
                portable_round(F.col("w_seas"), 4),
            )
            .when(
                F.col("model") == "trend", portable_round(F.col("w_trend"), 4)
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("weight"),
        )
    )
    return out.orderBy("event_type", "model")


# -- Duplicate-payment detection ---------------------------------------------
# The AP-forensics staple: same customer, near-identical order totals
# (within $1000), order dates within 30 days — the double-submission
# candidate set. Blocked self-join on o_custkey (orders-per-customer is
# bounded, so blocks stay tiny — never orders x orders), band predicates
# inside the block, each pair reported once (earlier key first).
@register(
    "val_duplicate_payments",
    oracle="""
SELECT a.o_custkey AS custkey,
       a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
       CAST(abs(b.o_totalprice - a.o_totalprice) AS DOUBLE) AS price_diff,
       CAST(b.o_orderdate::DATE - a.o_orderdate::DATE AS BIGINT) AS days_apart
FROM orders a
JOIN orders b
  ON b.o_custkey = a.o_custkey
 AND b.o_orderkey > a.o_orderkey
 AND abs(b.o_totalprice - a.o_totalprice) <= 1000.0
 AND b.o_orderdate::DATE >= a.o_orderdate::DATE - 30
 AND b.o_orderdate::DATE <= a.o_orderdate::DATE + 30
ORDER BY custkey, orderkey_a, orderkey_b
""",
)
def q_val_duplicate_payments(spark: SparkSession, sf_dir: str):
    o = table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a, b = o.alias("a"), o.alias("b")
    dd = F.datediff(F.col("b.d"), F.col("a.d"))
    pd_ = F.abs(F.col("b.o_totalprice") - F.col("a.o_totalprice"))
    return (
        a.join(
            b,
            (F.col("b.o_custkey") == F.col("a.o_custkey"))
            & (F.col("b.o_orderkey") > F.col("a.o_orderkey")),
        )
        .filter((pd_ <= 1000.0) & (dd >= -30) & (dd <= 30))
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("orderkey_a"),
            F.col("b.o_orderkey").alias("orderkey_b"),
            pd_.cast("double").alias("price_diff"),
            dd.cast("long").alias("days_apart"),
        )
        .orderBy("custkey", "orderkey_a", "orderkey_b")
    )


# -- Code-vs-prose detection -------------------------------------------------
# Corpus-filtering heuristic for code contamination in a text corpus:
# per document, symbol density ({};()=<>[] per char), indented-line
# share, and semicolon line-ending share vote a code flag; per source,
# the flagged share. All ratios exact-integer-derived; the same three
# regex counts in both engines.
@register(
    "text_code_detect_stats",
    oracle=r"""
WITH d AS (
  SELECT doc_id, source,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[{};()=<>\[\]]', '', 'g'))
           AS n_sym,
         len(regexp_split_to_array(text, '\n')) AS n_lines,
         len(list_filter(regexp_split_to_array(text, '\n'),
                         x -> regexp_matches(x, '^(    |\t)'))) AS n_indent,
         len(list_filter(regexp_split_to_array(text, '\n'),
                         x -> regexp_matches(x, ';\s*$'))) AS n_semi
  FROM documents WHERE length(text) > 0
),
flags AS (
  SELECT doc_id, source,
         CASE WHEN n_sym * 1.0 / n_chars > 0.03
                   AND (n_indent + n_semi) * 1.0 / n_lines > 0.2
              THEN 1 ELSE 0 END AS is_code
  FROM d
)
SELECT source, count(*) AS n_docs,
       CAST(sum(is_code) AS BIGINT) AS n_code_docs,
       floor(sum(is_code) * 1.0 / count(*) * 10000 + 0.5) / 10000
         AS code_share
FROM flags GROUP BY source ORDER BY source
""",
)
def q_text_code_detect_stats(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir).filter(F.length("text") > 0)
    lines = F.split("text", "\n")
    d = docs.select(
        "doc_id",
        "source",
        F.length("text").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"[{};()=<>\[\]]", ""))
        ).alias("n_sym"),
        F.size(lines).alias("n_lines"),
        F.size(
            F.filter(lines, lambda x: x.rlike(r"^(    |\t)"))
        ).alias("n_indent"),
        F.size(F.filter(lines, lambda x: x.rlike(r";\s*$"))).alias("n_semi"),
    )
    flags = d.select(
        "source",
        F.when(
            (F.col("n_sym") * 1.0 / F.col("n_chars") > 0.03)
            & (
                (F.col("n_indent") + F.col("n_semi")) * 1.0 / F.col("n_lines")
                > 0.2
            ),
            1,
        )
        .otherwise(0)
        .alias("is_code"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_code").cast("long").alias("n_code_docs"),
            portable_round(F.sum("is_code") * 1.0 / F.count(F.lit(1)), 4).alias(
                "code_share"
            ),
        )
        .orderBy("source")
    )


# -- Demand intermittency classification (Syntetos-Boylan) -------------------
# The forecasting-method selector: per part brand, ADI (mean gap between
# demand days) and CV^2 of nonzero daily demand place the series in the
# smooth / intermittent / erratic / lumpy quadrant (cuts 1.32 / 0.49).
# ADI from exact integer day spans; CV^2 from exact DECIMAL demand sums
# — identical doubles at the division edge.
@register(
    "ts_intermittency_stats",
    oracle="""
WITH daily AS (
  SELECT p.p_brand, l.l_shipdate::DATE AS d,
         sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
spans AS (
  SELECT p_brand, count(*) AS n_demand_days,
         max(d) - min(d) AS span_days,
         CAST(sum(q) AS DOUBLE) AS sq,
         CAST(sum(q * q) AS DOUBLE) AS sqq
  FROM daily GROUP BY 1
),
m AS (
  SELECT p_brand, n_demand_days,
         CASE WHEN n_demand_days > 1
              THEN span_days * 1.0 / (n_demand_days - 1) ELSE NULL END AS adi,
         (sqq / n_demand_days - (sq / n_demand_days) * (sq / n_demand_days))
           / ((sq / n_demand_days) * (sq / n_demand_days)) AS cv2
  FROM spans
)
SELECT p_brand, CAST(n_demand_days AS BIGINT) AS n_demand_days,
       floor(adi * 10000 + 0.5) / 10000 AS adi,
       floor(cv2 * 10000 + 0.5) / 10000 AS cv2,
       CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
            WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
            WHEN adi < 1.32 THEN 'erratic'
            ELSE 'lumpy' END AS demand_class
FROM m ORDER BY p_brand
""",
)
def q_ts_intermittency_stats(spark: SparkSession, sf_dir: str):
    li = table(spark, "lineitem", sf_dir)
    p = table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.col("l_shipdate").cast("date").alias("d"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
    )
    spans = daily.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_demand_days"),
        F.datediff(F.max("d"), F.min("d")).alias("span_days"),
        F.sum("q").cast("double").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("double").alias("sqq"),
    )
    mean_q = F.col("sq") / F.col("n_demand_days")
    adi = F.when(
        F.col("n_demand_days") > 1,
        F.col("span_days") * 1.0 / (F.col("n_demand_days") - 1),
    ).otherwise(F.lit(None))
    cv2 = (F.col("sqq") / F.col("n_demand_days") - mean_q * mean_q) / (
        mean_q * mean_q
    )
    m = spans.select(
        "p_brand",
        F.col("n_demand_days").cast("long").alias("n_demand_days"),
        adi.alias("adi_raw"),
        cv2.alias("cv2_raw"),
    )
    return m.select(
        "p_brand",
        "n_demand_days",
        portable_round(F.col("adi_raw"), 4).alias("adi"),
        portable_round(F.col("cv2_raw"), 4).alias("cv2"),
        F.when(
            (F.col("adi_raw") < 1.32) & (F.col("cv2_raw") < 0.49), "smooth"
        )
        .when((F.col("adi_raw") >= 1.32) & (F.col("cv2_raw") < 0.49), "intermittent")
        .when(F.col("adi_raw") < 1.32, "erratic")
        .otherwise("lumpy")
        .alias("demand_class"),
    ).orderBy("p_brand")


# -- Boilerplate-line detection ----------------------------------------------
# Corpus cleaning: normalized lines appearing in >= 5 distinct documents
# are boilerplate (headers, footers, nav chrome); report per source the
# share of lines that are boilerplate and the worst offender line count.
# Explode-to-lines + two hash aggs — the word-count shape; the line
# table carries md5 keys so the shuffle rides 16-byte keys, not text.
@register(
    "text_boilerplate_share",
    oracle=r"""
WITH lines AS (
  SELECT doc_id, source,
         md5(trim(x)) AS lh
  FROM (
    SELECT doc_id, source, unnest(regexp_split_to_array(text, '\n')) AS x
    FROM documents
  )
  WHERE trim(x) != ''
),
common AS (
  SELECT lh, count(DISTINCT doc_id) AS n_docs
  FROM lines GROUP BY lh HAVING count(DISTINCT doc_id) >= 5
)
SELECT l.source,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN c.lh IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_boiler_lines,
       floor(sum(CASE WHEN c.lh IS NULL THEN 0 ELSE 1 END) * 1.0 / count(*)
             * 10000 + 0.5) / 10000 AS boiler_share,
       CAST(max(coalesce(c.n_docs, 0)) AS BIGINT) AS worst_line_doc_count
FROM lines l LEFT JOIN common c ON c.lh = l.lh
GROUP BY l.source ORDER BY l.source
""",
)
def q_text_boilerplate_share(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    lines = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split("text", "\n")).alias("x"),
        )
        .filter(F.trim("x") != "")
        .select("doc_id", "source", F.md5(F.trim("x")).alias("lh"))
    )
    common = (
        lines.groupBy("lh")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 5)
    )
    joined = lines.join(F.broadcast(common), "lh", "left")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("n_docs").isNull(), 0).otherwise(1))
            .cast("long")
            .alias("n_boiler_lines"),
            portable_round(
                F.sum(F.when(F.col("n_docs").isNull(), 0).otherwise(1))
                * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("boiler_share"),
            F.max(F.coalesce("n_docs", F.lit(0)))
            .cast("long")
            .alias("worst_line_doc_count"),
        )
        .orderBy("source")
    )


# -- Negative-sampling distribution (unigram^0.75) ---------------------------
# The word2vec/contrastive-training sampling table: corpus unigram
# frequencies raised to 0.75 and normalized. pow() is a per-row
# transcendental -> quantized to the 1e9 grid immediately, so the
# normalizing sum and every probability are exact-integer-derived and
# engine-identical. Top 100 tokens by (count, token) — deterministic.
@register(
    "text_negative_sampling_dist",
    oracle=r"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x != '')) AS token
  FROM documents
),
freq AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
top AS (
  SELECT token, c FROM freq ORDER BY c DESC, token LIMIT 100
),
fp AS (
  SELECT token, c,
         CAST(floor(pow(c, 0.75) * 1000000000 + 0.5) AS DECIMAL(28,0)) AS w_fp
  FROM top
),
z AS (SELECT sum(w_fp) AS z FROM fp)
SELECT f.token, CAST(f.c AS BIGINT) AS freq,
       floor(CAST(f.w_fp AS DOUBLE) / CAST(z.z AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS p_neg
FROM fp f CROSS JOIN z ORDER BY freq DESC, token
""",
)
def q_text_negative_sampling_dist(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.text import tokens

    docs = table(spark, "documents", sf_dir)
    freq = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = freq.orderBy(F.col("c").desc(), "token").limit(100)
    fp = top.select(
        "token",
        "c",
        F.floor(F.pow("c", 0.75) * 1000000000 + 0.5)
        .cast("decimal(28,0)")
        .alias("w_fp"),
    )
    z = fp.agg(F.sum("w_fp").alias("z"))
    return (
        fp.crossJoin(F.broadcast(z))
        .select(
            "token",
            F.col("c").cast("long").alias("freq"),
            (
                F.floor(
                    F.col("w_fp").cast("double")
                    / F.col("z").cast("double")
                    * 1000000
                    + 0.5
                )
                / 1000000
            ).alias("p_neg"),
        )
        .orderBy(F.col("freq").desc(), "token")
    )


# -- Discount elasticity ------------------------------------------------------
# How quantity responds to discounting: per discount level, mean
# quantity from exact DECIMAL sums; then the log-log OLS slope of
# ln(mean_qty) on ln(1 - discount) — the elasticity estimate. Logs are
# per-level transcendentals quantized to the 1e9 grid before the
# closed-form regression over ~11 level rows (exact decimal sums).
@register(
    "rel_discount_elasticity",
    oracle=f"""
WITH lvl AS (
  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
         count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
           AS mean_qty
  FROM lineitem GROUP BY 1
),
pts AS (
  SELECT disc_pct, n, mean_qty,
         CAST(floor(ln(1.0 - disc_pct / 100.0) * {_FP} + 0.5)
              AS DECIMAL(28,0)) AS x_fp,
         CAST(floor(ln(mean_qty) * {_FP} + 0.5) AS DECIMAL(28,0)) AS y_fp
  FROM lvl WHERE disc_pct < 100
),
fit AS (
  SELECT (count(*) * CAST(sum(x_fp * y_fp) AS DOUBLE)
            - CAST(sum(x_fp) AS DOUBLE) * CAST(sum(y_fp) AS DOUBLE))
         / (count(*) * CAST(sum(x_fp * x_fp) AS DOUBLE)
            - CAST(sum(x_fp) AS DOUBLE) * CAST(sum(x_fp) AS DOUBLE))
           AS slope
  FROM pts
)
SELECT p.disc_pct, CAST(p.n AS BIGINT) AS n_lineitems,
       floor(p.mean_qty * 10000 + 0.5) / 10000 AS mean_qty,
       floor((SELECT slope FROM fit) * 10000 + 0.5) / 10000 AS elasticity
FROM pts p ORDER BY p.disc_pct
""",
)
def q_rel_discount_elasticity(spark: SparkSession, sf_dir: str):
    li = table(spark, "lineitem", sf_dir)
    lvl = li.groupBy(
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("disc_pct")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_qty"),
    )
    pts = lvl.filter(F.col("disc_pct") < 100).select(
        "disc_pct",
        "n",
        "mean_qty",
        F.floor(F.log(1.0 - F.col("disc_pct") / 100.0) * _FP + 0.5)
        .cast("decimal(28,0)")
        .alias("x_fp"),
        F.floor(F.log(F.col("mean_qty")) * _FP + 0.5)
        .cast("decimal(28,0)")
        .alias("y_fp"),
    )
    fit = pts.agg(
        (
            (
                F.count(F.lit(1))
                * F.sum(F.col("x_fp") * F.col("y_fp")).cast("double")
                - F.sum("x_fp").cast("double") * F.sum("y_fp").cast("double")
            )
            / (
                F.count(F.lit(1))
                * F.sum(F.col("x_fp") * F.col("x_fp")).cast("double")
                - F.sum("x_fp").cast("double") * F.sum("x_fp").cast("double")
            )
        ).alias("slope")
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            "disc_pct",
            F.col("n").cast("long").alias("n_lineitems"),
            portable_round(F.col("mean_qty"), 4).alias("mean_qty"),
            portable_round(F.col("slope"), 4).alias("elasticity"),
        )
        .orderBy("disc_pct")
    )


# -- Weighted reciprocity of the transition graph ----------------------------
# How bidirectional the event-type flow is: r = sum min(w_uv, w_vu) /
# sum w_uv over ordered pairs u != v (1 = perfectly mutual, 0 = purely
# one-way). Exact integer edge weights; the mutual join is node-pair
# sized.
@register(
    "graph_reciprocity",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM {EVENTS_SRC} AS e WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
edges AS (
  SELECT event_type AS u, nxt AS v, count(*) AS w
  FROM seq WHERE nxt IS NOT NULL AND nxt <> event_type GROUP BY 1, 2
),
paired AS (
  SELECT a.u, a.v, a.w, coalesce(b.w, 0) AS w_rev
  FROM edges a LEFT JOIN edges b ON b.u = a.v AND b.v = a.u
)
SELECT CAST(count(*) AS BIGINT) AS n_directed_edges,
       CAST(sum(w) AS BIGINT) AS total_weight,
       CAST(sum(least(w, w_rev)) AS BIGINT) AS mutual_weight,
       floor(sum(least(w, w_rev)) * 1.0 / sum(w) * 10000 + 0.5) / 10000
         AS reciprocity
FROM paired
""",
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("u"),
            F.lead("event_type").over(w).alias("v"),
        )
        .filter(F.col("v").isNotNull() & (F.col("v") != F.col("u")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    rev = edges.select(
        F.col("v").alias("u"), F.col("u").alias("v"), F.col("w").alias("w_rev")
    )
    paired = edges.join(F.broadcast(rev), ["u", "v"], "left").select(
        "u", "v", "w", F.coalesce("w_rev", F.lit(0)).alias("w_rev")
    )
    return paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_directed_edges"),
        F.sum("w").cast("long").alias("total_weight"),
        F.sum(F.least("w", "w_rev")).cast("long").alias("mutual_weight"),
        portable_round(
            F.sum(F.least("w", "w_rev")) * 1.0 / F.sum("w"), 4
        ).alias("reciprocity"),
    )


# -- Holiday lift -------------------------------------------------------------
# Calendar-effect estimation with an embedded holiday table (New Year,
# Independence Day, Christmas): mean daily order count and revenue on
# holidays vs regular days, and the lift ratio. Exact integer counts and
# DECIMAL revenue; the holiday dimension is a literal broadcast.
@register(
    "rel_holiday_lift",
    oracle="""
WITH daily AS (
  SELECT o_orderdate::DATE AS d, count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
flagged AS (
  SELECT d, n, rev,
         CASE WHEN (month(d), day(d)) IN ((1, 1), (7, 4), (12, 25))
              THEN 1 ELSE 0 END AS is_holiday
  FROM daily
)
SELECT is_holiday, CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(n) AS BIGINT) AS n_orders,
       floor(sum(n) * 1.0 / count(*) * 10000 + 0.5) / 10000
         AS orders_per_day,
       floor(CAST(sum(rev) AS DOUBLE) / count(*) * 100 + 0.5) / 100
         AS revenue_per_day
FROM flagged GROUP BY is_holiday ORDER BY is_holiday
""",
)
def q_rel_holiday_lift(spark: SparkSession, sf_dir: str):
    daily = (
        table(spark, "orders", sf_dir)
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        )
    )
    is_holiday = (
        ((F.month("d") == 1) & (F.dayofmonth("d") == 1))
        | ((F.month("d") == 7) & (F.dayofmonth("d") == 4))
        | ((F.month("d") == 12) & (F.dayofmonth("d") == 25))
    )
    flagged = daily.select(
        "n", "rev", F.when(is_holiday, 1).otherwise(0).alias("is_holiday")
    )
    return (
        flagged.groupBy("is_holiday")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("n").cast("long").alias("n_orders"),
            portable_round(F.sum("n") * 1.0 / F.count(F.lit(1)), 4).alias(
                "orders_per_day"
            ),
            (
                F.floor(
                    F.sum("rev").cast("double") / F.count(F.lit(1)) * 100
                    + 0.5
                )
                / 100
            ).alias("revenue_per_day"),
        )
        .orderBy("is_holiday")
    )
