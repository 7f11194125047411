"""Sessionization, part-dimension queries, analytic window breadth, and a
streaming-parity query (Structured Streaming result == batch SQL oracle)."""

from __future__ import annotations

import tempfile

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
    portable_round,
)
from electricity_forecast_pipeline_airflow_k8s_spark.queries import register, table
from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.incremental import _QCUT
from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.validation import EVENTS_SRC
from electricity_forecast_pipeline_airflow_k8s_spark.streaming.ingest import windowed_stats

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min inactivity closes a session


# -- gap-based sessionization: cumulative-sum-of-boundaries window pattern --
@register(
    "sess_user_sessions",
    oracle=f"""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id FROM events),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts, event_id,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sessioned GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
)
def q_user_sessions(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir)
    # nulls-last ts ordering (DuckDB's ascending default) and boundary
    # only on first-row-or-big-gap -- a NULL gap from a NULL ts row is NOT
    # a boundary, matching the oracle's NULL > gap = false semantics
    order = [F.col("ts").asc_nulls_last(), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    prev = F.lag("ts").over(w)
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(prev)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(prev.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0).alias("new_sess"),
    )
    cum = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessioned = flagged.withColumn("session_id", F.sum("new_sess").over(cum))
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


# -- Q14-style: conditional aggregation over a dim join ---------------------
@register(
    "rel_promo_share",
    oracle="""
SELECT floor((
  CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
      THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0
  / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
      * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
  ) * 10000 + 0.5) / 10000 AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
""",
)
def q_promo_share(spark: SparkSession, sf_dir: str):
    li = table(spark, "lineitem", sf_dir)
    p = table(spark, "part", sf_dir)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        (F.floor(
            F.try_divide(
                F.sum(
                    F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
                        F.lit(0).cast("decimal(18,2)")
                    )
                ).cast("double")
                * 100.0,
                F.sum(rev).cast("double"),
            ) * 10000 + 0.5
        ) / 10000).alias("promo_pct")
    )


# -- part stats by brand: avg size, price quantiles, like-filter ------------
@register(
    "rel_part_brand_stats",
    oracle="""
SELECT p_brand,
       count(*) AS n_parts,
       floor(avg(p_size) * 10000 + 0.5) / 10000 AS avg_size,
       floor((quantile_cont(p_retailprice, 0.5)) * 10000 + 0.5) / 10000 AS median_price
FROM part WHERE p_type NOT LIKE '%COPPER%'
GROUP BY p_brand ORDER BY p_brand
""",
)
def q_part_brand(spark: SparkSession, sf_dir: str):
    p = table(spark, "part", sf_dir).filter(~F.col("p_type").like("%COPPER%"))
    return (
        p.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (F.floor(F.avg("p_size") * 10000 + 0.5) / 10000).alias("avg_size"),
            portable_round(F.percentile("p_retailprice", F.lit(0.5)), 4).alias("median_price"),
        )
        .orderBy("p_brand")
    )


# -- analytic window breadth: percent_rank / cume_dist / first / last -------
@register(
    "rel_window_analytic",
    oracle="""
SELECT c_nationkey, c_custkey,
       floor(percent_rank() OVER w * 1000000) / 1000000 AS pr,
       floor(cume_dist() OVER w * 1000000) / 1000000 AS cd,
       first_value(c_custkey) OVER w AS richest,
       floor((c_acctbal
             - CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                    OVER (PARTITION BY c_nationkey) AS DOUBLE)
               / count(c_acctbal) OVER (PARTITION BY c_nationkey)) * 10000 + 0.5)
         / 10000 AS bal_vs_nation
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_nationkey, c_custkey
""",
)
def q_window_analytic(spark: SparkSession, sf_dir: str):
    c = table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    wp = Window.partitionBy("c_nationkey")
    # floor-truncate, don't round: rank/n rationals (e.g. 41/640) sit
    # exactly on round-half boundaries where the engines' tie handling
    # differs; floor of one identical IEEE multiply is engine-exact
    return c.select(
        "c_nationkey",
        "c_custkey",
        (F.floor(F.percent_rank().over(w) * 1000000) / 1000000).alias("pr"),
        (F.floor(F.cume_dist().over(w) * 1000000) / 1000000).alias("cd"),
        F.first("c_custkey").over(w).alias("richest"),
        (
            F.floor(
                (
                    F.col("c_acctbal")
                    - F.try_divide(
                        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                        .over(wp)
                        .cast("double"),
                        F.count("c_acctbal").over(wp),
                    )
                )
                * 10000
                + 0.5
            )
            / 10000
        ).alias("bal_vs_nation"),
    ).orderBy("c_nationkey", "c_custkey")


# -- cross-domain enrichment: events joined to the customer dimension -------
# (events.user_id 0..149 maps onto customer keys 1..150)
@register(
    "rel_events_by_segment",
    oracle="""
SELECT c.c_mktsegment AS segment, e.event_type,
       count(*) AS n_events,
       floor((CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
              / count(e.value)) * 10000 + 0.5) / 10000 AS avg_value
FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_events_by_segment(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import exact_mean

    ev = table(spark, "events", sf_dir)
    c = table(spark, "customer", sf_dir)
    return (
        ev.join(F.broadcast(c), ev.user_id + 1 == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.floor(exact_mean("value") * 10000 + 0.5) / 10000).alias("avg_value"),
        )
        .orderBy("segment", "event_type")
    )


# -- month-over-month revenue growth: agg -> lag window over the aggregate --
@register(
    "rel_monthly_revenue_growth",
    oracle="""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, floor((revenue) * 10000 + 0.5) / 10000 AS revenue,
       CASE WHEN lag(revenue) OVER w > 0
            THEN floor(((revenue - lag(revenue) OVER w) * 100.0
                        / lag(revenue) OVER w) * 10000 + 0.5) / 10000
            END AS growth_pct
FROM monthly
WINDOW w AS (ORDER BY month NULLS FIRST)
ORDER BY month NULLS FIRST
""",
)
def q_monthly_growth(spark: SparkSession, sf_dir: str):
    o = table(spark, "orders", sf_dir)
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        portable_round("revenue", 4).alias("revenue"),
        F.when(
            prev > 0,
            F.floor((F.col("revenue") - prev) * 100.0 / prev * 10000 + 0.5) / 10000,
        ).alias("growth_pct"),
    ).orderBy("month")


# -- time-range frame window: trailing 1h moving average per group ----------
# (range frame over integer microseconds -- exact, engine-portable)
@register(
    "ts_moving_avg_1h",
    oracle=f"""
SELECT event_id, event_type, ts,
       n_1h, floor(avg_1h * 10000 + 0.5) / 10000 AS avg_1h
FROM (
  SELECT event_id, event_type, ts,
         count(*) OVER w AS n_1h,
         CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
           / count(value) OVER w AS avg_1h
  FROM (SELECT event_id, ts::TIMESTAMP AS ts, event_type, value,
               epoch_us(ts::TIMESTAMP) AS ts_us
        FROM events)
  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
)
WHERE event_id % 25 = 0
ORDER BY event_id
""",
)
def q_moving_avg_1h(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir).withColumn(
        "ts_us", F.unix_micros("ts")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    avg_1h = F.try_divide(
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"),
        F.count("value").over(w),
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            "ts",
            F.count(F.lit(1)).over(w).alias("n_1h"),
            (F.floor(avg_1h * 10000 + 0.5) / 10000).alias("avg_1h"),
        )
        .filter(F.col("event_id") % 25 == 0)
        .orderBy("event_id")
    )


# -- streaming parity: availableNow tumbling windows == batch SQL -----------
@register(
    "stream_windowed_stats",
    oracle=f"""
SELECT event_type,
       date_trunc('hour', ts) AS window_start,
       count(*) AS n,
       floor((CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value))
             * 10000 + 0.5) / 10000 AS avg_value,
       floor((min(value)) * 10000 + 0.5) / 10000 AS min_value,
       floor((max(value)) * 10000 + 0.5) / 10000 AS max_value
FROM {EVENTS_SRC}
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_stream_windowed(spark: SparkSession, sf_dir: str):
    """Runs REAL Structured Streaming (file source, availableNow trigger,
    complete mode into a memory sink) over the events parquet and returns
    the final result -- proving streaming and batch agree on tumbling
    windows. The oracle is plain batch SQL."""
    ev = table(spark, "events", sf_dir)
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        ev.select("event_type", "ts", "value").write.parquet(src)
        stream = spark.readStream.schema(
            "event_type string, ts timestamp, value double"
        ).parquet(src)
        out = windowed_stats(
            stream,
            group_col="event_type",
            ts_col="ts",
            value_col="value",
            window_duration="1 hour",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("stream_parity_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError("streaming parity query did not finish in 300s")
    return (
        spark.table("stream_parity_out")
        .select("event_type", "window_start", "n", "avg_value", "min_value", "max_value")
        .orderBy("event_type", "window_start")
    )


# -- streaming dedup parity: at-least-once delivery collapsed (round 3) -----
# The file source lands the SAME events parquet twice (duplicate delivery,
# as a flaky upstream or replayed ingest would); watermark + dropDuplicates
# on event_id must collapse the second copy so the per-type aggregate
# equals plain batch SQL over ONE copy. Real Structured Streaming --
# availableNow trigger, state-store dedup, complete-mode sink.
@register(
    "stream_dedup_counts",
    oracle=f"""
SELECT event_type,
       count(*) AS n_events,
       floor((CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value))
             * 10000 + 0.5) / 10000 AS avg_value
FROM {EVENTS_SRC} WHERE ts IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
)
def q_stream_dedup_counts(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.streaming.ingest import (
        dedup_late_data,
    )

    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull())
        .select("event_id", "ts", "event_type", "value")
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        ev.write.parquet(src)
        ev.write.mode("append").parquet(src)  # duplicate delivery
        # Parity with the one-copy batch oracle needs every file of BOTH
        # copies in a single micro-batch: if the file source split batches
        # (its default cap is 1000 files/trigger even under availableNow),
        # first-copy rows older than the advanced 24h watermark would be
        # dropped as late data and undercount (ADVICE r3). Pin the cap far
        # above any file count this fixture can produce.
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1_000_000)
            .parquet(src)
        )
        deduped = dedup_late_data(
            stream, group_col="event_id", ts_col="ts", watermark="24 hours"
        )
        agg = deduped.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.floor(
                    (
                        F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                        / F.count("value")
                    )
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("avg_value"),
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("stream_dedup_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError("streaming dedup query did not finish in 300s")
    return (
        spark.table("stream_dedup_out")
        .select("event_type", "n_events", "avg_value")
        .orderBy("event_type")
    )


# -- funnel analysis within sessions (round 3): view -> click -> purchase ---
# Sequence-pattern matching the declarative way: per session, the funnel
# stage reached is determined by conditional min-timestamps (first view,
# first click AFTER that view, first purchase AFTER that click) -- three
# mergeable conditional aggregates over the sessionized frame, no
# self-joins, no UDF. Oracle derives the identical stages in SQL.
@register(
    "sess_funnel_counts",
    oracle=f"""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type FROM events
            WHERE ts IS NOT NULL),
flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts, event_type,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM flagged
),
stages AS (
  SELECT user_id, session_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM sessioned GROUP BY 1, 2
),
stage2 AS (
  SELECT s.user_id, s.session_id, s.t_view,
         min(CASE WHEN e.event_type = 'click' AND e.ts > s.t_view THEN e.ts END)
           AS t_click
  FROM stages s JOIN sessioned e
    ON e.user_id = s.user_id AND e.session_id = s.session_id
  GROUP BY 1, 2, 3
),
stage3 AS (
  SELECT s.user_id, s.session_id, s.t_view, s.t_click,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts > s.t_click THEN e.ts END)
           AS t_purchase
  FROM stage2 s JOIN sessioned e
    ON e.user_id = s.user_id AND e.session_id = s.session_id
  GROUP BY 1, 2, 3, 4
)
SELECT count(*) AS n_sessions,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view,
       CAST(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view_click,
       CAST(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view_click_purchase
FROM stage3
""",
)
def q_sess_funnel(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull())
        .select("event_id", "ts", "user_id", "event_type")
    )
    order = [F.col("ts").asc_nulls_last(), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    prev = F.lag("ts").over(w)
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(prev)
    cum = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = ev.withColumn(
        "session_id",
        F.sum(
            F.when(prev.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
        ).over(cum),
    )
    # stage 1: first view per session (one agg); stages 2-3 need the
    # stage-(k-1) timestamp per row -> broadcastable tiny frames (one row
    # per session) joined back, then one more conditional agg each
    s1 = sess.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    j2 = sess.join(F.broadcast(s1), ["user_id", "session_id"])
    s2 = j2.groupBy("user_id", "session_id", "t_view").agg(
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).alias("t_click")
    )
    j3 = sess.join(F.broadcast(s2), ["user_id", "session_id"])
    s3 = j3.groupBy("user_id", "session_id", "t_view", "t_click").agg(
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).alias("t_purchase")
    )
    return s3.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0)).alias(
            "n_view_click"
        ),
        F.sum(F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)).alias(
            "n_view_click_purchase"
        ),
    )


# -- streaming session windows (round 3): native session_window parity ------
# Real Structured Streaming gap-sessionization: session_window(ts, 30 min)
# merges events whose [ts, ts+gap) windows overlap, i.e. a session breaks
# when the inter-event gap is >= the gap duration. The batch oracle
# derives the same islands with a >=-boundary cumulative sum -- note the
# deliberate difference from sess_user_sessions' strict-> boundary, which
# follows the batch reference's dup-tolerant convention.
@register(
    "stream_session_stats",
    oracle=f"""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id FROM events
            WHERE ts IS NOT NULL),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {SESSION_GAP_US}
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM sessioned GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def q_stream_session_stats(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts")
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        ev.write.parquet(src)
        stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
        agg = (
            stream.withWatermark("ts", "24 hours")
            .groupBy(F.col("user_id"), F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("stream_session_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError("streaming session query did not finish in 300s")
    return (
        spark.table("stream_session_out")
        .select("user_id", "session_start", "n_events")
        .orderBy("user_id", "session_start")
    )


# -- SCD2 dimension build from a change log (round 3) -----------------------
# Change log -> versioned dimension: consecutive-duplicate suppression +
# validity intervals, one window pass (operators/scd.py). The user's
# event_type stream plays the changing attribute.
@register(
    "scd2_user_type_versions",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_type, ts::TIMESTAMP AS ts, event_id
  FROM events WHERE ts IS NOT NULL
),
lagged AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev,
         (row_number() OVER w = 1) AS is_first
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
vers AS (
  SELECT user_id, event_type, ts, event_id FROM lagged
  WHERE is_first OR event_type IS DISTINCT FROM prev
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER wv AS valid_to,
       (lead(ts) OVER wv IS NULL) AS is_current
FROM vers WINDOW wv AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, valid_from
""",
)
def q_scd2_versions(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.scd import (
        scd2_from_changelog,
    )

    ev = table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    dim = scd2_from_changelog(
        ev,
        key_cols=("user_id",),
        attr_cols=("event_type",),
        ts_col="ts",
        tiebreak_cols=("event_id",),
    )
    return dim.orderBy("user_id", "valid_from")


# -- point-in-time (as-of) read over the SCD2 dimension ---------------------
@register(
    "scd2_point_in_time",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_type, ts::TIMESTAMP AS ts, event_id
  FROM events WHERE ts IS NOT NULL
),
lagged AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev,
         (row_number() OVER w = 1) AS is_first
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
vers AS (
  SELECT user_id, event_type, ts, event_id FROM lagged
  WHERE is_first OR event_type IS DISTINCT FROM prev
),
dim AS (
  SELECT user_id, event_type, ts AS valid_from, lead(ts) OVER wv AS valid_to
  FROM vers WINDOW wv AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_type, valid_from
FROM dim
WHERE valid_from <= TIMESTAMP '2024-01-15'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15')
ORDER BY user_id
""",
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.scd import (
        scd2_from_changelog,
        scd2_point_in_time,
    )

    ev = table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    dim = scd2_from_changelog(
        ev,
        key_cols=("user_id",),
        attr_cols=("event_type",),
        ts_col="ts",
        tiebreak_cols=("event_id",),
    )
    return (
        scd2_point_in_time(dim, "2024-01-15 00:00:00")
        .select("user_id", "event_type", "valid_from")
        .orderBy("user_id")
    )


# -- streaming incremental validation counters (round 4) --------------------
# stream_quality_counts was pytest-only; this registers it against a batch
# oracle: per-window violation counters (nulls, negatives) from REAL
# Structured Streaming must equal plain batch SQL -- the incremental form
# of the batch validation suite (S/U parity for ST coverage).
@register(
    "stream_quality_counts",
    oracle=f"""
SELECT event_type,
       date_trunc('hour', ts) AS window_start,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
FROM {EVENTS_SRC}
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_stream_quality_counts(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.streaming.ingest import (
        stream_quality_counts,
    )

    ev = table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        ev.select("event_type", "ts", "value").write.parquet(src)
        stream = spark.readStream.schema(
            "event_type string, ts timestamp, value double"
        ).parquet(src)
        out = stream_quality_counts(
            stream,
            group_col="event_type",
            ts_col="ts",
            value_col="value",
            window_duration="1 hour",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("stream_quality_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError("streaming quality query did not finish in 300s")
    return (
        spark.table("stream_quality_out")
        .select("event_type", "window_start", "n_rows", "n_nulls", "n_negative")
        .orderBy("event_type", "window_start")
    )


# -- stream-static enrichment join (round 4) --------------------------------
# The missing streaming-join surface: a live stream joined to a small
# static dimension (per-group baseline computed offline), then windowed
# counts of above-baseline events. Spark broadcasts the static side into
# every micro-batch (no stream-side state for the join); the oracle is the
# batch formulation of the same enrichment. Streaming form of the
# reference's per-region thresholds-computed-offline outlier gate
# (`core/data_validation.py:176-218`).
@register(
    "stream_static_enrich",
    oracle=f"""
WITH dim AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value)
           AS baseline
  FROM {EVENTS_SRC} GROUP BY event_type
)
SELECT e.event_type,
       date_trunc('hour', e.ts) AS window_start,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN e.value > d.baseline THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above
FROM {EVENTS_SRC} e JOIN dim d ON e.event_type = d.event_type
WHERE e.ts IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
        exact_mean,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.streaming.ingest import (
        stream_enrich_counts,
    )

    ev = table(spark, "events", sf_dir)
    dim = ev.groupBy("event_type").agg(exact_mean("value").alias("baseline"))
    src_rows = ev.filter(F.col("ts").isNotNull()).select("event_type", "ts", "value")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        src_rows.write.parquet(src)
        stream = (
            spark.readStream.schema("event_type string, ts timestamp, value double")
            # single micro-batch like the other parity queries: batching
            # must not drop first-arrival rows behind an advanced watermark
            .option("maxFilesPerTrigger", 100000)
            .parquet(src)
        )
        out = stream_enrich_counts(
            stream,
            F.broadcast(dim),
            group_col="event_type",
            ts_col="ts",
            value_col="value",
            window_duration="1 hour",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("stream_enrich_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError("stream-static enrich query did not finish in 300s")
    return (
        spark.table("stream_enrich_out")
        .select("event_type", "window_start", "n_rows", "n_above")
        .orderBy("event_type", "window_start")
    )


# -- daily cohort retention matrix (round 4) --------------------------------
# Classic product-analytics rollup over the events stream: users grouped
# by first-seen day, activity counted per day offset. Exact integer
# counts end-to-end (no float anywhere); two hash aggs + one join, all
# map-side combinable; the firsts frame is user-count-sized and AQE
# decides its join strategy.
@register(
    "sess_retention_cohorts",
    oracle="""
WITH ev AS (
  -- DuckDB's date_trunc('day') yields DATE (unlike 'hour'); cast back so
  -- the column is TIMESTAMP like Spark's
  SELECT user_id, CAST(date_trunc('day', ts::TIMESTAMP) AS TIMESTAMP) AS day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
firsts AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id),
activity AS (SELECT DISTINCT user_id, day FROM ev)
SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day) AS offset_days,
       count(DISTINCT a.user_id) AS n_users
FROM activity a JOIN firsts f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_sess_retention_cohorts(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = ev.distinct()
    return (
        activity.join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("offset_days"),
            "user_id",
        )
        .groupBy("cohort_day", "offset_days")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "offset_days")
    )


# -- stream-stream interval join (round 5) ----------------------------------
# Click->purchase attribution as a REAL stream-stream inner join: both
# sides watermarked, event time bounded on both inputs so join state
# expires. availableNow + maxFilesPerTrigger keeps all files in one
# micro-batch (house convention: batching must not drop first-arrival
# rows behind an advanced watermark). The joined pairs land append-mode
# in a memory sink; the per-user rollup is batch over that table. Oracle:
# the same attribution computed as a plain SQL interval join.
@register(
    "stream_stream_join",
    oracle=f"""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type
            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
clicks AS (SELECT user_id, event_id AS click_id, ts AS click_ts
           FROM ev WHERE event_type = 'click'),
purchases AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
              FROM ev WHERE event_type = 'purchase')
SELECT c.user_id, count(*) AS n_pairs,
       count(DISTINCT c.click_id) AS n_clicks_attributed,
       count(DISTINCT p.purchase_id) AS n_purchases_attributed
FROM clicks c JOIN purchases p
  ON p.user_id = c.user_id
 AND p.purchase_ts > c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 4 HOUR
GROUP BY c.user_id
ORDER BY c.user_id
""",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    ev = table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("l_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    with tempfile.TemporaryDirectory() as tmp:
        lsrc, rsrc = f"{tmp}/clicks", f"{tmp}/purchases"
        clicks.write.parquet(lsrc)
        purchases.write.parquet(rsrc)
        lstream = (
            spark.readStream.schema(
                "l_user_id bigint, click_id long, click_ts timestamp"
            )
            .option("maxFilesPerTrigger", 100000)
            .parquet(lsrc)
        )
        rstream = (
            spark.readStream.schema(
                "r_user_id bigint, purchase_id long, purchase_ts timestamp"
            )
            .option("maxFilesPerTrigger", 100000)
            .parquet(rsrc)
        )
        pairs = stream_stream_interval_join(
            lstream,
            rstream,
            key_col="user_id",
            left_ts="click_ts",
            right_ts="purchase_ts",
            watermark="4 hours",
            max_gap="4 hours",
        )
        q = (
            pairs.writeStream.format("memory")
            .queryName("stream_ss_join_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError("stream-stream join query did not finish in 300s")
    return (
        spark.table("stream_ss_join_out")
        .groupBy(F.col("l_user_id").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("click_id").alias("n_clicks_attributed"),
            F.count_distinct("purchase_id").alias("n_purchases_attributed"),
        )
        .orderBy("user_id")
    )


# -- chained stateful streaming: join THEN windowed agg (round 5) -----------
# Two stateful operators in ONE streaming query (Spark 4 watermark
# propagation): the stream-stream attribution join feeds a daily tumbling
# aggregation, append mode end-to-end. Append-mode aggs only EMIT windows
# whose end <= the final watermark (min of the two inputs' max event time
# minus the delay) — that boundary is part of the semantics, so BOTH the
# Spark output and the batch oracle filter to it explicitly rather than
# relying on the emission subtlety.
@register(
    "stream_join_windowed_attribution",
    oracle=f"""
WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type
            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
clicks AS (SELECT user_id, ts AS click_ts FROM ev WHERE event_type = 'click'),
purchases AS (SELECT user_id, ts AS purchase_ts FROM ev WHERE event_type = 'purchase'),
wm AS (
  SELECT least((SELECT max(click_ts) FROM clicks),
               (SELECT max(purchase_ts) FROM purchases))
         - INTERVAL 4 HOUR AS w
),
pairs AS (
  SELECT date_trunc('day', p.purchase_ts) AS window_start
  FROM clicks c JOIN purchases p
    ON p.user_id = c.user_id
   AND p.purchase_ts > c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 4 HOUR
)
SELECT CAST(window_start AS TIMESTAMP) AS window_start,
       count(*) AS n_pairs
FROM pairs, wm
WHERE window_start + INTERVAL 1 DAY <= wm.w
GROUP BY 1 ORDER BY 1
""",
)
def q_stream_join_windowed_attribution(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    ev = table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("l_user_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    wm_row = clicks.agg(F.max("click_ts").alias("mc")).crossJoin(
        purchases.agg(F.max("purchase_ts").alias("mp"))
    ).select(
        (F.least("mc", "mp") - F.expr("interval 4 hours")).alias("w")
    )
    with tempfile.TemporaryDirectory() as tmp:
        lsrc, rsrc = f"{tmp}/clicks", f"{tmp}/purchases"
        clicks.write.parquet(lsrc)
        purchases.write.parquet(rsrc)
        lstream = (
            spark.readStream.schema("l_user_id bigint, click_ts timestamp")
            .option("maxFilesPerTrigger", 100000)
            .parquet(lsrc)
        )
        rstream = (
            spark.readStream.schema("r_user_id bigint, purchase_ts timestamp")
            .option("maxFilesPerTrigger", 100000)
            .parquet(rsrc)
        )
        pairs = stream_stream_interval_join(
            lstream,
            rstream,
            key_col="user_id",
            left_ts="click_ts",
            right_ts="purchase_ts",
            watermark="4 hours",
            max_gap="4 hours",
        )
        agg = pairs.groupBy(F.window("purchase_ts", "1 day").alias("win")).agg(
            F.count(F.lit(1)).alias("n_pairs")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("stream_join_win_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError("chained stateful query did not finish in 300s")
    return (
        spark.table("stream_join_win_out")
        .crossJoin(F.broadcast(wm_row))
        .filter(F.col("win.end") <= F.col("w"))
        .select(
            F.col("win.start").alias("window_start"),
            "n_pairs",
        )
        .orderBy("window_start")
    )



# -- streaming upsert sink: replay-safe keyed state (round 5) ---------------
# Drives the foreachBatch idempotent upsert sink end-to-end: a 4-file
# source processed one file per micro-batch in update mode, state landed
# per batch_id (overwrite), then the LAST batch deliberately re-landed —
# the at-least-once replay a crash between sink-write and checkpoint-
# commit produces. The reconstructed latest-per-key state must still
# equal plain batch SQL over one copy of the data. This is the streaming
# counterpart of rel_merge_upsert: same MERGE semantics, arrived
# incrementally, provably replay-immune.
@register(
    "stream_upsert_replay_state",
    oracle=f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM {EVENTS_SRC} WHERE ts IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
)
def q_stream_upsert_replay_state(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.streaming.ingest import (
        idempotent_upsert_sink,
        read_upsert_state,
    )

    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull())
        .select("ts", "event_type", "value")
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        root = f"{tmp}/upsert"
        ev.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        q, land = idempotent_upsert_sink(
            agg, root, key_cols=["event_type"], checkpoint=f"{tmp}/ckpt"
        )
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError("upsert sink query did not finish in 300s")
        # at-least-once replay of the final batch (identical content+id)
        import glob

        dirs = sorted(
            glob.glob(f"{root}/batch_id=*"),
            key=lambda p: int(p.rsplit("=", 1)[1]),
        )
        last = dirs[-1]
        # eager, not reuse(): land() overwrites the very path this reads
        land(
            spark.read.parquet(last).localCheckpoint(eager=True),
            int(last.rsplit("=", 1)[1]),
        )
        state = read_upsert_state(spark, root, ["event_type"]).orderBy(
            "event_type"
        )
        # eager, not reuse(): the tmp dir (the state's backing files)
        # vanishes on return
        return state.localCheckpoint(eager=True)


# -- cogroup applyInPandas: per-day click/purchase hour correlation ---------
# The two-sided custom-op API surface (groupBy().cogroup().applyInPandas):
# for each calendar day, the hourly click series and hourly purchase
# series are cogrouped — one shuffle per side on the day key — and a
# pandas kernel inner-joins the 24 hour slots and computes Pearson r.
# Determinism across engines: the kernel derives r from EXACT integer
# power sums (hour counts are ints; n*Sxy - Sx*Sy etc. stay integral) and
# only the final divide/sqrt is floating point — the oracle evaluates the
# same closed form from SQL BIGINT sums, so both sides round identically.
# At 100 TB the pandas work is 24 rows per group; parallelism = #days,
# and each side is pre-aggregated to (day, hour) BEFORE the cogroup
# shuffle, so Python only ever sees day-sized slivers.
@register(
    "sess_cogroup_hour_corr",
    oracle=f"""
WITH ev AS (
  SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS d,
         date_part('hour', ts::TIMESTAMP) AS h, event_type
  FROM {EVENTS_SRC} WHERE ts IS NOT NULL
),
clicks AS (
  SELECT d, h, count(*) AS x FROM ev WHERE event_type = 'click' GROUP BY 1, 2
),
purchases AS (
  SELECT d, h, count(*) AS y FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2
),
paired AS (
  SELECT c.d, c.x, p.y FROM clicks c JOIN purchases p ON c.d = p.d AND c.h = p.h
),
sums AS (
  SELECT d, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM paired GROUP BY 1
)
SELECT CAST(d AS TIMESTAMP) AS day, CAST(n AS BIGINT) AS n_hours,
       CASE
         WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0 THEN
           floor((n * sxy - sx * sy) * 1.0
                 / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy))
                 * 10000 + 0.5) / 10000
         ELSE NULL
       END AS hour_corr
FROM sums
WHERE n >= 3
ORDER BY day
""",
)
def q_sess_cogroup_hour_corr(spark: SparkSession, sf_dir: str):
    import math

    import pandas as pd

    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull())
        .select(
            F.date_trunc("day", "ts").alias("day"),
            F.hour("ts").alias("h"),
            "event_type",
        )
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("day", "h")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("day", "h")
        .agg(F.count(F.lit(1)).alias("y"))
    )

    def corr_kernel(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        m = left.merge(right, on="h", how="inner")
        n = len(m)
        if n < 3:
            return pd.DataFrame(
                {"day": pd.Series([], dtype="datetime64[us]"),
                 "n_hours": pd.Series([], dtype="int64"),
                 "hour_corr": pd.Series([], dtype="float64")}
            )
        x = [int(v) for v in m["x"]]
        y = [int(v) for v in m["y"]]
        sx, sy = sum(x), sum(y)
        sxx = sum(v * v for v in x)
        syy = sum(v * v for v in y)
        sxy = sum(a * b for a, b in zip(x, y))
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if vx > 0 and vy > 0:
            # mirror the oracle's float ops exactly: each BIGINT factor is
            # widened to double BEFORE the product (A * 1.0 * B), so both
            # engines round identically even when the product exceeds 2^53
            r = (n * sxy - sx * sy) / math.sqrt(float(vx) * float(vy))
            r = math.floor(r * 10000 + 0.5) / 10000
        else:
            r = None
        return pd.DataFrame(
            {"day": [key[0]], "n_hours": [n], "hour_corr": [r]}
        )

    out = (
        clicks.groupBy("day")
        .cogroup(purchases.groupBy("day"))
        .applyInPandas(
            corr_kernel, "day timestamp, n_hours long, hour_corr double"
        )
    )
    return out.orderBy("day")


# -- DAU / WAU / stickiness --------------------------------------------------
# The growth-metrics staple: daily active users, trailing-7-day active
# users, and the DAU/WAU stickiness ratio. Sliding count-distinct is the
# trap here — instead each (user, active-day) pair fans out to the <= 7
# calendar days whose trailing window it belongs to (a 7-element
# sequence explode), and WAU is a plain count-distinct per day. User-day
# pairs are already deduplicated before the fan-out, so the explode is
# bounded by active-pairs x 7, independent of raw event volume.
@register(
    "sess_dau_wau",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS d, user_id
  FROM {EVENTS_SRC} WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
days AS (SELECT DISTINCT d FROM ud),
dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY 1),
fan AS (
  SELECT CAST(ud.d + (i::INT) AS DATE) AS wd, ud.user_id
  FROM ud, unnest(range(0, 7)) AS t(i)
),
wau AS (
  SELECT f.wd AS d, count(DISTINCT f.user_id) AS wau
  FROM fan f JOIN days dy ON dy.d = f.wd
  GROUP BY 1
)
SELECT CAST(dy.d AS TIMESTAMP) AS day, dau.dau AS dau, wau.wau AS wau,
       floor(dau.dau * 1.0 / wau.wau * 10000 + 0.5) / 10000 AS stickiness
FROM days dy JOIN dau ON dau.d = dy.d JOIN wau ON wau.d = dy.d
ORDER BY day
""",
)
def q_sess_dau_wau(spark: SparkSession, sf_dir: str):
    ud = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(F.to_date(F.date_trunc("day", "ts")).alias("d"), "user_id")
        .distinct()
    )
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    fan = ud.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "d", "user_id"
    ).select(F.date_add("d", F.col("i")).alias("wd"), "user_id")
    wau = (
        fan.join(days.withColumnRenamed("d", "wd"), "wd")
        .groupBy("wd")
        .agg(F.count_distinct("user_id").alias("wau"))
        .withColumnRenamed("wd", "d")
    )
    return (
        days.join(dau, "d")
        .join(wau, "d")
        .select(
            F.col("d").cast("timestamp").alias("day"),
            "dau",
            "wau",
            (
                F.floor(F.col("dau") * 1.0 / F.col("wau") * 10000 + 0.5) / 10000
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


# -- sequence pattern matching (MATCH_RECOGNIZE-lite) -------------------------
# Count per user of the funnel pattern view -> clicks* -> purchase over
# the user's chronological event-type journey: each journey is encoded as
# a character string (the five event types have distinct initials) and
# the pattern runs as a leftmost non-overlapping regex — the cheap
# large-scale stand-in for SQL:2016 MATCH_RECOGNIZE. Ordering ties break
# on event_id (monotone per the validation suite) so both engines build
# the identical string: Spark via array_sort(collect_list(struct)) —
# per-user arrays bounded by user activity, the standard sessionize
# shape — DuckDB via string_agg(.. ORDER BY). The regex uses only
# literals and '*', where Java regex and RE2 semantics coincide.
@register(
    "sess_pattern_funnel",
    oracle=f"""
WITH j AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS journey
  FROM {EVENTS_SRC} AS ev
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1
)
SELECT user_id,
       length(journey) AS journey_len,
       CAST(length(regexp_extract_all(journey, 'vc*p')) AS BIGINT)
         AS n_funnel_matches
FROM j
WHERE length(regexp_extract_all(journey, 'vc*p')) > 0
ORDER BY 1
""",
)
def q_sess_pattern_funnel(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("ch")
            ).alias("st"),
        )
    )
    journey = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("st")), lambda s: s["ch"]), ""
        ).alias("journey")
    )
    n = F.regexp_count("journey", F.lit("vc*p"))
    return (
        journey.select(
            "user_id",
            F.length("journey").alias("journey_len"),
            n.cast("long").alias("n_funnel_matches"),
        )
        .filter(F.col("n_funnel_matches") > 0)
        .orderBy("user_id")
    )


# -- streaming hopping-window top-k -------------------------------------------
# Sliding (hopping) windows — 2h length, 1h hop, so every event lands in
# TWO windows — counted by REAL Structured Streaming (file source,
# availableNow, complete-mode memory sink), then ranked top-3 per window
# in the batch read-back: the standard recipe, since window-function
# ranking is unsupported on streaming DataFrames. Complements
# stream_windowed_stats (tumbling). Spark's window() is epoch-aligned,
# which the oracle reproduces as date_trunc('hour', ts) - k*1h for
# k in {0,1}; ties rank deterministically by event_type.
@register(
    "stream_hopping_topk",
    oracle=f"""
WITH w AS (
  SELECT date_trunc('hour', ts) - (k * INTERVAL 1 HOUR) AS window_start,
         event_type
  FROM {EVENTS_SRC} AS ev CROSS JOIN (SELECT unnest([0, 1]) AS k) t
  WHERE ts IS NOT NULL
),
c AS (SELECT window_start, event_type, count(*) AS n FROM w GROUP BY 1, 2),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY window_start ORDER BY n DESC, event_type) AS rk
  FROM c
)
SELECT window_start, event_type, n, CAST(rk AS INT) AS rk
FROM r WHERE rk <= 3 ORDER BY window_start, rk
""",
)
def q_stream_hopping_topk(spark: SparkSession, sf_dir: str):
    ev = table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        ev.select("event_type", "ts").write.parquet(src)
        stream = spark.readStream.schema("event_type string, ts timestamp").parquet(
            src
        )
        counts = stream.groupBy(
            F.window("ts", "2 hours", "1 hour"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))
        q = (
            counts.writeStream.format("memory")
            .queryName("stream_hopping_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("hopping-window stream did not finish in 300s")
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), "event_type")
    return (
        spark.table("stream_hopping_out")
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("window_start", "rk")
    )


# -- first-touch / last-touch attribution -------------------------------------
# The two classical single-touch attribution models in one result,
# completing the attribution family (sess_shapley_attribution exact
# Shapley, sess_markov_transitions removal-effect input): segment each
# user's stream at purchases (exclusive running purchase count), and for
# every segment that ends in a purchase credit the FIRST and LAST
# non-purchase event type in it. Spark derives first/last via min/max
# over (ts, event_id, type) structs in ONE hash agg per segment
# (null-skipping min — no window over raw events needed beyond the
# running count); the oracle independently uses two row_number windows
# and picks rn=1 per direction. Segments are per user and bounded by
# user activity.
@register(
    "sess_touch_attribution",
    oracle=f"""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp
  FROM {EVENTS_SRC} AS events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
seg AS (
  SELECT *, coalesce(sum(isp) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM ev
),
nonp AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, s
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, s
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM seg WHERE isp = 0
),
purch AS (SELECT DISTINCT user_id, s FROM seg WHERE isp = 1),
ft AS (
  SELECT n.event_type, count(*) AS c FROM nonp n
  JOIN purch p USING (user_id, s) WHERE n.rn_a = 1 GROUP BY 1
),
lt AS (
  SELECT n.event_type, count(*) AS c FROM nonp n
  JOIN purch p USING (user_id, s) WHERE n.rn_d = 1 GROUP BY 1
)
SELECT coalesce(ft.event_type, lt.event_type) AS event_type,
       coalesce(ft.c, 0) AS first_touch,
       coalesce(lt.c, 0) AS last_touch
FROM ft FULL JOIN lt ON lt.event_type = ft.event_type
ORDER BY 1
""",
)
def q_sess_touch_attribution(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            (F.col("event_type") == "purchase").cast("int").alias("isp"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = ev.withColumn("s", F.coalesce(F.sum("isp").over(w), F.lit(0)))
    nonp_struct = F.when(
        F.col("isp") == 0, F.struct("ts", "event_id", "event_type")
    )
    per_seg = seg.groupBy("user_id", "s").agg(
        F.max("isp").alias("has_p"),
        F.min(nonp_struct).alias("ft"),
        F.max(nonp_struct).alias("lt"),
    )
    credited = per_seg.filter(
        (F.col("has_p") == 1) & F.col("ft").isNotNull()
    )
    ft = credited.groupBy(F.col("ft.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("first_touch")
    )
    lt = credited.groupBy(F.col("lt.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("last_touch")
    )
    return (
        ft.join(lt, "event_type", "full")
        .select(
            "event_type",
            F.coalesce("first_touch", F.lit(0)).alias("first_touch"),
            F.coalesce("last_touch", F.lit(0)).alias("last_touch"),
        )
        .orderBy("event_type")
    )


# -- Markov entropy rate of the event stream ----------------------------------
# The information-theoretic summary on top of sess_markov_transitions:
# H = -sum_u p(u) sum_v p(v|u) log2 p(v|u), with p(u) the empirical
# source distribution of transition origins — how predictable the next
# event type is given the current one (complements ts_permutation_entropy,
# which looks at VALUE ordinal patterns). Exact integer transition
# counts; the log2/ratio arithmetic runs on identical doubles and the
# per-term quantization before the final sum keeps accumulation
# order-free.
@register(
    "sess_entropy_rate",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM {EVENTS_SRC} AS ev
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
trans AS (
  SELECT event_type AS u, nxt AS v, count(*) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
),
outdeg AS (SELECT u, sum(c) AS tot FROM trans GROUP BY 1),
n AS (SELECT sum(c) AS total FROM trans),
terms AS (
  SELECT t.u,
         CAST(floor(-(t.c * 1.0 / o.tot) * log2(t.c * 1.0 / o.tot)
                    * (o.tot * 1.0 / n.total) * 1000000000 + 0.5)
              AS DECIMAL(28,0)) AS term_fp
  FROM trans t JOIN outdeg o ON o.u = t.u CROSS JOIN n
)
SELECT CAST((SELECT sum(c) FROM trans) AS BIGINT) AS n_transitions,
       floor(CAST(sum(term_fp) AS DOUBLE) / 1000000000 * 10000 + 0.5)
         / 10000 AS entropy_rate_bits
FROM terms
""",
)
def q_sess_entropy_rate(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("nxt", F.lead("event_type").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    trans = seq.groupBy(
        F.col("event_type").alias("u"), F.col("nxt").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    outdeg = trans.groupBy("u").agg(F.sum("c").alias("tot"))
    n = trans.agg(F.sum("c").alias("total"))
    p_vu = F.col("c") * 1.0 / F.col("tot")
    term = (
        F.floor(
            -p_vu * F.log2(p_vu) * (F.col("tot") * 1.0 / F.col("total")) * 1e9
            + 0.5
        )
    ).cast("decimal(28,0)")
    terms = trans.join(outdeg, "u").crossJoin(F.broadcast(n)).select(
        term.alias("term_fp"), "c"
    )
    return terms.agg(
        F.sum("c").cast("long").alias("n_transitions"),
        (
            F.floor(F.sum("term_fp").cast("double") / 1e9 * 10000 + 0.5) / 10000
        ).alias("entropy_rate_bits"),
    )


# -- time-constrained funnel (windowFunnel semantics, round 6) ----------------
# ClickHouse's windowFunnel: a user reaches level k if an ORDERED chain
# view -> click -> purchase exists with every step inside ONE window W of
# the chain's FIRST event. Distinct from sess_pattern_funnel (regex over
# the whole unconstrained journey): the deadline anchors at the chain
# head, which is what "converted within 2 hours of first touch" means.
# With the deadline fixed at v.ts + W, the greedy EARLIEST next step is
# optimal (it maximizes remaining room), so two forward-min lookups
# decide the chain exactly:
#   next_c(v)  = min click ts  > v.ts   (running forward min per user)
#   next_p(c*) = min purchase ts > c*.ts (join back at the chosen click)
# Scale: two user-partitioned window passes + one join of view-rows to
# click-rows on (user, chosen ts) -- event-sized frames, parallel in
# users; no per-user arrays collected.
_FUNNEL_W_US = 2 * 3600 * 1_000_000  # 2 h window


@register(
    "sess_window_funnel",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS t
  FROM {EVENTS_SRC} WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IN ('view', 'click', 'purchase')
),
v AS (
  SELECT user_id, t AS vt,
         (SELECT min(c.t) FROM ev c
          WHERE c.user_id = ev.user_id AND c.event_type = 'click'
            AND c.t > ev.t) AS ct
  FROM ev WHERE event_type = 'view'
),
chain AS (
  SELECT v.user_id, v.vt, v.ct,
         (SELECT min(p.t) FROM ev p
          WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
            AND p.t > v.ct) AS pt
  FROM v
),
level_per_user AS (
  SELECT user_id,
         max(CASE
               WHEN ct IS NOT NULL AND ct <= vt + {_FUNNEL_W_US}
                AND pt IS NOT NULL AND pt <= vt + {_FUNNEL_W_US} THEN 3
               WHEN ct IS NOT NULL AND ct <= vt + {_FUNNEL_W_US} THEN 2
               ELSE 1
             END) AS lvl
  FROM chain GROUP BY 1
)
SELECT lvl AS funnel_level, count(*) AS n_users
FROM level_per_user GROUP BY 1 ORDER BY 1
""",
)
def q_sess_window_funnel(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = (
        table(spark, "events", sf_dir)
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isin("view", "click", "purchase")
        )
        .select("user_id", "event_type", F.unix_micros("ts").alias("t"))
    )
    # RANGE frame over integer-micros t: strictly t+1 onward, matching the
    # oracle's `c.t > ev.t`. A ROWS frame would count a same-timestamp
    # click/purchase (and tie order is nondeterministic in Spark), so the
    # range frame is both the correct strict-> semantics and order-stable.
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    # forward minima per event row (running, event-ordered)
    enriched = ev.withColumn(
        "next_c", F.min(F.when(F.col("event_type") == "click", F.col("t"))).over(fwd)
    ).withColumn(
        "next_p_after_here",
        F.min(F.when(F.col("event_type") == "purchase", F.col("t"))).over(fwd),
    )
    views = enriched.filter(F.col("event_type") == "view").select(
        "user_id", F.col("t").alias("vt"), F.col("next_c").alias("ct")
    )
    clicks = enriched.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("t").alias("c_t"),
        F.col("next_p_after_here").alias("pt"),
    )
    chain = views.join(
        clicks,
        (F.col("user_id") == F.col("cu")) & (F.col("ct") == F.col("c_t")),
        "left",
    )
    w = _FUNNEL_W_US
    lvl = (
        F.when(
            F.col("ct").isNotNull()
            & (F.col("ct") <= F.col("vt") + w)
            & F.col("pt").isNotNull()
            & (F.col("pt") <= F.col("vt") + w),
            3,
        )
        .when(F.col("ct").isNotNull() & (F.col("ct") <= F.col("vt") + w), 2)
        .otherwise(1)
    )
    return (
        chain.select("user_id", lvl.alias("lvl"))
        .groupBy("user_id")
        .agg(F.max("lvl").alias("funnel_level"))
        .groupBy("funnel_level")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("funnel_level")
    )


# -- inter-arrival burstiness (round 6) ---------------------------------------
# Goh-Barabasi burstiness B = (sigma - mu) / (sigma + mu) of per-user
# inter-event gaps, aggregated per event type: B -> -1 periodic,
# 0 Poisson, -> +1 bursty -- the one-number answer to "are these event
# streams clustered or regular", which drives session-timeout and
# capacity choices. Gaps are exact integer microseconds from one
# user-partitioned lag pass; moments go through DECIMAL sums (order-free)
# and sigma uses the explicit population formula from those sums, so
# both engines produce identical doubles.
@register(
    "sess_interarrival_burstiness",
    oracle=f"""
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS g,
         user_id
  FROM {EVENTS_SRC} WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
m AS (
  SELECT event_type,
         count(g) AS n,
         CAST(sum(CAST(g AS DECIMAL(28,0))) AS DOUBLE) / count(g) AS mu,
         CAST(sum(CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0)))
              AS DOUBLE) / count(g) AS m2
  FROM gaps WHERE g IS NOT NULL GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_gaps,
       floor(mu / 1000000.0 * 10000 + 0.5) / 10000 AS mean_gap_s,
       floor(sqrt(greatest(m2 - mu * mu, 0)) / 1000000.0 * 10000 + 0.5)
         / 10000 AS std_gap_s,
       floor((sqrt(greatest(m2 - mu * mu, 0)) - mu)
             / (sqrt(greatest(m2 - mu * mu, 0)) + mu) * 10000 + 0.5) / 10000
         AS burstiness
FROM m ORDER BY 1
""",
)
def q_sess_interarrival_burstiness(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    gaps = ev.select("event_type", g.alias("g")).filter(F.col("g").isNotNull())
    m = gaps.groupBy("event_type").agg(
        F.count("g").alias("n"),
        (F.sum(F.col("g").cast("decimal(28,0)")).cast("double") / F.count("g")).alias(
            "mu"
        ),
        (
            F.sum(
                F.col("g").cast("decimal(38,0)") * F.col("g").cast("decimal(38,0)")
            ).cast("double")
            / F.count("g")
        ).alias("m2"),
    )
    sd = F.sqrt(F.greatest(F.col("m2") - F.col("mu") * F.col("mu"), F.lit(0.0)))
    r4 = lambda c: F.floor(c * 10000 + 0.5) / 10000  # noqa: E731
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        r4(F.col("mu") / 1_000_000.0).alias("mean_gap_s"),
        r4(sd / 1_000_000.0).alias("std_gap_s"),
        r4((sd - F.col("mu")) / (sd + F.col("mu"))).alias("burstiness"),
    ).orderBy("event_type")


# -- SCD type-2 interval build (lakehouse dimension history) -------------------
# The standard lakehouse dimension op the merge/tombstone family was
# missing: collapse a change stream into type-2 validity intervals --
# one row per consecutive run of an attribute value, with
# [valid_from, valid_to) spans, a per-key version number, and an
# is_current flag. Gaps-and-islands: a user-partitioned lag marks value
# changes, a running sum numbers the islands, one hash-agg collapses
# each island to its span, and a lead() over the tiny per-version frame
# closes the intervals. Scale: ONE shuffle on the entity key; the
# windows never span users; version frames are change-count-sized.
# user_id < 100 keeps the driver-compare payload bounded (the
# doc_id < 500 convention).
# shared with rel_scd2_merge (round8b): the scratch full-history rebuild
# is the incremental merge's oracle, so both register the same SQL --
# and both engines' island semantics live in ONE pair of helpers
# (_scd2_change_flag / _scd2_islands) so the merge's hash-proven
# equivalence can't silently drift from the scratch build's definition.


def _scd2_change_flag(w: Window) -> "F.Column":
    """1 on the first row of each per-key run of equal event_type values
    (lag NULL or lag != current) under window spec ``w``."""
    return F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)


def _scd2_islands(e):
    """Collapse an event frame (user_id, event_type, ts, event_id) into
    SCD2 islands: (user_id, version, attr_value, valid_from, n_events)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn(
            "version",
            F.sum(_scd2_change_flag(w))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("int"),
        )
        .groupBy("user_id", "version")
        .agg(
            F.min("event_type").alias("attr_value"),
            F.min("ts").alias("valid_from"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_SCD2_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, ts::TIMESTAMP AS ts, event_id
  FROM {EVENTS_SRC}
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND user_id < 100
),
marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w != event_type
              THEN 1 ELSE 0 END AS chg
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
versioned AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS version
  FROM marked
),
islands AS (
  SELECT user_id, CAST(version AS INTEGER) AS version,
         min(event_type) AS attr_value,
         min(ts) AS valid_from, count(*) AS n_events
  FROM versioned GROUP BY user_id, version
)
SELECT user_id, version, attr_value, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to,
       CAST(n_events AS BIGINT) AS n_events,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         IS NULL AS is_current
FROM islands ORDER BY user_id, version
"""


@register("rel_scd2_intervals", oracle=_SCD2_ORACLE)
def q_rel_scd2_intervals(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & (F.col("user_id") < 100)
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    islands = _scd2_islands(ev)
    wv = Window.partitionBy("user_id").orderBy("version")
    return islands.select(
        "user_id",
        "version",
        "attr_value",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
    ).orderBy("user_id", "version")


# -- incremental SCD type-2 maintenance (the lakehouse MERGE) ------------------
# rel_scd2_intervals builds type-2 history from scratch; at 100 TB the
# dimension is MAINTAINED: yesterday's interval table (change-count-sized
# state, never the event log) + today's event batch -> updated intervals.
# Merge algebra:
#   1. affected keys = keys present in the batch; everyone else's state
#      rows pass through untouched (never read the old event log);
#   2. per affected key, the state's CURRENT row becomes one pseudo-event
#      (its attr at its valid_from, carrying its n_events and version) in
#      front of the batch's events -- so a batch that RENEWS the current
#      value extends the current island (version and valid_from keep,
#      counts add), and a change opens version cur+1: exactly what the
#      scratch gaps-and-islands computes across the boundary;
#   3. closed state rows and merged tails re-key through one lead() over
#      the per-key version frame (interval-count-sized) for valid_to /
#      is_current.
# The oracle is the SAME full-history scratch rebuild rel_scd2_intervals
# registers -- a hash match proves merge == rebuild (the inc_* contract).
# Cost: windows only over (1 + batch-events) rows per affected key; state
# passes through with no window until the tiny per-version lead.


@register("rel_scd2_merge", oracle=_SCD2_ORACLE)
def q_rel_scd2_merge(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & (F.col("user_id") < 100)
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    cut = F.lit(_QCUT).cast("timestamp")
    old, batch = ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)

    # yesterday's persisted state (intervals, not events) -- built by the
    # SAME island helper the scratch query uses, so merge and rebuild
    # can't drift semantically
    state = _scd2_islands(old)

    affected = batch.select("user_id").distinct()
    st_aff = state.join(affected, "user_id")
    w_desc = Window.partitionBy("user_id").orderBy(F.desc("version"))
    cur = (
        st_aff.withColumn("_rn", F.row_number().over(w_desc))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    closed = (
        st_aff.join(
            cur.select("user_id", F.col("version").alias("_cv")), "user_id"
        )
        .filter(F.col("version") < F.col("_cv"))
        .drop("_cv")
    )
    untouched = state.join(affected, "user_id", "left_anti")

    # the current row as a pseudo-event in front of the batch
    pseudo = cur.select(
        "user_id",
        F.col("attr_value").alias("event_type"),
        F.col("valid_from").alias("ts"),
        F.lit(-1).cast("long").alias("event_id"),
        F.col("n_events").alias("_base"),
        F.col("version").alias("_bv"),
    )
    b2 = batch.select(
        "user_id",
        "event_type",
        "ts",
        F.col("event_id").cast("long").alias("event_id"),
        F.lit(0).cast("long").alias("_base"),
        F.lit(None).cast("int").alias("_bv"),
    )
    comb = pseudo.unionByName(b2)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tagged = comb.withColumn(
        "_local",
        F.sum(_scd2_change_flag(w))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    ).withColumn("_kv", F.max("_bv").over(Window.partitionBy("user_id")))
    # island 1 (the one holding the pseudo-event) keeps the current
    # version; later islands number on from it; brand-new keys start at 1
    tail = tagged.groupBy(
        "user_id",
        (F.coalesce(F.col("_kv"), F.lit(1)) + F.col("_local") - 1)
        .cast("int")
        .alias("version"),
    ).agg(
        F.min("event_type").alias("attr_value"),
        F.min("ts").alias("valid_from"),
        F.sum(
            F.when(F.col("_bv").isNotNull(), F.col("_base")).otherwise(F.lit(1))
        ).alias("n_events"),
    )

    final = closed.unionByName(untouched).unionByName(tail)
    wv = Window.partitionBy("user_id").orderBy("version")
    return final.select(
        "user_id",
        "version",
        "attr_value",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
    ).orderBy("user_id", "version")
