"""Incremental-maintenance lanes: persisted state + a batch delta fold to
the scratch answer, hash-proven.

The contract every lane here shares (built up over rounds 7-10): the
Spark side computes the INCREMENTAL answer -- yesterday's state plus
today's batch, merged through batch-anchored joins that never touch the
full corpus -- while the DuckDB oracle recomputes from scratch over the
union of both periods. A hash match proves incremental == full
recompute, which is the whole contract of incremental maintenance at
100 TB (a per-batch full recompute is impossible there).

Lanes: inc_minhash_new_batch (batch probes the banded-LSH corpus index),
inc_sessionize_rollforward (open-session state), inc_cc_new_edges
(contracted label-graph CC merge), inc_quantile_merge (mergeable grid
histogram), inc_topk_merge (mergeable per-group top-k),
inc_kmv_distinct_merge (bottom-k sketch union), inc_ridge_moments_merge
(exact decimal moment-grid model refresh), inc_triangle_estimate_merge
(first-new-role triangle delta over sampled edges).

The streaming twins that fold the same mergeable shapes through real
Structured Streaming live in streammerge.py; the corpus-pipeline
capstone (corpus_prep_inc_batch) in corpus.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.operators import dedup as DD
from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import reuse
from electricity_forecast_pipeline_airflow_k8s_spark.queries import register, table
from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.graph import (
    _SSSP_HOUR_CAP,
    _cap_hours,
)
from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.textops import (
    MINHASH_BANDS,
    MINHASH_K,
    _SHINGLES,
    _TOKS,
    _clusters_oracle,
)
from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.validation import (
    EVENTS_SRC,
)

# -- incremental MinHash-LSH dedup: new batch probes the corpus index --------
# Production near-dup dedup at 100 TB is INCREMENTAL: the corpus's banded
# signature postings are a materialized index, and each ingest batch
# probes it -- cost O(batch x posting-list), never O(corpus^2) and never
# a full-corpus rescan. Here "today's batch" = doc_id % 10 == 9; the
# candidate join is (all-docs bands) x (batch bands) -- the batch side is
# the stream, the full side stands in for the persisted index -- then the
# usual exact-Jaccard verify on candidates only. Pairs between two OLD
# docs can never appear (they were deduped when THEY were the batch).
# The oracle recomputes the full LSH pipeline and restricts pairs to
# batch-touching ones: a hash match proves the batch-probe plan finds
# exactly what a full-corpus run would.
_BATCH_MOD, _BATCH_REM = 10, 9


def _inc_minhash_oracle(threshold: float = 0.5) -> str:
    rows = MINHASH_K // MINHASH_BANDS
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}|' || s)), 'min') AS sig_{i}"
        for i in range(MINHASH_K)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({parts}) AS h FROM sigs".format(
            b=b,
            parts=" || ".join(f"sig_{b * rows + r}" for r in range(rows)),
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS t FROM documents),
shingled AS (SELECT doc_id, {_SHINGLES} AS sh FROM docs WHERE len(t) >= 3),
sigs AS (SELECT doc_id, sh, {sig_cols} FROM shingled),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
  WHERE a.doc_id % {_BATCH_MOD} = {_BATCH_REM}
     OR b.doc_id % {_BATCH_MOD} = {_BATCH_REM}
)
SELECT c.doc_a, c.doc_b,
       floor((len(list_intersect(sa.sh, sb.sh)) * 1.0
              / len(list_distinct(list_concat(sa.sh, sb.sh)))) * 10000 + 0.5)
         / 10000 AS jaccard,
       CASE WHEN c.doc_a % {_BATCH_MOD} = {_BATCH_REM}
             AND c.doc_b % {_BATCH_MOD} = {_BATCH_REM}
            THEN 'new-new' ELSE 'new-old' END AS pair_kind
FROM cand c
JOIN shingled sa ON sa.doc_id = c.doc_a
JOIN shingled sb ON sb.doc_id = c.doc_b
WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= {threshold}
ORDER BY doc_a, doc_b
"""


@register("inc_minhash_new_batch", oracle=_inc_minhash_oracle(0.5))
def q_inc_minhash_new_batch(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    par = spark.sparkContext.defaultParallelism
    sh = reuse(
        docs.repartition(par, "doc_id").select(
            "doc_id", DD.shingles("text").alias("sh")
        )
    )
    sigs = (
        sh.select("doc_id", F.explode("sh").alias("s"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"sig_{i}")
                for i in range(MINHASH_K)
            ]
        )
    )
    rows = MINHASH_K // MINHASH_BANDS
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat(*[F.col(f"sig_{b * rows + r}") for r in range(rows)])
            ).alias("h"),
        ).alias(f"b{b}")
        for b in range(MINHASH_BANDS)
    ]
    exploded = reuse(
        sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bh"))
        .select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
    )
    # the index side is the FULL banded table (at scale: the persisted
    # postings index); the probe side is only the new batch
    batch = exploded.filter(F.col("doc_id") % _BATCH_MOD == _BATCH_REM)
    cand = (
        exploded.alias("a")
        .join(
            batch.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    verified = (
        cand.join(sh.withColumnsRenamed({"doc_id": "doc_a", "sh": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "sh": "sh_b"}), "doc_b")
        .withColumn(
            "jaccard_raw",
            F.try_divide(
                F.size(F.array_intersect("sh_a", "sh_b")),
                F.size(F.array_union("sh_a", "sh_b")),
            ),
        )
        # raw-ratio threshold, rounded output -- mirrors the oracle, which
        # filters the raw ratio; rounding before filtering would admit
        # jaccards in [0.49995, 0.5) the oracle rejects
        .filter(F.col("jaccard_raw") >= 0.5)
        .withColumn(
            "jaccard", F.floor(F.col("jaccard_raw") * 10000 + 0.5) / 10000
        )
    )
    kind = F.when(
        (F.col("doc_a") % _BATCH_MOD == _BATCH_REM)
        & (F.col("doc_b") % _BATCH_MOD == _BATCH_REM),
        F.lit("new-new"),
    ).otherwise(F.lit("new-old"))
    out = verified.select(
        "doc_a", "doc_b", "jaccard", kind.alias("pair_kind")
    ).orderBy("doc_a", "doc_b")
    return out


# -- incremental sessionization roll-forward ----------------------------------
# The classic incremental-ETL correctness trap: sessions SPAN batch
# boundaries. Yesterday's state (per-user last-session end) + today's
# batch must produce exactly the sessions a full recompute would -- the
# boundary sessions merge when the cross-batch gap is within the timeout.
# Spark computes the two halves independently, merges at the boundary
# with one user-keyed join of two n_users-sized frames, and DERIVES the
# full-corpus session count as n_old + n_new - n_merged; the oracle
# sessionizes the whole table from scratch. Equality of the derived
# counts against scratch recompute is the incremental-maintenance proof.
# Scale: each half is one user-partitioned lag pass (batch-sized, not
# corpus-sized, on the new side); the merge state is 2 rows/user.
# 8 h: the synthetic per-user event cadence is sparse (median gaps in
# hours), so shorter timeouts never produce a cross-batch merge and the
# query's load-bearing column would be constant-zero; at 8 h the sf0.01
# driver gate sees 27 real boundary merges (252 at sf0.1).
_SESS_TIMEOUT_US = 8 * 3600 * 1_000_000
_SESS_CUT = "2024-01-20 00:00:00"


@register(
    "inc_sessionize_rollforward",
    oracle=f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS t, event_id
  FROM {EVENTS_SRC} WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
marks AS (
  SELECT user_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   IS NULL
               OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   > {_SESS_TIMEOUT_US}
              THEN 1 ELSE 0 END AS ns
  FROM ev
),
halves AS (
  SELECT user_id, t < epoch_us(TIMESTAMP '{_SESS_CUT}') AS is_old,
         CASE WHEN t - lag(t) OVER (
                PARTITION BY user_id, t < epoch_us(TIMESTAMP '{_SESS_CUT}')
                ORDER BY t, event_id) IS NULL
               OR t - lag(t) OVER (
                PARTITION BY user_id, t < epoch_us(TIMESTAMP '{_SESS_CUT}')
                ORDER BY t, event_id) > {_SESS_TIMEOUT_US}
              THEN 1 ELSE 0 END AS ns
  FROM ev
)
SELECT CAST((SELECT count(DISTINCT user_id) FROM ev) AS BIGINT) AS n_users,
       CAST((SELECT sum(ns) FROM halves WHERE is_old) AS BIGINT)
         AS n_sessions_old,
       CAST((SELECT sum(ns) FROM halves WHERE NOT is_old) AS BIGINT)
         AS n_sessions_new,
       CAST((SELECT sum(ns) FROM halves) - (SELECT sum(ns) FROM marks)
            AS BIGINT) AS n_boundary_merges,
       CAST((SELECT sum(ns) FROM marks) AS BIGINT) AS n_sessions,
       floor((SELECT count(*) FROM ev) * 1.0
             / (SELECT sum(ns) FROM marks) * 10000 + 0.5) / 10000
         AS avg_session_events
""",
)
def q_inc_sessionize_rollforward(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("t"), "event_id")
    )
    cut = F.unix_micros(F.lit(_SESS_CUT).cast("timestamp"))
    old = ev.filter(F.col("t") < cut)
    new = ev.filter(F.col("t") >= cut)

    def _sessions(half):
        w = Window.partitionBy("user_id").orderBy("t", "event_id")
        gap = F.col("t") - F.lag("t").over(w)
        marked = half.withColumn(
            "ns",
            F.when(gap.isNull() | (gap > _SESS_TIMEOUT_US), 1).otherwise(0),
        )
        return marked.groupBy("user_id").agg(
            F.sum("ns").alias("n_sessions"),
            F.min("t").alias("first_t"),
            F.max("t").alias("last_t"),
            F.count(F.lit(1)).alias("n_events"),
        )

    so = _sessions(old)
    sn = _sessions(new)
    # boundary merge: the user's last old event and first new event are
    # within the timeout -> the two boundary sessions are ONE session in
    # the full recompute (the gap that "started" the first new session
    # disappears). One inner join of two n_users-sized state frames.
    merged = (
        so.select("user_id", F.col("last_t").alias("old_last"))
        .join(sn.select("user_id", F.col("first_t").alias("new_first")), "user_id")
        .filter(F.col("new_first") - F.col("old_last") <= _SESS_TIMEOUT_US)
        .agg(F.count(F.lit(1)).alias("n_merged"))
    )
    totals_old = so.agg(
        F.sum("n_sessions").alias("n_sessions_old"),
        F.sum("n_events").alias("ev_old"),
    )
    totals_new = sn.agg(
        F.sum("n_sessions").alias("n_sessions_new"),
        F.sum("n_events").alias("ev_new"),
    )
    n_users = ev.agg(F.count_distinct("user_id").alias("n_users"))
    full = F.col("n_sessions_old") + F.col("n_sessions_new") - F.col("n_merged")
    return (
        n_users.crossJoin(F.broadcast(totals_old))
        .crossJoin(F.broadcast(totals_new))
        .crossJoin(F.broadcast(merged))
        .select(
            F.col("n_users").cast("bigint").alias("n_users"),
            F.col("n_sessions_old").cast("bigint").alias("n_sessions_old"),
            F.col("n_sessions_new").cast("bigint").alias("n_sessions_new"),
            F.col("n_merged").cast("bigint").alias("n_boundary_merges"),
            full.cast("bigint").alias("n_sessions"),
            (
                F.floor(
                    (F.col("ev_old") + F.col("ev_new")) * 1.0 / full * 10000 + 0.5
                )
                / 10000
            ).alias("avg_session_events"),
        )
    )


# -- incremental connected components over near-dup edges ---------------------
# "Yesterday" = near-dup pairs between two OLD docs (doc_id % 10 != 9 on
# both sides) -- at scale, the persisted (node, component) state table;
# here derived from the old half exactly as inc_sessionize derives its
# old-session state. "Today" = the batch-touching pairs (the shape
# inc_minhash_new_batch emits). Merge algebra:
#   1. map each new edge endpoint to its OLD component label (its own id
#      if previously unlabeled) -- two label-sized broadcast-ish joins;
#   2. contract: the new edges projected onto labels form a graph whose
#      node count is bounded by (affected old components + batch docs),
#      NEVER the corpus;
#   3. run min-label CC on the contracted graph only;
#   4. resolve: old labels (and new nodes' self-labels) map through the
#      contracted result; untouched components pass through unchanged.
# Because every old label is the MIN node id of its component, the min
# over merged labels is the min over the merged component's nodes -- so
# the resolved labeling is exactly what scratch CC over the full edge
# set produces, which is what the oracle computes (the same recursive
# reach CC as dedup_clusters). Output: (node, component) for every node
# incident to any near-dup edge, identical to dedup_clusters' shape.
@register("inc_cc_new_edges", oracle=_clusters_oracle(0.5))
def q_inc_cc_new_edges(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    # three consumers (old-half CC, the contracted merge, and the new-node
    # scan) would otherwise each recompute the minhash subtree
    pairs = reuse(
        DD.minhash_lsh_dedup_pairs(
            docs, k=MINHASH_K, bands=MINHASH_BANDS, threshold=0.5
        ).select("doc_a", "doc_b")
    )
    in_batch = lambda c: F.col(c) % _BATCH_MOD == _BATCH_REM  # noqa: E731
    old_pairs = pairs.filter(~in_batch("doc_a") & ~in_batch("doc_b"))
    new_pairs = pairs.filter(in_batch("doc_a") | in_batch("doc_b"))

    # yesterday's state (persisted table at scale)
    old_labels = DD.connected_components(old_pairs)

    # endpoints -> old labels (own id when previously unlabeled)
    la = old_labels.select(
        F.col("node").alias("doc_a"), F.col("component").alias("_la")
    )
    lb = old_labels.select(
        F.col("node").alias("doc_b"), F.col("component").alias("_lb")
    )
    mapped = (
        new_pairs.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce(F.col("_la"), F.col("doc_a")).alias("la"),
            F.coalesce(F.col("_lb"), F.col("doc_b")).alias("lb"),
        )
    )
    # contracted label graph: self-loops (edge inside one old component)
    # are no-ops and drop out
    contracted = mapped.filter(F.col("la") != F.col("lb")).distinct()
    resolve = DD.connected_components(
        contracted, a_col="la", b_col="lb"
    ).select(F.col("node").alias("_label"), F.col("component").alias("_merged"))

    # resolve old labels through the contracted merge (untouched
    # components miss the join and pass through)
    final_old = old_labels.join(
        resolve, old_labels.component == F.col("_label"), "left"
    ).select(
        "node", F.coalesce(F.col("_merged"), F.col("component")).alias("component")
    )
    # new-edge endpoints with no old label: self-label resolved the same way
    new_nodes = (
        new_pairs.select(F.col("doc_a").alias("node"))
        .union(new_pairs.select(F.col("doc_b").alias("node")))
        .distinct()
        .join(old_labels.select("node"), "node", "left_anti")
    )
    final_new = new_nodes.join(
        resolve, new_nodes.node == F.col("_label"), "left"
    ).select("node", F.coalesce(F.col("_merged"), F.col("node")).alias("component"))

    out = final_old.unionByName(final_new).orderBy("node")
    return out


# -- incremental grid-histogram quantile maintenance --------------------------
# Quantiles are not mergeable as scalars, but a (group, grid-bin) count
# HISTOGRAM is: yesterday's per-bin counts + the batch's per-bin counts
# sum cell-wise, and the discrete quantile reads off the merged
# cumulative -- the same exact-on-grid machinery as
# quality_profile_scale(quantile_mode="grid"), now maintained
# incrementally. The merge is STATE-sized (distinct bins per group,
# bounded by value-range x 100 regardless of row count); the cumulative
# window runs over the tiny merged bins frame, never the fact. The
# oracle recomputes the same grid quantiles from scratch over the full
# table -- a hash match proves histogram-merge == full recompute.
_QCUT = "2024-01-20 00:00:00"


@register(
    "inc_quantile_merge",
    oracle=f"""
WITH ev AS (
  SELECT event_type, ts::TIMESTAMP AS t, CAST(value AS DOUBLE) AS v
  FROM {EVENTS_SRC} WHERE value IS NOT NULL AND ts IS NOT NULL
),
bins AS (
  SELECT event_type, floor(v * 100 + 0.5) / 100 AS bin,
         count(*) AS c,
         sum(CASE WHEN t < TIMESTAMP '{_QCUT}' THEN 1 ELSE 0 END) AS c_old
  FROM ev GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, c, c_old,
         sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cm,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM bins
)
SELECT event_type,
       CAST(sum(c_old) AS BIGINT) AS n_old,
       CAST(max(n) - sum(c_old) AS BIGINT) AS n_new,
       CAST(max(n) AS BIGINT) AS n_rows,
       min(CASE WHEN cm >= ceil(n * 0.25) THEN bin END) AS q25,
       min(CASE WHEN cm >= ceil(n * 0.5) THEN bin END) AS median,
       min(CASE WHEN cm >= ceil(n * 0.9) THEN bin END) AS q90,
       min(CASE WHEN cm >= ceil(n * 0.99) THEN bin END) AS q99
FROM cum GROUP BY 1 ORDER BY 1
""",
)
def q_inc_quantile_merge(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type",
            F.col("ts"),
            (F.floor(F.col("value").cast("double") * 100 + 0.5) / 100).alias(
                "bin"
            ),
        )
    )
    cut = F.lit(_QCUT).cast("timestamp")

    def _hist(half):
        return half.groupBy("event_type", "bin").agg(
            F.count(F.lit(1)).alias("c")
        )

    # yesterday's state + today's batch partial, merged cell-wise --
    # a union + re-aggregate of two STATE-sized frames, never the fact
    old_h = _hist(ev.filter(F.col("ts") < cut))
    new_h = _hist(ev.filter(F.col("ts") >= cut))
    merged = (
        old_h.withColumn("is_old", F.lit(1))
        .unionByName(new_h.withColumn("is_old", F.lit(0)))
        .groupBy("event_type", "bin")
        .agg(
            F.sum("c").alias("c"),
            F.sum(F.when(F.col("is_old") == 1, F.col("c")).otherwise(0)).alias(
                "c_old"
            ),
        )
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = merged.select(
        "event_type",
        "bin",
        "c_old",
        F.sum("c").over(w_cum).alias("cm"),
        F.sum("c").over(w_all).alias("n"),
    )

    def _q(p):
        return F.min(
            F.when(F.col("cm") >= F.ceil(F.col("n") * p), F.col("bin"))
        )

    return (
        cum.groupBy("event_type")
        .agg(
            F.sum("c_old").cast("bigint").alias("n_old"),
            (F.max("n") - F.sum("c_old")).cast("bigint").alias("n_new"),
            F.max("n").cast("bigint").alias("n_rows"),
            _q(0.25).alias("q25"),
            _q(0.5).alias("median"),
            _q(0.9).alias("q90"),
            _q(0.99).alias("q99"),
        )
        .orderBy("event_type")
    )


# -- incremental top-k maintenance --------------------------------------------
# Top-k is mergeable because any global top-k element is in its own
# batch's top-k: the maintained state is k rows per group, a new batch
# contributes its own k rows, and the merge re-ranks 2k rows per group
# -- never the corpus. The oracle computes scratch top-k over the full
# table with the identical deterministic (n_chars DESC, doc_id ASC)
# order; a hash match proves state-merge == full recompute. Batch
# convention: doc_id % 10 == 9 (the inc_minhash ingest batch).
_TOPK_K = 3

_TOPK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE n_chars IS NOT NULL AND source IS NOT NULL
),
ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rnk
  FROM d
)
SELECT source, CAST(rnk AS INTEGER) AS rnk, doc_id, n_chars
FROM ranked WHERE rnk <= {_TOPK_K} ORDER BY source, rnk
"""


@register("inc_topk_merge", oracle=_TOPK_ORACLE)
def q_inc_topk_merge(spark: SparkSession, sf_dir: str):
    d = (
        table(spark, "documents", sf_dir)
        .filter(F.col("n_chars").isNotNull() & F.col("source").isNotNull())
        .select("doc_id", "source", "n_chars")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")

    def _topk(half):
        return (
            half.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _TOPK_K)
            .drop("rnk")
        )

    # yesterday's state (k rows/group) + the batch's own top-k
    old_top = _topk(d.filter(F.col("doc_id") % _BATCH_MOD != _BATCH_REM))
    new_top = _topk(d.filter(F.col("doc_id") % _BATCH_MOD == _BATCH_REM))
    # merge: re-rank 2k rows per group
    merged = old_top.unionByName(new_top)
    return (
        merged.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _TOPK_K)
        .select("source", "rnk", "doc_id", "n_chars")
        .orderBy("source", "rnk")
    )


# -- mergeable KMV distinct-count sketch (bottom-k hashes) ---------------------
# The second mergeable distinct sketch beside rel_hll_mergeable, with a
# property HLL lacks: it is EXACTLY engine-replayable (the state is the k
# smallest md5 fractions of the key set, deterministic to the bit), so
# the incremental contract gets a full hash-match oracle instead of an
# error-envelope boolean. State = bottom-16 hashes of distinct users per
# event_type from the OLD half; the batch contributes its own bottom-16;
# the merge dedups the union (same user -> same hash) and re-ranks 2k
# rows per group -- never the corpus. Estimate = (k-1)/h_k, the standard
# KMV estimator, alongside the exact distinct count and relative error
# (the number a practitioner reads before trusting the sketch at 100 TB,
# where the exact count is the thing you can no longer afford). Windows
# are rank-truncating (WindowGroupLimit) over DISTINCT-user frames.
_KMV_K = 16

_KMV_H_SQL = (
    "(CAST('0x' || substr(md5('kmv' || chr(31) || CAST(user_id AS VARCHAR)),"
    " 1, 8) AS UBIGINT) + 0.5) / 4294967296.0"
)

_KMV_ORACLE = f"""
WITH ev AS (
  SELECT event_type, user_id, ts::TIMESTAMP AS t FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
du_old AS (SELECT DISTINCT event_type, user_id FROM ev
           WHERE t < TIMESTAMP '{_QCUT}'),
du_new AS (SELECT DISTINCT event_type, user_id FROM ev
           WHERE t >= TIMESTAMP '{_QCUT}'),
bk_old AS (
  SELECT event_type, user_id, h FROM (
    SELECT event_type, user_id, {_KMV_H_SQL} AS h,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY {_KMV_H_SQL}, user_id) AS rn
    FROM du_old
  ) WHERE rn <= {_KMV_K}
),
bk_new AS (
  SELECT event_type, user_id, h FROM (
    SELECT event_type, user_id, {_KMV_H_SQL} AS h,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY {_KMV_H_SQL}, user_id) AS rn
    FROM du_new
  ) WHERE rn <= {_KMV_K}
),
merged AS (
  SELECT DISTINCT event_type, user_id, h FROM (
    SELECT * FROM bk_old UNION ALL SELECT * FROM bk_new
  )
),
state AS (
  SELECT event_type, user_id, h FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY h, user_id) AS rn
    FROM merged
  ) WHERE rn <= {_KMV_K}
),
est AS (
  SELECT event_type, count(*) AS n_state, max(h) AS hmax
  FROM state GROUP BY 1
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact FROM ev GROUP BY 1
)
SELECT x.event_type,
       CAST(x.n_exact AS BIGINT) AS n_exact,
       CAST(e.n_state AS BIGINT) AS n_state,
       floor((CASE WHEN e.n_state >= {_KMV_K}
                   THEN ({_KMV_K} - 1) / e.hmax
                   ELSE e.n_state * 1.0 END) * 10000 + 0.5) / 10000
         AS kmv_estimate,
       floor(abs((CASE WHEN e.n_state >= {_KMV_K}
                       THEN ({_KMV_K} - 1) / e.hmax
                       ELSE e.n_state * 1.0 END) - x.n_exact)
             / x.n_exact * 10000 + 0.5) / 10000 AS rel_err
FROM est e JOIN exact x USING (event_type) ORDER BY 1
"""


@register("inc_kmv_distinct_merge", oracle=_KMV_ORACLE)
def q_inc_kmv_distinct_merge(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.hashing import (
        stable_hash,
    )

    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("event_type", "user_id", "ts")
    )
    cut = F.lit(_QCUT).cast("timestamp")
    h = (
        F.conv(
            F.substring(stable_hash(F.lit("kmv"), F.col("user_id")), 1, 8),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / float(16**8)
    w = Window.partitionBy("event_type").orderBy("h", "user_id")

    def bottomk(half):
        return (
            half.select("event_type", "user_id")
            .distinct()
            .withColumn("h", h)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _KMV_K)
            .drop("rn")
        )

    # yesterday's persisted sketch + the batch's own sketch, merged by
    # dedup (same key -> same hash) + re-rank of <= 2k rows per group
    merged = (
        bottomk(ev.filter(F.col("ts") < cut))
        .unionByName(bottomk(ev.filter(F.col("ts") >= cut)))
        .dropDuplicates(["event_type", "user_id"])
    )
    state = (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
    )
    est_raw = F.when(
        F.col("n_state") >= _KMV_K, (_KMV_K - 1) / F.col("hmax")
    ).otherwise(F.col("n_state") * 1.0)
    est = state.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_state"), F.max("h").alias("hmax")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    r4 = lambda c: F.floor(c * 10000 + 0.5) / 10000  # noqa: E731
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("n_state").cast("bigint").alias("n_state"),
            r4(est_raw).alias("kmv_estimate"),
            r4(F.abs(est_raw - F.col("n_exact")) / F.col("n_exact")).alias(
                "rel_err"
            ),
        )
        .orderBy("event_type")
    )


# -- incremental ridge-model maintenance (mergeable moments) -------------------
# The inc_* contract applied to MODEL FITTING: a least-squares/ridge fit
# is a function of five moment sums (n, Sx, Sxx, Sxy, Sy), and moments
# are mergeable -- so the maintained state is O(1) per group (the old
# half's moments plus its LAST observation), and a batch folds in as
# batch-internal pair moments + ONE boundary pair (state.last ->
# batch.first) + cell-wise addition. No old event is ever re-read; the
# refreshed model is hash-proven equal (same closed-form 2x2 ridge as
# ml_ridge_lag1_parity) to a scratch fit over ALL consecutive pairs,
# which is what the oracle computes. This is how a 100 TB forecaster
# refreshes nightly without re-scanning history.
_IRM_ALPHA = 1.0


def _irm_oracle() -> str:
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
        portable_round_sql,
    )

    return f"""
WITH ev AS (
  SELECT event_type AS respondent, ts::TIMESTAMP AS period, event_id,
         CAST(value AS DOUBLE) AS value
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
o AS (
  SELECT respondent, value AS x,
         lead(value) OVER (PARTITION BY respondent
                           ORDER BY period, event_id) AS y
  FROM ev
),
-- moments on the exact-decimal grid (ADVICE r8, closed r10): the fixture
-- values are 2-decimal, so DECIMAL(18,2) sums of decimal products are
-- EXACT and association-order free -- no partial-sum ordering on either
-- engine can flip the 4-decimal rounding boundary. One final cast to
-- double per moment, then identical IEEE ops compute the closed form.
p AS (
  SELECT respondent, CAST(x AS DECIMAL(18,2)) AS x,
         CAST(y AS DECIMAL(18,2)) AS y
  FROM o WHERE y IS NOT NULL
),
m AS (
  SELECT respondent, count(*) AS n,
         CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(y) AS DOUBLE) AS sy
  FROM p GROUP BY 1
)
SELECT respondent,
       CAST(n AS BIGINT) AS n_pairs,
       {portable_round_sql(
           f"((n + {_IRM_ALPHA}) * sxy - sx * sy)"
           f" / ((sxx + {_IRM_ALPHA}) * (n + {_IRM_ALPHA}) - sx * sx)", 4)}
         AS slope,
       {portable_round_sql(
           f"((sxx + {_IRM_ALPHA}) * sy - sx * sxy)"
           f" / ((sxx + {_IRM_ALPHA}) * (n + {_IRM_ALPHA}) - sx * sx)", 2)}
         AS intercept
FROM m ORDER BY 1
"""


@register("inc_ridge_moments_merge", oracle=_irm_oracle())
def q_inc_ridge_moments_merge(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
        portable_round,
    )

    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("respondent"),
            "ts",
            "event_id",
            F.col("value").cast("double").alias("value"),
        )
    )
    cut = F.lit(_QCUT).cast("timestamp")
    old, new = ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)

    def internal_pairs(half):
        w = Window.partitionBy("respondent").orderBy("ts", "event_id")
        return (
            half.withColumn("y", F.lead("value").over(w))
            .filter(F.col("y").isNotNull())
            .select("respondent", F.col("value").alias("x"), "y")
        )

    def edge(half, last: bool):
        w = Window.partitionBy("respondent").orderBy(
            *(
                [F.desc("ts"), F.desc("event_id")]
                if last
                else [F.asc("ts"), F.asc("event_id")]
            )
        )
        return (
            half.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("respondent", "value")
        )

    # the ONE cross-boundary pair per group: state's last -> batch's first
    boundary = (
        edge(old, last=True)
        .withColumnRenamed("value", "x")
        .join(edge(new, last=False).withColumnRenamed("value", "y"), "respondent")
    )

    def moments(pairs):
        # exact-decimal moment grid (ADVICE r8, closed r10): 2-decimal
        # fixture values cast to DECIMAL(18,2) make every sum exact and
        # association-order free -- the state can be merged in ANY order
        # (cell-wise, batch-wise, tree-wise) without the 4-decimal rounding
        # of the closed form ever seeing a partial-sum reorder. Mirrors the
        # oracle's DECIMAL CTE exactly.
        xd, yd = F.col("x").cast("decimal(18,2)"), F.col("y").cast("decimal(18,2)")
        return pairs.groupBy("respondent").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xd * xd).alias("sxx"),
            F.sum(xd).alias("sx"),
            F.sum(xd * yd).alias("sxy"),
            F.sum(yd).alias("sy"),
        )

    # yesterday's persisted moment state + the batch's own moments + the
    # boundary pair, merged CELL-WISE (never re-reading old events);
    # decimal sums of decimal partials stay exact
    merged = (
        moments(internal_pairs(old))
        .unionByName(moments(internal_pairs(new)))
        .unionByName(moments(boundary))
        .groupBy("respondent")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sxx").cast("double").alias("sxx"),
            F.sum("sx").cast("double").alias("sx"),
            F.sum("sxy").cast("double").alias("sxy"),
            F.sum("sy").cast("double").alias("sy"),
        )
    )
    det = (F.col("sxx") + _IRM_ALPHA) * (F.col("n") + _IRM_ALPHA) - F.col(
        "sx"
    ) * F.col("sx")
    slope = ((F.col("n") + _IRM_ALPHA) * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    intercept = (
        (F.col("sxx") + _IRM_ALPHA) * F.col("sy") - F.col("sx") * F.col("sxy")
    ) / det
    return merged.select(
        "respondent",
        F.col("n").cast("bigint").alias("n_pairs"),
        portable_round(slope, 4).alias("slope"),
        portable_round(intercept, 2).alias("intercept"),
    ).orderBy("respondent")


# -- incremental maintenance of the sampled triangle count --------------------
# Delta derivation: with edges stored (ua < ub) and each triangle
# a < b < c decomposed into fixed roles e1=(a,b), e2=(b,c), e3=(a,c),
# every triangle has exactly ONE role assignment, so partitioning the
# >= 1-new-edge triangles by their FIRST new role
#
#     d1 = new e1  x union e2 x union e3
#     d2 = old e1  x new e2   x union e3
#     d3 = old e1  x old e2   x new e3
#
# is a disjoint exact cover: t_delta = d1 + d2 + d3. Every term anchors a
# join side on the batch-sized new-edge table, so the merge cost follows
# O(batch x sampled-adjacency), never the state graph. The DuckDB oracle
# derives the delta INDEPENDENTLY -- scratch 3-join over the union minus
# scratch 3-join over the state -- so a hash match proves the role
# decomposition equals the scratch difference.
#
# Split correctness: the old/new cut (_QCUT, shared with the inc_*
# family) lands on an hour boundary and co-occurrence edges live entirely
# inside one hour, so edges(all events) = edges(old) UNION edges(new) --
# no cross-boundary edge can exist -- and capping per hour commutes with
# the split (hours are disjoint across the cut). Batch edges already in
# the state are removed by anti-join (a pair can co-occur in both
# periods); sampling is the estimator's deterministic md5 rule, so state
# and batch agree on membership without coordination.
_ITE_SCALE = 512  # 1/p^3 for the estimator's p = 2/16 md5 edge sampling


def _ite_sampled(edges: DataFrame) -> DataFrame:
    keep = (
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.col("ua").cast("string"), F.col("ub").cast("string")
                )
            ),
            1,
            1,
        )
        <= "1"
    )
    return edges.filter(keep)


def _ite_edges(ev: DataFrame) -> DataFrame:
    a, c = ev.alias("a"), ev.alias("c")
    return (
        a.join(
            c,
            (F.col("a.h") == F.col("c.h"))
            & (F.col("a.user_id") < F.col("c.user_id")),
        )
        .select(F.col("a.user_id").alias("ua"), F.col("c.user_id").alias("ub"))
        .distinct()
    )


def _ite_triangles(edges: DataFrame):
    """Exact id-ordered 3-join triangle count over one edge set."""
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e2.ua") == F.col("e1.ub"))
        .join(
            e3,
            (F.col("e3.ua") == F.col("e1.ua"))
            & (F.col("e3.ub") == F.col("e2.ub")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )


_ITE_EDGE_SQL = """
  SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
  FROM {src} a JOIN {src} c ON a.h = c.h AND a.user_id < c.user_id
"""

_ITE_ORACLE = f"""
WITH b0 AS (
  SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h, user_id
  FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL AND user_id IS NOT NULL
),
b AS (
  SELECT h, user_id FROM b0
  QUALIFY row_number() OVER (PARTITION BY h ORDER BY user_id) <= {_SSSP_HOUR_CAP}
),
old_b AS (SELECT * FROM b WHERE h < TIMESTAMP '{_QCUT}'),
new_b AS (SELECT * FROM b WHERE h >= TIMESTAMP '{_QCUT}'),
e_old AS ({_ITE_EDGE_SQL.format(src="old_b")}),
e_new_raw AS ({_ITE_EDGE_SQL.format(src="new_b")}),
samp_old AS (
  SELECT ua, ub FROM e_old
  WHERE substr(md5(CAST(ua AS VARCHAR) || '|' || CAST(ub AS VARCHAR)), 1, 1)
        <= '1'
),
samp_new AS (
  SELECT ua, ub FROM e_new_raw
  WHERE substr(md5(CAST(ua AS VARCHAR) || '|' || CAST(ub AS VARCHAR)), 1, 1)
        <= '1'
    AND NOT EXISTS (SELECT 1 FROM samp_old o
                    WHERE o.ua = e_new_raw.ua AND o.ub = e_new_raw.ub)
),
un AS (SELECT * FROM samp_old UNION ALL SELECT * FROM samp_new),
t_old AS (
  SELECT count(*) AS t
  FROM samp_old e1
  JOIN samp_old e2 ON e2.ua = e1.ub
  JOIN samp_old e3 ON e3.ua = e1.ua AND e3.ub = e2.ub
),
t_all AS (
  SELECT count(*) AS t
  FROM un e1
  JOIN un e2 ON e2.ua = e1.ub
  JOIN un e3 ON e3.ua = e1.ua AND e3.ub = e2.ub
)
SELECT (SELECT count(*) FROM samp_old) AS n_state_edges,
       (SELECT count(*) FROM samp_new) AS n_batch_edges,
       (SELECT t FROM t_old) AS t_state,
       CAST((SELECT t FROM t_all) - (SELECT t FROM t_old) AS BIGINT)
         AS t_delta,
       (SELECT t FROM t_all) AS t_total,
       CAST((SELECT t FROM t_all) * {_ITE_SCALE} AS BIGINT) AS t_estimate
"""


@register("inc_triangle_estimate_merge", oracle=_ITE_ORACLE)
def q_inc_triangle_estimate_merge(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(
            (F.col("event_type") == "error")
            & F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
    )
    ev = _cap_hours(ev)
    cut = F.lit(_QCUT).cast("timestamp")
    # round-12 F4 (guide §2.4): state feeds the anti-join, the union, two
    # role terms, the exact-state triangle count and the edge count (~7
    # references), batch ~5 -- without the cut each reference re-ran the
    # capped co-occurrence self-join + sampling
    state = reuse(_ite_sampled(_ite_edges(ev.filter(F.col("h") < cut))))
    batch = reuse(
        _ite_sampled(_ite_edges(ev.filter(F.col("h") >= cut))).join(
            state, ["ua", "ub"], "left_anti"
        )
    )
    union = state.unionByName(batch)

    # first-new-role decomposition: each term's anchor side is the batch
    def roles(r1: DataFrame, r2: DataFrame, r3: DataFrame):
        e1, e2, e3 = r1.alias("e1"), r2.alias("e2"), r3.alias("e3")
        return (
            e1.join(e2, F.col("e2.ua") == F.col("e1.ub"))
            .join(
                e3,
                (F.col("e3.ua") == F.col("e1.ua"))
                & (F.col("e3.ub") == F.col("e2.ub")),
            )
            .agg(F.count(F.lit(1)).alias("t"))
        )

    d1 = roles(batch, union, union).withColumnRenamed("t", "d1")
    d2 = roles(state, batch, union).withColumnRenamed("t", "d2")
    d3 = roles(state, state, batch).withColumnRenamed("t", "d3")
    t_state = _ite_triangles(state).withColumnRenamed("t", "t_state")

    out = (
        state.agg(F.count(F.lit(1)).alias("n_state_edges"))
        .crossJoin(batch.agg(F.count(F.lit(1)).alias("n_batch_edges")))
        .crossJoin(t_state)
        .crossJoin(d1)
        .crossJoin(d2)
        .crossJoin(d3)
        .select(
            "n_state_edges",
            "n_batch_edges",
            "t_state",
            (F.col("d1") + F.col("d2") + F.col("d3"))
            .cast("bigint")
            .alias("t_delta"),
            (F.col("t_state") + F.col("d1") + F.col("d2") + F.col("d3"))
            .cast("bigint")
            .alias("t_total"),
            (
                (F.col("t_state") + F.col("d1") + F.col("d2") + F.col("d3"))
                * F.lit(_ITE_SCALE)
            )
            .cast("bigint")
            .alias("t_estimate"),
        )
    )
    return out
