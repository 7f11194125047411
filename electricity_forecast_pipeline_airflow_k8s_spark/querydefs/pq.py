"""Vector-quantization ANN lanes: product quantization (PQ), IVF-PQ, and
int8 scalar quantization, with their recall audits against exact truth.

The production ANN story at 100 TB: train small codebooks on a sampled
slice (driver-sized k-means state, broadcast back), assign every corpus
vector to compact codes in one pass, and answer queries through
asymmetric distance (ADC) over codes -- the corpus never self-joins and
the full-precision vectors are read exactly once. Each lane's DuckDB
oracle replays codebook training as unrolled fixed-point CTEs and
measures recall against the exact scan, so the quantization loss is a
MEASURED, pinned number, not a hope.

Lanes: emb_pq_assign (subspace codebook assignment),
emb_pq_train_curve (per-iteration k-means inertia curve),
sim_pq_adc_recall (ADC top-k recall vs exact), sim_ivfpq_recall
(IVF routing composed with PQ codes -- the production query),
sim_int8_recall (scalar int8 symmetric-distance audit).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.queries import register, table

# -- product-quantization assignment (the IVF-PQ building block) --------------
# PQ splits each d-dim vector into M subvectors and snaps each to the
# nearest of K codebook centroids -- the memory trick that makes
# billion-scale ANN fit (d floats -> M bytes). The scale-critical shape:
# the codebook is TINY (M x K x d/M) and rides the closure/broadcast;
# the corpus is scanned ONCE with all M x K distances computed as codegen
# expressions per row and the argmin taken as array_min over (dist, cid)
# structs -- no explode, no corpus shuffle; only the M-per-vector
# assignment rows reach the final (subspace, centroid) aggregate.
# Codebook = TRAINED: init from the first _PQ_K vectors' subvectors,
# then _PQ_TRAIN_ITERS k-means iterations over subvectors (round 8 --
# recall against a trained codebook is what an ANN recall number means).
# Training is the broadcast-iterate shape used everywhere else in the
# repo (PageRank, SSSP, kmeans_step): each iteration is ONE corpus pass
# -- assign every (vector, subspace) to its nearest centroid with the
# same 1e-9-grid integer distances and cid tiebreak as the serving path,
# then average the assigned subvector dims -- followed by a K*M*(d/M)-
# sized collect (1024 doubles) that re-broadcasts the updated codebook.
# Updated centroids are quantized to the 1e-6 grid on BOTH engines so
# the next iteration's integer distances are bit-identical (raw float
# avgs differ in the last ulp across engines/orders and would flip
# argmins); empty clusters carry the previous centroid forward (oracle:
# LEFT JOIN + COALESCE). The oracle replays the identical iterations as
# unrolled CTEs -- the SSSP/PageRank iteration pattern.
# Per-dim squared diffs are quantized to the 1e-9 grid and decimal-summed
# so both engines compute identical distances; ties break on centroid id.
_PQ_M, _PQ_K = 4, 16
_PQ_TRAIN_ITERS = 2


def _pq_trained_cdims_sql(iters: int = _PQ_TRAIN_ITERS) -> str:
    """Oracle-side replay of _pq_train_codebook as unrolled CTE text:
    given CTEs ``dims`` and ``cdims0`` (the init codebook), emits
    dist_t{t}/codes_t{t}/upd_t{t}/cdims{t} per iteration and a final
    ``cdims AS (SELECT * FROM cdims{iters})`` so downstream oracle SQL
    keeps referencing ``cdims`` unchanged."""
    parts = []
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(
            f"""dist_t{t} AS (
  SELECT v.vec_id, v.sub, c.cid,
         sum(CAST(floor((v.x - c.c) * (v.x - c.c) * 1e9 + 0.5) AS BIGINT))
           AS d2
  FROM dims v JOIN cdims{p} c ON c.i = v.i AND c.sub = v.sub
  GROUP BY 1, 2, 3
),
codes_t{t} AS (
  SELECT vec_id, sub, cid FROM (
    SELECT vec_id, sub, cid,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, cid) AS rk
    FROM dist_t{t}
  ) WHERE rk = 1
),
upd_t{t} AS (
  SELECT k.sub, k.cid, v.i, floor(avg(v.x) * 1e6 + 0.5) / 1e6 AS c
  FROM dims v JOIN codes_t{t} k ON k.vec_id = v.vec_id AND k.sub = v.sub
  GROUP BY 1, 2, 3
),
cdims{t} AS (
  SELECT c0.sub, c0.cid, c0.i, COALESCE(u.c, c0.c) AS c
  FROM cdims{p} c0 LEFT JOIN upd_t{t} u
    ON u.sub = c0.sub AND u.cid = c0.cid AND u.i = c0.i
)"""
        )
    parts.append(f"cdims AS (SELECT * FROM cdims{iters})")
    return ",\n".join(parts)


def _pq_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding, len(embedding) AS d FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= {_PQ_M}
),
dims AS (
  SELECT vec_id, CAST(i AS INTEGER) AS i,
         ((CAST(i AS INTEGER) - 1) * {_PQ_M}) // d AS sub,
         CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
  FROM e, unnest(range(1, d + 1)) r(i)
),
cdims0 AS (
  SELECT vec_id AS cid, i, sub, x AS c FROM dims WHERE vec_id < {_PQ_K}
),
{_pq_trained_cdims_sql()},
dist AS (
  SELECT v.vec_id, v.sub, c.cid,
         sum(CAST(floor((v.x - c.c) * (v.x - c.c) * 1e9 + 0.5) / 1e9
                  AS DECIMAL(38,9))) AS d2
  FROM dims v JOIN cdims c ON c.i = v.i AND c.sub = v.sub
  GROUP BY 1, 2, 3
),
assign AS (
  SELECT vec_id, sub, cid, d2,
         row_number() OVER (PARTITION BY vec_id, sub
                            ORDER BY d2, cid) AS rk
  FROM dist
)
SELECT sub AS subspace, cid AS centroid_id,
       count(*) AS n_assigned,
       floor(CAST(sum(d2) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
         AS mean_distortion
FROM assign WHERE rk = 1
GROUP BY 1, 2 ORDER BY 1, 2
"""


# Distance-computation shape, third iteration (measured at sf0.1):
#   1. zip_with/aggregate HOFs per (subspace, centroid): 4.5 s -- HOFs are
#      CodegenFallback, so every per-dim term is an interpreted lambda call.
#   2. fully unrolled F.get expression chains: 17.8 s -- the giant trees
#      fail Janino compilation and fall back to per-NODE interpretation
#      (SCALING.md "PQ unroll experiment").
#   3. posexplode dims -> K codegen sum-aggregates grouped by (vec, sub):
#      1.8 s and bit-identical (integer sums are order-free). The explode
#      never materializes: scan -> Generate -> partial hash-agg sit in one
#      whole-stage-codegen stage, and the shuffle moves only the
#      map-side-combined (vec, sub) rows (M per vector). This is the form
#      all three PQ queries share below.
def _pq_best_frame(emb, cents, cids, extra_cols=()):
    """Per (vec_id[, extra], subspace): the argmin (d2, cid) struct over
    the codebook, distances as 1e-9-grid LONG sums."""
    # (round-11: measured a fanout of the scan here as a NET LOSS -- the
    # embeddings fixture scans as 8 partitions already, and the extra
    # corpus shuffle cost more than the 8->32 parallelism bought; the
    # training pass keeps its fanout, see _pq_train_step)
    rows = emb.select(
        "vec_id",
        *extra_cols,
        F.size("embedding").alias("d"),
        F.posexplode("embedding").alias("i", "x"),
    )
    sub = F.floor(F.col("i") * _PQ_M / F.col("d")).cast("int")
    aggs = []
    for cid in cids:
        clit = F.array(*[F.lit(v) for v in cents[cid]])
        diff = F.col("x").cast("double") - F.get(clit, F.col("i"))
        aggs.append(F.sum(_PQ_Q9I(diff * diff)).alias(f"d2_{cid}"))
    per = rows.groupBy("vec_id", *extra_cols, sub.alias("sub")).agg(*aggs)
    best = F.array_min(
        F.array(
            *[
                F.struct(F.col(f"d2_{cid}").alias("d2"), F.lit(cid).alias("cid"))
                for cid in cids
            ]
        )
    )
    return per.select("vec_id", *extra_cols, "sub", best.alias("best"))


@register("emb_pq_assign", oracle=_pq_oracle())
def q_emb_pq_assign(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir).filter(
        F.col("embedding").isNotNull() & (F.size("embedding") >= _PQ_M)
    )
    # trained codebook (k-means over subvectors, round 8); the collect is
    # k-sized (16 centroids), the same accepted pattern as quantile
    # thresholds / ntile edges: the codebook is broadcast INSIDE the
    # expressions -- no join anywhere in the serving pass.
    cents, _, cids = _pq_train_codebook(emb)
    bestf = _pq_best_frame(emb, cents, cids)
    return (
        bestf.groupBy(
            F.col("sub").alias("subspace"), F.col("best.cid").alias("centroid_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            # exact long sum of 1e-9 units; sums stay < 2^53, so
            # double(S)/1e9 is the same single-rounded value as the
            # oracle's CAST(decimal-sum AS DOUBLE)
            (
                F.floor(
                    F.sum("best.d2").cast("double")
                    / 1e9
                    / F.count(F.lit(1))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("mean_distortion"),
        )
        .orderBy("subspace", "centroid_id")
    )


# -- PQ asymmetric-distance recall (the ANN accuracy audit) -------------------
# The question emb_pq_assign doesn't answer: how much retrieval accuracy
# does the M-byte PQ compression cost? For each probe query, rank the
# corpus by ADC (asymmetric distance: query subvector -> the corpus
# vector's ASSIGNED centroid, a 4-lookup sum instead of a d-dim scan)
# and report |ADC top-10 ∩ exact-L2 top-10| / 10. Scale shape: corpus
# codes come from the single-pass assignment (emb_pq_assign's plan); the
# per-query ADC lookup tables (10 x 4 x 16 integers) and the query
# vectors ride the closure as literals, so BOTH rankings are
# broadcast-side -- the corpus never shuffles; only (query, vec, dist)
# candidate rows reach the partitioned top-k windows. All distances are
# 1e-9-grid integers, so rankings are bit-identical across engines.
_ADC_NQ, _ADC_TOPK = 10, 10


def _adc_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding, len(embedding) AS d FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= {_PQ_M}
),
dims AS (
  SELECT vec_id, CAST(i AS INTEGER) AS i,
         ((CAST(i AS INTEGER) - 1) * {_PQ_M}) // d AS sub,
         CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
  FROM e, unnest(range(1, d + 1)) r(i)
),
cdims0 AS (
  SELECT vec_id AS cid, i, sub, x AS c FROM dims WHERE vec_id < {_PQ_K}
),
{_pq_trained_cdims_sql()},
dist AS (
  SELECT v.vec_id, v.sub, c.cid,
         sum(CAST(floor((v.x - c.c) * (v.x - c.c) * 1e9 + 0.5) AS BIGINT))
           AS d2
  FROM dims v JOIN cdims c ON c.i = v.i AND c.sub = v.sub
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, sub, cid FROM (
    SELECT vec_id, sub, cid,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, cid) AS rk
    FROM dist
  ) WHERE rk = 1
),
adc_table AS (
  SELECT q.vec_id AS query_id, c.sub, c.cid,
         sum(CAST(floor((q.x - c.c) * (q.x - c.c) * 1e9 + 0.5) AS BIGINT))
           AS t
  FROM dims q JOIN cdims c ON c.i = q.i AND c.sub = q.sub
  WHERE q.vec_id < {_ADC_NQ}
  GROUP BY 1, 2, 3
),
adc AS (
  SELECT t.query_id, k.vec_id AS neighbor_id, sum(t.t) AS adist
  FROM codes k JOIN adc_table t ON t.sub = k.sub AND t.cid = k.cid
  WHERE k.vec_id != t.query_id
  GROUP BY 1, 2
),
adc_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adist, neighbor_id) AS rk
    FROM adc
  ) WHERE rk <= {_ADC_TOPK}
),
exact AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         sum(CAST(floor((q.x - v.x) * (q.x - v.x) * 1e9 + 0.5) AS BIGINT))
           AS edist
  FROM dims q JOIN dims v ON v.i = q.i
  WHERE q.vec_id < {_ADC_NQ} AND v.vec_id != q.vec_id
  GROUP BY 1, 2
),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY edist, neighbor_id) AS rk
    FROM exact
  ) WHERE rk <= {_ADC_TOPK}
)
SELECT x.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_matched,
       floor(count(a.neighbor_id) * 1.0 / {_ADC_TOPK} * 10000 + 0.5) / 10000
         AS recall_at_10
FROM exact_top x LEFT JOIN adc_top a
  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
GROUP BY 1 ORDER BY 1
"""


# -- shared PQ machinery (used by sim_pq_adc_recall and sim_ivfpq_recall) ----
_PQ_Q9I = lambda c: F.floor(c * 1e9 + 0.5).cast("long")  # noqa: E731


def _pq_q9i_int(a: float, b: float) -> int:
    # the exact integer both engines compute: floor((a-b)^2*1e9+0.5)
    import math

    return int(math.floor((a - b) * (a - b) * 1e9 + 0.5))


def _pq_sub_bounds(dlen: int, s: int) -> tuple[int, int]:
    # Subspace of dim i is floor(i*M/d), so subspace s owns the
    # half-open dim range [ceil(s*d/M), ceil((s+1)*d/M)). CEIL bounds,
    # not floor: for d not divisible by M (e.g. d=6, M=4) floor bounds
    # give sub0={0} while the assignment puts {0,1} in sub0, which would
    # silently corrupt every ADC table entry.
    return (
        (dlen * s + _PQ_M - 1) // _PQ_M,
        (dlen * (s + 1) + _PQ_M - 1) // _PQ_M,
    )


def _pq_collect_small(emb):
    """Two k-sized boundary collects in one pass: the 16-vector codebook
    and the 10 probe queries (same accepted pattern as thresholds)."""
    small = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < max(_PQ_K, _ADC_NQ))
        .select("vec_id", "embedding")
        .collect()
    }
    cents = {k: v for k, v in small.items() if k < _PQ_K}
    queries_ = {k: v for k, v in small.items() if k < _ADC_NQ}
    return cents, queries_, sorted(cents)


def _pq_train_step(emb, cents, cids):
    """One k-means iteration over subvectors: assign every (vector,
    subspace) to its nearest centroid (1e-9-grid integer distances, cid
    tiebreak), average the assigned subvector dims, quantize to the 1e-6
    grid, carry empty clusters forward. One corpus pass + a K*M*(d/M)-
    sized collect."""
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import (
        fanout,
    )

    # round-11 F1: the training pass is the same explode/agg shape as
    # the serving passes -- spread the single-row-group scan
    rows = fanout(emb.select("vec_id", "embedding")).select(
        "vec_id",
        F.size("embedding").alias("d"),
        F.posexplode("embedding").alias("i", "x"),
    )
    sub = F.floor(F.col("i") * _PQ_M / F.col("d")).cast("int")
    aggs = []
    for cid in cids:
        clit = F.array(*[F.lit(v) for v in cents[cid]])
        diff = F.col("x").cast("double") - F.get(clit, F.col("i"))
        aggs.append(F.sum(_PQ_Q9I(diff * diff)).alias(f"d2_{cid}"))
    # carry the subvector dims through the same single-pass agg so the
    # centroid update never re-joins the corpus
    aggs.append(
        F.collect_list(
            F.struct(F.col("i").alias("i"), F.col("x").cast("double").alias("x"))
        ).alias("dims")
    )
    per = rows.groupBy("vec_id", sub.alias("sub")).agg(*aggs)
    best = F.array_min(
        F.array(
            *[
                F.struct(F.col(f"d2_{cid}").alias("d2"), F.lit(cid).alias("cid"))
                for cid in cids
            ]
        )
    )
    upd = (
        per.select(
            "sub", best.getField("cid").alias("cid"), F.explode("dims").alias("z")
        )
        .groupBy("sub", "cid", F.col("z.i").alias("i"))
        .agg((F.floor(F.avg("z.x") * 1e6 + 0.5) / 1e6).alias("c"))
        .collect()
    )
    nxt = {cid: list(v) for cid, v in cents.items()}
    for r in upd:
        # a corpus vector LONGER than its assigned centroid emits update
        # rows for dims the centroid doesn't have; the distance join (and
        # the oracle's cdims join) drops those dims, so the writeback must
        # drop them too -- not IndexError (mixed-dim corpora pass the
        # size >= M filter)
        if int(r["i"]) < len(nxt[int(r["cid"])]):
            nxt[int(r["cid"])][int(r["i"])] = float(r["c"])
    return nxt


def _pq_train_books(emb, iters: int = _PQ_TRAIN_ITERS):
    """Full training trajectory: ([cents_0 .. cents_iters], queries_,
    cids) -- cents_0 is the init, each later entry one k-means iteration.
    Every call trains from the corpus as it is now: a codebook cached by
    corpus path would go stale when the corpus is rewritten in place."""
    cents, queries_, cids = _pq_collect_small(emb)
    books = [cents]
    for _ in range(iters):
        books.append(_pq_train_step(emb, books[-1], cids))
    return books, queries_, cids


def _pq_train_codebook(emb, iters: int = _PQ_TRAIN_ITERS):
    """Returns (cents, queries_, cids) like _pq_collect_small, but with
    the codebook refined by ``iters`` k-means iterations over subvectors."""
    books, queries_, cids = _pq_train_books(emb, iters)
    return books[-1], queries_, cids


def _pq_adc_tables(queries_, cents, cids):
    """ADC lookup tables, integer units of 1e-9: T[q][s][cid]."""
    return {
        q: [
            [
                sum(
                    _pq_q9i_int(qv[i], cents[cid][i])
                    for i in range(*_pq_sub_bounds(len(qv), s))
                )
                for cid in cids
            ]
            for s in range(_PQ_M)
        ]
        for q, qv in queries_.items()
    }


def _pq_codes_wide(emb, cents, cids, extra_cols=()):
    """(vec_id[, extra], c0..c{M-1}): per-vector PQ codes, via the same
    explode/hash-agg distance frame as emb_pq_assign (the measured-fastest
    of the three shapes tried -- see the note on _pq_best_frame)."""
    bestf = _pq_best_frame(emb, cents, cids, extra_cols=extra_cols)
    return bestf.groupBy("vec_id", *extra_cols).agg(
        *[
            F.max(F.when(F.col("sub") == s, F.col("best.cid"))).alias(f"c{s}")
            for s in range(_PQ_M)
        ]
    )


def _pq_exact_top(emb, queries_, k: int):
    """Exact quantized-L2 top-k per probe query over the full corpus:
    (query_id, neighbor_id) for ranks <= k. Same explode/hash-agg shape
    as the codes pass: one codegen stage computes all NQ distance sums,
    the shuffle carries one combined row per vector."""
    # (no fanout: measured a net loss on the serving passes, see
    # _pq_best_frame)
    rows = emb.select("vec_id", F.posexplode("embedding").alias("i", "x"))
    aggs = []
    for q in sorted(queries_):
        qlit = F.array(*[F.lit(v) for v in queries_[q]])
        diff = F.col("x").cast("double") - F.get(qlit, F.col("i"))
        aggs.append(F.sum(_PQ_Q9I(diff * diff)).alias(f"e_{q}"))
    per = rows.groupBy("vec_id").agg(*aggs)
    exact = (
        per.select(
            F.col("vec_id").alias("neighbor_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(q).alias("query_id"),
                            F.col(f"e_{q}").alias("edist"),
                        )
                        for q in sorted(queries_)
                    ]
                )
            ).alias("z"),
        )
        .select(
            F.col("z.query_id").alias("query_id"),
            "neighbor_id",
            F.col("z.edist").alias("edist"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    wE = Window.partitionBy("query_id").orderBy("edist", "neighbor_id")
    return (
        exact.withColumn("rk", F.row_number().over(wE))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id")
    )


@register("sim_pq_adc_recall", oracle=_adc_oracle())
def q_sim_pq_adc_recall(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir).filter(
        F.col("embedding").isNotNull() & (F.size("embedding") >= _PQ_M)
    )
    cents, queries_, cids = _pq_train_codebook(emb)
    adc_t = _pq_adc_tables(queries_, cents, cids)
    coded = _pq_codes_wide(emb, cents, cids)

    # approx side: 4 literal-array lookups per (vector, query)
    # lookups cast to LONG before summing: table entries are 1e-9-grid
    # integers that can exceed int32, and ANSI addExact would overflow
    adc_structs = [
        F.struct(
            F.lit(q).alias("query_id"),
            sum(
                F.element_at(
                    F.array(*[F.lit(t).cast("long") for t in adc_t[q][s]]),
                    F.col(f"c{s}") + 1,
                )
                for s in range(_PQ_M)
            ).alias("adist"),
        )
        for q in sorted(queries_)
    ]
    adc = (
        coded.select("vec_id", F.explode(F.array(*adc_structs)).alias("z"))
        .select(
            F.col("z.query_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("z.adist").alias("adist"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    wA = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    adc_top = adc.withColumn("rk", F.row_number().over(wA)).filter(
        F.col("rk") <= _ADC_TOPK
    )

    exact_top = _pq_exact_top(emb, queries_, _ADC_TOPK)

    joined = exact_top.select(
        F.col("query_id").alias("xq"), F.col("neighbor_id").alias("xn")
    ).join(
        adc_top.select(
            F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
        ),
        (F.col("xq") == F.col("aq")) & (F.col("xn") == F.col("an")),
        "left",
    )
    return (
        joined.groupBy(F.col("xq").alias("query_id"))
        .agg(
            F.count("an").cast("bigint").alias("n_matched"),
            (
                F.floor(F.count("an") * 1.0 / _ADC_TOPK * 10000 + 0.5) / 10000
            ).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


# -- IVF + PQ composed: the production ANN query ------------------------------
# sim_topk_ivf prunes the corpus by coarse clusters; sim_pq_adc_recall
# compresses distances to 4 lookups. This composes them the way a real
# billion-scale index answers a query: probe the _IVFPQ_NPROBE nearest
# cluster centroids, then rank ONLY the probed clusters' vectors by ADC,
# and score the result against the exact-L2 top-k. Output per query:
# candidate-set size (the pruning factor) and recall@5 (the accuracy
# cost of pruning + compression combined). Scale shape: centroids are a
# (clusters x d) aggregate, probes are a tiny broadcast, PQ codes come
# from the single corpus pass, and only probed-cluster candidate rows
# carry ADC sums into the per-query top-k window -- the corpus itself
# never shuffles and all ADC/exact distances are 1e-9-grid integers.
_IVFPQ_NPROBE, _IVFPQ_K = 3, 5


def _ivfpq_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, label, embedding, len(embedding) AS d FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= {_PQ_M}
),
dims AS (
  SELECT vec_id, label, CAST(i AS INTEGER) AS i,
         ((CAST(i AS INTEGER) - 1) * {_PQ_M}) // d AS sub,
         CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
  FROM e, unnest(range(1, d + 1)) r(i)
),
cdims0 AS (
  SELECT vec_id AS cid, i, sub, x AS c FROM dims WHERE vec_id < {_PQ_K}
),
{_pq_trained_cdims_sql()},
dist AS (
  SELECT v.vec_id, v.sub, c.cid,
         sum(CAST(floor((v.x - c.c) * (v.x - c.c) * 1e9 + 0.5) AS BIGINT))
           AS d2
  FROM dims v JOIN cdims c ON c.i = v.i AND c.sub = v.sub
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, sub, cid FROM (
    SELECT vec_id, sub, cid,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, cid) AS rk
    FROM dist
  ) WHERE rk = 1
),
adc_table AS (
  SELECT q.vec_id AS query_id, c.sub, c.cid,
         sum(CAST(floor((q.x - c.c) * (q.x - c.c) * 1e9 + 0.5) AS BIGINT))
           AS t
  FROM dims q JOIN cdims c ON c.i = q.i AND c.sub = q.sub
  WHERE q.vec_id < {_ADC_NQ}
  GROUP BY 1, 2, 3
),
centroids AS (
  SELECT label AS cluster, i, avg(x) AS cx FROM dims GROUP BY 1, 2
),
probe_scores AS (
  SELECT q.vec_id AS query_id, c.cluster,
         sum(q.x * c.cx)
           / NULLIF(sqrt(sum(q.x * q.x)) * sqrt(sum(c.cx * c.cx)), 0)
           AS sim
  FROM dims q JOIN centroids c ON c.i = q.i
  WHERE q.vec_id < {_ADC_NQ}
  GROUP BY 1, 2
),
probes AS (
  SELECT query_id, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, cluster) AS prank
    FROM probe_scores
  ) WHERE prank <= {_IVFPQ_NPROBE}
),
cand AS (
  SELECT p.query_id, k.vec_id AS neighbor_id, sum(t.t) AS adist
  FROM probes p
  JOIN e c ON c.label = p.cluster AND c.vec_id != p.query_id
  JOIN codes k ON k.vec_id = c.vec_id
  JOIN adc_table t ON t.query_id = p.query_id AND t.sub = k.sub
                  AND t.cid = k.cid
  GROUP BY 1, 2
),
ncand AS (SELECT query_id, count(*) AS n_candidates FROM cand GROUP BY 1),
ivf_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adist, neighbor_id) AS rk
    FROM cand
  ) WHERE rk <= {_IVFPQ_K}
),
exact AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         sum(CAST(floor((q.x - v.x) * (q.x - v.x) * 1e9 + 0.5) AS BIGINT))
           AS edist
  FROM dims q JOIN dims v ON v.i = q.i
  WHERE q.vec_id < {_ADC_NQ} AND v.vec_id != q.vec_id
  GROUP BY 1, 2
),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY edist, neighbor_id) AS rk
    FROM exact
  ) WHERE rk <= {_IVFPQ_K}
)
SELECT x.query_id,
       CAST(n.n_candidates AS BIGINT) AS n_candidates,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_matched,
       floor(count(a.neighbor_id) * 1.0 / {_IVFPQ_K} * 10000 + 0.5) / 10000
         AS recall_at_5
FROM exact_top x
LEFT JOIN ivf_top a
  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
JOIN ncand n ON n.query_id = x.query_id
GROUP BY 1, 2 ORDER BY 1
"""


@register("sim_ivfpq_recall", oracle=_ivfpq_oracle())
def q_sim_ivfpq_recall(spark: SparkSession, sf_dir: str):
    from itertools import chain

    from electricity_forecast_pipeline_airflow_k8s_spark.functions.arrays import as_double

    emb = table(spark, "embeddings", sf_dir).filter(
        F.col("embedding").isNotNull() & (F.size("embedding") >= _PQ_M)
    )
    cents, queries_, cids = _pq_train_codebook(emb)
    adc_t = _pq_adc_tables(queries_, cents, cids)

    # coarse probe: per-cluster mean centroids (clusters x d aggregate),
    # query-to-centroid cosine, top _IVFPQ_NPROBE clusters per query --
    # the same centroid/probe algebra as operators/similarity.ivf_topk
    # (no fanout: measured a net loss on the serving passes, see
    # _pq_best_frame)
    dimsdf = emb.select(
        "vec_id",
        "label",
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "x"),
    )
    centroids = dimsdf.groupBy(F.col("label").alias("cluster"), "pos").agg(
        F.avg("x").alias("cx")
    )
    qdims = dimsdf.filter(F.col("vec_id") < _ADC_NQ).select(
        F.col("vec_id").alias("query_id"), "pos", F.col("x").alias("qx")
    )
    probe_scores = (
        qdims.join(centroids, "pos")
        .groupBy("query_id", "cluster")
        .agg(
            # try_divide: a zero-norm query or centroid yields NULL sim
            # (sorts last under DESC on both engines) instead of an ANSI
            # divide-by-zero crash / a DuckDB inf divergence
            F.try_divide(
                F.sum(F.col("qx") * F.col("cx")),
                F.sqrt(F.sum(F.col("qx") * F.col("qx")))
                * F.sqrt(F.sum(F.col("cx") * F.col("cx"))),
            ).alias("sim")
        )
    )
    wP = Window.partitionBy("query_id").orderBy(F.desc("sim"), "cluster")
    probes = (
        probe_scores.withColumn("prank", F.row_number().over(wP))
        .filter(F.col("prank") <= _IVFPQ_NPROBE)
        .select("query_id", "cluster")
    )

    # PQ codes once per corpus row, then candidates = probed clusters only
    coded = _pq_codes_wide(emb, cents, cids, extra_cols=("label",))
    cand = coded.join(
        F.broadcast(probes),
        (coded["label"] == probes["cluster"])
        & (coded["vec_id"] != probes["query_id"]),
    )
    # ADC via map-literal lookups: query_id -> per-subspace table row
    maps = [
        F.create_map(
            *chain.from_iterable(
                (
                    F.lit(q),
                    F.array(*[F.lit(t).cast("long") for t in adc_t[q][s]]),
                )
                for q in sorted(queries_)
            )
        )
        for s in range(_PQ_M)
    ]
    adist = None
    for s in range(_PQ_M):
        term = F.element_at(
            F.element_at(maps[s], F.col("query_id")), F.col(f"c{s}") + 1
        )
        adist = term if adist is None else adist + term
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), adist.alias("adist")
    )
    wA = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    ivf_top = (
        scored.withColumn("rk", F.row_number().over(wA))
        .filter(F.col("rk") <= _IVFPQ_K)
        .select("query_id", "neighbor_id")
    )
    ncand = scored.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )

    exact_top = _pq_exact_top(emb, queries_, _IVFPQ_K)

    joined = exact_top.select(
        F.col("query_id").alias("xq"), F.col("neighbor_id").alias("xn")
    ).join(
        ivf_top.select(
            F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
        ),
        (F.col("xq") == F.col("aq")) & (F.col("xn") == F.col("an")),
        "left",
    )
    return (
        joined.groupBy(F.col("xq").alias("query_id"))
        .agg(
            F.count("an").cast("bigint").alias("n_matched"),
            (
                F.floor(F.count("an") * 1.0 / _IVFPQ_K * 10000 + 0.5) / 10000
            ).alias("recall_at_5"),
        )
        .join(ncand, "query_id")
        .select(
            "query_id",
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            "n_matched",
            "recall_at_5",
        )
        .orderBy("query_id")
    )


# -- PQ codebook training curve ------------------------------------------------
# The training-quality diagnostic for the round-8 trained codebook: total
# assignment distortion and the number of (vector, subspace) code changes
# at every k-means iteration (0 = the untrained init). Distortion must
# fall as the codebook trains -- the number a practitioner reads before
# trusting an ANN recall figure. Scale shape: ONE corpus pass computes
# the 1e-9-grid integer distances against all three iteration codebooks
# as codegen hash-aggregates (the measured-fastest PQ distance form), the
# argmins and change flags are taken inline, and only a 3-row aggregate
# leaves; the training itself is the same broadcast-iterate loop the
# serving queries use. The oracle replays the iterations as unrolled CTEs
# and reads the same per-iteration argmin sums.
def _pq_curve_oracle() -> str:

    return f"""
WITH e AS (
  SELECT vec_id, embedding, len(embedding) AS d FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= {_PQ_M}
),
dims AS (
  SELECT vec_id, CAST(i AS INTEGER) AS i,
         ((CAST(i AS INTEGER) - 1) * {_PQ_M}) // d AS sub,
         CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
  FROM e, unnest(range(1, d + 1)) r(i)
),
cdims0 AS (
  SELECT vec_id AS cid, i, sub, x AS c FROM dims WHERE vec_id < {_PQ_K}
),
{_pq_trained_cdims_sql()},
dist_f AS (
  SELECT v.vec_id, v.sub, c.cid,
         sum(CAST(floor((v.x - c.c) * (v.x - c.c) * 1e9 + 0.5) AS BIGINT))
           AS d2
  FROM dims v JOIN cdims c ON c.i = v.i AND c.sub = v.sub
  GROUP BY 1, 2, 3
),
best0 AS (
  SELECT vec_id, sub, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                 ORDER BY d2, cid) AS rk FROM dist_t1
  ) WHERE rk = 1
),
best1 AS (
  SELECT vec_id, sub, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                 ORDER BY d2, cid) AS rk FROM dist_t2
  ) WHERE rk = 1
),
bestf AS (
  SELECT vec_id, sub, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                 ORDER BY d2, cid) AS rk FROM dist_f
  ) WHERE rk = 1
)
SELECT 0 AS iteration,
       floor(CAST(sum(d2) AS DOUBLE) / 1e9 * 10000 + 0.5) / 10000
         AS total_distortion,
       CAST(NULL AS BIGINT) AS n_changed
FROM best0
UNION ALL
SELECT 1,
       floor(CAST(sum(b.d2) AS DOUBLE) / 1e9 * 10000 + 0.5) / 10000,
       CAST(sum(CASE WHEN b.cid != p.cid THEN 1 ELSE 0 END) AS BIGINT)
FROM best1 b JOIN best0 p ON p.vec_id = b.vec_id AND p.sub = b.sub
UNION ALL
SELECT 2,
       floor(CAST(sum(b.d2) AS DOUBLE) / 1e9 * 10000 + 0.5) / 10000,
       CAST(sum(CASE WHEN b.cid != p.cid THEN 1 ELSE 0 END) AS BIGINT)
FROM bestf b JOIN best1 p ON p.vec_id = b.vec_id AND p.sub = b.sub
ORDER BY 1
"""


@register("emb_pq_train_curve", oracle=_pq_curve_oracle())
def q_emb_pq_train_curve(spark: SparkSession, sf_dir: str):

    emb = table(spark, "embeddings", sf_dir).filter(
        F.col("embedding").isNotNull() & (F.size("embedding") >= _PQ_M)
    )
    # the same training trajectory the serving lanes use (the
    # codebook is a persisted artifact at scale -- trained once per
    # corpus version, diagnosed and served from the same trajectory)
    books, _, cids = _pq_train_books(emb)

    # one corpus pass: distances against all three codebooks as codegen
    # sums, argmin + change flags inline, 3-row aggregate out
    # (no fanout: measured a net loss on serving passes, _pq_best_frame)
    rows = emb.select(
        "vec_id",
        F.size("embedding").alias("d"),
        F.posexplode("embedding").alias("i", "x"),
    )
    sub = F.floor(F.col("i") * _PQ_M / F.col("d")).cast("int")
    aggs = []
    for t, cents in enumerate(books):
        for cid in cids:
            clit = F.array(*[F.lit(v) for v in cents[cid]])
            diff = F.col("x").cast("double") - F.get(clit, F.col("i"))
            aggs.append(F.sum(_PQ_Q9I(diff * diff)).alias(f"d2_{t}_{cid}"))
    per = rows.groupBy("vec_id", sub.alias("sub")).agg(*aggs)
    bests = [
        F.array_min(
            F.array(
                *[
                    F.struct(
                        F.col(f"d2_{t}_{cid}").alias("d2"),
                        F.lit(cid).alias("cid"),
                    )
                    for cid in cids
                ]
            )
        )
        for t in range(len(books))
    ]
    picked = per.select(
        *[bests[t].getField("d2").alias(f"bd_{t}") for t in range(len(books))],
        *[bests[t].getField("cid").alias(f"bc_{t}") for t in range(len(books))],
    )
    contrib = picked.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("iteration"),
                        F.col(f"bd_{t}").alias("d2"),
                        (
                            F.lit(None).cast("int")
                            if t == 0
                            else F.when(
                                F.col(f"bc_{t}") != F.col(f"bc_{t - 1}"), 1
                            ).otherwise(0)
                        ).alias("chg"),
                    )
                    for t in range(len(books))
                ]
            )
        ).alias("z")
    ).select("z.iteration", "z.d2", "z.chg")
    return (
        contrib.groupBy("iteration")
        .agg(
            (
                F.floor(F.sum("d2").cast("double") / 1e9 * 10000 + 0.5) / 10000
            ).alias("total_distortion"),
            F.sum("chg").cast("bigint").alias("n_changed"),
        )
        .orderBy("iteration")
    )
# -- int8 scalar-quantization recall audit --------------------------------------
# sim_pq_adc_recall answers "what does PQ cost"; this answers the same
# question for the simpler production alternative: per-dimension affine
# int8 codes (emb_quantize_int8's exact arithmetic) ranked by SYMMETRIC
# code-space L2, recall@10 against exact-L2 truth for 10 probe queries.
# Scale shape: dim stats are a 64-row broadcast; the probe code/dim
# frames are 10x64 broadcasts -- both rankings keep the corpus stream
# un-shuffled until the (query, vec) candidate rows hit the partitioned
# top-k windows. All distances are integers (code deltas / 1e-9-grid
# floats), so rankings are bit-identical across engines. Evaluation cost
# note (same as the ADC lane): the exact-truth side is the audit's
# price, not the serving path's.
_I8_NQ, _I8_TOPK, _I8_DIM = 10, 10, 64

_I8_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_I8_DIM}
),
st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY dim),
codes AS (
  SELECT e.vec_id, e.dim,
         CAST(CASE WHEN st.mx = st.mn THEN 0
              ELSE floor((e.v - st.mn) / (st.mx - st.mn) * 255 + 0.5) - 128
              END AS BIGINT) AS code
  FROM ex e JOIN st USING (dim)
),
qd AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         sum((c.code - q.code) * (c.code - q.code)) AS qdist
  FROM codes c JOIN codes q ON q.dim = c.dim
  WHERE q.vec_id < {_I8_NQ} AND c.vec_id != q.vec_id
  GROUP BY 1, 2
),
int8_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY qdist, neighbor_id) AS rk
    FROM qd
  ) WHERE rk <= {_I8_TOPK}
),
exact AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         sum(CAST(floor((q.v - v.v) * (q.v - v.v) * 1e9 + 0.5) AS BIGINT))
           AS edist
  FROM ex q JOIN ex v ON v.dim = q.dim
  WHERE q.vec_id < {_I8_NQ} AND v.vec_id != q.vec_id
  GROUP BY 1, 2
),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY edist, neighbor_id) AS rk
    FROM exact
  ) WHERE rk <= {_I8_TOPK}
)
SELECT x.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_matched,
       floor(count(a.neighbor_id) * 1.0 / {_I8_TOPK} * 10000 + 0.5) / 10000
         AS recall_at_10
FROM exact_top x LEFT JOIN int8_top a
  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
GROUP BY 1 ORDER BY 1
"""


@register("sim_int8_recall", oracle=_I8_ORACLE)
def q_sim_int8_recall(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir).filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == _I8_DIM)
    )
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "_vf")
    ).select("vec_id", "dim", F.col("_vf").cast("double").alias("v"))
    st = ex.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    code = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.floor(
                (F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255
                + F.lit(0.5)
            )
            - 128
        )
        .cast("long")
    )
    codes = ex.join(F.broadcast(st), "dim").select(
        "vec_id", "dim", code.alias("code")
    )
    qcodes = F.broadcast(
        codes.filter(F.col("vec_id") < _I8_NQ).select(
            F.col("vec_id").alias("query_id"),
            "dim",
            F.col("code").alias("qcode"),
        )
    )
    qd = (
        codes.join(qcodes, "dim")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.sum(
                (F.col("code") - F.col("qcode"))
                * (F.col("code") - F.col("qcode"))
            ).alias("qdist")
        )
    )
    wq = Window.partitionBy("query_id").orderBy("qdist", "neighbor_id")
    int8_top = (
        qd.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= _I8_TOPK)
        .select("query_id", "neighbor_id")
    )
    qdims = F.broadcast(
        ex.filter(F.col("vec_id") < _I8_NQ).select(
            F.col("vec_id").alias("query_id"), "dim", F.col("v").alias("qv")
        )
    )
    exact = (
        ex.join(qdims, "dim")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.sum(
                F.floor(
                    (F.col("qv") - F.col("v"))
                    * (F.col("qv") - F.col("v"))
                    * 1e9
                    + 0.5
                ).cast("long")
            ).alias("edist")
        )
    )
    we = Window.partitionBy("query_id").orderBy("edist", "neighbor_id")
    exact_top = (
        exact.withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= _I8_TOPK)
        .select("query_id", "neighbor_id")
    )
    hit = F.broadcast(int8_top.withColumnRenamed("neighbor_id", "_hit"))
    return (
        exact_top.join(
            hit,
            (exact_top.query_id == hit.query_id)
            & (exact_top.neighbor_id == F.col("_hit")),
            "left",
        )
        .groupBy(exact_top.query_id)
        .agg(
            F.count("_hit").cast("bigint").alias("n_matched"),
            (
                F.floor(F.count("_hit") * 1.0 / _I8_TOPK * 10000 + 0.5) / 10000
            ).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )



