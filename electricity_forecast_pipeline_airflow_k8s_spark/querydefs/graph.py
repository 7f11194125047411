"""Graph analytics over the event-transition graph (round 5).

The events table induces a directed graph: nodes are event types, edges
are per-user consecutive-event transitions (the same bigrams as
`sess_markov_transitions`). PageRank over that graph ranks event types by
steady-state visit probability — the classic "which page matters"
primitive, here exercised as the repo's iterative-graph surface with an
exactly-checkable oracle.

Determinism design: PageRank in doubles is order-sensitive (parallel sums
compound across iterations), so every quantity lives on a fixed-point
integer grid — transition weights at scale 1e6, ranks at scale 1e9, all
products/divisions as exact integer ops (`div` / `//`), per-term
quantization BEFORE summation. Integer sums are associative, so the
Spark result is bit-identical to the DuckDB oracle's three unrolled
CTE iterations regardless of partitioning.

Scale story (100 TB): the single events-sized pass is the bigram
window + edge aggregation (one shuffle on user_id, one on the edge
key). Every iteration then touches only node/edge-sized tables: ranks
(nodes) broadcast into the edges join, inflow re-aggregated per node.
Node count rides along as a 1-row aggregate (crossJoin), never a
driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import reuse
from electricity_forecast_pipeline_airflow_k8s_spark.queries import register, table
from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.validation import (
    EVENTS_SRC,
)

_D_NUM, _D_DEN = 85, 100  # damping 0.85 as an exact ratio
_P_SCALE = 10**6  # transition-probability fixed-point scale
_R_SCALE = 10**9  # rank fixed-point scale
_ITERS = 3
# Per-hour co-occurrence edge-builder cap, shared by every error-graph lane
# AND interpolated into every oracle below (single source of truth -- ADVICE
# r10: a hardcoded 256 in the SQL would silently diverge from the Spark side
# if the constant ever changed).
_SSSP_HOUR_CAP = 256


def _cap_hours(ev):
    """Bound the quadratic per-hour co-occurrence pair build: keep the
    _SSSP_HOUR_CAP (256) smallest user_ids per hour bucket (deterministic
    tie-break; every oracle QUALIFYs identically). Inert at test SFs
    (sf0.1 peaks at 45 users/hour); at 10x+ it caps each hour's pair
    count at cap^2/2 instead of users^2/2 -- the round-10 scale ledger
    measured the UNCAPPED builders at 17-30x on 10x data (users/hour grew
    10x, pairs ~100x), which is why every error co-occurrence lane now
    shares the bound SSSP/LPA carried since round 7."""
    wcap = Window.partitionBy("h").orderBy("user_id")
    return (
        ev.withColumn("_rn", F.row_number().over(wcap))
        .filter(F.col("_rn") <= _SSSP_HOUR_CAP)
        .drop("_rn")
    )


def _pagerank_oracle() -> str:
    parts = [
        f"""
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM {EVENTS_SRC}
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
edges AS (
  SELECT a.event_type AS u, b.event_type AS v, count(*) AS c
  FROM seq a JOIN seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
  GROUP BY 1, 2
),
outdeg AS (SELECT u, sum(c) AS tot FROM edges GROUP BY 1),
w AS (
  SELECT e.u, e.v, (e.c * {_P_SCALE}) // o.tot AS p_fp
  FROM edges e JOIN outdeg o ON o.u = e.u
),
nodes AS (
  SELECT u AS node FROM edges UNION SELECT v FROM edges
),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS MATERIALIZED (SELECT node, (SELECT {_R_SCALE} // n FROM nn) AS r_fp FROM nodes)"""
    ]
    for i in range(1, _ITERS + 1):
        parts.append(
            f""",
inflow{i} AS MATERIALIZED (
  SELECT w.v AS node, sum((w.p_fp * r.r_fp) // {_P_SCALE}) AS s
  FROM w JOIN r{i - 1} r ON r.node = w.u GROUP BY 1
),
dang{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.r_fp), 0) AS m
  FROM r{i - 1} r LEFT JOIN outdeg o ON o.u = r.node WHERE o.u IS NULL
),
r{i} AS MATERIALIZED (
  SELECT n.node,
         ({(_D_DEN - _D_NUM) * _R_SCALE} // ({_D_DEN} * nn.n))
         + ({_D_NUM} * (coalesce(f.s, 0) + (d.m // nn.n))) // {_D_DEN} AS r_fp
  FROM nodes n CROSS JOIN nn CROSS JOIN dang{i} d
  LEFT JOIN inflow{i} f ON f.node = n.node
)"""
        )
    parts.append(
        f"""
SELECT node, CAST(r_fp AS BIGINT) AS pagerank_fp,
       floor(r_fp * 1.0 / 1000 + 0.5) / 1000000 AS pagerank
FROM r{_ITERS}
ORDER BY node
"""
    )
    return "".join(parts)


@register("graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str):
    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("v", F.lead("event_type").over(wseq))
        .filter(F.col("v").isNotNull())
        .groupBy(F.col("event_type").alias("u"), "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # the edge list is node^2-bounded; reusing it caps the whole
    # iteration pipeline at ONE events-sized pass (every downstream
    # table — outdeg, weights, nodes, dangling, the 3 rank iterations —
    # re-derives from this tiny table, not the fact scan)
    edges = reuse(edges)
    outdeg = edges.groupBy("u").agg(F.sum("c").alias("tot"))
    w = edges.join(outdeg, "u").select(
        "u", "v", F.expr(f"(c * {_P_SCALE}) div tot").alias("p_fp")
    )
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    dangling = nodes.join(outdeg, nodes.node == outdeg.u, "left_anti")
    ranks = nodes.crossJoin(nn).select(
        "node", F.expr(f"CAST({_R_SCALE} AS BIGINT) div n").alias("r_fp")
    )
    for _ in range(_ITERS):
        # each iteration references `ranks` twice (inflow + dangling), so
        # an unbroken lineage doubles per iteration (2^k plan copies — the
        # classic iterative-algorithm lineage explosion); the cut makes
        # each iteration's result materialize once instead of re-deriving
        # 2x per downstream reference
        ranks = reuse(ranks)
        inflow = (
            w.join(ranks, w.u == ranks.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(F.expr(f"(p_fp * r_fp) div {_P_SCALE}")).alias("s"))
        )
        dang = (
            ranks.join(dangling, "node", "left_semi")
            .agg(F.coalesce(F.sum("r_fp"), F.lit(0)).alias("m"))
        )
        ranks = (
            nodes.crossJoin(nn)
            .crossJoin(dang)
            .join(inflow, "node", "left")
            .select(
                "node",
                F.expr(
                    f"(({_D_DEN - _D_NUM} * CAST({_R_SCALE} AS BIGINT))"
                    f" div ({_D_DEN} * n))"
                    f" + ({_D_NUM} * (coalesce(s, CAST(0 AS BIGINT))"
                    f" + (m div n))) div {_D_DEN}"
                ).alias("r_fp"),
            )
        )
    out = ranks.select(
        "node",
        F.col("r_fp").alias("pagerank_fp"),
        (F.floor(F.col("r_fp") * 1.0 / 1000 + 0.5) / 1000000).alias("pagerank"),
    ).orderBy("node")
    return out


# -- Triangle count / clustering coefficient ---------------------------------
# Users co-occurring on "error" events in the same hour form an undirected
# graph; count its triangles and global clustering coefficient. Spark uses
# the DEGREE-ORDERED orientation (each edge directed toward the
# higher-(degree, id) endpoint, wedges enumerated only from each node's
# oriented out-list) — the standard trick that bounds wedge enumeration by
# arboricity instead of max-degree, which is what survives hub nodes at
# 100 TB. The oracle counts the same triangles by brute-force three-way
# self-join on id-ordered edges (a<b<c) — an independent derivation;
# triangle count is orientation-invariant.
@register(
    "graph_triangle_count",
    oracle=f"""
WITH b0 AS (
  SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h, user_id
  FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL AND user_id IS NOT NULL
),
b AS (
  -- bound the quadratic per-hour pair build: keep the _SSSP_HOUR_CAP
  -- smallest user_ids per hour (inert below that many users/hour)
  SELECT h, user_id FROM b0
  QUALIFY row_number() OVER (PARTITION BY h ORDER BY user_id) <= {_SSSP_HOUR_CAP}
),
e AS (
  SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
  FROM b a JOIN b c ON a.h = c.h AND a.user_id < c.user_id
),
nodes AS (SELECT ua AS n FROM e UNION SELECT ub FROM e),
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT ua AS n FROM e UNION ALL SELECT ub FROM e) GROUP BY 1
),
tri AS (
  SELECT count(*) AS t
  FROM e e1
  JOIN e e2 ON e2.ua = e1.ub
  JOIN e e3 ON e3.ua = e1.ua AND e3.ub = e2.ub
),
wed AS (SELECT coalesce(sum((d * (d - 1)) // 2), 0) AS w FROM deg)
SELECT (SELECT count(*) FROM nodes) AS n_nodes,
       (SELECT count(*) FROM e) AS n_edges,
       CAST((SELECT w FROM wed) AS BIGINT) AS n_wedges,
       (SELECT t FROM tri) AS n_triangles,
       floor(3.0 * (SELECT t FROM tri)
             / nullif((SELECT w FROM wed), 0) * 10000 + 0.5) / 10000
         AS clustering_coeff
""",
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str):
    """EXACT triangle count + global clustering coefficient.

    scale-ledger EXCLUDED by declared design: the capped error graph is a
    union of up-to-256-cliques, so exact enumeration is Omega(hours x
    cap^3) regardless of plan quality -- at 10x data it spilled >80 GB and
    hit ENOSPC (the one recorded scale failure, r10). This is the truth
    form backing the estimate's error measurement; never point it at a
    production corpus. tools/scale_bench.py EXCLUDED carries the matching
    entry and the measured scale path is graph_triangle_estimate
    (DOULION p=2/16: 3.4% error, flat 20x step)."""
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
    a, c = ev.alias("a"), ev.alias("c")
    edges = (
        a.join(
            c,
            (F.col("a.h") == F.col("c.h"))
            & (F.col("a.user_id") < F.col("c.user_id")),
        )
        .select(F.col("a.user_id").alias("ua"), F.col("c.user_id").alias("ub"))
        .distinct()
    )
    # the distinct edge list feeds degree, orientation (both wedge sides),
    # the closing join, and the edge count — reuse it so the expensive
    # co-occurrence self-join runs ONCE
    edges = reuse(edges)
    deg = (
        edges.select(F.col("ua").alias("n"))
        .union(edges.select(F.col("ub").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient each edge toward the higher-(degree, id) endpoint, carrying
    # the destination's rank for the wedge ordering below
    da = deg.withColumnsRenamed({"n": "ua", "d": "d_a"})
    db = deg.withColumnsRenamed({"n": "ub", "d": "d_b"})
    ranked = edges.join(da, "ua").join(db, "ub")
    a_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("ua") < F.col("ub"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("ua")).otherwise(F.col("ub")).alias("src"),
        F.when(a_first, F.col("ub")).otherwise(F.col("ua")).alias("dst"),
        F.when(a_first, F.col("d_b")).otherwise(F.col("d_a")).alias("dst_d"),
    )
    # round-12: `oriented` is consumed three times (both wedge sides + the
    # closing join); without a cut each consumer re-runs the degree agg
    # and the two orientation joins from the edge blocks (F4, guide §2.4)
    oriented = reuse(oriented)
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(
        y,
        (F.col("x.src") == F.col("y.src"))
        & (
            (F.col("x.dst_d") < F.col("y.dst_d"))
            | (
                (F.col("x.dst_d") == F.col("y.dst_d"))
                & (F.col("x.dst") < F.col("y.dst"))
            )
        ),
    ).select(F.col("x.dst").alias("src"), F.col("y.dst").alias("dst"))
    tri = wedges.join(
        oriented.select("src", "dst"), ["src", "dst"], "inner"
    ).agg(F.count(F.lit(1)).alias("t"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("n_wedges")
    )
    out = (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_wedges)
        .crossJoin(tri.withColumnRenamed("t", "n_triangles"))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                F.floor(
                    F.try_divide(3.0 * F.col("n_triangles"), F.col("n_wedges"))
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("clustering_coeff"),
        )
    )
    return out


# -- Triangle count at scale: DOULION edge sampling --------------------------
# The round-10 10x scale ledger proved exact triangle counting on this
# graph intractable past sf0.1: the capped co-occurrence graph is a union
# of (up to) 256-cliques, so the true triangle count is Omega(hours x
# cap^3) (~2e9 at 10x; sf0.1 already holds 7.4M) and ANY exact algorithm
# does at least that much work -- the 10x run exhausted 80 GB of shuffle
# spill (the ledger records the ENOSPC verbatim). The production answer is
# the classic DOULION estimator (Tsourakakis et al., KDD'09): keep each
# edge independently with probability p, count triangles on the sparse
# sample, scale by 1/p^3. Here p = 2/16 via the md5 first hex digit of
# the canonical edge key -- DETERMINISTIC and engine-portable, so the
# oracle replays the identical sample and the estimate is hash-exact
# (the estimator's variance is a property of the published algorithm;
# what the oracle certifies is that this engine computes it faithfully).
# Work drops by p^2 on wedges and p^3 on triangles: the 10x corpus that
# ENOSPC'd the exact lane runs in seconds.
_TRI_P_NUM, _TRI_P_DEN = 2, 16  # keep md5 first hex in {'0', '1'}


@register(
    "graph_triangle_estimate",
    oracle=f"""
WITH b0 AS (
  SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h, user_id
  FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL AND user_id IS NOT NULL
),
b AS (
  SELECT h, user_id FROM b0
  QUALIFY row_number() OVER (PARTITION BY h ORDER BY user_id) <= {_SSSP_HOUR_CAP}
),
e AS (
  SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
  FROM b a JOIN b c ON a.h = c.h AND a.user_id < c.user_id
),
es AS (
  SELECT ua, ub FROM e
  WHERE substr(md5(CAST(ua AS VARCHAR) || '|' || CAST(ub AS VARCHAR)), 1, 1)
        <= '1'
),
tri AS (
  SELECT count(*) AS t
  FROM es e1
  JOIN es e2 ON e2.ua = e1.ub
  JOIN es e3 ON e3.ua = e1.ua AND e3.ub = e2.ub
)
SELECT (SELECT count(*) FROM e) AS n_edges_total,
       (SELECT count(*) FROM es) AS n_edges_sampled,
       (SELECT t FROM tri) AS t_sampled,
       CAST((SELECT t FROM tri)
            * {(_TRI_P_DEN // _TRI_P_NUM) ** 3} AS BIGINT) AS t_estimate
""",
)
def q_graph_triangle_estimate(spark: SparkSession, sf_dir: str):
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
    a, c = ev.alias("a"), ev.alias("c")
    edges = (
        a.join(
            c,
            (F.col("a.h") == F.col("c.h"))
            & (F.col("a.user_id") < F.col("c.user_id")),
        )
        .select(F.col("a.user_id").alias("ua"), F.col("c.user_id").alias("ub"))
        .distinct()
    )
    edges = reuse(edges)
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
    sampled = reuse(edges.filter(keep))
    # same degree-ordered orientation as the exact lane, on the sample
    deg = (
        sampled.select(F.col("ua").alias("n"))
        .union(sampled.select(F.col("ub").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.withColumnsRenamed({"n": "ua", "d": "d_a"})
    db = deg.withColumnsRenamed({"n": "ub", "d": "d_b"})
    ranked = sampled.join(da, "ua").join(db, "ub")
    a_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("ua") < F.col("ub"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("ua")).otherwise(F.col("ub")).alias("src"),
        F.when(a_first, F.col("ub")).otherwise(F.col("ua")).alias("dst"),
        F.when(a_first, F.col("d_b")).otherwise(F.col("d_a")).alias("dst_d"),
    )
    # round-12: same three-consumer reuse as the exact lane (F4)
    oriented = reuse(oriented)
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(
        y,
        (F.col("x.src") == F.col("y.src"))
        & (
            (F.col("x.dst_d") < F.col("y.dst_d"))
            | (
                (F.col("x.dst_d") == F.col("y.dst_d"))
                & (F.col("x.dst") < F.col("y.dst"))
            )
        ),
    ).select(F.col("x.dst").alias("src"), F.col("y.dst").alias("dst"))
    tri = wedges.join(
        oriented.select("src", "dst"), ["src", "dst"], "inner"
    ).agg(F.count(F.lit(1)).alias("t_sampled"))
    scale = (_TRI_P_DEN // _TRI_P_NUM) ** 3
    out = (
        edges.agg(F.count(F.lit(1)).alias("n_edges_total"))
        .crossJoin(sampled.agg(F.count(F.lit(1)).alias("n_edges_sampled")))
        .crossJoin(tri)
        .select(
            "n_edges_total",
            "n_edges_sampled",
            "t_sampled",
            (F.col("t_sampled") * F.lit(scale)).cast("bigint").alias(
                "t_estimate"
            ),
        )
    )
    return out


# -- link prediction: common-neighbor / Jaccard scores for a seed batch ------
# The classic "people you may know" primitive on the same error
# co-occurrence graph as graph_triangle_count, scored the way production
# recommenders run it: for a SEED batch of users (here the 20 smallest
# ids — any deterministic batch), walk seed -> neighbor -> 2-hop
# candidate, count shared neighbors, drop already-connected pairs, rank.
# Seeding bounds the wedge work at sum over seeds of sum of neighbor
# degrees — independent of total graph size — where all-pairs scoring
# pays sum C(deg,2) over every node (measured 12.5s vs ~5s at sf0.1;
# at 100x nodes all-pairs is the job you batch, not the query you run).
# Jaccard uses exact integer degree arithmetic; the one double division
# is mirrored between engines.
@register(
    "graph_link_prediction",
    oracle=f"""
WITH b0 AS (
  SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h, user_id
  FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL AND user_id IS NOT NULL
),
b AS (
  -- bound the quadratic per-hour pair build: keep the _SSSP_HOUR_CAP
  -- smallest user_ids per hour (inert below that many users/hour)
  SELECT h, user_id FROM b0
  QUALIFY row_number() OVER (PARTITION BY h ORDER BY user_id) <= {_SSSP_HOUR_CAP}
),
e AS (
  SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
  FROM b a JOIN b c ON a.h = c.h AND a.user_id < c.user_id
),
und AS (
  SELECT ua AS v, ub AS n FROM e UNION ALL SELECT ub AS v, ua AS n FROM e
),
deg AS (SELECT v, count(*) AS d FROM und GROUP BY 1),
seeds AS (SELECT v FROM deg ORDER BY v LIMIT 20),
cand AS (
  SELECT x.v AS seed, y.n AS other, count(*) AS common
  FROM und x JOIN und y ON y.v = x.n AND y.n != x.v
  JOIN seeds s ON s.v = x.v
  GROUP BY 1, 2
),
new_pairs AS (
  SELECT c.seed, c.other, c.common
  FROM cand c
  LEFT JOIN e ON (e.ua = least(c.seed, c.other)
                  AND e.ub = greatest(c.seed, c.other))
  WHERE e.ua IS NULL
),
scored AS (
  SELECT p.seed, p.other, CAST(p.common AS BIGINT) AS common_neighbors,
         floor(p.common * 1.0 / (da.d + db.d - p.common) * 10000 + 0.5)
           / 10000 AS jaccard
  FROM new_pairs p
  JOIN deg da ON da.v = p.seed
  JOIN deg db ON db.v = p.other
)
SELECT seed, other, common_neighbors, jaccard
FROM scored
ORDER BY common_neighbors DESC, jaccard DESC, seed, other
LIMIT 20
""",
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str):
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
    a, c = ev.alias("a"), ev.alias("c")
    edges = (
        a.join(
            c,
            (F.col("a.h") == F.col("c.h"))
            & (F.col("a.user_id") < F.col("c.user_id")),
        )
        .select(F.col("a.user_id").alias("ua"), F.col("c.user_id").alias("ub"))
        .distinct()
    )
    edges = reuse(edges)
    und = edges.select(F.col("ua").alias("v"), F.col("ub").alias("n")).unionAll(
        edges.select(F.col("ub").alias("v"), F.col("ua").alias("n"))
    )
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    seeds = deg.select("v").orderBy("v").limit(20)
    x, y = und.alias("x"), und.alias("y")
    cand = (
        x.join(F.broadcast(seeds.withColumnRenamed("v", "sv")), F.col("x.v") == F.col("sv"))
        .join(y, (F.col("y.v") == F.col("x.n")) & (F.col("y.n") != F.col("x.v")))
        .groupBy(F.col("x.v").alias("seed"), F.col("y.n").alias("other"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    new_pairs = cand.join(
        edges,
        (edges.ua == F.least(cand.seed, cand.other))
        & (edges.ub == F.greatest(cand.seed, cand.other)),
        "left_anti",
    )
    da = deg.withColumnsRenamed({"v": "seed", "d": "da"})
    db = deg.withColumnsRenamed({"v": "other", "d": "db"})
    scored = (
        new_pairs.join(da, "seed")
        .join(db, "other")
        .select(
            "seed",
            "other",
            F.col("common").cast("long").alias("common_neighbors"),
            (
                F.floor(
                    F.col("common")
                    * 1.0
                    / (F.col("da") + F.col("db") - F.col("common"))
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("common_neighbors").desc(), F.col("jaccard").desc(), "seed", "other"
    ).limit(20)


# -- multi-source BFS: 3-hop reachability ------------------------------------
# Frontier expansion from the same 20-user seed set as
# graph_link_prediction: per hop, newly reached nodes and the cumulative
# count — the traversal primitive under "friends within N hops",
# influence radius, and blast-radius queries. Each hop is one join of
# the CURRENT frontier (small) against the adjacency list plus an
# anti-join against the visited set — never a full-graph pass per hop.
# The oracle unrolls the same three frontier CTEs; counts are exact
# integers, so the comparison is bit-level.
_BFS_HOPS = 3


def _bfs_oracle() -> str:
    parts = [
        f"""
WITH b0 AS (
  SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h, user_id
  FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL AND user_id IS NOT NULL
),
b AS (
  -- bound the quadratic per-hour pair build: keep the _SSSP_HOUR_CAP
  -- smallest user_ids per hour (inert below that many users/hour)
  SELECT h, user_id FROM b0
  QUALIFY row_number() OVER (PARTITION BY h ORDER BY user_id) <= {_SSSP_HOUR_CAP}
),
e AS (
  SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
  FROM b a JOIN b c ON a.h = c.h AND a.user_id < c.user_id
),
und AS (
  SELECT ua AS v, ub AS n FROM e UNION ALL SELECT ub AS v, ua AS n FROM e
),
nodes AS (SELECT DISTINCT v FROM und),
f0 AS (SELECT v FROM nodes ORDER BY v LIMIT 20),
vis0 AS MATERIALIZED (SELECT v FROM f0)"""
    ]
    for i in range(1, _BFS_HOPS + 1):
        parts.append(
            f""",
f{i} AS MATERIALIZED (
  SELECT DISTINCT u.n AS v
  FROM und u JOIN f{i - 1} f ON f.v = u.v
  WHERE u.n NOT IN (SELECT v FROM vis{i - 1})
),
vis{i} AS MATERIALIZED (SELECT v FROM vis{i - 1} UNION SELECT v FROM f{i})"""
        )
    sel = ["SELECT 0 AS hop, (SELECT count(*) FROM f0) AS n_new, (SELECT count(*) FROM vis0) AS n_cum"]
    for i in range(1, _BFS_HOPS + 1):
        sel.append(
            f"SELECT {i} AS hop, (SELECT count(*) FROM f{i}) AS n_new,"
            f" (SELECT count(*) FROM vis{i}) AS n_cum"
        )
    parts.append(
        "\nSELECT * FROM (\n" + "\nUNION ALL\n".join(sel) + "\n) ORDER BY hop\n"
    )
    return "".join(parts)


@register("graph_bfs_reachability", oracle=_bfs_oracle())
def q_graph_bfs_reachability(spark: SparkSession, sf_dir: str):
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
    a, c = ev.alias("a"), ev.alias("c")
    edges = (
        a.join(
            c,
            (F.col("a.h") == F.col("c.h"))
            & (F.col("a.user_id") < F.col("c.user_id")),
        )
        .select(F.col("a.user_id").alias("ua"), F.col("c.user_id").alias("ub"))
        .distinct()
    )
    # cut lineage on the edge list and per hop: an un-cut BFS lineage
    # re-derives the co-occurrence join once per hop reference (measured
    # 7.3s lazy vs ~2s cut at sf0.1) and grows exponentially with depth --
    # checkpoint-per-hop IS the production shape of distributed BFS
    edges = reuse(edges)
    und = edges.select(F.col("ua").alias("v"), F.col("ub").alias("n")).unionAll(
        edges.select(F.col("ub").alias("v"), F.col("ua").alias("n"))
    )
    # round-11: cut each hop's NEW frontier/visited immediately after
    # computing it (not at the top of the next iteration) -- the old
    # ordering left the hop-i expansion un-cut while BOTH the hop-i count
    # legs and the hop-i+1 cut re-ran it (the before-plan held 78
    # Exchanges of re-derived hops), so each expansion now runs once.
    frontier = reuse(und.select("v").distinct().orderBy("v").limit(20))
    visited = frontier
    out_rows = [
        frontier.agg(F.count(F.lit(1)).alias("n_new")).crossJoin(
            visited.agg(F.count(F.lit(1)).alias("n_cum"))
        ).select(F.lit(0).alias("hop"), "n_new", "n_cum")
    ]
    for i in range(1, _BFS_HOPS + 1):
        frontier = reuse(
            und.join(frontier.withColumnRenamed("v", "fv"), und.v == F.col("fv"))
            .select(F.col("n").alias("v"))
            .distinct()
            .join(visited, "v", "left_anti")
        )
        visited = reuse(visited.unionAll(frontier.select("v")).distinct())
        out_rows.append(
            frontier.agg(F.count(F.lit(1)).alias("n_new")).crossJoin(
                visited.agg(F.count(F.lit(1)).alias("n_cum"))
            ).select(F.lit(i).alias("hop"), "n_new", "n_cum")
        )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("hop")


# -- degree assortativity ----------------------------------------------------
# Newman's degree-assortativity coefficient on the co-occurrence graph:
# the Pearson correlation of endpoint degrees over edges (positive =
# hubs link hubs; negative = hub-and-spoke). The three power sums
# (sum jk, sum j+k, sum j^2+k^2) are exact integers over the edge list,
# and the closed-form r is one mirrored double expression — so the
# whole statistic is a couple of joins plus a 1-row reduction, exactly
# comparable across engines.
@register(
    "graph_assortativity",
    oracle=f"""
WITH b0 AS (
  SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h, user_id
  FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL AND user_id IS NOT NULL
),
b AS (
  -- bound the quadratic per-hour pair build: keep the _SSSP_HOUR_CAP
  -- smallest user_ids per hour (inert below that many users/hour)
  SELECT h, user_id FROM b0
  QUALIFY row_number() OVER (PARTITION BY h ORDER BY user_id) <= {_SSSP_HOUR_CAP}
),
e AS (
  SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
  FROM b a JOIN b c ON a.h = c.h AND a.user_id < c.user_id
),
und AS (SELECT ua AS v, ub AS n FROM e UNION ALL SELECT ub, ua FROM e),
deg AS (SELECT v, count(*) AS d FROM und GROUP BY 1),
ed AS (
  SELECT da.d AS j, db.d AS k
  FROM e JOIN deg da ON da.v = e.ua JOIN deg db ON db.v = e.ub
),
sums AS (
  SELECT count(*) AS m, sum(j * k) AS sjk, sum(j + k) AS sj,
         sum(j * j + k * k) AS sq
  FROM ed
)
SELECT CAST(m AS BIGINT) AS n_edges,
       floor((
         (sjk * 1.0 / m - (sj * 1.0 / (2 * m)) * (sj * 1.0 / (2 * m)))
         / (sq * 1.0 / (2 * m) - (sj * 1.0 / (2 * m)) * (sj * 1.0 / (2 * m)))
       ) * 10000 + 0.5) / 10000 AS assortativity
FROM sums
""",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str):
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
    a, c = ev.alias("a"), ev.alias("c")
    edges = (
        a.join(
            c,
            (F.col("a.h") == F.col("c.h"))
            & (F.col("a.user_id") < F.col("c.user_id")),
        )
        .select(F.col("a.user_id").alias("ua"), F.col("c.user_id").alias("ub"))
        .distinct()
    )
    und = edges.select(F.col("ua").alias("v")).unionAll(
        edges.select(F.col("ub").alias("v"))
    )
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    da = deg.withColumnsRenamed({"v": "ua", "d": "j"})
    db = deg.withColumnsRenamed({"v": "ub", "d": "k"})
    ed = edges.join(da, "ua").join(db, "ub")
    sums = ed.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum(F.col("j") + F.col("k")).alias("sj"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k")).alias("sq"),
    )
    mu = F.col("sj") * 1.0 / (2 * F.col("m"))
    r = (F.col("sjk") * 1.0 / F.col("m") - mu * mu) / (
        F.col("sq") * 1.0 / (2 * F.col("m")) - mu * mu
    )
    return sums.select(
        F.col("m").cast("long").alias("n_edges"),
        (F.floor(r * 10000 + 0.5) / 10000).alias("assortativity"),
    )


# -- k-core decomposition (iterative peeling) ---------------------------------
# The k-core of the error-hour co-occurrence graph (same edge construction
# as graph_link_prediction): repeatedly delete nodes with fewer than K
# alive neighbors until a fixed point — the standard cohesive-subgroup /
# spam-cluster primitive. Spark iterates to the TRUE fixed point with
# lineage capped per peel (``reuse``); peeling is monotone, so
# equal alive-counts imply convergence. The oracle unrolls the peel 10
# times — strictly more than the fixture needs (sf0.01 converges in 5;
# peels after convergence are no-ops) — and derives the same
# (node, core-degree) rows independently. Scale: every iteration touches
# node/edge-sized tables only; the alive set broadcasts while small and
# degrades to a shuffle join when it isn't.
_KCORE_K = 21
_KCORE_UNROLL = 10


def _kcore_oracle() -> str:
    parts = [
        f"""
WITH b0 AS (
  SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h, user_id
  FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL AND user_id IS NOT NULL
),
b AS (
  -- bound the quadratic per-hour pair build: keep the _SSSP_HOUR_CAP
  -- smallest user_ids per hour (inert below that many users/hour)
  SELECT h, user_id FROM b0
  QUALIFY row_number() OVER (PARTITION BY h ORDER BY user_id) <= {_SSSP_HOUR_CAP}
),
e AS (
  SELECT DISTINCT a.user_id AS ua, c.user_id AS ub
  FROM b a JOIN b c ON a.h = c.h AND a.user_id < c.user_id
),
und AS MATERIALIZED (
  SELECT ua AS v, ub AS n FROM e UNION ALL SELECT ub AS v, ua AS n FROM e
),
a0 AS MATERIALIZED (SELECT DISTINCT v FROM und)"""
    ]
    for i in range(1, _KCORE_UNROLL + 1):
        parts.append(
            f""",
a{i} AS MATERIALIZED (
  SELECT x.v
  FROM und x
  JOIN a{i - 1} s ON s.v = x.v
  JOIN a{i - 1} t ON t.v = x.n
  GROUP BY x.v HAVING count(*) >= {_KCORE_K}
)"""
        )
    parts.append(
        f"""
SELECT x.v AS user_id, count(*) AS core_degree
FROM und x
JOIN a{_KCORE_UNROLL} s ON s.v = x.v
JOIN a{_KCORE_UNROLL} t ON t.v = x.n
GROUP BY 1 ORDER BY 1"""
    )
    return "".join(parts)


@register("graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark: SparkSession, sf_dir: str):
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
    a, c = ev.alias("a"), ev.alias("c")
    e = (
        a.join(
            c,
            (F.col("a.h") == F.col("c.h"))
            & (F.col("a.user_id") < F.col("c.user_id")),
        )
        .select(
            F.col("a.user_id").alias("ua"), F.col("c.user_id").alias("ub")
        )
        .distinct()
    )
    und = reuse(
        e.select(F.col("ua").alias("v"), F.col("ub").alias("n")).unionAll(
            e.select(F.col("ub").alias("v"), F.col("ua").alias("n"))
        )
    )
    alive = und.select("v").distinct()
    prev, cur = -1, alive.count()
    while cur != prev:
        survivors = (
            und.join(alive.withColumnRenamed("v", "vv"), F.col("v") == F.col("vv"), "semi")
            .join(alive.withColumnRenamed("v", "nn"), F.col("n") == F.col("nn"), "semi")
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("v")
        )
        alive = reuse(survivors)
        prev, cur = cur, alive.count()
    return (
        und.join(alive.withColumnRenamed("v", "vv"), F.col("v") == F.col("vv"), "semi")
        .join(alive.withColumnRenamed("v", "nn"), F.col("n") == F.col("nn"), "semi")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("v").alias("user_id"), "core_degree")
        .orderBy("user_id")
    )


# -- bounded weighted shortest paths (Bellman-Ford, round 6) ------------------
# graph_bfs_reachability answers hop distance; this weights the same
# error-co-occurrence graph by tie strength (many shared incident hours
# = a cheap edge: w = max(1, 100 // shared_hours)) and runs FOUR
# Bellman-Ford relaxation rounds from the smallest node id. All weights
# and distances are exact integers, and the oracle is the SAME algebra
# as four chained min-aggregate CTEs -- no recursive CTE path explosion,
# no float drift, bit-identical by construction. Scale: every round is
# one edge-sized join + one node-sized min-aggregate; rounds are the
# only sequential dimension (k-bounded SSSP is what a 100 TB job runs
# anyway -- full convergence is k = graph diameter).
# Edge-builder bound: the per-hour self-join is quadratic in
# users-per-hour, so each hour bucket is capped at the _SSSP_HOUR_CAP
# smallest user_ids (deterministic tie-break; identical QUALIFY in the
# oracle). sf0.1 peaks at 45 users/hour so the cap is inert at test
# scale, but at 100x (~2,700 users in a hot hour) it bounds the pair
# count at cap^2/2 per hour instead of exploding -- see SCALING.md.
_SSSP_ROUNDS = 4
# _SSSP_HOUR_CAP is defined at the top of the module (the oracle f-strings
# above interpolate it at import time).


def _sssp_oracle() -> str:
    head = f"""
WITH b0 AS (
  SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h, user_id
  FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL AND user_id IS NOT NULL
),
b AS (
  SELECT h, user_id FROM b0
  QUALIFY row_number() OVER (PARTITION BY h ORDER BY user_id)
          <= {_SSSP_HOUR_CAP}
),
e0 AS (
  SELECT a.user_id AS ua, c.user_id AS ub, count(*) AS sh
  FROM b a JOIN b c ON a.h = c.h AND a.user_id < c.user_id
  GROUP BY 1, 2
),
e AS (
  SELECT ua AS u, ub AS v, greatest(1, 100 // sh) AS w FROM e0
  UNION ALL
  SELECT ub AS u, ua AS v, greatest(1, 100 // sh) AS w FROM e0
),
src AS (SELECT min(ua) AS s FROM e0),
d0 AS (SELECT s AS v, CAST(0 AS BIGINT) AS dist FROM src)
"""
    steps = []
    for k in range(_SSSP_ROUNDS):
        steps.append(f""",
d{k + 1} AS (
  SELECT v, min(dist) AS dist FROM (
    SELECT v, dist FROM d{k}
    UNION ALL
    SELECT e.v, d{k}.dist + e.w AS dist
    FROM d{k} JOIN e ON e.u = d{k}.v
  ) GROUP BY 1
)""")
    tail = f"""
SELECT dist, count(*) AS n_nodes,
       CAST(min(v) AS BIGINT) AS min_node
FROM d{_SSSP_ROUNDS} GROUP BY 1 ORDER BY 1
"""
    return head + "".join(steps) + tail


@register("graph_sssp_weighted", oracle=_sssp_oracle())
def q_graph_sssp_weighted(spark: SparkSession, sf_dir: str):
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
    a = ev.select(F.col("h"), F.col("user_id").alias("ua"))
    c = ev.select(F.col("h"), F.col("user_id").alias("ub"))
    e0 = (
        a.join(c, "h")
        .filter(F.col("ua") < F.col("ub"))
        .groupBy("ua", "ub")
        .agg(F.count(F.lit(1)).alias("sh"))
    )
    w = F.greatest(F.lit(1), (F.lit(100) / F.col("sh")).cast("long"))
    edges = reuse(
        e0.select(F.col("ua").alias("u"), F.col("ub").alias("v"), w.alias("w"))
        .unionAll(
            e0.select(F.col("ub").alias("u"), F.col("ua").alias("v"), w.alias("w"))
        )
    )
    src = e0.agg(F.min("ua").alias("v")).select(
        "v", F.lit(0).cast("bigint").alias("dist")
    )
    # per-round lineage caps (reliable checkpoint() when a dir is
    # configured -- the same primitive the dedup iteratives use)
    d = src
    for _ in range(_SSSP_ROUNDS):
        relaxed = (
            d.join(edges, d["v"] == edges["u"])
            .select(edges["v"].alias("v"), (d["dist"] + edges["w"]).alias("dist"))
        )
        d = reuse(
            d.select("v", "dist")
            .unionAll(relaxed)
            .groupBy("v")
            .agg(F.min("dist").alias("dist"))
        )
    out = (
        d.groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("v").cast("bigint").alias("min_node"),
        )
        .orderBy("dist")
    )
    return out


# -- weighted label propagation (community detection, 2 synchronous rounds) --
# The community-detection counterpart of the SSSP/k-core/CC iteratives:
# on the hour-capped error co-occurrence graph (same capped builder as
# graph_sssp_weighted, affinity weight = shared hours), every node starts
# as its own label and each synchronous round adopts the label with the
# LARGEST total neighbor affinity (tie-break: smaller label). Two rounds
# bounded -- like the k-bounded SSSP, rounds are the only sequential
# dimension, and each is one edge-sized join + one (node, label)-sized
# argmax. The oracle chains the same algebra as CTEs; identical integer
# weights make the argmax deterministic on both engines.
_LPA_ROUNDS = 2
_LPA_HOUR_CAP = 256


def _lpa_oracle() -> str:
    head = f"""
WITH b0 AS (
  SELECT DISTINCT date_trunc('hour', ts::TIMESTAMP) AS h, user_id
  FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL AND user_id IS NOT NULL
),
b AS (
  SELECT h, user_id FROM b0
  QUALIFY row_number() OVER (PARTITION BY h ORDER BY user_id)
          <= {_LPA_HOUR_CAP}
),
e0 AS (
  SELECT a.user_id AS ua, c.user_id AS ub, count(*) AS sh
  FROM b a JOIN b c ON a.h = c.h AND a.user_id < c.user_id
  GROUP BY 1, 2
),
e AS (
  SELECT ua AS u, ub AS v, sh FROM e0
  UNION ALL
  SELECT ub AS u, ua AS v, sh FROM e0
),
l0 AS (SELECT DISTINCT u AS v, u AS label FROM e)
"""
    steps = []
    for k in range(_LPA_ROUNDS):
        steps.append(f""",
l{k + 1} AS (
  SELECT v, label FROM (
    SELECT e.u AS v, l.label,
           row_number() OVER (PARTITION BY e.u
                              ORDER BY sum(e.sh) DESC, l.label) AS rk
    FROM e JOIN l{k} l ON l.v = e.v
    GROUP BY e.u, l.label
  ) WHERE rk = 1
)""")
    tail = f"""
SELECT label AS community,
       count(*) AS n_members,
       CAST(min(v) AS BIGINT) AS min_node
FROM l{_LPA_ROUNDS} GROUP BY 1 ORDER BY 1
"""
    return head + "".join(steps) + tail


@register("graph_label_propagation", oracle=_lpa_oracle())
def q_graph_label_propagation(spark: SparkSession, sf_dir: str):
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
    wcap = Window.partitionBy("h").orderBy("user_id")
    ev = (
        ev.withColumn("_rn", F.row_number().over(wcap))
        .filter(F.col("_rn") <= _LPA_HOUR_CAP)
        .drop("_rn")
    )
    a = ev.select("h", F.col("user_id").alias("ua"))
    c = ev.select("h", F.col("user_id").alias("ub"))
    e0 = (
        a.join(c, "h")
        .filter(F.col("ua") < F.col("ub"))
        .groupBy("ua", "ub")
        .agg(F.count(F.lit(1)).alias("sh"))
    )
    edges = reuse(
        e0.select(F.col("ua").alias("u"), F.col("ub").alias("v"), "sh")
        .unionAll(e0.select(F.col("ub").alias("u"), F.col("ua").alias("v"), "sh"))
    )
    labels = edges.select(F.col("u").alias("v")).distinct().withColumn(
        "label", F.col("v")
    )
    for _ in range(_LPA_ROUNDS):
        w = Window.partitionBy("nv").orderBy(F.desc("s"), "label")
        labels = reuse(
            edges.join(labels, edges["v"] == labels["v"])
            .groupBy(edges["u"].alias("nv"), "label")
            .agg(F.sum("sh").alias("s"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(F.col("nv").alias("v"), "label")
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("v").cast("bigint").alias("min_node"),
        )
        .orderBy("community")
    )


# -- personalized PageRank (seed-restart ranking) -------------------------------
# graph_pagerank ranks globally; recommendation/similarity serving needs
# the PERSONALIZED variant: all teleport mass (and dangling mass)
# restarts at one seed node, so ranks measure proximity TO THE SEED.
# Same determinism design as graph_pagerank: every quantity on a
# fixed-point integer grid (weights 1e6, ranks 1e9, per-term integer
# division before summation -- integer sums are associative, so Spark is
# bit-identical to the oracle's unrolled CTE iterations regardless of
# partitioning). Seed = the lexicographically smallest node, derived as
# a 1-row frame (crossJoin), never a collect. Same scale story: one
# events-sized pass builds the edge list; iterations touch node/edge-
# sized tables only, lineage capped per iteration.
_PPR_ITERS = 3


def _ppr_oracle() -> str:
    from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.graph import (
        _D_DEN,
        _D_NUM,
        _P_SCALE,
        _R_SCALE,
    )

    parts = [
        f"""
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM {EVENTS_SRC}
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
edges AS (
  SELECT a.event_type AS u, b.event_type AS v, count(*) AS c
  FROM seq a JOIN seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
  GROUP BY 1, 2
),
outdeg AS (SELECT u, sum(c) AS tot FROM edges GROUP BY 1),
w AS (
  SELECT e.u, e.v, (e.c * {_P_SCALE}) // o.tot AS p_fp
  FROM edges e JOIN outdeg o ON o.u = e.u
),
nodes AS (
  SELECT u AS node FROM edges UNION SELECT v FROM edges
),
seed AS (SELECT min(node) AS s FROM nodes),
r0 AS MATERIALIZED (
  SELECT node, CASE WHEN node = (SELECT s FROM seed)
               THEN CAST({_R_SCALE} AS BIGINT) ELSE 0 END AS r_fp
  FROM nodes
)"""
    ]
    for i in range(1, _PPR_ITERS + 1):
        parts.append(
            f""",
inflow{i} AS MATERIALIZED (
  SELECT w.v AS node, sum((w.p_fp * r.r_fp) // {_P_SCALE}) AS s
  FROM w JOIN r{i - 1} r ON r.node = w.u GROUP BY 1
),
dang{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.r_fp), 0) AS m
  FROM r{i - 1} r LEFT JOIN outdeg o ON o.u = r.node WHERE o.u IS NULL
),
r{i} AS MATERIALIZED (
  SELECT n.node,
         (CASE WHEN n.node = (SELECT s FROM seed)
               THEN ({(_D_DEN - _D_NUM) * _R_SCALE}) // {_D_DEN}
               ELSE 0 END)
         + ({_D_NUM} * (coalesce(f.s, 0)
             + CASE WHEN n.node = (SELECT s FROM seed) THEN d.m ELSE 0 END))
           // {_D_DEN} AS r_fp
  FROM nodes n CROSS JOIN dang{i} d
  LEFT JOIN inflow{i} f ON f.node = n.node
)"""
        )
    parts.append(
        f"""
SELECT node,
       (SELECT s FROM seed) AS seed,
       CAST(r_fp AS BIGINT) AS ppr_fp,
       floor(r_fp * 1.0 / 1000 + 0.5) / 1000000 AS ppr
FROM r{_PPR_ITERS}
ORDER BY node
"""
    )
    return "".join(parts)


@register("graph_ppr_unrolled", oracle=_ppr_oracle())
def q_graph_ppr_unrolled(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.graph import (
        _D_DEN,
        _D_NUM,
        _P_SCALE,
        _R_SCALE,
    )

    ev = (
        table(spark, "events", sf_dir)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("v", F.lead("event_type").over(wseq))
        .filter(F.col("v").isNotNull())
        .groupBy(F.col("event_type").alias("u"), "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    edges = reuse(edges)
    outdeg = edges.groupBy("u").agg(F.sum("c").alias("tot"))
    w = edges.join(outdeg, "u").select(
        "u", "v", F.expr(f"(c * {_P_SCALE}) div tot").alias("p_fp")
    )
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    seed = nodes.agg(F.min("node").alias("s"))
    dangling = nodes.join(outdeg, nodes.node == outdeg.u, "left_anti")
    ranks = nodes.crossJoin(F.broadcast(seed)).select(
        "node",
        F.when(F.col("node") == F.col("s"), F.lit(_R_SCALE).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("r_fp"),
    )
    for _ in range(_PPR_ITERS):
        # per-iteration cut (see the PageRank loop)
        ranks = reuse(ranks)
        inflow = (
            w.join(ranks, w.u == ranks.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(F.expr(f"(p_fp * r_fp) div {_P_SCALE}")).alias("infl"))
        )
        dang = ranks.join(dangling, "node", "left_semi").agg(
            F.coalesce(F.sum("r_fp"), F.lit(0)).alias("m")
        )
        ranks = (
            nodes.crossJoin(F.broadcast(seed))
            .crossJoin(F.broadcast(dang))
            .join(inflow, "node", "left")
            .select(
                "node",
                (
                    F.when(
                        F.col("node") == F.col("s"),
                        F.lit(((_D_DEN - _D_NUM) * _R_SCALE) // _D_DEN).cast(
                            "long"
                        ),
                    ).otherwise(F.lit(0).cast("long"))
                    + F.expr(
                        f"({_D_NUM} * (coalesce(infl, CAST(0 AS BIGINT))"
                        f" + CASE WHEN node = s THEN m"
                        f" ELSE CAST(0 AS BIGINT) END)) div {_D_DEN}"
                    )
                ).alias("r_fp"),
            )
        )
    out = ranks.crossJoin(F.broadcast(seed.withColumnRenamed("s", "seed"))).select(
        "node",
        "seed",
        F.col("r_fp").alias("ppr_fp"),
        (F.floor(F.col("r_fp") * 1.0 / 1000 + 0.5) / 1000000).alias("ppr"),
    ).orderBy("node")
    return out
