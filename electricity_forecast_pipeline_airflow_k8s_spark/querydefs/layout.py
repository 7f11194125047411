"""Data-layout diagnostics (round 5): z-order clustering quality and
equi-depth histograms.

Z-ordering is THE write-time lever for 100 TB scan pruning: range-bin
each clustering column by rank (equi-depth, exactly how Delta's OPTIMIZE
ZORDER derives range_partition_id), interleave the bin bits into a
Morton code, and pack rows into files by code prefix. The diagnostic
below builds that layout for orders over (o_custkey, o_orderdate) and
measures what a reader would feel: how many files a single customer's
orders span (point-lookup pruning) and each file's date span (range-scan
pruning), against a md5-hash-bucketed baseline of the same file count.

Determinism: bin assignment uses exact ntile semantics over a total
tie-broken order, bit interleaving is pure integer arithmetic, and the
hash baseline derives from md5 hex — all bit-identical across engines.
Both ntiles are computed with the broadcast edge-binning operator
(``operators/ranking.py ntile_by_edges``: one narrow range sort derives
the 63 boundary tuples, then the fact is binned by a shuffle-free
broadcast comparison), so no single-partition WindowExec ever touches
the fact — the same boundary-derivation move Delta's OPTIMIZE ZORDER
uses (range_partition_id from sampled bounds), but exact.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import (
    fanout,
    reuse,
)
from electricity_forecast_pipeline_airflow_k8s_spark.queries import register, table

_BITS = 6  # 64 range bins per dimension -> 12-bit Morton code
_FILE_SHIFT = 4  # file id = code >> 4 -> 256 "files"


def _interleave(x: str, y: str) -> str:
    """SQL fragment interleaving the low _BITS bits of x (even positions)
    and y (odd positions) — identical syntax in Spark SQL and DuckDB."""
    terms = []
    for i in range(_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         ntile(64) OVER (ORDER BY o_custkey, o_orderkey) - 1 AS xb,
         ntile(64) OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS yb,
         datediff('day', DATE '1992-01-01', o_orderdate::TIMESTAMP) AS dd
  FROM orders
),
coded AS (
  SELECT o_orderkey, o_custkey, dd,
         ({_interleave('xb', 'yb')}) >> {_FILE_SHIFT} AS zfile,
         CAST((strpos('0123456789abcdef',
                      substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef',
                        substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)
              AS BIGINT) AS hfile
  FROM o
),
layouts AS (
  SELECT 'zorder' AS layout, zfile AS file_id, o_custkey, dd FROM coded
  UNION ALL
  SELECT 'hash' AS layout, hfile AS file_id, o_custkey, dd FROM coded
),
per_file AS (
  SELECT layout, file_id, count(*) AS n_rows,
         max(dd) - min(dd) AS span_days
  FROM layouts GROUP BY 1, 2
),
cust_files AS (
  SELECT layout, o_custkey, count(DISTINCT file_id) AS nf
  FROM layouts GROUP BY 1, 2
)
SELECT p.layout,
       count(*) AS n_files,
       max(p.n_rows) AS max_file_rows,
       floor(avg(p.span_days) * 10000 + 0.5) / 10000 AS avg_file_span_days,
       (SELECT floor(avg(nf) * 10000 + 0.5) / 10000
        FROM cust_files c WHERE c.layout = p.layout) AS avg_files_per_cust
FROM per_file p
GROUP BY 1
ORDER BY 1
"""


@register("layout_zorder_locality", oracle=_ZORDER_ORACLE)
def q_layout_zorder_locality(spark: SparkSession, sf_dir: str):
    o = table(spark, "orders", sf_dir)
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "dd"
        ),
    )
    # round-11 F1+F4 (guide §2.5, §2.4): the single-row-group orders scan
    # is re-read single-task by BOTH boundary-derivation jobs AND the
    # final plan's layout branches. Fan it out and materialize once.
    base = reuse(fanout(base))
    # two narrow boundary-derivation sorts (key columns only) + broadcast
    # edge binning on the fact -- no Window, no full-frame rank pass.
    # Round-12 (guide §2.6): the two dimensions' boundary jobs are
    # independent multi-job pipelines over the same checkpointed base, so
    # they run from two driver threads and overlap instead of serializing
    # ~half the lane's wall-clock.
    from concurrent.futures import ThreadPoolExecutor

    from electricity_forecast_pipeline_airflow_k8s_spark.operators.ranking import (
        apply_ntile_edges,
        ntile_edges,
    )

    xcols, ycols = ["o_custkey", "o_orderkey"], ["o_orderdate", "o_orderkey"]
    # Store the checkpoint before the threads start. Two concurrent jobs
    # that both compute a lazy checkpoint can deadlock in Spark: a finished
    # job's RDD.doCheckpoint holds RDDCheckpointData's global lock and waits
    # for the RDD's lock, while the DAG scheduler, submitting the other
    # job, holds the RDD's lock and waits for the global one.
    base.count()
    with ThreadPoolExecutor(max_workers=2) as pool:
        fx = pool.submit(ntile_edges, base, xcols, k=64)
        fy = pool.submit(ntile_edges, base, ycols, k=64)
        (ex, nx), (ey, ny) = fx.result(), fy.result()
    binned = apply_ntile_edges(base, xcols, ex, nx, tile_col="xb1")
    binned = apply_ntile_edges(binned, ycols, ey, ny, tile_col="yb1")
    coded = binned.select(
        "o_orderkey",
        "o_custkey",
        "dd",
        (F.col("xb1") - 1).alias("xb"),
        (F.col("yb1") - 1).alias("yb"),
    ).select(
        "o_orderkey",
        "o_custkey",
        "dd",
        F.expr(f"({_interleave('xb', 'yb')}) >> {_FILE_SHIFT}").alias("zfile"),
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2), 16, 10)
        .cast("long")
        .alias("hfile"),
    )
    # (measured: a lazy checkpoint of coded was a NET LOSS -- the bin
    # search + Morton interleave re-evaluations it saves are cheaper
    # than materializing the frame; re-deriving from the base blocks is
    # the right trade, see OPTIMIZATION_r11.md layout rows)
    layouts = coded.select(
        F.lit("zorder").alias("layout"),
        F.col("zfile").alias("file_id"),
        "o_custkey",
        "dd",
    ).unionAll(
        coded.select(
            F.lit("hash").alias("layout"),
            F.col("hfile").alias("file_id"),
            "o_custkey",
            "dd",
        )
    )
    per_file = layouts.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.max("dd") - F.min("dd")).alias("span_days"),
    )
    file_stats = per_file.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.max("n_rows").alias("max_file_rows"),
        (F.floor(F.avg("span_days") * 10000 + 0.5) / 10000).alias(
            "avg_file_span_days"
        ),
    )
    cust_stats = (
        layouts.groupBy("layout", "o_custkey")
        .agg(F.count_distinct("file_id").alias("nf"))
        .groupBy("layout")
        .agg(
            (F.floor(F.avg("nf") * 10000 + 0.5) / 10000).alias(
                "avg_files_per_cust"
            )
        )
    )
    return file_stats.join(cust_stats, "layout").orderBy("layout")


# -- equi-depth (decile) histogram -------------------------------------------
# The other histogram family: ts_value_histogram is equi-WIDTH; this is
# equi-DEPTH via ntile over a total tie-broken order — the shape optimizers
# use for selectivity estimation and the sanity check for skewed money
# columns (equal counts, widening bounds). Exact same ntile semantics in
# both engines given the deterministic (price, key) order; computed via
# broadcast edge binning so the fact never funnels through one task.
@register(
    "rel_equidepth_histogram",
    oracle="""
WITH d AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT decile,
       count(*) AS n_rows,
       floor(min(o_totalprice) * 100 + 0.5) / 100 AS lo_price,
       floor(max(o_totalprice) * 100 + 0.5) / 100 AS hi_price
FROM d GROUP BY 1 ORDER BY 1
""",
)
def q_rel_equidepth_histogram(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.ranking import (
        ntile_by_edges,
    )

    o = table(spark, "orders", sf_dir)
    binned = ntile_by_edges(
        o.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        k=10,
        tile_col="decile",
    )
    return (
        binned.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.floor(F.min("o_totalprice") * 100 + 0.5) / 100).alias("lo_price"),
            (F.floor(F.max("o_totalprice") * 100 + 0.5) / 100).alias("hi_price"),
        )
        .orderBy("decile")
    )


# -- zone-map file-skipping simulation ----------------------------------------
# The lakehouse question layout_zorder_locality doesn't answer directly:
# given a physical layout, how many FILES does a point lookup on a
# non-layout column touch? Rows are packed into 64 equal files by
# ntile_by_edges under two layouts (time-clustered vs custkey-clustered),
# each file carries a (min, max) custkey zone map, and 20 evenly-spaced
# probe keys count the files whose zone straddles them. The
# custkey-sorted layout should prune to ~1 file/probe; the time-sorted
# one scans nearly everything -- the quantified argument for sorting on
# the lookup key. Scale: the layouts ride the distributed edge-binner
# (no single-task window); zones are 64-row aggregates and the
# probe x zone join is 20 x 64.
_ZM_FILES, _ZM_PROBES = 64, 20


def _zonemap_oracle() -> str:
    layouts = {
        "custkey_sorted": "c.o_custkey, c.o_orderkey",
        "time_sorted": "c.o_orderdate, c.o_orderkey",
    }
    zone_rows = "\n  UNION ALL\n".join(
        f"  SELECT '{name}' AS layout, f, min(o_custkey) AS zmin,"
        f" max(o_custkey) AS zmax FROM ("
        f"SELECT c.o_custkey, ntile({_ZM_FILES}) OVER (ORDER BY {order})"
        f" AS f FROM orders c) GROUP BY 1, 2"
        for name, order in layouts.items()
    )
    return f"""
WITH zones AS (
{zone_rows}
),
span AS (SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax FROM orders),
probes AS (
  SELECT cmin + CAST(floor(j * (cmax - cmin) / {_ZM_PROBES - 1}) AS BIGINT)
           AS p
  FROM span, unnest(range(0, {_ZM_PROBES})) r(j)
),
hits AS (
  SELECT z.layout, p.p, count(*) AS n_files_hit
  FROM probes p JOIN zones z ON p.p BETWEEN z.zmin AND z.zmax
  GROUP BY 1, 2
)
SELECT layout,
       CAST({_ZM_FILES} AS BIGINT) AS n_files,
       floor(avg(n_files_hit) * 10000 + 0.5) / 10000 AS avg_files_scanned,
       floor(avg(n_files_hit) / {_ZM_FILES} * 10000 + 0.5) / 10000
         AS scan_pct
FROM hits GROUP BY 1 ORDER BY 1
"""


@register("layout_zonemap_pruning", oracle=_zonemap_oracle())
def q_layout_zonemap_pruning(spark: SparkSession, sf_dir: str):
    # round-11 F1+F4: one fanned-out materialization of the 3-column
    # projection feeds both layouts' boundary jobs, the span agg and the
    # final zone aggregates
    orders = reuse(
        fanout(
            table(spark, "orders", sf_dir).select(
                "o_orderkey", "o_custkey", "o_orderdate"
            )
        )
    )
    layouts = {
        "custkey_sorted": ["o_custkey", "o_orderkey"],
        "time_sorted": ["o_orderdate", "o_orderkey"],
    }
    # round-12 (guide §2.6): the two layouts' boundary-derivation jobs are
    # independent pipelines over the same checkpointed base -- run them
    # from driver threads so they overlap (same move as zorder)
    from concurrent.futures import ThreadPoolExecutor

    from electricity_forecast_pipeline_airflow_k8s_spark.operators.ranking import (
        apply_ntile_edges,
        ntile_edges,
    )

    orders.count()  # store the checkpoint first, as layout_zorder_locality does
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = {
            name: pool.submit(ntile_edges, orders, cols, k=_ZM_FILES)
            for name, cols in layouts.items()
        }
    zones = None
    for name, order_cols in layouts.items():
        edges, n = futs[name].result()
        tiled = apply_ntile_edges(orders, order_cols, edges, n, tile_col="f")
        z = tiled.groupBy("f").agg(
            F.min("o_custkey").alias("zmin"), F.max("o_custkey").alias("zmax")
        ).select(F.lit(name).alias("layout"), "f", "zmin", "zmax")
        zones = z if zones is None else zones.unionAll(z)
    span = orders.agg(
        F.min("o_custkey").alias("cmin"), F.max("o_custkey").alias("cmax")
    )
    probes = span.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_ZM_PROBES - 1)),
                lambda j: F.col("cmin")
                + F.floor(
                    j * (F.col("cmax") - F.col("cmin")) / (_ZM_PROBES - 1)
                ).cast("long"),
            )
        ).alias("p")
    )
    hits = (
        probes.join(
            F.broadcast(zones),
            (F.col("p") >= F.col("zmin")) & (F.col("p") <= F.col("zmax")),
        )
        .groupBy("layout", "p")
        .agg(F.count(F.lit(1)).alias("n_files_hit"))
    )
    r4 = lambda c: F.floor(c * 10000 + 0.5) / 10000  # noqa: E731
    return (
        hits.groupBy("layout")
        .agg(
            F.lit(_ZM_FILES).cast("bigint").alias("n_files"),
            r4(F.avg("n_files_hit")).alias("avg_files_scanned"),
            r4(F.avg("n_files_hit") / _ZM_FILES).alias("scan_pct"),
        )
        .orderBy("layout")
    )


# -- bloom-filter file-skipping simulation --------------------------------------
# layout_zonemap_pruning shows zone maps prune the SORTED layout to ~1
# file/probe -- and scan ~everything on the time-sorted layout, because
# every file's custkey [min, max] straddles the whole domain. Bloom
# filters are the production answer for exactly that case: point lookups
# on a column uncorrelated with sort order. Rows pack into the same 64
# time-sorted files; each file carries a bloom filter over its custkeys
# (m = 16384 bits, 3 universal-hash functions ((key*A_j + B_j) mod P)
# mod m -- explicit integer arithmetic so both engines compute identical
# bits); 20 evenly-spaced probe keys report files-by-truth, files-by-
# zonemap, files-by-bloom, and the bloom's false positives (bloom never
# misses: bloom >= truth by construction, pinned in tests). Scale: the
# per-file bit sets are (files x 3*keys-per-file)-bounded aggregates,
# the probe-side frames are 20x3 rows, and every join against them is a
# broadcast -- the fact table is scanned once per layout build, as in
# the zonemap lane.
_BF_FILES, _BF_PROBES, _BF_BITS = 64, 20, 16384
_BF_P = 2147483647
_BF_HASHES = (
    (2654435761, 1013904223),
    (2246822519, 374761393),
    (3266489917, 668265263),
)


def _bloom_oracle() -> str:
    bit_list = ", ".join(
        f"((o_custkey * {a} + {b}) % {_BF_P}) % {_BF_BITS}"
        for a, b in _BF_HASHES
    )
    probe_bits = "\n  UNION ALL\n".join(
        f"  SELECT p, {j} AS h, ((p * {a} + {b}) % {_BF_P}) % {_BF_BITS} AS bit"
        f" FROM probes"
        for j, (a, b) in enumerate(_BF_HASHES)
    )
    return f"""
WITH tiled AS (
  SELECT o_custkey,
         ntile({_BF_FILES}) OVER (ORDER BY o_orderdate, o_orderkey) AS f
  FROM orders
),
zones AS (
  SELECT f, min(o_custkey) AS zmin, max(o_custkey) AS zmax
  FROM tiled GROUP BY f
),
fbits AS (
  SELECT DISTINCT f, bit FROM (
    SELECT f, unnest([{bit_list}]) AS bit FROM tiled
  )
),
span AS (SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax FROM orders),
probes AS (
  SELECT cmin + CAST(floor(j * (cmax - cmin) / {_BF_PROBES - 1}) AS BIGINT)
           AS p
  FROM span, unnest(range(0, {_BF_PROBES})) r(j)
),
pbits AS (
{probe_bits}
),
bloom AS (
  SELECT pb.p, fb.f
  FROM pbits pb JOIN fbits fb ON fb.bit = pb.bit
  GROUP BY pb.p, fb.f
  HAVING count(DISTINCT pb.h) = {len(_BF_HASHES)}
),
truth AS (
  SELECT p.p, count(DISTINCT t.f) AS n_truth
  FROM probes p JOIN tiled t ON t.o_custkey = p.p GROUP BY 1
),
zhits AS (
  SELECT p.p, count(*) AS n_zone
  FROM probes p JOIN zones z ON p.p BETWEEN z.zmin AND z.zmax GROUP BY 1
),
bhits AS (SELECT p, count(*) AS n_bloom FROM bloom GROUP BY 1)
SELECT pr.p AS probe_key,
       CAST(coalesce(t.n_truth, 0) AS BIGINT) AS n_files_truth,
       CAST(coalesce(z.n_zone, 0) AS BIGINT) AS n_files_zonemap,
       CAST(coalesce(b.n_bloom, 0) AS BIGINT) AS n_files_bloom,
       CAST(coalesce(b.n_bloom, 0) - coalesce(t.n_truth, 0) AS BIGINT)
         AS n_false_pos
FROM probes pr
LEFT JOIN truth t ON t.p = pr.p
LEFT JOIN zhits z ON z.p = pr.p
LEFT JOIN bhits b ON b.p = pr.p
ORDER BY 1
"""


@register("layout_bloom_pruning", oracle=_bloom_oracle())
def q_layout_bloom_pruning(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.ranking import (
        ntile_by_edges,
    )

    # round-11 F1+F4 (see zonemap): one materialized fanned-out scan
    orders = reuse(
        fanout(
            table(spark, "orders", sf_dir).select(
                "o_orderkey", "o_custkey", "o_orderdate"
            )
        )
    )
    # (tiled feeds zones, bit sets and the truth join 3x, but measured:
    # a lazy checkpoint of it was a net loss -- the 6-comparison bin
    # search re-evaluated from the base blocks is cheaper than
    # materializing 3x fewer evaluations)
    tiled = ntile_by_edges(
        orders, ["o_orderdate", "o_orderkey"], k=_BF_FILES, tile_col="f"
    ).select("f", "o_custkey")

    def bits(key):
        return [
            ((key * F.lit(a) + F.lit(b)) % _BF_P) % _BF_BITS
            for a, b in _BF_HASHES
        ]

    zones = tiled.groupBy("f").agg(
        F.min("o_custkey").alias("zmin"), F.max("o_custkey").alias("zmax")
    )
    fbits = tiled.select(
        "f", F.explode(F.array(*bits(F.col("o_custkey")))).alias("bit")
    ).distinct()
    span = orders.agg(
        F.min("o_custkey").alias("cmin"), F.max("o_custkey").alias("cmax")
    )
    probes = span.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_BF_PROBES - 1)),
                lambda j: F.col("cmin")
                + F.floor(
                    j * (F.col("cmax") - F.col("cmin")) / (_BF_PROBES - 1)
                ).cast("long"),
            )
        ).alias("p")
    )
    pbits = probes.select(
        "p",
        F.posexplode(F.array(*bits(F.col("p")))).alias("h", "bit"),
    )
    bloom = (
        F.broadcast(pbits)
        .join(fbits, "bit")
        .groupBy("p", "f")
        .agg(F.count_distinct("h").alias("nh"))
        .filter(F.col("nh") == len(_BF_HASHES))
    )
    truth = (
        F.broadcast(probes)
        .join(tiled, probes.p == tiled.o_custkey)
        .groupBy("p")
        .agg(F.count_distinct("f").alias("n_truth"))
    )
    zhits = (
        F.broadcast(probes)
        .join(
            zones,
            (F.col("p") >= F.col("zmin")) & (F.col("p") <= F.col("zmax")),
        )
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_zone"))
    )
    bhits = bloom.groupBy("p").agg(F.count(F.lit(1)).alias("n_bloom"))
    out = (
        probes.join(truth, "p", "left")
        .join(zhits, "p", "left")
        .join(bhits, "p", "left")
        .select(
            F.col("p").alias("probe_key"),
            F.coalesce("n_truth", F.lit(0)).cast("bigint").alias(
                "n_files_truth"
            ),
            F.coalesce("n_zone", F.lit(0)).cast("bigint").alias(
                "n_files_zonemap"
            ),
            F.coalesce("n_bloom", F.lit(0)).cast("bigint").alias(
                "n_files_bloom"
            ),
            (F.coalesce("n_bloom", F.lit(0)) - F.coalesce("n_truth", F.lit(0)))
            .cast("bigint")
            .alias("n_false_pos"),
        )
        .orderBy("probe_key")
    )
    return out
