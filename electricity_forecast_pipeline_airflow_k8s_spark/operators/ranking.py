"""Distributed exact global ranking (the scale path for global windows).

``Window.orderBy(...)`` with no partition key is exact but moves every
row to ONE partition (Spark warns "No Partition Defined for Window
operation") -- the repo quarantines that form as a correctness baseline
for bounded inputs. This module provides the production-scale equivalent
with identical results:

  1. ``repartitionByRange`` on the order columns (parallel range sort --
     the same machinery as a distributed ORDER BY),
  2. per-partition row numbers assigned by a streaming ``mapInPandas``
     (no extra shuffle: Arrow batches arrive in partition sort order),
  3. partition offsets from one tiny count-per-partition job (at most
     ``num_partitions`` rows collected), added back as a literal map.

Total cost: one range exchange + one cheap counting job. Parallelism is
``num_partitions`` throughout -- nothing ever lands on a single task, so
the plan survives a 100x scale-up where the global window would OOM one
executor. Determinism: the caller must pass a TOTAL order (include a
unique tie-breaker column); range boundaries are sampled with Spark's
fixed per-partition seeds, so re-computation after cache eviction yields
the same partitioning and the same ranks.

``ntile_exact`` reproduces SQL ``NTILE(k) OVER (ORDER BY ...)`` from the
global rank with the standard remainder semantics (first ``n mod k``
buckets get the extra row), pinned against the built-in in tests.

Parity context: reference feature scaling/segmentation works on a single
pandas frame (/root/reference/core/data_preprocessing.py) where global
order is free; on a cluster it has to be earned, which is what this
operator does.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.storagelevel import StorageLevel

_PID = "_gr_pid"


def _range_sorted_with_offsets(
    df: DataFrame,
    order_cols: Iterable[Column | str],
    num_partitions: int | None,
    persist: bool,
) -> tuple[DataFrame, dict[int, int], dict[int, int], int]:
    """Range-sorted frame (+_gr_pid column), per-partition rank offsets,
    per-partition counts, and the total row count. The offsets job is the
    only eager work: at most ``num_partitions`` rows collected."""
    spark = df.sparkSession
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n_parts = int(
        num_partitions
        if num_partitions is not None
        else spark.conf.get("spark.sql.shuffle.partitions")
    )
    sorted_df = (
        df.repartitionByRange(max(n_parts, 1), *cols)
        .sortWithinPartitions(*cols)
        .withColumn(_PID, F.spark_partition_id())
    )
    if persist:
        # a persist, not reuse(): the caller opts in, and an evicted block
        # recomputes to the same range partitioning (module docstring)
        sorted_df = sorted_df.persist(StorageLevel.MEMORY_AND_DISK)

    counts = {
        r[_PID]: r["cnt"]
        for r in sorted_df.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    total = 0
    for pid in sorted(counts):
        offsets[pid] = total
        total += counts[pid]
    return sorted_df, offsets, counts, total


def _ranked_with_total(
    df: DataFrame,
    order_cols: Iterable[Column | str],
    rank_col: str,
    num_partitions: int | None,
    persist: bool,
) -> tuple[DataFrame, int]:
    """(ranked frame, total row count) -- the count is free: it is the sum
    of the per-partition counts the offsets job already collected."""
    sorted_df, offsets, _, total = _range_sorted_with_offsets(
        df, order_cols, num_partitions, persist
    )

    out_schema = StructType(
        [f for f in sorted_df.schema.fields if f.name != _PID]
        + [StructField(rank_col, LongType(), False)]
    )
    data_cols = [f.name for f in sorted_df.schema.fields if f.name != _PID]

    def add_ranks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        base = None
        for pdf in batches:
            out = pdf[data_cols].copy()
            if len(pdf):
                if base is None:
                    base = offsets[int(pdf[_PID].iloc[0])]
                start = base + seen + 1
                out[rank_col] = pd.array(
                    range(start, start + len(pdf)), dtype="int64"
                )
                seen += len(pdf)
            else:
                out[rank_col] = pd.array([], dtype="int64")
            yield out

    return sorted_df.mapInPandas(add_ranks, schema=out_schema), total


def global_rank(
    df: DataFrame,
    order_cols: Iterable[Column | str],
    *,
    rank_col: str = "global_rank",
    num_partitions: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Add an exact 1-based global row number over a total order.

    ``order_cols`` may mix column names and Column expressions (including
    ``.desc()``); together they MUST form a total order, or ranks of tied
    rows are partition-layout-dependent. With ``persist`` (default) the
    range-sorted frame is cached MEMORY_AND_DISK so the counting job and
    the final pass share one sort; without it the sort runs twice but
    results are identical (deterministic range boundaries).
    """
    ranked, _ = _ranked_with_total(df, order_cols, rank_col, num_partitions, persist)
    return ranked


def ntile_exact(rank: Column, n: int, k: int) -> Column:
    """SQL ``NTILE(k)`` bucket for a 1-based global ``rank`` out of ``n``
    rows: the first ``n mod k`` buckets hold ``n div k + 1`` rows, the
    rest ``n div k`` (matches Spark/DuckDB NTILE exactly; pinned by
    tests against ``F.ntile``)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    q, rem = divmod(int(n), k)
    if q == 0:
        # n < k: every row is its own bucket
        return rank.cast("int")
    big = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
    return (
        F.when(rank <= F.lit(big), F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(F.lit(rem) + F.floor((rank - F.lit(big) - 1) / q) + 1)
        .cast("int")
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probs: Iterable[float],
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT interpolated quantiles (``quantile_cont`` / type-7, the
    percentile_cont convention shared by Spark and DuckDB) of a numeric
    column, fully distributed -- the answer to SCALING.md's
    exact-quantiles-at-scale quarantine:

      1. one parallel range sort on the value (repartitionByRange),
      2. the offsets counting job (collects <= num_partitions rows),
      3. rank selection: each target quantile needs only its two
         bracketing global ranks, whose (partition, local index) are
         known on the driver from the offsets -- so a JVM-side partition
         filter prunes every partition that holds no bracketing rank
         BEFORE anything reaches Python, and the picker emits at most
         2 x len(probs) rows.

    Nothing funnels through one task and Python sees only the pruned
    partitions' batches: the cost is the distributed sort, full stop.
    Returns (q double, value double) with one row per prob.
    """
    import math

    spark = df.sparkSession
    probs = [float(p) for p in probs]
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"prob out of [0,1]: {p}")
    vals = df.select(F.col(value_col).cast("double").alias("v")).where(
        F.col("v").isNotNull()
    )
    sorted_df, offsets, counts, n = _range_sorted_with_offsets(
        vals, ["v"], num_partitions, persist=True
    )
    if n == 0:
        return spark.createDataFrame([], "q double, value double")

    # rank brackets per quantile (1-based; h is the fractional rank)
    specs = []  # (q, lo_rank, hi_rank, frac)
    needed: set[int] = set()
    for p in probs:
        h = (n - 1) * p
        lo = int(math.floor(h)) + 1
        hi = int(math.ceil(h)) + 1
        specs.append((p, lo, hi, h - math.floor(h)))
        needed.update((lo, hi))

    # rank -> (pid, local index): pure driver math over the offsets map
    pid_targets: dict[int, list[tuple[int, int]]] = {}
    for r in sorted(needed):
        for pid in sorted(counts):
            if offsets[pid] < r <= offsets[pid] + counts[pid]:
                pid_targets.setdefault(pid, []).append((r - offsets[pid], r))
                break

    def pick(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = 0
        targets: list[tuple[int, int]] | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if targets is None:
                targets = pid_targets[int(pdf[_PID].iloc[0])]
            hits = [
                (rank, float(pdf["v"].iloc[local - pos - 1]))
                for local, rank in targets
                if pos < local <= pos + len(pdf)
            ]
            pos += len(pdf)
            if hits:
                yield pd.DataFrame(
                    {
                        "rank": pd.array([r for r, _ in hits], dtype="int64"),
                        "v": pd.array([v for _, v in hits], dtype="float64"),
                    }
                )

    bracketing = (
        sorted_df.where(F.col(_PID).isin(list(pid_targets)))
        .mapInPandas(pick, schema="rank long, v double")
    )
    spec_df = spark.createDataFrame(specs, "q double, lo long, hi long, frac double")
    lo_v = bracketing.select(F.col("rank").alias("lo"), F.col("v").alias("v_lo"))
    hi_v = bracketing.select(F.col("rank").alias("hi"), F.col("v").alias("v_hi"))
    return (
        spec_df.join(F.broadcast(lo_v), "lo")
        .join(F.broadcast(hi_v), "hi")
        .select(
            "q",
            (F.col("v_lo") + F.col("frac") * (F.col("v_hi") - F.col("v_lo"))).alias(
                "value"
            ),
        )
    )


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    probs: Iterable[tuple[int, int]],
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT weighted quantiles (inverted-CDF / type-1 convention: the
    smallest value whose cumulative weight reaches p of the total) for
    INTEGER weights, distributed the same way as :func:`exact_quantiles`:

      * parallel range sort on the value,
      * per-partition WEIGHT sums -> cumulative weight offsets (one tiny
        job; all arithmetic stays in int64),
      * each target quantile p = num/den resolves on the driver to one
        crossing partition and an integer local weight threshold
        (ceil-division -- no float ever touches the comparison, so the
        crossing row is bit-identical to the oracle's
        ``min(v) WHERE cum_weight * den >= num * total``),
      * a JVM-side partition filter prunes everything else; the picker
        walks only the crossing partitions' batches with an int64
        cumulative sum + searchsorted.

    ``probs`` are rational pairs (num, den), e.g. (1, 2) for the weighted
    median -- the rational form is what keeps the threshold integer-exact.
    Rows with null/non-positive weight are ignored (they carry no mass).
    Returns (q double, value double).
    """
    spark = df.sparkSession
    probs = [(int(n), int(d)) for n, d in probs]
    for n_, d_ in probs:
        if not (d_ > 0 and 0 <= n_ <= d_):
            raise ValueError(f"prob {n_}/{d_} out of [0,1]")
    vals = df.select(
        F.col(value_col).cast("double").alias("v"),
        F.col(weight_col).cast("long").alias("w"),
    ).where(F.col("v").isNotNull() & (F.col("w") > 0))
    sorted_df, _, _, _ = _range_sorted_with_offsets(
        vals, ["v"], num_partitions, persist=True
    )
    wsums = {
        r[_PID]: r["ws"]
        for r in sorted_df.groupBy(_PID).agg(F.sum("w").alias("ws")).collect()
    }
    woff: dict[int, int] = {}
    total_w = 0
    for pid in sorted(wsums):
        woff[pid] = total_w
        total_w += wsums[pid]
    if total_w == 0:
        return spark.createDataFrame([], "q double, value double")

    # per target: crossing partition + integer local weight threshold
    pid_targets: dict[int, list[tuple[float, int]]] = {}
    for n_, d_ in probs:
        units = -(-(n_ * total_w) // d_)  # ceil(num * W / den), exact
        units = max(units, 1)  # p=0 still needs the first weighted row
        for pid in sorted(wsums):
            if woff[pid] + wsums[pid] >= units:
                pid_targets.setdefault(pid, []).append(
                    (n_ / d_, units - woff[pid])
                )
                break

    def pick(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        prior = 0
        pending: list[tuple[float, int]] | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pending is None:
                pending = sorted(pid_targets[int(pdf[_PID].iloc[0])])
            if not pending:
                break
            cum = pdf["w"].to_numpy(dtype="int64").cumsum()
            hits = []
            still = []
            for q, local_units in pending:
                i = int(np.searchsorted(cum, local_units - prior, side="left"))
                if i < len(cum):
                    hits.append((q, float(pdf["v"].iloc[i])))
                else:
                    still.append((q, local_units))
            pending = still
            prior += int(cum[-1])
            if hits:
                yield pd.DataFrame(
                    {
                        "q": pd.array([q for q, _ in hits], dtype="float64"),
                        "value": pd.array([v for _, v in hits], dtype="float64"),
                    }
                )

    return (
        sorted_df.where(F.col(_PID).isin(list(pid_targets)))
        .mapInPandas(pick, schema="q double, value double")
    )


def ntile_global(
    df: DataFrame,
    order_cols: Iterable[Column | str],
    *,
    k: int,
    tile_col: str,
) -> DataFrame:
    """``NTILE(k) OVER (ORDER BY order_cols)`` without a single-partition
    window: global_rank + closed-form bucket math. The row total comes
    from the offsets job already inside global_rank -- no extra pass."""
    rank_col = f"_{tile_col}_rank"
    ranked, n = _ranked_with_total(df, order_cols, rank_col, None, persist=True)
    return ranked.withColumn(
        tile_col, ntile_exact(F.col(rank_col), n, k)
    ).drop(rank_col)


def global_prefix_sum(
    df: DataFrame,
    order_cols: Iterable[Column | str],
    value_col: str,
    *,
    cum_col: str = "cum_sum",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact distributed prefix sum of an INTEGER column over a total
    order — ``SUM(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``
    without the single-partition window.

    Same layout as :func:`global_rank`: parallel range sort, one tiny
    per-partition job (here SUM instead of COUNT — at most
    ``num_partitions`` rows collected), then a streaming ``mapInPandas``
    adds each partition's value offset to its local cumsum. The value
    column must be integral (callers scale decimals to a fixed-point
    grid first): int64 accumulation is associative and exact, so the
    result is bit-identical to the sequential definition at any
    partitioning. Returns ``(frame + cum_col, grand_total)``.
    """
    spark = df.sparkSession
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n_parts = int(
        num_partitions
        if num_partitions is not None
        else spark.conf.get("spark.sql.shuffle.partitions")
    )
    sorted_df = (
        df.repartitionByRange(max(n_parts, 1), *cols)
        .sortWithinPartitions(*cols)
        .withColumn(_PID, F.spark_partition_id())
    ).persist(StorageLevel.MEMORY_AND_DISK)  # released below, before returning

    sums = {
        r[_PID]: r["s"]
        for r in sorted_df.groupBy(_PID)
        .agg(F.sum(value_col).cast("long").alias("s"))
        .collect()
    }
    offsets: dict[int, int] = {}
    total = 0
    for pid in sorted(sums):
        offsets[pid] = total
        total += int(sums[pid] or 0)

    out_schema = StructType(
        [f for f in sorted_df.schema.fields if f.name != _PID]
        + [StructField(cum_col, LongType(), False)]
    )
    data_cols = [f.name for f in sorted_df.schema.fields if f.name != _PID]

    def add_cum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        run = 0
        base = None
        for pdf in batches:
            out = pdf[data_cols].copy()
            if len(pdf):
                if base is None:
                    base = offsets[int(pdf[_PID].iloc[0])]
                local = pdf[value_col].astype("int64").cumsum()
                out[cum_col] = (local + (base + run)).astype("int64")
                run += int(pdf[value_col].astype("int64").sum())
            else:
                out[cum_col] = pd.array([], dtype="int64")
            yield out

    return sorted_df.mapInPandas(add_cum, schema=out_schema), total


def tuples_at_ranks(
    df: DataFrame,
    order_cols: Iterable[str],
    ranks,
) -> tuple[list[tuple], int]:
    """The rows (projected to ``order_cols``) sitting at the given 1-based
    global ranks of ``ORDER BY order_cols`` -- the multi-column analogue of
    :func:`exact_quantiles`'s rank selection. One parallel range sort of
    the PROJECTED columns (the shuffle moves only the sort key, not the
    row), one tiny offsets job, then a partition-pruned picker that emits
    len(ranks) rows. ``ranks`` is an iterable of 1-based ranks, or a
    callable ``n -> iterable`` when the targets depend on the total count
    (saves a separate count job). Returns (sorted tuples, total n)."""
    cols = list(order_cols)
    proj = df.select(*cols)
    sorted_df, offsets, counts, n = _range_sorted_with_offsets(proj, cols, None, persist=True)
    if callable(ranks):
        ranks = ranks(n)
    want = sorted({int(r) for r in ranks})
    if any(r < 1 or r > n for r in want):
        raise ValueError(f"rank out of [1, {n}]: {want}")
    if not want:
        return [], n

    pid_targets: dict[int, list[tuple[int, int]]] = {}
    for r in want:
        for pid in sorted(counts):
            if offsets[pid] < r <= offsets[pid] + counts[pid]:
                pid_targets.setdefault(pid, []).append((r - offsets[pid], r))
                break

    out_schema = StructType(
        [f for f in sorted_df.schema.fields if f.name != _PID]
        + [StructField("_rank", LongType(), False)]
    )

    def pick(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = 0
        targets: list[tuple[int, int]] | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if targets is None:
                targets = pid_targets[int(pdf[_PID].iloc[0])]
            hit_idx = [
                (local - pos - 1, rank)
                for local, rank in targets
                if pos < local <= pos + len(pdf)
            ]
            pos += len(pdf)
            if hit_idx:
                out = pdf.iloc[[i for i, _ in hit_idx]][cols].copy()
                out["_rank"] = pd.array([r for _, r in hit_idx], dtype="int64")
                yield out

    picked = (
        sorted_df.where(F.col(_PID).isin(list(pid_targets)))
        .mapInPandas(pick, schema=out_schema)
        .collect()
    )
    sorted_df.unpersist()
    rows = sorted(picked, key=lambda r: r["_rank"])
    return [tuple(r[c] for c in cols) for r in rows], n


def ntile_by_edges(
    df: DataFrame,
    order_cols: Iterable[str],
    *,
    k: int,
    tile_col: str,
    assert_total_order: bool = False,
) -> DataFrame:
    """``NTILE(k) OVER (ORDER BY order_cols)`` via broadcast boundary
    tuples -- the cheap exact path when only the BUCKET is needed, not the
    rank.

    NTILE buckets are contiguous rank ranges, so the k-1 tuples sitting at
    the bucket-end ranks split the total order exactly: a row's bucket is
    ``1 + #boundaries strictly below its tuple`` (rank order and tuple
    order coincide under a total order). That turns the whole operator
    into (a) one narrow range sort of the PROJECTED key columns to pick
    k-1 boundary rows (:func:`tuples_at_ranks`) and (b) a shuffle-free map
    expression comparing each row's key struct against the broadcast
    boundary array -- no Window, no full-frame rank materialization, no
    second shuffle of the fact. This is the same boundary-derivation move
    Delta's OPTIMIZE ZORDER uses (range_partition_id from sampled bounds),
    but exact.

    Requires ``order_cols`` to be a null-free TOTAL order (include a
    tie-break key). The built-in guard only catches the cheap-to-see
    violation -- a tuple duplicated across TWO boundary ranks; a
    duplicate straddling a single boundary is NOT detected and would
    silently send all tied rows to the lower bucket (diverging from
    NTILE's contiguous bucket sizes). Pass ``assert_total_order=True``
    to pay one extra aggregate (count vs count-distinct of the key
    tuple) and raise on ANY duplicate when the inputs aren't known-
    unique by construction.
    """
    cols = list(order_cols)
    if assert_total_order:
        chk = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(c) for c in cols]).alias("d"),
        ).first()
        if chk["n"] != chk["d"]:
            raise ValueError(
                f"order_cols {cols} is not a total order: "
                f"{chk['n'] - chk['d']} duplicated key tuple(s) -- add a "
                f"tie-break key"
            )
    edges, n = ntile_edges(df, cols, k=k)
    return apply_ntile_edges(df, cols, edges, n, tile_col=tile_col)


def ntile_edges(
    df: DataFrame,
    order_cols: Iterable[str],
    *,
    k: int,
) -> tuple[list[tuple], int]:
    """The boundary-derivation half of :func:`ntile_by_edges`: the k-1
    bucket-end tuples of ``NTILE(k) OVER (ORDER BY order_cols)`` plus the
    total row count. Split out (round-12) so callers that bin the SAME
    frame along several independent orders can run the boundary jobs
    concurrently from driver threads (guide §2.6) and attach every bin
    expression with :func:`apply_ntile_edges` afterwards."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    cols = list(order_cols)

    def _bounds(n: int) -> list[int]:
        # exact NTILE sizing: first n mod k buckets take one extra row;
        # boundary ranks are the cumulative bucket ends (last bucket open)
        q, rem = divmod(n, k)
        if q == 0:  # n <= k: bucket == rank; ranks 1..n-1 are boundaries
            return list(range(1, n))
        sizes = [q + 1] * rem + [q] * (k - rem)
        out, acc = [], 0
        for s in sizes[:-1]:
            acc += s
            out.append(acc)
        return out

    edges, n = tuples_at_ranks(df, cols, _bounds)
    if len(set(edges)) != len(edges):
        raise ValueError(
            f"order_cols {cols} is not a total order: duplicated boundary "
            f"tuple -- add a tie-break key"
        )
    return edges, n


def apply_ntile_edges(
    df: DataFrame,
    order_cols: Iterable[str],
    edges: list[tuple],
    n: int,
    *,
    tile_col: str,
) -> DataFrame:
    """The shuffle-free application half of :func:`ntile_by_edges`: bin
    each row against pre-derived boundary tuples (codegen binary search,
    no Window, no shuffle)."""
    cols = list(order_cols)
    proj_types = dict(df.select(*cols).dtypes)
    if n == 0:
        return df.withColumn(tile_col, F.lit(None).cast("int"))

    def _lex_le(edge: tuple) -> Column:
        # row_tuple <= edge, lexicographic, as plain boolean column ops
        # (whole-stage-codegen friendly; struct/HOF comparisons are
        # interpreted and would cost ~k comparisons per row at scale)
        le: Column | None = None
        for c, val in zip(reversed(cols), reversed(edge)):
            lit = F.lit(val).cast(proj_types[c])
            if le is None:
                le = F.col(c) <= lit
            else:
                le = (F.col(c) < lit) | ((F.col(c) == lit) & le)
        return le

    n_buckets = len(edges) + 1

    def _search(lo: int, hi: int) -> Column:
        # binary search over candidate buckets [lo, hi]: bucket b iff
        # edge_{b-1} < row <= edge_b (edge_b is bucket b's last tuple),
        # so row <= edges[mid-1] sends the row left. ceil(log2 k)
        # comparisons per row instead of k-1.
        if lo == hi:
            return F.lit(lo).cast("int")
        mid = (lo + hi) // 2
        return F.when(_lex_le(edges[mid - 1]), _search(lo, mid)).otherwise(
            _search(mid + 1, hi)
        )

    return df.withColumn(tile_col, _search(1, n_buckets))
