"""Exact set-similarity join via prefix filtering (AllPairs/PPJoin).

MinHash+LSH (operators/dedup.py) finds near-duplicate candidates
probabilistically -- recall < 1 by construction. The exact counterpart
at scale is the prefix-filtering join (Bayardo et al., "Scaling Up All
Pairs Similarity Search", WWW'07; Xiao et al., "Efficient Similarity
Joins for Near Duplicate Detection", WWW'08): order every document's
token set by a single GLOBAL token order (rarest document-frequency
first), and index only each set's PREFIX -- the first
``s - ceil(t*s) + 1`` tokens. The prefix-filtering principle guarantees
that any pair with Jaccard >= t shares at least one PREFIX token under
a common total order, so an equi-join on prefix tokens yields a
candidate superset with ZERO false negatives; exact verification on the
candidates alone then gives the exact join result.

Why this scales where brute force cannot:

- the equi-join shuffles on the *rarest* tokens only -- posting lists
  for prefix tokens are short by construction, so bucket sizes stay
  bounded (the frequent tokens that would create quadratic buckets are
  exactly the ones prefix selection excludes);
- the size filter ``min(sa, sb) * den >= num * max(sa, sb)`` (an exact
  integer form of |x|>=t|y|, implied by Jaccard >= t) prunes candidate
  pairs before verification;
- verification touches candidate pairs only, never the full n^2.

Thresholds are passed as an integer rational num/den so no float ever
enters a pruning comparison (house rule, same as operators/ranking.py's
weighted quantiles): prefix length uses exact ceil-division and the
final Jaccard predicate is ``i * den >= num * (sa + sb - i)``.

The DuckDB oracle on `text_setsim_prefix_join` brute-forces the exact
all-pairs join; the driver hash-match proves the prefix filter loses
nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import portable_round
from electricity_forecast_pipeline_airflow_k8s_spark.operators.text import tokens


def _ordered_sets(elems: DataFrame) -> DataFrame:
    """(id, s, ordered) from an exploded (id, tok) element stream (distinct
    per id), where ``ordered`` is the element set sorted by the global
    (document-frequency asc, element asc) total order.

    One explode + two hash aggs; the per-doc sort runs inside
    ``sort_array`` over arrays bounded by document length, never a
    global sort.
    """
    dfreq = elems.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        elems.join(dfreq, "tok")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("s"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "tok"))),
                lambda st: st["tok"],
            ).alias("ordered"),
        )
    )


def _ordered_token_sets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token-set instantiation of :func:`_ordered_sets` over whitespace
    tokens of ``text_col``.

    The narrow (id, text) frame is fanned out BEFORE the tokenize+explode
    projection (round-11, guide §2.5): a single-row-group input arrives
    as one scan partition, which serialized the whole tokenization onto
    one core; at real scale the fanout is a no-op."""
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import (
        fanout,
    )

    base = fanout(
        docs.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"), F.col(text_col).alias("_t")
        )
    )
    tok = base.select(
        "id", F.explode(F.array_distinct(tokens("_t"))).alias("tok")
    )
    return _ordered_sets(tok)


def setsim_prefix_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num: int = 19,
    den: int = 20,
) -> DataFrame:
    """EXACT Jaccard-similarity self-join at threshold num/den over
    whitespace token sets: (doc_a, doc_b, jaccard) for every unordered
    pair with Jaccard >= num/den, doc_a < doc_b.
    """
    return _prefix_join(_ordered_token_sets(docs, id_col, text_col), num, den)


def setsim_prefix_join_sets(
    df: DataFrame,
    id_col: str,
    set_col: str,
    num: int,
    den: int,
) -> DataFrame:
    """EXACT Jaccard self-join at threshold num/den over PRE-BUILT element
    sets (``set_col`` an array column whose elements are distinct per row,
    e.g. the n-gram shingle arrays of the dedup family): (doc_a, doc_b,
    jaccard) for every unordered pair with Jaccard >= num/den, doc_a <
    doc_b. Rows with empty/null sets produce no pairs -- for a positive
    threshold that is exact, since J >= t > 0 requires a shared element.

    Same prefix-filtering plan as :func:`setsim_prefix_join`; only the
    element source differs. This replaces the O(n^2) crossJoin form of the
    shingle-Jaccard truth lane (guide §2.3/§3: shuffle keys -- the rare
    prefix shingles -- instead of the full pair space)."""
    elems = df.filter(F.col(set_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.explode(set_col).alias("tok")
    )
    return _prefix_join(_ordered_sets(elems), num, den)


def _prefix_join(sets: DataFrame, num: int, den: int) -> DataFrame:
    """AllPairs/PPJoin core over (id, s, ordered) set rows."""
    if not (0 < num <= den):
        raise ValueError(f"threshold must be in (0, 1]: got {num}/{den}")
    sets = sets.filter(F.col("s") > 0)
    # No cut on the ordered sets, although three consumers (prefix index +
    # both verify sides) re-derive them: a reuse() cut was measured a loss
    # at sf0.1 on 4 cores, best of 5 build + execute --
    # dedup_ngram_jaccard_pairs 7.0 s uncut vs 13.4 s cut,
    # text_setsim_prefix_join 18.5 vs 19.4 s. Storing the fat ordered-token
    # arrays as checkpoint blocks and reading them back three times costs
    # more than three codegen recomputes (round 12 saw the same, 6.53 ->
    # 8.63 s noop).

    # prefix length p = s - ceil(t*s) + 1, exact integer ceil-division
    p = F.col("s") - F.floor((F.col("s") * num + den - 1) / den) + 1
    # posexplode keeps each prefix token's 1-based position for PPJoin's
    # positional filter below
    prefix = sets.select(
        "id",
        "s",
        F.posexplode(F.slice("ordered", F.lit(1), p)).alias("pos0", "tok"),
    ).withColumn("pos", F.col("pos0") + 1)

    # required overlap for Jaccard >= num/den:
    #   i >= ceil(num * (sa + sb) / (num + den))      [alpha]
    # positional filter (Xiao et al. WWW'08): a match on tokens at
    # positions (ia, ib) bounds the overlap by 1 + min(sa-ia, sb-ib);
    # the EARLIEST shared prefix token of any qualifying pair always
    # passes, so filtering match rows never loses a pair.
    alpha = F.floor(
        (
            (F.col("a.s") + F.col("b.s")) * num + (num + den) - 1
        )
        / (num + den)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            # exact size filter: Jaccard >= t forces min(sa,sb) >= t*max
            & (F.least("a.s", "b.s") * den >= F.greatest("a.s", "b.s") * num)
            & (
                1
                + F.least(
                    F.col("a.s") - F.col("a.pos"), F.col("b.s") - F.col("b.pos")
                )
                >= alpha
            ),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    # explicit numbered repartition: verification is compute-bound
    # (array_intersect per candidate), and on corpora where candidates
    # are few BYTES but many ROWS, AQE's byte-based coalescing would
    # funnel it through one task. A user-specified repartition is exempt
    # from AQE coalescing, so verify parallelism stays at the configured
    # shuffle width regardless of candidate byte size.
    n_part = int(sets.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cand = cand.repartition(n_part, "doc_a", "doc_b")

    ta = sets.select(
        F.col("id").alias("doc_a"), F.col("s").alias("sa"), F.col("ordered").alias("ta")
    )
    tb = sets.select(
        F.col("id").alias("doc_b"), F.col("s").alias("sb"), F.col("ordered").alias("tb")
    )
    i = F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("i", i)
        .filter(F.col("i") * den >= (F.col("sa") + F.col("sb") - F.col("i")) * num)
        .select(
            "doc_a",
            "doc_b",
            portable_round(
                F.col("i") / (F.col("sa") + F.col("sb") - F.col("i")), 4
            ).alias("jaccard"),
        )
    )
