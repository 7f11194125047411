"""Deduplication operators: exact, token-set, MinHash+LSH, SimHash,
n-gram Jaccard (BASELINE.json north-star extension).

Scale design: every variant is shuffle-bounded --
  * exact / token-set: one hash-aggregate on a fingerprint key.
  * MinHash+LSH: explode shingles -> one agg for the k-min signature ->
    explode b bands -> equi-join on (band, hash). Candidate pairs only;
    never O(n^2). This is the standard web-scale near-dedup layout.
  * SimHash: per-token hash bits summed per doc (one agg), hamming-bucket
    join on the short code.
All hashing is md5-based (deterministic, identical in any engine) so oracle
parity holds.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import reuse
from electricity_forecast_pipeline_airflow_k8s_spark.operators.text import tokens


# Round-12 measurement note (guide §1): a size-conditional shuffle_hash
# pin (broadcast the shingle side below a Catalyst-stats cap, pin above
# it -- VERDICT r11 item 1a) was implemented and measured same-day at
# sf0.1: the broadcast path was SLOWER, not faster (dedup_minhash noop
# 0.522 -> 1.145 s; inc_minhash wall 0.556 -> 1.28 s) -- building and
# shipping the fat shingle-array hash relation through the driver costs
# more than the 32-way shuffle even on a 584 KB corpus. The r11 "pin
# regression" was machine drift, not the pin. The unconditional pin
# stays: it is the scale-safe choice AND the fast one.

# SimHash code width: simhash_codes writes it, simhash_neardup_pairs bands it
SIMHASH_BITS = 16


def shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column. Documents with
    fewer than n tokens yield an EMPTY array (an unguarded sequence(1, 0)
    would build a descending [1, 0] range and crash slice with index 0).
    The token array is let-bound so the interpreted lambda body slices a
    variable, not a re-evaluated split expression (functions/arrays.let)."""
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.arrays import let

    def body(t):
        return F.when(
            F.size(t) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
                    lambda i: F.array_join(F.slice(t, i, n), " "),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(tokens(text_col), body)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the first (min id) doc per normalized-text fingerprint.
    One shuffle on the md5 key; at 100 TB the key is 16 bytes/doc."""
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.text import (
        fingerprint_expr,
    )

    # coalesce: NULL-text docs share one sentinel key and keep one
    # representative (NULL keys never equi-join, which would silently DROP
    # every null-text row instead of deduping them)
    keyed = df.withColumn(
        "_fp", F.coalesce(fingerprint_expr(text_col), F.lit("__null_text__"))
    )
    keep = keyed.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return keyed.join(keep, ["_fp", id_col], "left_semi").drop("_fp")


def tokenset_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of docs with identical token SETS (order/multiplicity
    insensitive) -- catches shuffled copies exact dedup misses."""
    key = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text_col))), " "))
    return (
        df.select(F.col(id_col), key.alias("key"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
) -> DataFrame:
    """k-min-hash signature per doc: sig_i = min over shingles of
    md5(i | shingle). One explode + one agg with k mins (single pass,
    map-side combinable).

    The doc table is repartitioned by id before the explode: the k*shingles
    md5 work is the dominant cost and must not be bound to the input file's
    split count (tiny corpora arrive as one split; the hash work is still
    embarrassingly parallel)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        df.repartition(par, id_col)
        .select(F.col(id_col), F.explode(shingles(text_col)).alias("s"))
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"sig_{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Band the signature (k/bands rows per band), hash each band, and
    equi-join docs sharing any band hash. Returns distinct (id_a < id_b)
    candidate pairs."""
    rows = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat(*parts)).alias("h")).alias(
                f"b{b}"
            )
        )
    # the self-join below consumes this subtree twice, and without a
    # materialization Spark recomputes the full signature pipeline per side
    exploded = reuse(
        sigs.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bh"))
        .select(id_col, F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    return pairs


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs only (the cheap second
    stage of MinHash LSH).

    Join strategy is pinned scale-safe: the shingle-set side is
    corpus-sized (every doc x its shingle array), so it must NEVER be a
    broadcast build side -- Spark's size estimate for the projected
    shingle subtree undershoots badly enough that the 50x scale run
    picked BroadcastHashJoin(BuildRight=sh) and died building an
    8-figure-row array broadcast on the driver (BENCH_LEDGER/
    scale50x.json, round 11). The shuffle_hash hint on the PAIRS side
    makes both verify joins shuffle joins building the narrow
    (doc_a, doc_b) side per partition: partition-bounded memory at any
    corpus size, no sort of the array payload. (Round-12 re-measured the
    broadcast alternative at bench scale and it LOST -- see the
    module-level note.)"""
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = df.repartition(par, id_col).select(
        F.col(id_col), shingles(text_col).alias("sh")
    )
    j = (
        pairs.hint("shuffle_hash")
        .join(sh.withColumnsRenamed({id_col: "doc_a", "sh": "sh_a"}), "doc_a")
        .hint("shuffle_hash")
        .join(sh.withColumnsRenamed({id_col: "doc_b", "sh": "sh_b"}), "doc_b")
        .withColumn(
            "jaccard_raw",
            F.try_divide(
                F.size(F.array_intersect("sh_a", "sh_b")),
                F.size(F.array_union("sh_a", "sh_b")),
            ),
        )
    )
    # raw-ratio threshold, rounded output (the shared minhash boundary
    # rule -- ADVICE r7)
    return j.filter(F.col("jaccard_raw") >= threshold).select(
        "doc_a",
        "doc_b",
        (F.floor(F.col("jaccard_raw") * 10000 + 0.5) / 10000).alias("jaccard"),
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dup pipeline: signature -> banded candidates -> exact
    Jaccard verify. No stage is quadratic in corpus size.

    The shingle array per doc is computed ONCE and reused: it feeds both
    the signature explode and the verify join; the banded table is likewise
    reused because the candidate self-join consumes it twice. Without
    these, Spark recomputes the md5 pipeline once per join side (measured
    ~2x on the bench)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = reuse(
        df.repartition(par, id_col).select(
            F.col(id_col), shingles(text_col).alias("sh")
        )
    )
    exploded = sh.select(F.col(id_col), F.explode("sh").alias("s"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"sig_{i}")
        for i in range(k)
    ]
    sigs = exploded.groupBy(id_col).agg(*aggs)
    cands = lsh_candidate_pairs(sigs, id_col, k, bands)
    # shuffle_hash hint on the pairs side: the shingle table is
    # corpus-sized and must never be a broadcast build side (the 50x run
    # OOM'd the driver broadcasting it -- see jaccard_verify's docstring);
    # the hinted shuffle join builds the narrow pair side per partition.
    # (A size-conditional broadcast fallback was measured SLOWER same-day
    # at bench scale -- see the module-level round-12 note.)
    j = (
        cands.hint("shuffle_hash")
        .join(
            sh.withColumnsRenamed({id_col: "doc_a", "sh": "sh_a"}), "doc_a"
        )
        .hint("shuffle_hash")
        .join(sh.withColumnsRenamed({id_col: "doc_b", "sh": "sh_b"}), "doc_b")
        .withColumn(
            "jaccard_raw",
            # try_divide: two sub-n-token docs have empty shingle sets ->
            # 0/0 -> NULL -> filtered (ANSI mode would throw otherwise)
            F.try_divide(
                F.size(F.array_intersect("sh_a", "sh_b")),
                F.size(F.array_union("sh_a", "sh_b")),
            ),
        )
    )
    # Threshold on the RAW ratio (the oracle filters raw too); round only
    # for output. Filtering the rounded value would admit raw jaccards in
    # [threshold - 5e-5, threshold) that the oracle rejects.
    return j.filter(F.col("jaccard_raw") >= threshold).select(
        "doc_a",
        "doc_b",
        (F.floor(F.col("jaccard_raw") * 10000 + 0.5) / 10000).alias("jaccard"),
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Cluster near-dup pairs into components: (node, component) where
    component = min node id reachable through the pair graph.

    Min-label propagation over an edges DataFrame: each iteration joins
    labels across edges and keeps the min; stops at fixpoint, or after 20
    iterations. Iterations are O(diameter) -- near-dup graphs are shallow
    (dup clusters are near-cliques), so a handful of joins suffice at any
    corpus size; each iteration is one shuffle join, no driver-side graph.
    """
    # materialize the (possibly expensive) pair source once, and cut the
    # growing iteration lineage with ``reuse`` -- otherwise every
    # per-iteration count() action replays ALL prior joins plus the full
    # upstream pipeline (e.g. the whole minhash/LSH subtree). Round-12:
    # both init cuts are LAZY -- still lineage caps with block reuse
    # across iterations, but materialized inside iteration 1's
    # convergence job instead of two extra sequential build-time jobs
    # per fixpoint (guide §2.6 -- the corpus pipelines run two fixpoints
    # each, so this removes four serial job latencies per lane).
    edges = reuse(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    labels = reuse(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(20):
        # neighbor labels: for each node, the min component among neighbors
        neighbor = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "component")
        )
        # fused convergence check (round-12, guide §2.4): the node's OLD
        # label rides through the same union-aggregate (min over the rows
        # tagged _old -- every node has exactly one such row, so this IS
        # the previous label), so detecting the fixed point needs no join
        # against the previous labels. The lazy checkpoint + the count
        # below still cost ONE job per iteration, but that job no longer
        # contains a label-table self-join -- it reads the aggregate's own
        # checkpointed blocks.
        merged = reuse(
            labels.withColumn("_old", F.lit(True))
            .unionByName(neighbor.withColumn("_old", F.lit(False)))
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_old"), F.col("component"))).alias("_prev"),
            )
        )
        changed = (
            merged.filter(F.col("component") != F.col("_prev")).limit(1).count()
        )
        labels = merged.select("node", "component")
        if changed == 0:
            break
    return labels


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every doc whose near-dup component has a smaller id (keep-first
    across TRANSITIVE duplicate clusters -- pairwise keep-first would keep
    B from A~B, B~C even though C also duplicates A)."""
    comp = connected_components(pairs)
    doomed = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(doomed, id_col, "left_anti")


def simhash_codes(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash over distinct tokens: bit j of md5(token) votes +/-1 on code
    position j; sign of each positional sum forms the code.

    Layout mirrors minhash: one explode + one agg (map-side combinable) --
    per-token bit math stays in codegen via conv(hex-nibble) -> div/mod."""
    par = df.sparkSession.sparkContext.defaultParallelism
    tok = df.repartition(par, id_col).select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.hashing import (
        hex_nibble,
    )

    h = F.md5(F.col("tok"))
    votes = []
    for j in range(SIMHASH_BITS):
        nibble = hex_nibble(h, j // 4 + 1)
        bit = F.floor(nibble / (2 ** (j % 4))).cast("int") % 2
        votes.append(F.sum(bit * 2 - 1).alias(f"v{j}"))
    summed = tok.groupBy(id_col).agg(*votes)
    code = F.lit(0)
    for j in range(SIMHASH_BITS):
        code = code + F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
    return summed.select(F.col(id_col), code.cast("int").alias("simhash"))


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check: for every corpus document, the
    count and fraction of its distinct word n-grams that also appear in
    the benchmark set (the decontamination signal -- docs overlapping an
    eval benchmark get dropped before training).

    Scale layout: the benchmark's distinct n-grams are a small set
    (benchmarks are thousands of examples, not terabytes), so they
    broadcast; the corpus explodes its distinct shingles ONCE and a
    broadcast LEFT join marks the contaminated ones, so one hash agg
    yields both the total and the contaminated count (round-12: the old
    shape computed the shingle arrays twice -- a semi-join branch for the
    matched count plus a separate F.size pass for the totals). Docs whose
    shingle set is empty produce no exploded rows and are re-attached
    from the id projection with zero counts. At 100 TB this is one scan +
    one broadcast join + one hash agg."""
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import (
        fanout,
    )

    bench_grams = (
        benchmark.select(F.explode(shingles(text_col, n)).alias("g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # F1 fanout (guide §2.5): a single-row-group corpus arrives as ONE scan
    # partition, serializing the shingle explode onto one core; no-op at
    # real scale
    doc_grams = fanout(corpus.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("g")
    )
    # bench_grams is distinct on g, so the left join preserves row count
    per_doc = (
        doc_grams.join(F.broadcast(bench_grams), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_ngrams"),
            F.count("_hit").alias("contaminated_ngrams"),
        )
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import portable_round

    return corpus.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_ngrams"), F.lit(0)).cast("int").alias("n_ngrams"),
        F.coalesce(F.col("contaminated_ngrams"), F.lit(0))
        .cast("long")
        .alias("contaminated_ngrams"),
        F.when(
            F.col("n_ngrams") > 0,
            portable_round(
                F.coalesce(F.col("contaminated_ngrams"), F.lit(0))
                / F.col("n_ngrams"),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("contaminated_frac"),
    )


def simhash_neardup_pairs(
    codes: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    id_col: str = "doc_id",
    code_col: str = "simhash",
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance via banded
    equi-join (the web-scale layout: Manku et al., WWW'07).

    Split the code into ``n_bands`` contiguous bit bands and equi-join on
    (band index, band value): by pigeonhole, any pair within
    ``max_hamming < n_bands`` differing bits must agree EXACTLY on at
    least one band, so the banded join has perfect recall vs the O(n^2)
    brute force while touching only colliding candidates. One explode +
    one shuffled equi-join on (band, value); the xor/bit_count verify is
    codegen'd, no UDFs.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"need n_bands > max_hamming for exact recall "
            f"(got n_bands={n_bands}, max_hamming={max_hamming})"
        )
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    bands = codes.select(
        F.col(id_col),
        F.col(code_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(
                        F.col(code_col).cast("long"), i * width
                    ).bitwiseAND(F.lit(mask))
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    a = bands.select(
        F.col(id_col).alias("doc_a"), F.col(code_col).alias("code_a"), "band", "band_val"
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), F.col(code_col).alias("code_b"), "band", "band_val"
    )
    ham = F.bit_count(F.col("code_a").bitwiseXOR(F.col("code_b")))
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "code_a", "code_b")
        .distinct()
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
