"""Similarity search over embedding columns (BASELINE.json north-star
extension): brute-force cosine top-k as the exactness baseline, plus two
scale paths -- sign-LSH bucketing and IVF (centroid-partitioned) search.

Embeddings are ``array<float>`` columns; all math is JVM-side array
expressions (zip_with / aggregate) in double precision -- no Python in the
scoring loop. At 100 TB the brute-force path is a broadcast of the (small)
query set against a partitioned corpus scan: O(corpus x queries) with no
shuffle of the corpus; the LSH/IVF paths cut the scanned fraction. The
blocked near-duplicate pairs broadcast the corpus itself, so they are the
path for a corpus (or a per-shard slice) that fits in a broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.functions.arrays import (  # noqa: F401
    as_double,
    cosine,
    dot,
    norm,
)
from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
    portable_round,
)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, score every corpus row,
    rank per query. Returns (query_id, neighbor_id, cosine, rank)."""
    par = corpus.sparkSession.sparkContext.defaultParallelism
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    # corpus scan parallelism must not be bound to the file's split count --
    # the per-pair array math dominates, so spread it across all cores
    c = corpus.repartition(par).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            portable_round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def lsh_bucket(vec_col, n_planes: int = 8) -> Column:
    """Sign-LSH bucket id from deterministic +/-1 hyperplanes: plane j's
    weight for dimension i is +1 iff md5('j|i') starts with a hex digit
    <= '7'. Engine-portable (md5-derived), no stored model."""
    v = as_double(vec_col)
    bits = []
    for j in range(n_planes):
        signed = F.zip_with(
            v,
            F.sequence(F.lit(0), F.size(v) - 1),
            lambda x, i: F.when(
                F.substring(F.md5(F.concat(F.lit(f"{j}|"), i.cast("string"))), 1, 1)
                <= "7",
                x,
            ).otherwise(-x),
        )
        s = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(s > 0, F.lit(2**j)).otherwise(F.lit(0)))
    code = bits[0]
    for b in bits[1:]:
        code = code + b
    return code.cast("int")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: score only corpus rows in the query's LSH bucket. Recall is
    tunable via n_planes (fewer planes -> bigger buckets -> higher recall);
    multi-probe = union over neighboring buckets if needed."""
    bq = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        lsh_bucket(F.col(vec_col), n_planes).alias("bucket"),
    )
    bc = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        lsh_bucket(F.col(vec_col), n_planes).alias("bucket"),
    )
    scored = (
        bc.join(F.broadcast(bq), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            portable_round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """IVF-style ANN using a precomputed coarse partition (here the corpus'
    cluster/label column): centroids = per-cluster mean vector; a query
    probes its n_probe nearest centroids and scores only those clusters.
    At scale the corpus is bucketed/partitioned by cluster id so a probe
    reads only matching partitions (partition pruning)."""
    expl = corpus.select(
        F.col(cluster_col).alias("cluster"),
        F.posexplode(as_double(F.col(vec_col))).alias("pos", "val"),
    )
    centroids = (
        expl.groupBy("cluster", "pos")
        .agg(F.avg("val").alias("cval"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
        .select(
            "cluster",
            F.transform(F.col("pairs"), lambda p: p.getField("cval")).alias("centroid"),
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    from pyspark.sql import Window

    probe_w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "cluster")
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id", "qv", "cluster", cosine(F.col("qv"), F.col("centroid")).alias("sim")
        )
        .withColumn("prank", F.row_number().over(probe_w))
        .filter(F.col("prank") <= n_probe)
        .select("query_id", "qv", "cluster")
    )
    c = corpus.select(
        F.col(cluster_col).alias("cluster"),
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
    )
    scored = (
        c.join(F.broadcast(probes), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            portable_round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine, blocked by a coarse key
    (cluster/label) so the pair space is |block|^2, not |corpus|^2.

    The left side is repartitioned for full task parallelism and the right
    side is broadcast: a plain blk equi-join would cap parallelism at the
    block count. The corpus must therefore fit in a broadcast."""
    a = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism).select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_a"),
        as_double(F.col(vec_col)).alias("va"),
    )
    b = corpus.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_b"),
        as_double(F.col(vec_col)).alias("vb"),
    )
    return (
        a.join(F.broadcast(b), "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", portable_round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


def centroid_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """One k-means assignment step over an embedding column: centroids =
    per-label mean vectors, every vector re-assigned to its nearest
    centroid (squared L2, ties to the smaller label).

    100 TB layout -- the canonical distributed k-means iteration:

    * centroid pass: posexplode to (label, dim) then ONE hash aggregate;
      map-side combine caps the shuffle at n_labels x dim rows per
      partition regardless of corpus size.
    * assignment pass: the k x dim centroid table (a few KB) is
      BROADCAST; distance is native `zip_with`/`aggregate` array math
      inside codegen, and the arg-min is a `min(struct(d2, label))`
      aggregate -- again map-side combinable, no window, no shuffle of
      the k-expanded frame by vector id.

    No Python executes per row anywhere.
    """
    v_dbl = F.transform(vec_col, lambda x: x.cast("double"))
    e = df.select(F.col(id_col), F.col(label_col), v_dbl.alias("_v"))
    exp = e.select(
        F.col(label_col).alias("_cl"), F.posexplode("_v").alias("_pos", "_val")
    )
    cent = (
        exp.groupBy("_cl", "_pos")
        .agg(F.avg("_val").alias("_cval"))
        .groupBy("_cl")
        .agg(F.array_sort(F.collect_list(F.struct("_pos", "_cval"))).alias("_s"))
        .select("_cl", F.transform("_s", lambda st: st["_cval"]).alias("_cv"))
    )
    d2 = F.aggregate(
        F.zip_with("_v", "_cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        id_col,
        F.col(label_col),
        F.struct(d2.alias("d2"), F.col("_cl").alias("cl")).alias("_dc"),
    )
    best = scored.groupBy(id_col).agg(
        F.first(label_col).alias("true_label"),
        F.min("_dc").alias("_best"),
    )
    return best.select(
        id_col,
        "true_label",
        F.col("_best.cl").alias("assigned_label"),
        portable_round(F.col("_best.d2"), 6).alias("dist2"),
        (F.col("_best.cl") == F.col("true_label")).alias("is_own_centroid"),
    )
