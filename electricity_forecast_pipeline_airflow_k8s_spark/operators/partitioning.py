"""Input-parallelism repair (``fanout``) and the one lineage-cut primitive
(``reuse``) for compute-bound operators.

A parquet file is split at ROW-GROUP granularity: a table written as one
row group arrives as ONE scan partition no matter how small
``spark.sql.files.maxPartitionBytes`` is, so every map-side operator
downstream of that scan runs single-threaded (guide §2.5 "input skew:
one huge unsplittable file"). The fixture tables here are all single
row-group files, which serialized the whole per-document compute of the
text/dedup/similarity families onto one core (measured: the blocked
levenshtein join ran 9.5x faster once spread).

``fanout`` widens a DataFrame to the cluster's parallelism ONLY when its
current plan has fewer partitions -- at real scale (thousands of splits)
it is a no-op, so the exchange exists exactly when the input, not the
cluster, is the parallelism bottleneck. Apply it to the NARROW projection
feeding heavy per-row compute, never to a raw wide scan (guide §2.3:
project before the exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def reuse(df: DataFrame) -> DataFrame:
    """Mark a multiply-referenced frame for reuse and cut its lineage
    (guide §2.4/§5) -- the one primitive every builder and operator uses.

    The cut is a lazy checkpoint: a reliable ``checkpoint`` when the
    SparkContext has a checkpoint dir (``session.get_spark`` sets one from
    ``SPARK_GRAFT_CHECKPOINT_DIR``; the blocks survive executor loss),
    else a ``localCheckpoint``. Building it plans the frame and builds
    the checkpoint RDD, which under AQE (the session default) runs every
    shuffle stage below the cut at build time; the result stage runs at
    the first action, which stores the blocks that every later reference
    reads. Truncating the lineage also collapses the physical plan of
    each consumer (round-11 finding F4).

    A reliable checkpoint writes its files in a second job over the same
    RDD; that RDD is persisted so the job reads the first action's blocks
    instead of computing the frame again. Nothing unpersists it: the
    context cleaner drops the blocks once the returned frame is
    garbage-collected."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        return df.localCheckpoint(eager=False)
    out = df.checkpoint(eager=False)
    jvm_level = sc._jvm.org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK()
    out._jdf.queryExecution().logical().rdd().persist(jvm_level)
    return out


def fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the cluster's ``defaultParallelism`` when
    — and only when — the plan currently has fewer partitions. Row order
    is not preserved; callers must not rely on scan order (none of the
    registered queries do — every output contract orders explicitly)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
