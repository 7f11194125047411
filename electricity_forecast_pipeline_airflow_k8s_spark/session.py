"""SparkSession construction with scale-oriented defaults.

The reference pipeline runs single-threaded pandas in one worker pod
(`core/airflow_dag.py`, `core/kubeflow_pipeline.py`); here every job is a
distributed Spark plan, so the session carries the configs that matter at
cluster scale: AQE (runtime coalescing + skew-join splitting), Arrow for
every pandas-UDF boundary, and sane shuffle-partition defaults.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Defaults chosen for the 100 TB design point but overridable per-job:
#  - AQE on: runtime partition coalescing + skew-join handling (few group
#    keys x many rows per key is exactly the reference's data shape).
#  - 128 MiB target partition bytes keeps scan partitions memory-friendly.
#  - Arrow on: every pandas-UDF boundary is vectorized.
#  - Generated-code cache sized to the engine's working set. Spark compiles
#    each whole-stage pipeline and many expressions to a Java class (Janino)
#    and caches it by source text, 100 classes by default. In a fresh JVM,
#    one pass over the timed lanes at sf0.001 generates 4,284 distinct
#    classes; with the codegen id in class names (below) it made 5,337, the
#    same pass at sf0.1 599 more and a weekly DAG run 60. With the default,
#    every repeated query recompiles its classes and the JIT warms them
#    again. The cache is an LRU kept in 4 segments of 1/4 of the maximum
#    each, so 8192 leaves every segment above its share of that working
#    set; the cap itself reserves no memory. It cannot go stale: the key is
#    the full generated source, so a hit returns the class compiled from
#    exactly that code.
#  - No codegen id in generated class names. Under AQE the whole-stage
#    codegen ids follow the order in which stages are re-planned, so with
#    the id in the name the same pipeline's source, the cache key, differs
#    from run to run. A repeat pass over the timed lanes at sf0.001
#    recompiled 294 classes in 39 lanes with the id, 86 in 15 without; six
#    of those lanes (val_cramers_v, val_referential_integrity,
#    graph_ppr_unrolled, val_join_cardinality, corpus_prep_inc_batch,
#    layout_bloom_pruning) compiled 632 / 102 / 66 / 35 classes in four
#    passes in one JVM with the id, 375 / 12 / 12 / 12 without. Pipelines
#    of one shape now also share one class. Stack traces and profilers no
#    longer show the stage id.
#  - Python workers fork from the engine's daemon (``pydaemon``). Before
#    every task pyspark's worker calls ``importlib.invalidate_caches()``,
#    and on Python 3.11 each zipimporter then re-reads its archive's whole
#    directory: the worker holds 16 of them (12 on pyspark.zip, 2 on the
#    15 MB spark-core jar, 2 on py4j), 26,672 entries, 102-114 ms per task
#    at local[4] -- against 0.1 ms for the same call in a plain interpreter.
#    The daemon re-reads an archive only when its (mtime, size) changed.
#    A one-partition scalar pandas-UDF job fell from 203-265 to 140-174 ms
#    (40-50 ms without the UDF). Executors must be able to import the
#    package, as the engine's UDFs already require (README, Deploying).
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.sql.codegen.cache.maxEntries": "8192",
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.python.daemon.module": "electricity_forecast_pipeline_airflow_k8s_spark.pydaemon",
}


def default_parallelism() -> int:
    """Worker-thread count for local mode (driver contract: SPARK_GRAFT_CPUS)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "electricity-forecast-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]`` with shuffle partitions matched to cores
    (at cluster scale, shuffle partitions should be sized so each partition
    stays ~100-200 MiB; AQE coalescing then trims the tail).

    ``SPARK_GRAFT_CHECKPOINT_DIR`` (HDFS or the object store on a cluster)
    becomes the context's checkpoint dir, which switches
    ``operators.partitioning.reuse`` from ``localCheckpoint`` to reliable
    checkpoints that survive executor loss.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or max(cpus, 8))
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckdir:
        spark.sparkContext.setCheckpointDir(ckdir)
    return spark


def local_frame(spark: SparkSession, rows: Iterable[tuple], ddl: str) -> DataFrame:
    """A small driver-built frame (a report row, a catalog entry, a checks
    table) as a ``LocalRelation``: the rows reach the JVM as one Arrow
    table, so the frame is one partition and building or reading it needs
    no Spark job and no Python worker. ``createDataFrame`` of a Python list
    instead parallelizes the rows through a Python RDD, a job with a
    Python worker per task."""
    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def s3a_conf(
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style: bool = True,
) -> dict[str, str]:
    """Hadoop-S3A configs for an S3-compatible object store.

    The reference stores CSV snapshots in MinIO via the `minio` client
    (`core/data_extraction.py:140-172`, `core/airflow_dag.py:202-214`); the
    Spark-native equivalent is s3a:// URIs with these configs, letting every
    executor read/write its own split instead of funneling bytes through one
    process.
    """
    return {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.access.key": access_key,
        "spark.hadoop.fs.s3a.secret.key": secret_key,
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": "false",
        # committer + upload tuning: the magic committer commits via
        # multipart-upload completion instead of rename (S3 has no rename;
        # the default FileOutputCommitter v1 does O(files) copies at job
        # commit -- a 100 TB write would spend hours there). These are
        # Hadoop-side keys consulted only for s3a:// paths, so carrying
        # them in every session is safe for file://.
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
        "spark.hadoop.fs.s3a.connection.maximum": "64",
        "spark.hadoop.fs.s3a.multipart.size": "67108864",
        "spark.hadoop.fs.s3a.fast.upload": "true",
    }


def s3a_committer_conf() -> dict[str, str]:
    """Spark-side bindings that route parquet writes through the S3A
    PathOutputCommitter (magic committer). Split from :func:`s3a_conf`
    because these two keys change the commit protocol for ALL writes and
    require the ``spark-hadoop-cloud`` module on the classpath -- apply
    them only on clusters that ship it (any s3-targeting distro does)."""
    return {
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
    }
