"""Mergeable-state folds through Structured Streaming.

One shared scaffold for the streaming mergeable trilogy
(`stream_topk_merge`, `stream_quantile_merge`, `stream_kmv_merge`):
the source lands as N parquet files, `maxFilesPerTrigger=1` streams
them as micro-batches in whatever order the engine picks, and each
batch folds into a dir-versioned state table under ``v=<batch_id>``.

Replay contract (the at-least-once guarantee the lanes claim): the
previous state for batch N is the newest landed version STRICTLY BELOW
N -- so a replayed batch N re-folds from the same pre-N state it saw
the first time and idempotently overwrites its own ``v=N`` dir. Reading
``v=N`` itself as "previous" would both double-fold the batch and
delete the files the lazy merged plan is reading mid-job (the bug a
round-8 review caught in the three hand-copied versions of this
scaffold; `tests/test_streaming.py::test_fold_state_replay_idempotent`
pins the rule).
"""

from __future__ import annotations

import glob
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _versions(state_root: str) -> list[tuple[int, str]]:
    return sorted(
        (int(p.rsplit("=", 1)[1]), p) for p in glob.glob(f"{state_root}/v=*")
    )


def land_batch(
    spark: SparkSession,
    state_root: str,
    fold: Callable[[DataFrame | None, DataFrame], DataFrame],
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """Fold one micro-batch into the state table (replay-safe): previous
    state = newest version < batch_id; output overwrites ``v=batch_id``."""
    prior = [p for v, p in _versions(state_root) if v < batch_id]
    prev = spark.read.parquet(prior[-1]) if prior else None
    fold(prev, batch_df).write.mode("overwrite").parquet(
        f"{state_root}/v={batch_id}"
    )


def fold_stream_state(
    spark: SparkSession,
    source: DataFrame,
    fold: Callable[[DataFrame | None, DataFrame], DataFrame],
    finalize: Callable[[DataFrame], DataFrame],
    n_batches: int = 4,
    timeout_s: int = 300,
) -> DataFrame:
    """Write ``source`` as ``n_batches`` files, stream them one per
    trigger, fold each into the versioned state, and return
    ``finalize(final_state)`` eagerly checkpointed (the temp dirs backing
    the state vanish on return)."""
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in source.schema
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        state_root = os.path.join(tmp, "state")
        source.repartition(n_batches).write.parquet(src)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda bdf, bid: land_batch(spark, state_root, fold, bdf, bid)
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"state fold did not finish in {timeout_s}s")
        versions = _versions(state_root)
        if not versions:
            # Empty source: no micro-batch ever landed, so the fold's
            # output schema is whatever fold(None, empty-source) declares.
            # Feed finalize that empty state instead of IndexError
            # (ADVICE r8).
            final = fold(None, spark.read.schema(schema).parquet(src)).limit(0)
        else:
            final = spark.read.parquet(versions[-1][1])
        # eager, not reuse(): the state files under tmp vanish on return
        return finalize(final).localCheckpoint(eager=True)
