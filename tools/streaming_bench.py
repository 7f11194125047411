"""Streaming timing evidence (VERDICT r10 item 3).

bench.py times every registry lane except the `stream_*` lanes (see
bench.timed_lanes: their wall-clock is dominated by landing the file
source + micro-batch trigger overhead, which would drown the batch lanes'
signal in the main ledger), so they get their own ledger. This tool
measures them for real: each lane runs exactly as registered (REAL
Structured Streaming -- file source, availableNow trigger, foreachBatch
state folds / memory sinks), while a StreamingQueryListener captures
per-micro-batch progress (numInputRows, triggerExecution ms) from the
engine itself; no lane code is modified. Each lane is timed by
bench.time_lane, the bench's one timer (build call through the noop write).

Recorded per lane:
- wall_sec          end-to-end: source landing + all micro-batches + finalize
- input_rows        sum of numInputRows over all micro-batch progress events
- rows_per_sec      input_rows / wall_sec (END-TO-END throughput, i.e. a
                    lower bound on engine throughput -- landing the source
                    parquet is inside the bracket)
- micro_batches     progress events with numInputRows > 0
- trigger_ms        per-micro-batch durationMs.triggerExecution
- batch_p50_ms / batch_max_ms

Output: BENCH_LEDGER/streaming.json (committed; shape pinned by
tests/test_streaming_ledger.py).

Usage: python tools/streaming_bench.py [name ...]   (default: the four
flagship lanes -- the mergeable state-fold trilogy + windowed stats)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT_LANES = [
    "stream_topk_merge",
    "stream_quantile_merge",
    "stream_kmv_merge",
    "stream_windowed_stats",
]

# Round-12 (VERDICT r11 item 8): per-lane wall-clock budgets, the bench.py
# convention ported to the streaming ledger -- 1.5x the round-11 committed
# wall_sec. Streaming walls are dominated by micro-batch scheduling and
# checkpoint I/O whose run-to-run spread is larger than the batch lanes',
# so the effective budget adds a 2 s noise margin floor:
# max(budget, wall/1.5 + 2.0). Exceeding a budget does not fail the tool;
# it lands in the ledger's over_budget map, and
# tests/test_streaming_ledger.py gates on the COMMITTED ledger being
# budget-clean, which is what makes a streaming regression visible
# round-over-round.
STREAM_NOISE_MARGIN_SEC = 2.0
STREAM_BUDGETS: dict[str, float] = {
    "stream_corpus_dedup_merge": 11.88,
    "stream_dedup_counts": 17.95,
    "stream_hopping_topk": 3.79,
    "stream_join_windowed_attribution": 13.34,
    "stream_kmv_merge": 6.72,
    "stream_quality_counts": 3.53,
    "stream_quantile_merge": 7.52,
    "stream_session_stats": 4.84,
    "stream_static_enrich": 4.37,
    "stream_stream_join": 10.93,
    "stream_topk_merge": 16.54,
    "stream_triangle_ivm_merge": 10.93,
    "stream_upsert_replay_state": 21.09,
    "stream_windowed_stats": 4.24,
}


def effective_stream_budget(name: str) -> float:
    budget = STREAM_BUDGETS[name]
    return max(budget, budget / 1.5 + STREAM_NOISE_MARGIN_SEC)


def main() -> int:
    only = [a for a in sys.argv[1:] if not a.startswith("--")]

    from pyspark.sql.streaming import StreamingQueryListener

    from bench import time_lane
    from electricity_forecast_pipeline_airflow_k8s_spark.queries import (
        queries as all_queries,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark

    class Collector(StreamingQueryListener):
        """Engine-side per-micro-batch progress, any query in the session."""

        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802 (API name)
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    spark = get_spark(app_name="efp-streaming-bench")
    spark.sparkContext.setLogLevel("ERROR")
    collector = Collector()
    spark.streams.addListener(collector)

    qs = all_queries()
    lanes = only or DEFAULT_LANES
    unknown = [n for n in lanes if n not in qs]
    assert not unknown, f"unknown lanes: {unknown}"

    # Session warmup (round-12): the first streaming query in a fresh JVM
    # pays codegen/JIT/state-store init that every later lane skips -- the
    # r12 refresh measured the first lane 3.5x its warm wall. One untimed
    # run of the first lane puts every timed lane on equal footing (the
    # same convention as bench.py's sf0.001 warmup pass).
    time_lane(spark, qs[lanes[0]], SF_DIR)

    results: dict[str, dict] = {}
    for name in lanes:
        collector.progress.clear()
        wall = round(sum(time_lane(spark, qs[name], SF_DIR)), 3)
        # listener events arrive on a background thread; availableNow
        # queries are terminated by now, give the bus a moment to drain
        deadline = time.time() + 10
        while not collector.progress and time.time() < deadline:
            time.sleep(0.2)
        time.sleep(0.5)
        batches = [p for p in collector.progress if p.get("numInputRows", 0) > 0]
        rows = sum(p["numInputRows"] for p in batches)
        trig = [
            p.get("durationMs", {}).get("triggerExecution")
            for p in batches
            if p.get("durationMs", {}).get("triggerExecution") is not None
        ]
        results[name] = {
            "wall_sec": wall,
            "input_rows": rows,
            "rows_per_sec": round(rows / wall) if wall > 0 else None,
            "micro_batches": len(batches),
            "trigger_ms": trig,
            "batch_p50_ms": round(statistics.median(trig)) if trig else None,
            "batch_max_ms": max(trig) if trig else None,
            "measured": time.strftime("%Y-%m-%d"),
        }
        print(name, results[name], flush=True)

    out = os.path.join(REPO, "BENCH_LEDGER", "streaming.json")
    merged = dict(results)
    if os.path.exists(out):
        with open(out) as f:
            prev = json.load(f).get("lanes", {})
        merged = {**prev, **results}
    over_budget = {
        name: {"sec": row["wall_sec"], "budget": effective_stream_budget(name)}
        for name, row in merged.items()
        if name in STREAM_BUDGETS
        and row["wall_sec"] > effective_stream_budget(name)
    }
    payload = {"sf_dir": SF_DIR, "lanes": merged, "over_budget": over_budget}
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"lanes": len(results), "out": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
