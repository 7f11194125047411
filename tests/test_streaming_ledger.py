"""Shape pin for the committed streaming timing ledger (VERDICT r10
item 3): the registry's stream_* lanes, which bench.py does not time,
must each carry real engine-measured evidence in
BENCH_LEDGER/streaming.json -- wall-clock, input rows, end-to-end
rows/sec, and per-micro-batch triggerExecution latencies captured by a
StreamingQueryListener (tools/streaming_bench.py). JSON checks against
the registry; no Spark session.
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _lanes():
    with open(os.path.join(ROOT, "BENCH_LEDGER", "streaming.json")) as f:
        return json.load(f)["lanes"]


def test_every_bench_excluded_stream_lane_is_measured():
    from electricity_forecast_pipeline_airflow_k8s_spark.queries import registry

    stream_lanes = {n for n in registry() if n.startswith("stream_")}
    assert stream_lanes
    missing = stream_lanes - set(_lanes())
    assert not missing, f"stream lanes with no committed timing: {missing}"


def test_entries_carry_engine_progress_evidence():
    for name, r in _lanes().items():
        assert r["wall_sec"] > 0, name
        assert r["input_rows"] > 0, name
        assert r["rows_per_sec"] > 0, name
        assert r["micro_batches"] >= 1, name
        # per-micro-batch latencies come from the engine's progress events
        assert len(r["trigger_ms"]) == r["micro_batches"], name
        assert r["batch_max_ms"] >= r["batch_p50_ms"] > 0, name
        assert r["measured"], name


def test_fold_lanes_ran_multiple_micro_batches():
    """The mergeable-fold lanes stream their source as n_batches=4 files
    with maxFilesPerTrigger=1 -- their evidence must show the fold
    actually iterated (4 micro-batches), not one availableNow gulp."""
    lanes = _lanes()
    for name in (
        "stream_topk_merge",
        "stream_quantile_merge",
        "stream_kmv_merge",
        "stream_corpus_dedup_merge",
        "stream_triangle_ivm_merge",
    ):
        assert lanes[name]["micro_batches"] == 4, (name, lanes[name])


def test_every_stream_lane_has_a_budget_and_ledger_is_budget_clean():
    """Round-12 (VERDICT r11 item 8): the streaming ledger carries the
    same budget gating convention as bench.py -- every measured lane has
    a wall-clock budget, and the COMMITTED ledger must be budget-clean,
    so a streaming regression shows up as a failing gate instead of a
    silently larger number."""
    sys_path = os.path.join(ROOT, "tools")
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "streaming_bench", os.path.join(sys_path, "streaming_bench.py")
    )
    sb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sb)

    lanes = _lanes()
    missing = set(lanes) - set(sb.STREAM_BUDGETS)
    assert not missing, f"stream lanes without a budget: {missing}"
    over = {
        name: (row["wall_sec"], sb.effective_stream_budget(name))
        for name, row in lanes.items()
        if row["wall_sec"] > sb.effective_stream_budget(name)
    }
    assert not over, f"committed streaming ledger over budget: {over}"
    # the ledger also records the over_budget map the tool computed at
    # measure time (empty on a clean refresh)
    with open(os.path.join(ROOT, "BENCH_LEDGER", "streaming.json")) as f:
        payload = json.load(f)
    assert "over_budget" in payload, "ledger predates budget gating -- refresh it"
