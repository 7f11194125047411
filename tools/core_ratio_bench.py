"""Core-scaling evidence at the scale corpus (VERDICT r11 item 6).

At sf0.1 the whole suite is scheduler/fixed-overhead-bound: the driver's
8-core full bench beat the 32-core one outright (BENCH_r11_c8 264.9 s vs
BENCH_r11 342.4 s), so the sf0.1 low-core channel cannot demonstrate that
anything parallelizes. This tool supplies the replacement evidence: the
heavy lanes run against the key-shifted scale corpus (default 20x sf0.1,
the same generator as tools/scale_bench.py) at the core count given by
$SPARK_GRAFT_CPUS, and successive runs at different core counts merge
into ONE committed ledger with the core ratio computed per lane.

A lane parallelizes when t_c8 / t_c32 is meaningfully above 1 at a data
size where compute, not scheduling, dominates. Perfect scaling on a
4x core step would read 4.0; values well above 1 demonstrate real
parallel compute, values ~1 mark a lane that is latency-bound even at
this size (the CC fixpoints' serial convergence jobs, for instance).

Usage (two runs, any order; each appends its own column):
    SPARK_GRAFT_CPUS=32 python tools/core_ratio_bench.py
    SPARK_GRAFT_CPUS=8  python tools/core_ratio_bench.py

Output: BENCH_LEDGER/core_ratio.json (committed; shape pinned by
tests/test_scale_ledger_integrity.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The five heavy lanes named by VERDICT r11 item 6, with the two declared
# truth lanes replaced by their measured scale paths (graph_triangle_count
# -> graph_triangle_estimate, and the exact containment join kept as-is:
# it IS its own scale path).
LANES = [
    "graph_triangle_estimate",
    "text_setsim_prefix_join",
    "dedup_minhash_lsh_pairs",
    "corpus_prep_inc_batch",
    "dedup_containment_pairs",
]


def main() -> int:
    only = [a for a in sys.argv[1:] if not a.startswith("--")]

    import bench
    from tools.scale_bench import REPLICAS, SCALE_DIR, SRC_DIR, build_scale_dir

    from electricity_forecast_pipeline_airflow_k8s_spark.queries import (
        queries as all_queries,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.session import (
        default_parallelism,
        get_spark,
    )

    cpus = default_parallelism()
    spark = get_spark(app_name=f"efp-core-ratio-c{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    build_scale_dir(spark, SRC_DIR, SCALE_DIR)

    qs = all_queries()
    lanes = only or LANES

    def run(name: str) -> float:
        return round(sum(bench.time_lane(spark, qs[name], SCALE_DIR)), 3)

    # warmup at the source sf so codegen/JIT is out of the timed runs
    for name in lanes:
        bench.time_lane(spark, qs[name], SRC_DIR)

    col = f"c{cpus}_sec"
    out = os.path.join(REPO, "BENCH_LEDGER", "core_ratio.json")
    prev: dict = {"lanes": {}}
    if os.path.exists(out):
        with open(out) as f:
            prev = json.load(f)
    rows = prev.get("lanes", {})

    for name in lanes:
        best = min(run(name), run(name))  # best-of-2, warm session
        row = rows.setdefault(name, {})
        row[col] = best
        cols = sorted(
            (int(k[1:-4]), k) for k in row if k.startswith("c") and k.endswith("_sec")
        )
        if len(cols) >= 2:
            lo, hi = cols[0][1], cols[-1][1]
            row["ratio_low_over_high"] = (
                round(row[lo] / row[hi], 2) if row[hi] > 0 else None
            )
        print(name, row, flush=True)

    payload = {
        "corpus": f"{REPLICAS}x:{os.path.basename(SCALE_DIR.rstrip('/'))}",
        "replicas": REPLICAS,
        "measured": time.strftime("%Y-%m-%d"),
        "lanes": rows,
    }
    with open(out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"out": out, "col": col, "lanes": len(lanes)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
