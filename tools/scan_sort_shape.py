"""Scan every batch lane's physical plan for final-sort shapes whose
range-partitioning exchange sits DIRECTLY over a shuffle-free subtree: for
those, the range partitioner's boundary-sampling job re-executes the whole
subtree (there is no materialized shuffle stage to reuse), so an expensive
narrow projection is paid twice. Flags (lane, ledger_sec) ranked by bench
cost so the sort-the-input-first fix can be applied where it pays.

Usage: python tools/scan_sort_shape.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from electricity_forecast_pipeline_airflow_k8s_spark.plans.inspect import explain_str  # noqa: E402
from electricity_forecast_pipeline_airflow_k8s_spark.queries import queries as all_queries  # noqa: E402
from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark  # noqa: E402

from bench import timed_lanes  # noqa: E402


def _indent(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+-*(0123456789)":
        i += 1
    return i


def bare_range_exchanges(plan: str) -> int:
    """Count rangepartitioning Exchanges with NO Exchange in their subtree."""
    lines = plan.splitlines()
    hits = 0
    for i, line in enumerate(lines):
        if "Exchange rangepartitioning" not in line:
            continue
        d = _indent(line)
        sub_has_exchange = False
        for j in range(i + 1, len(lines)):
            if _indent(lines[j]) <= d:
                break
            if "Exchange" in lines[j]:
                sub_has_exchange = True
                break
        if not sub_has_exchange:
            hits += 1
    return hits


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    ledger_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "BENCH_LEDGER", "latest.json"
    )
    ledger = json.load(open(ledger_path))["queries"]
    spark = get_spark(app_name="efp-scan-sort")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    flagged: list[tuple[float, str, int]] = []
    for name in sorted(timed_lanes()):
        try:
            df = qs[name](spark, sf_dir)
            n = bare_range_exchanges(explain_str(df, "simple"))
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {exc}", flush=True)
            continue
        if n:
            flagged.append((ledger.get(name, 0.0), name, n))
    flagged.sort(reverse=True)
    for sec, name, n in flagged:
        print(f"{sec:7.2f}  {name}  bare_range_exchanges={n}", flush=True)
    print(f"total flagged: {len(flagged)}")


if __name__ == "__main__":
    main()
