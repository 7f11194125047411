"""Plan-shape fingerprints: build lanes and count their physical plans'
exchanges, joins, scans, Python-eval nodes and unpartitioned windows with
plans.inspect.plan_shape (no lane is materialized; jobs a builder runs --
boundary collects, lineage cuts -- still run).

Usage: python tools/plan_shape.py [--sf DIR] [--explain DIR] [lane ...]

Prints each lane's non-zero counts. With no lane named, every timed lane
(bench.timed_lanes()) is fingerprinted and BENCH_LEDGER/plan_shape.json is
rewritten ($SPARK_GRAFT_BENCH_LEDGER moves it); the default sf0.001 is the
data tests/test_bench_smoke.py gates the ledger against. --explain DIR
writes each lane's formatted plan to DIR/<lane>.txt (before/after evidence:
run once per checkout into two dirs and diff them).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from electricity_forecast_pipeline_airflow_k8s_spark.plans.inspect import (  # noqa: E402
    explain_str,
    plan_shape,
)
from electricity_forecast_pipeline_airflow_k8s_spark.queries import queries as all_queries  # noqa: E402
from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark  # noqa: E402
from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import DEFAULT_SF_DIR  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("lanes", nargs="*")
    ap.add_argument("--sf", default=bench.warm_dir_for(DEFAULT_SF_DIR))
    ap.add_argument("--explain", default=None, help="directory for <lane>.txt formatted plans")
    args = ap.parse_args()

    spark = get_spark(app_name="efp-plan-shape")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
    shapes = {}
    for name in args.lanes or bench.timed_lanes():
        df = qs[name](spark, args.sf)
        shapes[name] = plan_shape(df)
        if args.explain:
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                fh.write(explain_str(df))
        counts = " ".join(f"{k}={v}" for k, v in shapes[name].items() if v)
        print(f"{name}: {counts}", flush=True)
    if args.lanes:
        return
    os.makedirs(bench.ledger_dir(), exist_ok=True)
    path = os.path.join(bench.ledger_dir(), "plan_shape.json")
    # the conf that shapes the plans is the session's at git_sha
    run = {**bench.run_meta(spark, args.sf), "spark_version": spark.version}
    del run["conf"]
    # one line per lane, so a plan change reads as a one-line ledger diff
    rows = ",\n  ".join(f"{json.dumps(n)}: {json.dumps(s)}" for n, s in shapes.items())
    with open(path, "w") as fh:
        fh.write(f'{{"run": {json.dumps(run)},\n "lanes": {{\n  {rows}\n}}}}\n')
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
