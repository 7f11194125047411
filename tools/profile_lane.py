"""Profile individual bench lanes: time them exactly like bench.py (warmup
at sf0.001, best-of-N bench.time_lane runs: build call through the noop
write).

Usage:
    python tools/profile_lane.py [--sf DIR] [--iters N] name...

Prints one line per lane: ``name  best  build/exec split of the best run
[all totals]  [classes compiled]  [compile seconds]`` (the last two per
timed run, from Spark's code generator), so before/after claims in
OPTIMIZATION_r*.md can be checked against real output. Plan shape and
formatted plans: tools/plan_shape.py.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import codegen_counters, time_lane, warm_dir_for  # noqa: E402
from electricity_forecast_pipeline_airflow_k8s_spark.queries import queries as all_queries  # noqa: E402
from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="efp-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    warm_dir = warm_dir_for(args.sf)

    for name in args.names:
        if name not in qs:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if not args.no_warm:
            time_lane(spark, qs[name], warm_dir)
        runs, compiles, compile_s = [], [], []
        for _ in range(args.iters):
            n0, s0 = codegen_counters(spark)
            runs.append(time_lane(spark, qs[name], args.sf))
            n1, s1 = codegen_counters(spark)
            compiles.append(n1 - n0)
            compile_s.append(round(s1 - s0, 3))
        build_s, exec_s = min(runs, key=sum)
        totals = [round(b + e, 3) for b, e in runs]
        print(
            f"{name}: best={build_s + exec_s:.3f} build={build_s:.3f} "
            f"exec={exec_s:.3f} all={totals} compiles={compiles} "
            f"compile_s={compile_s}",
            flush=True,
        )


if __name__ == "__main__":
    main()
