"""Profile individual bench lanes: time them exactly like bench.py (warmup
at sf0.001, best-of-N bench.time_lane runs: build call through the noop
write) and optionally dump the formatted physical plan to a file.

Usage:
    python tools/profile_lane.py [--sf DIR] [--iters N] [--plans OUTDIR] name...

Prints one line per lane: ``name  best  build/exec split of the best run
[all totals]`` plus plan-shape counts (Exchanges, joins, python-eval nodes)
so before/after claims in OPTIMIZATION_r*.md can be checked against real
output.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_lane  # noqa: E402
from electricity_forecast_pipeline_airflow_k8s_spark.queries import queries as all_queries  # noqa: E402
from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--plans", default=None, help="directory for <name>.txt formatted plans")
    ap.add_argument("--suffix", default="", help="plan filename suffix, e.g. _before/_after")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="efp-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    warm_dir = os.path.join(os.path.dirname(args.sf.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = args.sf

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    for name in args.names:
        if name not in qs:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if not args.no_warm:
            time_lane(spark, qs[name], warm_dir)
        runs = [time_lane(spark, qs[name], args.sf) for _ in range(args.iters)]
        build_s, exec_s = min(runs, key=sum)
        totals = [round(b + e, 3) for b, e in runs]
        if args.plans:
            from electricity_forecast_pipeline_airflow_k8s_spark.plans.inspect import explain_str

            df = qs[name](spark, args.sf)
            plan = explain_str(df)
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
            ex = plan.count("Exchange")
            smj = plan.count("SortMergeJoin")
            bhj = plan.count("BroadcastHashJoin")
            shj = plan.count("ShuffledHashJoin")
            py = plan.count("EvalPython") + plan.count("MapInPandas") + plan.count("MapInArrow")
            shape = f" plan[Exchange={ex} SMJ={smj} BHJ={bhj} SHJ={shj} py={py}]"
        else:
            shape = ""
        print(
            f"{name}: best={build_s + exec_s:.3f} build={build_s:.3f} "
            f"exec={exec_s:.3f} all={totals}{shape}",
            flush=True,
        )


if __name__ == "__main__":
    main()
