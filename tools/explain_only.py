"""Dump .explain("formatted") for named lanes WITHOUT timing them —
used to capture before/after plan evidence cheaply (jobs a lane's builder
runs -- boundary collects, lineage cuts -- still run, but the returned
frame is never materialized).

Usage: python tools/explain_only.py OUTDIR SUFFIX name...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from electricity_forecast_pipeline_airflow_k8s_spark.plans.inspect import (  # noqa: E402
    explain_str,
)
from electricity_forecast_pipeline_airflow_k8s_spark.queries import (  # noqa: E402
    queries as all_queries,
)
from electricity_forecast_pipeline_airflow_k8s_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="efp-explain")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in names:
        if name not in qs:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        df = qs[name](spark, sf_dir)
        path = os.path.join(outdir, f"{name}{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(explain_str(df))
        print(f"{name}: wrote {path}", flush=True)


if __name__ == "__main__":
    main()
