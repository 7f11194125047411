"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE.txt NEW.txt

Each file holds the standard output of one or more ``perfbench/run.py``
invocations; only their run-record lines are read. Pairs whose records
differ in cpu count or Spark master are refused (exit code 2): their times
do not compare. For every workload and end-to-end metric the script prints
both medians, the change as a share of the base median, each side's spread
(quartile distance over median) and whether the change is worse than the
metric's bound in BENCHMARK.json (exit code 1 if any is). Traced runs are
left out: their end-to-end figures include untraced passes only, but the
traced passes beside them change what the JVM has compiled.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def records(path: str) -> list[dict]:
    """The untraced run records in one file of saved output."""
    out = []
    with open(path) as fh:
        for line in fh:
            if line.startswith('{"record"'):
                rec = json.loads(line)["record"]
                if not rec["trace"]:
                    out.append(rec)
    if not out:
        raise SystemExit(f"{path}: no untraced run records")
    return out


def spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def main(base_path: str, new_path: str) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    base, new = records(base_path), records(new_path)
    hosts = {(r["nproc"], r["master"]) for r in base + new}
    if len(hosts) > 1:
        print(f"refused: runs differ in (nproc, master): {sorted(hosts)}", file=sys.stderr)
        return 2
    worse = False
    print(f"{'workload':15s} {'metric':14s} {'base':>11s} {'new':>11s} {'change':>8s} "
          f"{'spread':>13s} {'bound':>6s}")
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        by_side = []
        for side in (base, new):
            vals = defaultdict(list)
            for r in side:
                if r["workload"] == wl:
                    for m, v in r["end_to_end"].items():
                        vals[m].append(v)
            by_side.append(vals)
        for m in spec["end_to_end"]:
            b, n = by_side[0][m["name"]], by_side[1][m["name"]]
            mb, mn = statistics.median(b), statistics.median(n)
            change = (mn - mb) / mb
            if m["better"] == "higher":
                change = -change
            flag = change > m["bound"]
            worse |= flag
            print(f"{wl:15s} {m['name']:14s} {mb:11.4f} {mn:11.4f} {change:+8.3f} "
                  f"{spread(b):6.3f}/{spread(n):6.3f} {m['bound']:6.2f}{'  WORSE' if flag else ''}")
    return 1 if worse else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
