"""Spark-side counters the benchmark reads: jobs fired, per-job timings and
stage metrics from the JVM status store, peak resident memory, and the run
metadata stamped on every result.

All counters are read through the py4j gateway to the JVM; none needs the
Spark UI, which the package's session disables.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import platform
import subprocess
from dataclasses import dataclass, fields

# Conf entries Spark fills in per application or launch (ids, start times,
# host and port, generated paths, the JVM flags pyspark adds); they differ
# between runs and say nothing about how the session was configured.
_VOLATILE_SUFFIXES = (".id", "Time", ".host", ".port", ".dir", ".pyFiles", ".jars", "JavaOptions")


def jobs_started(spark) -> int:
    """Job ids handed out so far. Every job gets the next id, so the
    difference across a call counts the jobs it fired, including those
    submitted from helper threads that do not inherit a job group."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@dataclass
class ExecStats:
    """What Spark executed for one operation (a lane, or one DAG run)."""

    jobs: int = 0
    job_s: float = 0.0
    idle_s: float = 0.0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0

    def add(self, other: "ExecStats") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def exec_stats(spark, first_job: int, last_job: int, t0: float, t1: float) -> ExecStats:
    """Read jobs ``[first_job, last_job)`` from the status store.

    ``t0``/``t1`` are the operation's wall-clock bounds (``time.time()``);
    idle time is the part of that window no job was running in.
    """
    jsc = spark.sparkContext._jsc.sc()
    # the status store is fed asynchronously by the listener bus
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    tasks_arg = getattr(store, "stageData$default$3")()
    quant_arg = getattr(store, "stageData$default$5")()
    out = ExecStats(jobs=last_job - first_job)
    spans: list[tuple[float, float]] = []
    seen: set[int] = set()
    for job_id in range(first_job, last_job):
        job = store.job(job_id)
        sub, end = job.submissionTime(), job.completionTime()
        if sub.isDefined() and end.isDefined():
            a, b = sub.get().getTime() / 1000.0, end.get().getTime() / 1000.0
            out.job_s += b - a
            spans.append((max(a, t0), min(b, t1)))
        ids = job.stageIds().iterator()
        while ids.hasNext():
            stage_id = ids.next()
            if stage_id in seen:
                continue
            seen.add(stage_id)
            attempts = store.stageData(stage_id, False, tasks_arg, False, quant_arg).iterator()
            while attempts.hasNext():
                st = attempts.next()
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.diskBytesSpilled()
                out.executor_run_s += st.executorRunTime() / 1000.0
    covered, edge = 0.0, t0
    for a, b in sorted(spans):
        a = max(a, edge)
        if b > a:
            covered += b - a
            edge = b
    out.idle_s = max(0.0, (t1 - t0) - covered)
    return out


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _pids(spark) -> dict[str, int | str]:
    return {"python": "self", "jvm": spark.sparkContext._gateway.proc.pid}


def reset_peak_rss(spark) -> None:
    """Restart both processes' peak resident-set counters."""
    for pid in _pids(spark).values():
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident set (MB) of this Python process and of the Spark JVM."""
    return {name: _vm_hwm_kb(pid) / 1024.0 for name, pid in _pids(spark).items()}


class StealMeter:
    """Share of CPU time the hypervisor gave to other guests since creation
    (``steal`` in ``/proc/stat``): a run that shows more of it than its
    neighbours ran on a busier host."""

    def __init__(self):
        self._start = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7] if len(ticks) > 7 else 0, sum(ticks)

    def share(self) -> float:
        (s0, t0), (s1, t1) = self._start, self._read()
        return (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0


def source_digest(root: str, package: str) -> str:
    """SHA-256 over the package's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def run_metadata(spark, root: str, package: str) -> dict:
    sc = spark.sparkContext
    conf = {
        k: v for k, v in sc.getConf().getAll()
        if not k.endswith(_VOLATILE_SUFFIXES)
    }
    return {
        "git_sha": git_sha(root),
        "source_sha256": source_digest(root, package),
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_version": spark.version,
        "python": platform.python_version(),
        "session_conf": dict(sorted(conf.items())),
        "timestamp": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }
