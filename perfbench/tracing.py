"""Opt-in spans around the package's public calls.

Only a traced run (``--trace 1``) installs these wrappers; untraced runs
call the package untouched. A wrapper replaces a function under every name
the package binds it to: ``pipeline.py`` imports ``validate`` and
``write_snapshot`` at import time, so ``pipeline.validate`` is replaced as
well as ``operators.validation.validate``, while call sites that import
inside a function body pick the wrapper up from the defining module.

Spans stay in memory and are written out when the benchmark ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from telemetry import jobs_started

PACKAGE = "electricity_forecast_pipeline_airflow_k8s_spark"

# (defining module, function, span name)
WRAPPED = (
    ("sources.tables", "load_table", "sources.load_table"),
    ("sources.snapshots", "write_snapshot", "sources.write_snapshot"),
    ("sources.snapshots", "apply_retention", "sources.apply_retention"),
    ("operators.validation", "validate", "validation.validate"),
    ("operators.profile", "quality_profile", "profile.quality_profile"),
    ("pipeline", "run_preparation", "pipeline.run_preparation"),
    ("pipeline", "run_training", "pipeline.run_training"),
    ("ml.registry", "register_model", "ml.register_model"),
)


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    trace_id: int
    name: str
    start: float
    end: float
    jobs: int
    bytes: int = 0


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, filenames in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return total


class Tracer:
    """Records spans; ``trace_id`` groups the spans of one operation."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.trace_id = 0

    @contextmanager
    def span(self, name: str):
        span_id = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(span_id, parent, self.trace_id, name, time.perf_counter(), 0.0, jobs_started(self.spark))
        self.spans.append(rec)
        self._stack.append(span_id)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()
            rec.jobs = jobs_started(self.spark) - rec.jobs

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if name == "sources.write_snapshot" and isinstance(out, str) and os.path.isdir(out):
                    rec.bytes = _dir_bytes(out)
                return out

        return traced

    def install(self) -> None:
        """Replace every module-level binding of each wrapped function."""
        for mod_name, attr, span_name in WRAPPED:
            orig = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), attr)
            traced = self._wrap(orig, span_name)
            for name, mod in list(sys.modules.items()):
                if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is orig:
                        setattr(mod, key, traced)
                        self._undo.append((mod, key, orig))

    def uninstall(self) -> None:
        for mod, key, orig in reversed(self._undo):
            setattr(mod, key, orig)
        self._undo.clear()

    def totals(self, trace_ids: set[int]) -> dict[str, dict[str, float]]:
        """Inclusive seconds, calls, jobs and bytes per span name over the
        given operations."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s.trace_id in trace_ids:
                t = out[s.name]
                t["s"] += s.end - s.start
                t["calls"] += 1
                t["jobs"] += s.jobs
                t["bytes"] += s.bytes
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
