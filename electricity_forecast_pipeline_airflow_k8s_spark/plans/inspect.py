"""Physical-plan inspection: programmatic access to what Catalyst actually
chose, so tests can PIN optimizer behavior (filter pushdown, column
pruning, broadcast selection, shuffle counts) instead of hoping for it.

The reference hand-codes its pushdowns into the REST request
(`core/data_extraction.py:62-74`); here they are optimizer outputs, and
these helpers make them assertable. ``plan_shape`` is the one walker
over the physical plan tree; the bench sweep gates its counts against
``BENCH_LEDGER/plan_shape.json`` (regenerate with tools/plan_shape.py).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (PushedFilters: [...])."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the scan (ReadSchema) -- pruning check."""
    text = explain_str(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return plan_shape(df)["join_bhj"] > 0


def forced_broadcast_count(df: DataFrame) -> int:
    """Explicit ``F.broadcast()`` hints in the analyzed logical plan --
    distinguishes hand-forced broadcasts (which OOM when the hinted side
    grows with SF) from ones Catalyst/AQE chose by measured size."""

    def visit(node) -> int:
        name = node.nodeName()
        # a ResolvedHint's strategy is an Option[JoinStrategyHint]
        forced = name == "ResolvedHint" and str(node.hints().strategy()) == "Some(broadcast)"
        return forced + sum(visit(c) for c in plan_children(node, name))

    return visit(df._jdf.queryExecution().analyzed())  # type: ignore[attr-defined]


_EXCHANGES = {
    "HashPartitioning": "exchange_hash",
    "RangePartitioning": "exchange_range",
    "RoundRobinPartitioning": "exchange_round_robin",
    "SinglePartition$": "exchange_single",
}
_JOINS = {
    "SortMergeJoin": "join_smj",
    "BroadcastHashJoin": "join_bhj",
    "ShuffledHashJoin": "join_shj",
    "BroadcastNestedLoopJoin": "join_bnlj",
    "CartesianProduct": "join_cartesian",
}
# One fingerprint field per plan property that decides how a lane scales:
# shuffles by partitioning, joins by strategy, scans, Python round trips,
# single-partition windows, and "bare" range exchanges (a sort whose range
# partitioner has no shuffle below it, so its boundary-sampling job
# re-runs the whole subtree).
SHAPE_FIELDS = (
    *_EXCHANGES.values(),
    "exchange_broadcast",
    *_JOINS.values(),
    "parquet_scans",
    "python_eval",
    "window_unpartitioned",
    "range_bare",
)
# ArrowEvalPython, BatchEvalPython, ArrowAggregatePython,
# ArrowWindowPython, MapInPandas/MapInArrow, FlatMap[Co]GroupsIn{Pandas,
# Arrow}, and the Spark 3 AggregateInPandas/WindowInPandas
_PYTHON_MARKERS = ("Python", "InPandas", "InArrow")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_children(node, name: str) -> list:
    """The nodes directly below a plan node named ``name`` (its
    nodeName), looking through the adaptive wrappers: an
    ``AdaptiveSparkPlan`` (a leaf to Catalyst, so a plain walk stops
    there) shows its current plan, a query stage its exchange. A node's
    subquery plans count as its children."""
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    return _seq(node.children()) + _seq(node.subqueries())


def plan_shape(df: DataFrame) -> dict[str, int]:
    """Node counts of ``df``'s physical plan, one per ``SHAPE_FIELDS``.

    Walks the plan tree node by node (no explain text); forcing the
    physical plan runs no job. A reused exchange is not counted again."""
    shape = dict.fromkeys(SHAPE_FIELDS, 0)

    def visit(node) -> bool:
        """Count ``node``'s subtree; True when it holds an exchange."""
        name = node.nodeName()
        below = any([visit(c) for c in plan_children(node, name)])
        if name == "Exchange":
            kind = _EXCHANGES[node.outputPartitioning().getClass().getSimpleName()]
            shape[kind] += 1
            shape["range_bare"] += kind == "exchange_range" and not below
            return True
        if name == "BroadcastExchange":
            shape["exchange_broadcast"] += 1
            return True
        if name in _JOINS:
            shape[_JOINS[name]] += 1
        elif name.startswith("Scan parquet"):
            shape["parquet_scans"] += 1
        elif name == "Window":
            shape["window_unpartitioned"] += node.partitionSpec().isEmpty()
        elif any(m in name for m in _PYTHON_MARKERS):
            shape["python_eval"] += 1
        return below or name == "ReusedExchange"

    visit(df._jdf.queryExecution().executedPlan())  # type: ignore[attr-defined]
    return shape
