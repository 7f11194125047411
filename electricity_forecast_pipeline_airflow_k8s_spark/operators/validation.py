"""Declarative validation suite -- the reference validator re-expressed as
Spark aggregation plans.

Reference: `ElectricityDataValidator.validate` (`core/data_validation.py:74-235`)
runs a Pandera schema (coerce, lazy) plus hand-written quality checks, each as
its own pandas pass with per-region Python loops. Here every check family is
compiled into native Column aggregations (zero UDFs -- SURVEY §2.10 U1) and
the input is read by two actions at any scale: one global hash-agg pass
(counts, ranges, moments, median and q99, the region set) and one grouped
pass over the frame hash-partitioned on the group, which carries the lag gap
and the IQR quantiles (`operators.profile.windowed_by_group`, shared with
`quality_profile`) and yields per-group stats, gaps, outliers, duplicates
and the extreme count against the first pass's q99.

Semantics mirrored exactly (thresholds from `core/data_validation.py` and
`config.yaml`):
  * null period/respondent           -> error    (:30-46)
  * type outside {D,NG,TI,ID}        -> error    (:47-53)
  * value < 0                        -> error    (:54-58)
  * value >= 3 * q99(value)          -> error    (:61-62, two-pass dynamic gate)
  * value null rate > 5%             -> error; any nulls -> warning (:139-147)
  * duplicate (respondent, period)   -> error    (:149-154)
  * gaps > 1.5x expected cadence     -> warning  (:110-133)
  * per-group IQRx3 outliers > 2%    -> warning  (:187-218)

Outputs: a flat ``checks`` DataFrame (check, level, scope, metric, threshold,
passed, message) -- the SQL-testable surface -- plus a nested report dict
shaped like the reference's JSON report (`core/data_validation.py:81-86`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.operators.profile import (
    GAP_TOLERANCE_SECONDS,
    windowed_by_group,
)
from electricity_forecast_pipeline_airflow_k8s_spark.session import local_frame

VALID_TYPES = ("D", "NG", "TI", "ID")
# set notation in declaration order: a set's own repr follows the hash seed
VALID_TYPES_TEXT = "{" + ", ".join(map(repr, VALID_TYPES)) + "}"
MISSING_PCT_ERROR = 5.0  # core/data_validation.py:140-143
OUTLIER_PCT_WARN = 2.0  # core/data_validation.py:199-200,205
EXTREME_Q99_FACTOR = 3.0  # core/data_validation.py:61-62


@dataclass
class ValidationReport:
    is_valid: bool
    errors: list[str]
    warnings: list[str]
    stats: dict[str, Any]
    checks: DataFrame = field(repr=False, default=None)

    def as_dict(self) -> dict[str, Any]:
        return {
            "is_valid": self.is_valid,
            "errors": self.errors,
            "warnings": self.warnings,
            "stats": self.stats,
        }


def _global_checks(
    df: DataFrame, group_col: str, ts_col: str, value_col: str, type_col: str | None
) -> dict[str, Any]:
    """Every global check in one aggregate with no distinct aggregate, so
    it plans as one partial + final hash-agg. Median and q99 come from one
    ``percentile``; the region count is the size of the region set."""
    v, t, g = F.col(value_col), F.col(ts_col), F.col(group_col)
    aggs = [
        F.count(F.lit(1)).alias("total_records"),
        F.sum(F.when(t.isNull(), 1).otherwise(0)).alias("null_period"),
        F.sum(F.when(g.isNull(), 1).otherwise(0)).alias("null_respondent"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("missing_values"),
        F.sum(F.when(v < 0, 1).otherwise(0)).alias("negative_values"),
        F.sort_array(F.collect_set(g)).alias("regions"),
        F.min(t).alias("date_min"),
        F.max(t).alias("date_max"),
        F.avg(v).alias("value_mean"),
        F.stddev_samp(v).alias("value_std"),
        F.min(v).alias("value_min"),
        F.max(v).alias("value_max"),
        F.percentile(v, F.array(F.lit(0.5), F.lit(0.99))).alias("_pcts"),
    ]
    if type_col and type_col in df.columns:
        aggs.append(
            F.sum(
                F.when(
                    F.col(type_col).isNotNull() & ~F.col(type_col).isin(*VALID_TYPES), 1
                ).otherwise(0)
            ).alias("bad_type")
        )
    row = df.agg(*aggs).collect()[0].asDict()
    row.setdefault("bad_type", 0)
    row["unique_regions"] = len(row["regions"])
    row["value_median"], row["value_q99"] = row.pop("_pcts") or (None, None)
    return row


def _group_checks(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    q99: float | None,
) -> list[dict[str, Any]]:
    """Every per-group check in one grouped pass over
    :func:`~operators.profile.windowed_by_group` (one hash shuffle on the
    group): stats (`core/data_validation.py:176-185`), gaps (:110-133),
    IQR outliers (:187-218), duplicate timestamps (:149-154) and the
    extreme gate against the literal 3*q99 of the global pass (:61-62).
    Rows come back sorted by group, nulls first."""
    v, t = F.col(value_col), F.col(ts_col)
    n = F.count(F.lit(1))
    extreme = v >= EXTREME_Q99_FACTOR * F.lit(q99) if q99 is not None else F.lit(False)
    tol_us = GAP_TOLERANCE_SECONDS * 1_000_000
    rows = (
        windowed_by_group(df, group_col, ts_col, value_col)
        .groupBy(group_col)
        .agg(
            n.alias("records"),
            F.avg(v).alias("mean"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
            F.sum(F.when(F.col("_gap_us") > tol_us, 1).otherwise(0)).alias("n_gaps"),
            (F.max("_gap_us") / 1_000_000.0).alias("max_gap_s"),
            F.sum(
                F.when((v < F.col("_lower")) | (v > F.col("_upper")), 1).otherwise(0)
            ).alias("n_outliers"),
            F.first("_lower").alias("lower"),
            F.first("_upper").alias("upper"),
            # struct-wrapped so rows with a NULL ts still count as one
            # distinct value (bare count_distinct(t) drops them -> phantom dups)
            (n - F.count_distinct(F.struct(t))).alias("n_dups"),
            F.sum(F.when(extreme, 1).otherwise(0)).alias("n_extreme"),
        )
        .collect()
    )
    return sorted(
        (r.asDict() for r in rows),
        key=lambda r: (r[group_col] is not None, r[group_col] or ""),
    )


def validate(
    df: DataFrame,
    group_col: str = "respondent",
    ts_col: str = "period",
    value_col: str = "value",
    type_col: str | None = "type",
) -> ValidationReport:
    """Run the full suite; returns the reference-shaped report plus the flat
    checks DataFrame. Two actions, whatever the group count: the global
    aggregate, then the grouped pass, which needs the global q99 for its
    extreme gate. No per-group driver loops; the checks frame is a local
    relation and runs no job."""
    spark = df.sparkSession
    g = _global_checks(df, group_col, ts_col, value_col, type_col)
    groups = _group_checks(df, group_col, ts_col, value_col, g["value_q99"])
    g["extreme_values"] = sum(r["n_extreme"] for r in groups)
    g["duplicate_timestamps"] = sum(r["n_dups"] for r in groups)
    for r in groups:
        r["outlier_pct"] = r["n_outliers"] * 100.0 / r["records"]

    errors: list[str] = []
    warnings: list[str] = []
    n = g["total_records"] or 0

    if n == 0:
        errors.append("dataset is empty")
    if g["null_period"]:
        errors.append(f"null {ts_col}: {g['null_period']} rows")
    if g["null_respondent"]:
        errors.append(f"null {group_col}: {g['null_respondent']} rows")
    if g["bad_type"]:
        errors.append(f"{type_col} outside {VALID_TYPES_TEXT}: {g['bad_type']} rows")
    if g["negative_values"]:
        errors.append(f"negative {value_col}: {g['negative_values']} rows")
    if g["extreme_values"]:
        errors.append(
            f"extreme {value_col} >= {EXTREME_Q99_FACTOR}*q99: {g['extreme_values']} rows"
        )
    missing_pct = (g["missing_values"] * 100.0 / n) if n else 0.0
    if missing_pct > MISSING_PCT_ERROR:
        errors.append(
            f"missing {value_col}: {g['missing_values']} ({missing_pct:.2f}% > "
            f"{MISSING_PCT_ERROR}%)"
        )
    elif g["missing_values"]:
        warnings.append(f"missing {value_col}: {g['missing_values']} ({missing_pct:.2f}%)")
    if g["duplicate_timestamps"]:
        errors.append(
            f"duplicate ({group_col},{ts_col}): {g['duplicate_timestamps']} rows"
        )
    for row in groups:
        if row["n_gaps"]:
            warnings.append(
                f"{row[group_col]}: {row['n_gaps']} gaps > {GAP_TOLERANCE_SECONDS}s "
                f"(max {row['max_gap_s']:.0f}s)"
            )
    total_outliers = sum(r["n_outliers"] for r in groups)
    for row in groups:
        if row["outlier_pct"] > OUTLIER_PCT_WARN:
            warnings.append(
                f"{row[group_col]}: {row['n_outliers']} outliers ({row['outlier_pct']:.2f}% > "
                f"{OUTLIER_PCT_WARN}%)"
            )

    stats = {
        "total_records": n,
        "missing_values": g["missing_values"],
        "unique_regions": g["unique_regions"],
        "regions": list(g["regions"] or []),
        "date_range": {
            "start": g["date_min"].isoformat() if g["date_min"] else None,
            "end": g["date_max"].isoformat() if g["date_max"] else None,
        },
        "value_stats": {
            "mean": g["value_mean"],
            "std": g["value_std"],
            "min": g["value_min"],
            "max": g["value_max"],
            "median": g["value_median"],
        },
        "per_region": {
            r[group_col]: {k: r[k] for k in ("records", "mean", "min", "max")}
            for r in groups
        },
        "outliers": {
            "total_count": total_outliers,
            "overall_percentage": (total_outliers * 100.0 / n) if n else 0.0,
            "per_region": {
                r[group_col]: {
                    "count": r["n_outliers"],
                    "percentage": r["outlier_pct"],
                    "bounds": {"lower": r["lower"], "upper": r["upper"]},
                }
                for r in groups
            },
        },
    }

    check_rows = [
        ("null_period", "error", "__all__", float(g["null_period"]), 0.0),
        ("null_respondent", "error", "__all__", float(g["null_respondent"]), 0.0),
        ("bad_type", "error", "__all__", float(g["bad_type"]), 0.0),
        ("negative_values", "error", "__all__", float(g["negative_values"]), 0.0),
        ("extreme_values", "error", "__all__", float(g["extreme_values"]), 0.0),
        ("missing_pct", "error", "__all__", missing_pct, MISSING_PCT_ERROR),
        ("duplicate_timestamps", "error", "__all__", float(g["duplicate_timestamps"]), 0.0),
    ]
    check_rows += [("gaps", "warning", r[group_col], float(r["n_gaps"]), 0.0) for r in groups]
    check_rows += [
        ("outlier_pct", "warning", r[group_col], r["outlier_pct"], OUTLIER_PCT_WARN)
        for r in groups
    ]
    checks = local_frame(
        spark,
        [
            (c, lvl, scope, metric, thr, metric <= thr)
            for c, lvl, scope, metric, thr in check_rows
        ],
        "check string, level string, scope string, metric double, threshold double, passed boolean",
    )

    return ValidationReport(
        is_valid=not errors, errors=errors, warnings=warnings, stats=stats, checks=checks
    )
