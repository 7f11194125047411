"""Validation suite detects exactly the injected corruption (FIXTURES.md
negative variants; semantics from `core/data_validation.py`)."""

import datetime as dt
import json
import math
import os

import pytest
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.operators.validation import validate


@pytest.fixture(scope="module")
def clean_readings(spark):
    """Hourly series for 3 regions x 10 days, reference-shaped."""
    rows = []
    base = dt.datetime(2024, 1, 1)
    for region, level in [("CAL", 20000.0), ("TEX", 30000.0), ("NY", 15000.0)]:
        for h in range(240):
            rows.append((base + dt.timedelta(hours=h), region, "D", level + (h % 24) * 100.0))
    return spark.createDataFrame(
        rows, "period timestamp, respondent string, type string, value double"
    )


def test_clean_data_is_valid(clean_readings):
    rep = validate(clean_readings)
    assert rep.is_valid, rep.errors
    assert rep.stats["total_records"] == 720
    assert rep.stats["unique_regions"] == 3
    assert rep.stats["regions"] == ["CAL", "NY", "TEX"]
    assert rep.stats["outliers"]["total_count"] == 0
    assert not rep.warnings


def test_nulls_detected(clean_readings, spark):
    # 10 null values < 5% -> warning; > 5% -> error
    corrupted = clean_readings.withColumn(
        "value", F.when(F.col("period") < F.lit("2024-01-01 10:00:00"), None).otherwise(F.col("value"))
    )
    rep = validate(corrupted)
    assert rep.stats["missing_values"] == 30  # 10 hours x 3 regions = 30 of 720 = 4.2%
    assert rep.is_valid and any("missing" in w for w in rep.warnings)

    worse = clean_readings.withColumn(
        "value", F.when(F.col("period") < F.lit("2024-01-02 00:00:00"), None).otherwise(F.col("value"))
    )
    rep2 = validate(worse)  # 72/720 = 10% > 5%
    assert not rep2.is_valid and any("missing" in e for e in rep2.errors)


def test_duplicates_detected(clean_readings):
    dup = clean_readings.unionAll(clean_readings.limit(7))
    rep = validate(dup)
    assert not rep.is_valid
    assert any("duplicate" in e for e in rep.errors)


def test_bad_domain_and_negative(clean_readings, spark):
    bad = clean_readings.withColumn(
        "type", F.when(F.col("respondent") == "CAL", "XX").otherwise(F.col("type"))
    ).withColumn(
        "value", F.when(F.col("respondent") == "NY", -1.0).otherwise(F.col("value"))
    )
    rep = validate(bad)
    assert any("type" in e for e in rep.errors)
    assert any("negative" in e for e in rep.errors)


def test_gaps_detected(clean_readings):
    # remove 3 interior hours from CAL -> one 4h gap (> 1.5h tolerance)
    gapped = clean_readings.filter(
        ~(
            (F.col("respondent") == "CAL")
            & F.col("period").between("2024-01-05 01:00:00", "2024-01-05 03:00:00")
        )
    )
    rep = validate(gapped)
    assert any("CAL" in w and "gaps" in w for w in rep.warnings)


def test_outliers_detected(clean_readings):
    spiked = clean_readings.withColumn(
        "value",
        F.when(
            (F.col("respondent") == "TEX") & (F.hour("period") == 12) & (F.dayofmonth("period") <= 8),
            F.col("value") * 50,
        ).otherwise(F.col("value")),
    )
    rep = validate(spiked)
    # 8 spikes of 240 TEX rows = 3.3% > 2% warn threshold
    assert rep.stats["outliers"]["per_region"]["TEX"]["count"] == 8
    assert any("TEX" in w and "outliers" in w for w in rep.warnings)


def test_null_period_does_not_phantom_duplicate(clean_readings, spark):
    """Regression: count_distinct(group, ts) drops NULL-key rows, which
    made one null period look like one duplicate."""
    one_null = clean_readings.withColumn(
        "period",
        F.when(
            (F.col("respondent") == "CAL") & (F.col("period") == "2024-01-01 00:00:00"),
            None,
        ).otherwise(F.col("period")),
    )
    rep = validate(one_null)
    assert any("null period" in e for e in rep.errors)
    assert not any("duplicate" in e for e in rep.errors), rep.errors


def test_report_shape_matches_reference(clean_readings):
    """The nested report must carry exactly the reference's JSON shape
    (`core/data_validation.py:81-86,157-185,222-226`; FIXTURES.md §2)."""
    rep = validate(clean_readings).as_dict()
    assert set(rep) == {"is_valid", "errors", "warnings", "stats"}
    stats = rep["stats"]
    assert set(stats) == {
        "total_records", "missing_values", "unique_regions", "regions",
        "date_range", "value_stats", "per_region", "outliers",
    }
    assert set(stats["date_range"]) == {"start", "end"}
    assert set(stats["value_stats"]) == {"mean", "std", "min", "max", "median"}
    region = next(iter(stats["per_region"].values()))
    assert set(region) == {"records", "mean", "min", "max"}
    assert set(stats["outliers"]) == {"total_count", "overall_percentage", "per_region"}
    oregion = next(iter(stats["outliers"]["per_region"].values()))
    assert set(oregion) == {"count", "percentage", "bounds"}
    assert set(oregion["bounds"]) == {"lower", "upper"}
    import json

    json.dumps(rep)  # JSON-serializable end to end


def test_checks_dataframe_surface(clean_readings):
    rep = validate(clean_readings)
    rows = {(r["check"], r["scope"]): r for r in rep.checks.collect()}
    assert rows[("missing_pct", "__all__")]["passed"]
    assert all(r["passed"] for r in rows.values())


DIRTY_GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "validation_dirty_report.json")


def dirty_rows() -> list[tuple]:
    """Hourly readings (3 regions x 10 days) that trip every check: null
    period, respondent and value (> 5% null values), a bad type, a
    negative value, one value >= 3*q99, duplicates (one of them on a null
    respondent, one on a null period), a gap and IQR outliers."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    for region, level in [("CAL", 20000.0), ("TEX", 30000.0), ("NY", 15000.0)]:
        for h in range(240):
            if region == "NY" and 100 <= h < 104:
                continue  # a 5-hour gap
            value = level + (h % 24) * 100.0
            if region == "TEX" and h % 24 == 12 and h < 192:
                value = 1.0  # 8 low IQR outliers: 3.4% of TEX
            if h < 14:
                value = None  # 42 nulls: > 5% of the rows
            rows.append((base + dt.timedelta(hours=h), region, "D", value))
    rows[20] = (rows[20][0], "CAL", "XX", rows[20][3])
    rows[30] = (rows[30][0], "CAL", "D", 1_000_000.0)  # >= 3*q99
    rows[300] = (rows[300][0], "TEX", "NG", -5.0)
    rows += rows[40:45]  # five (respondent, period) duplicates
    rows += [
        (base, None, "D", 10.0),
        (base, None, "TI", 11.0),  # a duplicate on a null respondent
        (None, "NY", "ID", 12.0),
        (None, "NY", "D", 13.0),  # a duplicate on a null period
    ]
    return rows


@pytest.fixture(scope="module")
def dirty_readings(spark):
    return spark.createDataFrame(
        dirty_rows(), "period timestamp, respondent string, type string, value double"
    )


def _report_record(rep) -> dict:
    """The report plus the checks frame's rows, as plain JSON values."""
    checks = sorted(
        (tuple(r) for r in rep.checks.collect()), key=lambda r: (r[0], r[2] or "")
    )
    return json.loads(json.dumps({**rep.as_dict(), "checks": [list(c) for c in checks]}))


def _assert_same(got, want, path="report"):
    """Exact on every bool, int, string and list shape; doubles within
    1e-12 relative (a changed aggregation order moves the last ulp)."""
    if isinstance(want, float):
        assert isinstance(got, float) and math.isclose(got, want, rel_tol=1e-12), (path, got, want)
    elif isinstance(want, dict):
        assert sorted(got) == sorted(want), path
        for k in want:
            _assert_same(got[k], want[k], f"{path}.{k}")
    elif isinstance(want, list):
        assert len(got) == len(want), (path, got, want)
        for i, (a, b) in enumerate(zip(got, want)):
            _assert_same(a, b, f"{path}[{i}]")
    else:
        assert type(got) is type(want) and got == want, (path, got, want)


def test_dirty_report_matches_pinned_report(dirty_readings, spark):
    """Every check fires on the dirty fixture, and the report (with the
    checks frame) equals the one pinned in tests/golden; validate runs at
    most 6 Spark jobs (one global aggregate and one grouped pass)."""
    jobs = spark.sparkContext._jsc.sc().dagScheduler()
    before = jobs.numTotalJobs()
    rep = validate(dirty_readings)
    assert jobs.numTotalJobs() - before <= 6
    got = _report_record(rep)
    with open(DIRTY_GOLDEN) as fh:
        want = json.load(fh)
    _assert_same(got, want)
    fired = {c[0] for c in got["checks"] if not c[5]}
    assert fired == {
        "null_period", "null_respondent", "bad_type", "negative_values", "extreme_values",
        "missing_pct", "duplicate_timestamps", "gaps", "outlier_pct",
    }


def test_quality_profile_scale_matches_exact_on_exact_columns(spark, sf_dir):
    """quality_profile_scale (the 100 TB layout: mergeable sketches,
    broadcast bounds, bucketed gap windows) must agree with the exact
    flagship on every non-quantile-derived column -- in particular the
    bucketed+boundary gap decomposition must be EXACTLY equivalent to the
    full-sequence lag window."""
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.profile import (
        quality_profile,
        quality_profile_scale,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import (
        load_table,
    )

    ev = load_table(spark, "events", sf_dir)
    kw = dict(group_col="event_type", ts_col="ts", value_col="value")
    exact_cols = [
        "event_type", "n_rows", "n_nulls", "null_pct", "min_ts", "max_ts",
        "mean_value", "std_value", "n_dups", "n_gaps", "max_gap_seconds",
    ]
    a = [tuple(r) for r in quality_profile(ev, **kw).select(exact_cols).collect()]
    b = [
        tuple(r)
        for r in quality_profile_scale(ev, **kw).select(exact_cols).collect()
    ]
    assert a == b
    # quantile-derived columns: sketches must land within the group's
    # observed value range
    rng = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for r in quality_profile_scale(ev, **kw).collect():
        lo, hi = rng[r["event_type"]]["lo"], rng[r["event_type"]]["hi"]
        for c in ("q1", "median_value", "q3"):
            assert lo <= r[c] <= hi, (r["event_type"], c, r[c])


def test_incremental_merge_batching_invariant(spark):
    """merge(partials of any disjoint batching) == single-shot partials,
    including all-null groups and empty batches."""
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.incremental import (
        finalize_stats,
        merge_partial_stats,
        partial_stats,
    )

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", None), ("b", 5.25), ("b", 5.75),
        ("c", None),
    ]
    df = spark.createDataFrame(rows, "g string, value double")
    whole = finalize_stats(partial_stats(df, "g", "value")).collect()
    # batching 1: by rows parity; batching 2: one batch empty
    import pyspark.sql.functions as SF

    b1 = df.filter(SF.col("value").isNull() | (SF.col("value") < 3))
    b2 = df.filter(SF.col("value") >= 3)
    empty = df.filter(SF.lit(False))
    merged = finalize_stats(
        merge_partial_stats(
            partial_stats(b1, "g", "value"),
            partial_stats(b2, "g", "value"),
            partial_stats(empty, "g", "value"),
        )
    ).collect()
    key = lambda r: r.g  # noqa: E731
    assert sorted(map(tuple, merged), key=lambda t: t[0]) == sorted(
        map(tuple, whole), key=lambda t: t[0]
    )


def test_quality_profile_grid_quantiles_hand_model(spark):
    """Grid-mode quantile definition pinned against a hand computation:
    values rounded to the 0.01 grid, discrete quantile = smallest bin
    whose cumulative count reaches ceil(p * n)."""
    import datetime as dt

    from electricity_forecast_pipeline_airflow_k8s_spark.operators.profile import (
        quality_profile_scale,
    )

    base = dt.datetime(2024, 1, 1)
    vals = [1.004, 2.006, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]  # n=8
    rows = [(base + dt.timedelta(hours=i), "g", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "period timestamp, respondent string, value double")
    out = quality_profile_scale(df, quantile_mode="grid").collect()[0]
    # bins: 1.0, 2.01, 3.0 ... 8.0 (portable floor-round at 2dp)
    # q1: ceil(0.25*8)=2 -> 2nd smallest bin = 2.01
    # median: ceil(0.5*8)=4 -> 4.0 ; q3: ceil(0.75*8)=6 -> 6.0
    assert out["q1"] == 2.01
    assert out["median_value"] == 4.0
    assert out["q3"] == 6.0
    # IQR bounds derive from the grid quantiles (k=3)
    assert out["lower_bound"] == round(2.01 - 3 * (6.0 - 2.01), 4)
    assert out["upper_bound"] == round(6.0 + 3 * (6.0 - 2.01), 4)


def test_quality_profile_grid_mode_rollup_single_fact_scan(spark, sf_dir):
    """The grid layout's stats AND histogram ride ONE rollup over the
    fact: the executed plan contains exactly one scan of the events
    parquet feeding an Expand (rollup) node."""
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.profile import (
        quality_profile_scale,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    q = quality_profile_scale(
        ev, group_col="event_type", ts_col="ts", value_col="value",
        quantile_mode="grid",
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan, plan[:1500]
