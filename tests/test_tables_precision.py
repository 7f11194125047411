"""Fixture-precision regression tests for the events table loader.

Round-2 postmortem: the driver regenerated `events.parquet` at microsecond
precision (TIMESTAMP(MICROS, isAdjustedToUTC=false)), Spark surfaced `ts`
as TIMESTAMP_NTZ, and every `unix_micros(ts)` consumer crashed because the
loader only handled the legacy nanos-as-bigint case. These tests write the
same rows at nano, micro, and native-UTC precision and pin that
`load_table` yields a session-TZ `timestamp` column with identical gap
semantics for all three — so a fixture precision drift can never break the
build silently again.
"""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import StructType, TimestampType

from electricity_forecast_pipeline_airflow_k8s_spark.pipeline import run_preparation
from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import (
    TABLES,
    load_table,
    read_parquet,
)

ROWS = [
    (1, datetime.datetime(2024, 1, 1, 0, 0, 0, 0), 10, "a", 1.0, "{}"),
    (2, datetime.datetime(2024, 1, 1, 0, 0, 30, 500000), 10, "a", 2.0, "{}"),
    (3, datetime.datetime(2024, 1, 1, 0, 2, 0, 250000), 11, "b", 3.0, "{}"),
]


def _write_events(path: str, ts_type: pa.DataType) -> str:
    cols = list(zip(*ROWS))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1]).cast(ts_type),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, f"{path}/events.parquet")
    return path


@pytest.mark.parametrize(
    "label,ts_type",
    [
        ("nanos", pa.timestamp("ns")),
        ("micros", pa.timestamp("us")),
        ("micros_utc", pa.timestamp("us", tz="UTC")),
        ("millis", pa.timestamp("ms")),
    ],
)
def test_events_ts_loads_as_timestamp(spark, tmp_path, label, ts_type):
    sf_dir = _write_events(str(tmp_path), ts_type)
    df = load_table(spark, "events", sf_dir)
    assert dict(df.dtypes)["ts"] == "timestamp", f"{label}: got {dict(df.dtypes)['ts']}"
    # unix_micros is the downstream consumer that crashed in round 2 — it
    # must resolve, and gap values must be precision-independent.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.orderBy("ts")
    gaps = sorted(
        r[0]
        for r in df.select(
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us")
        ).collect()
        if r[0] is not None
    )
    assert gaps == [30_500_000, 89_750_000], f"{label}: gaps {gaps}"


def test_events_nanos_read_without_nanos_as_long(spark, tmp_path):
    """The nanos decision comes from the footer, not from the session: with
    the legacy nanos-as-long conf unset or explicitly false, a
    TIMESTAMP(NANOS) ts still reads to the exact microsecond values, and
    the conf is left as it was found."""
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    _write_events(str(tmp_path), pa.timestamp("ns"))
    try:
        for prior in (None, "false"):
            if prior is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prior)
            df = load_table(spark, "events", str(tmp_path))
            assert dict(df.dtypes)["ts"] == "timestamp"
            got = sorted(r["ts"] for r in df.select("ts").collect())
            assert got == sorted(r[1] for r in ROWS), prior
            assert spark.conf.get(conf_key, None) == prior
    finally:
        spark.conf.unset(conf_key)


def test_events_plain_int64_ts_not_corrupted(spark, tmp_path):
    """A genuinely integer ts column (no TIMESTAMP logical type) must pass
    through untouched -- the nanos div-1000 conversion applies only when
    the parquet footer declares TIMESTAMP(NANOS) (ADVICE r2)."""
    micros = [1_704_067_200_000_000, 1_704_067_230_500_000]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(micros, pa.int64()),
            "user_id": pa.array([10, 10], pa.int64()),
            "event_type": pa.array(["a", "a"], pa.string()),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(table, f"{tmp_path}/events.parquet")
    df = load_table(spark, "events", str(tmp_path))
    assert dict(df.dtypes)["ts"] == "bigint"
    assert sorted(r["ts"] for r in df.select("ts").collect()) == micros


def test_footer_check_raises_on_unreadable_footer(spark, tmp_path):
    """Every load reads the footer, so a path whose footer cannot be read
    cannot be loaded: an error naming the path, not a guessed schema --
    for a missing file and for one that is not parquet."""
    path = str(tmp_path / "events.parquet")
    for content in (None, b"not a parquet file"):
        if content is not None:
            (tmp_path / "events.parquet").write_bytes(content)
        with pytest.raises(ValueError, match="parquet footer") as err:
            load_table(spark, "events", str(tmp_path))
        assert path in str(err.value)


def test_nanos_column_other_than_ts_raises(spark, tmp_path):
    """Spark has no nanosecond type. Only the events ``ts`` is read as raw
    nanos and truncated; any other TIMESTAMP(NANOS) column is an error
    naming it, never a silent bigint."""
    table = pa.table(
        {
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_orderdate": pa.array(
                [datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 2)]
            ).cast(pa.timestamp("ns")),
        }
    )
    pq.write_table(table, f"{tmp_path}/orders.parquet")
    with pytest.raises(ValueError, match="'o_orderdate'.*TIMESTAMP\\(NANOS\\)"):
        load_table(spark, "orders", str(tmp_path))


def test_unmapped_arrow_type_raises(spark, tmp_path):
    """A footer type the arrow-to-Spark mapping cannot convert is an error
    naming the column."""
    table = pa.table(
        {
            "r_regionkey": pa.array([0, 1], pa.int32()),
            "r_code": pa.array([7, 8], pa.uint32()),
        }
    )
    pq.write_table(table, f"{tmp_path}/region.parquet")
    with pytest.raises(ValueError, match="'r_code'.*uint32"):
        load_table(spark, "region", str(tmp_path))


def _jobs_started(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_load_table_fires_no_job_and_matches_inferred_schema(spark, sf_dir):
    """The schema is pinned from the footer on the driver, so loading a
    table runs no Spark job, and the pinned schema is the one Spark's own
    inference yields (events.ts aside, which the loader normalizes to a
    session-TZ TIMESTAMP)."""
    for name in TABLES:
        before = _jobs_started(spark)
        schema = load_table(spark, name, sf_dir).schema
        assert _jobs_started(spark) == before, f"{name}: load_table ran a job"
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        if name == "events":
            assert schema["ts"].dataType == TimestampType()
            inferred = StructType([f for f in inferred if f.name != "ts"])
            schema = StructType([f for f in schema if f.name != "ts"])
        assert schema == inferred, name


def test_spark_written_directory_round_trips(spark, sf_dir, tmp_path):
    """Spark-written table directories (the scale-bench replicas) load
    through the same footer read: the Spark schema stored in the footer
    wins, so INT96 timestamps stay TIMESTAMP."""
    src = load_table(spark, "events", sf_dir)
    src.write.parquet(f"{tmp_path}/events.parquet")
    back = load_table(spark, "events", str(tmp_path))
    assert back.schema == src.schema
    assert sorted(back.collect()) == sorted(src.collect())


class _Stop(Exception):
    pass


def _capture_prepare_raw(monkeypatch, stop: bool):
    """prepare_job with run_preparation spied on: the spy keeps the raw
    frame prepare_job built from its input, then either delegates to the
    real run_preparation or stops the job there."""
    from electricity_forecast_pipeline_airflow_k8s_spark import jobs

    seen = []

    def spy(spark, raw, *args, **kwargs):
        seen.append(raw)
        if stop:
            raise _Stop
        return run_preparation(spark, raw, *args, **kwargs)

    monkeypatch.setattr(jobs, "run_preparation", spy)
    return jobs.prepare_job, seen


def test_prepare_job_does_not_divide_plain_int64_ts(spark, tmp_path, monkeypatch):
    """prepare_job reads through the loader's footer-pinned reader: a
    genuine int64 ts is not divided by 1000. The job stops at
    run_preparation there, since a bigint period is no timestamp for the
    validation and drift steps to work on."""
    prepare_job, seen = _capture_prepare_raw(monkeypatch, stop=True)
    micros = [1_704_067_200_000_000, 1_704_067_230_500_000]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(micros, pa.int64()),
            "event_type": pa.array(["a", "a"], pa.string()),
            "value": pa.array([1.0, 2.0], pa.float64()),
        }
    )
    path = str(tmp_path / "raw.parquet")
    pq.write_table(table, path)
    with pytest.raises(_Stop):
        prepare_job(spark, path, f"file://{tmp_path}/lake", run_ts="20240101_000000")
    assert sorted(r["period"] for r in seen[0].select("period").collect()) == micros


def test_prepare_job_truncates_nanos_ts(spark, tmp_path, monkeypatch):
    """A TIMESTAMP(NANOS) ts fed to prepare_job becomes the same
    microsecond timestamps load_table yields, and the job runs through."""
    prepare_job, seen = _capture_prepare_raw(monkeypatch, stop=False)
    _write_events(str(tmp_path), pa.timestamp("ns"))
    out = prepare_job(
        spark, f"{tmp_path}/events.parquet", f"file://{tmp_path}/lake",
        run_ts="20240101_000000",
    )
    got = sorted(r["period"] for r in seen[0].select("period").collect())
    assert got == sorted(r[1] for r in ROWS)
    assert out["record_count"] == len(ROWS)


def test_no_package_module_mentions_nanos_as_long():
    """The nanos decision lives in the footer read: no package module sets,
    unsets or reads the legacy nanos-as-long conf, or the removed unit
    override."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "electricity_forecast_pipeline_airflow_k8s_spark",
    )
    removed = ("nanos" + "AsLong", "SPARK_GRAFT_" + "BIGINT_TS")
    bad = []
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                src = fh.read()
            bad += [f"{os.path.relpath(path, pkg)}: {word}" for word in removed if word in src]
    assert not bad, bad


def test_dag_and_job_reads_fire_no_job(spark, sf_dir, tmp_path, monkeypatch):
    """The weekly DAG's train read, latest_snapshot, the registry's
    load_model and train_job's forecast re-read all go through the
    footer-pinned reader: none fires a Spark job, and each yields the
    schema Spark's own inference does."""
    from types import SimpleNamespace

    from electricity_forecast_pipeline_airflow_k8s_spark import jobs, pipeline
    from electricity_forecast_pipeline_airflow_k8s_spark.ml import registry
    from electricity_forecast_pipeline_airflow_k8s_spark.orchestrate import electricity_dag
    from electricity_forecast_pipeline_airflow_k8s_spark.sources.snapshots import (
        latest_snapshot,
        write_snapshot,
    )

    lake = f"file://{tmp_path}/lake"
    readings = load_table(spark, "events", sf_dir).limit(40)
    snap = write_snapshot(readings, lake, "processed", "20240101_000000")
    registry.register_model(spark, readings, lake, "m")

    def no_job(read, path):
        before = _jobs_started(spark)
        df = read()
        assert _jobs_started(spark) == before, path
        assert df.schema == spark.read.parquet(path).schema, path
        return df

    no_job(lambda: latest_snapshot(spark, lake, "processed"), snap)
    no_job(lambda: registry.load_model(spark, lake, "m", 1), f"{lake}/registry/m/v=1")

    # the DAG's train task, with training stubbed out: what is left is its read
    monkeypatch.setattr(pipeline, "run_training", lambda spark, readings, **kw: readings)
    train = next(t for t in electricity_dag(spark, sf_dir, lake) if t.name == "train")
    no_job(lambda: train.fn({}, {"prepare": SimpleNamespace(validated_path=snap)}), snap)

    # train_job's forecast re-read: spy on the reader it calls
    reads = []

    def spy(spark, path):
        reads.append(path)
        return no_job(lambda: read_parquet(spark, path), path)

    stub = SimpleNamespace(params=readings, metrics={}, forecasts=readings)
    monkeypatch.setattr(jobs, "run_training", lambda spark, readings, **kw: stub)
    monkeypatch.setattr(jobs, "read_parquet", spy)
    monkeypatch.setattr(registry, "register_model", lambda *a, **kw: 2)
    out = jobs.train_job(spark, lake, model_name="m")
    assert reads == [out["forecast_path"]] and out["n_forecast_rows"] == 40
