"""REST paginated source, snapshot layout/retention, multimodal plumbing,
and the end-to-end preparation/training pipeline assembly."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from electricity_forecast_pipeline_airflow_k8s_spark.operators.multimodal import (
    decode_and_featurize,
    sample_frames,
    sniff_metadata,
)
from electricity_forecast_pipeline_airflow_k8s_spark.pipeline import (
    run_preparation,
    run_training,
)
from electricity_forecast_pipeline_airflow_k8s_spark.sources.rest import fetch_paginated
from electricity_forecast_pipeline_airflow_k8s_spark.sources.snapshots import (
    apply_retention,
    latest_snapshot,
    list_snapshots,
    write_snapshot,
)

READ_SCHEMA = T.StructType(
    [
        T.StructField("period", T.StringType()),
        T.StructField("respondent", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)


def test_paginated_rest_source(spark):
    def fake_fetcher(offset: int, length: int) -> list[dict]:
        end = min(offset + length, 23)
        return [
            {"period": f"2024-01-01T{i % 24:02d}", "respondent": "CAL", "value": str(i)}
            for i in range(offset, end)
        ]

    df = fetch_paginated(spark, fake_fetcher, total=23, schema=READ_SCHEMA, page_size=10)
    rows = df.collect()
    assert len(rows) == 23
    assert {r["value"] for r in rows} == {str(i) for i in range(23)}


def test_paginated_rest_source_empty_total(spark):
    """total=0 (API reports no records) must yield an empty frame, not a
    repartition(0) error."""
    df = fetch_paginated(
        spark, lambda o, n: [], total=0, schema=READ_SCHEMA, page_size=10
    )
    assert df.count() == 0


def test_python_datasource_paged_rest(spark):
    """Spark 4 Python DataSource: one partition per page, executed on
    executors, feeding the normal normalization path."""
    from electricity_forecast_pipeline_airflow_k8s_spark.sources.datasource import (
        PagedRestDataSource,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.sources.normalize import (
        normalize_readings,
    )

    spark.dataSource.register(PagedRestDataSource)
    raw = (
        spark.read.format("paged_rest")
        .option(
            "fetcher",
            "electricity_forecast_pipeline_airflow_k8s_spark.sources.datasource:synthetic_fetcher",
        )
        .option("total", "2160")
        .option("page_size", "500")
        .load()
    )
    assert raw.rdd.getNumPartitions() == 5  # ceil(2160/500) pages
    df = normalize_readings(raw)
    assert df.count() == 2160
    assert df.filter(F.col("period").isNull()).count() == 0
    assert df.select("respondent").distinct().count() == 10
    # (period, respondent) unique across the whole feed -- the synthetic
    # source must be a valid hourly series (regression: day/hour formula
    # previously emitted every pair twice)
    assert df.select("period", "respondent").distinct().count() == 2160


def test_python_datasource_streaming_pages(spark, tmp_path):
    """Streaming Python DataSource: one page per micro-batch, offsets
    advance until the synthetic feed (2160 rows) is drained."""
    import time

    from electricity_forecast_pipeline_airflow_k8s_spark.sources.datasource import (
        PagedRestDataSource,
    )

    spark.dataSource.register(PagedRestDataSource)
    stream = (
        spark.readStream.format("paged_rest")
        .option(
            "fetcher",
            "electricity_forecast_pipeline_airflow_k8s_spark.sources.datasource:synthetic_fetcher",
        )
        .option("page_size", "600")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rest_stream_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rs_ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        count = 0
        while time.time() < deadline:
            count = spark.sql("SELECT count(*) c FROM rest_stream_out").collect()[0]["c"]
            if count >= 2160:
                break
            time.sleep(2)
        assert count == 2160, count
        # 2160 rows at 600/page -> at least 4 distinct micro-batches ran
        assert (
            spark.sql("SELECT count(DISTINCT period) c FROM rest_stream_out").collect()[0]["c"]
            == 216
        )
    finally:
        q.stop()


def test_snapshot_layout_and_retention(spark, tmp_path):
    root = f"file://{tmp_path}/lake"
    df = spark.range(5).withColumnRenamed("id", "v")
    for i in range(4):
        write_snapshot(df.withColumn("run", F.lit(i)), root, "raw", f"2024010{i + 1}_000000")
    assert list_snapshots(spark, root, "raw") == [
        f"2024010{i + 1}_000000" for i in range(4)
    ]
    latest = latest_snapshot(spark, root, "raw")
    assert latest.select(F.max("run")).collect()[0][0] == 3
    deleted = apply_retention(spark, root, "raw", keep=2)
    assert deleted == ["20240101_000000", "20240102_000000"]
    assert len(list_snapshots(spark, root, "raw")) == 2


def test_multimodal_plumbing(spark):
    payloads = [
        (0, "image", b"\x89PNG\r\n" + b"x" * 500, "image/png"),
        (1, "image", b"\xff\xd8\xff\xe0" + b"y" * 300, "image/jpeg"),
        (2, "audio", b"RIFFxxxx" + b"z" * 2100, "audio/wav"),
    ]
    df = spark.createDataFrame(
        payloads, "media_id long, kind string, content binary, mime string"
    )
    sniffed = {r["media_id"]: r for r in sniff_metadata(df).collect()}
    assert sniffed[0]["sniffed_mime"] == "image/png"
    assert sniffed[1]["sniffed_mime"] == "image/jpeg"
    assert sniffed[2]["sniffed_mime"] == "audio/wav"

    decoded = {r["media_id"]: r for r in decode_and_featurize(df).collect()}
    assert decoded[0]["n_bytes"] == 506
    assert len(decoded[0]["features"]) == 8
    assert 16 <= decoded[0]["width"] < 80
    # determinism: same bytes -> same features
    again = {r["media_id"]: r for r in decode_and_featurize(df).collect()}
    assert again[0]["features"] == decoded[0]["features"]

    frames = sample_frames(df, every_n_bytes=1024, max_frames=8)
    by_id = {}
    for r in frames.collect():
        by_id.setdefault(r["media_id"], []).append(r["byte_offset"])
    assert by_id[0] == [0]  # 506 bytes -> one sample
    assert by_id[2] == [0, 1024, 2048]

    with pytest.raises(NotImplementedError):
        decode_and_featurize(df, strict=True)


@pytest.fixture(scope="module")
def readings(spark):
    base = dt.datetime(2024, 1, 1)
    rows = []
    for region, level in [("CAL", 20000.0), ("TEX", 30000.0)]:
        for h in range(400):
            rows.append(
                (base + dt.timedelta(hours=h), region, "D", level + (h % 24) * 50.0)
            )
    return spark.createDataFrame(
        rows, "period timestamp, respondent string, type string, value double"
    )


def test_run_preparation(spark, readings, tmp_path):
    root = f"file://{tmp_path}/lake"
    res = run_preparation(spark, readings, root, run_ts="20240101_000000")
    assert res.record_count == 800
    assert res.report.is_valid
    assert res.validated_path is not None
    assert latest_snapshot(spark, root, "processed").count() == 800


def test_run_preparation_fails_on_bad_data(spark, readings, tmp_path):
    root = f"file://{tmp_path}/lake2"
    bad = readings.withColumn(
        "value", F.when(F.col("respondent") == "CAL", -5.0).otherwise(F.col("value"))
    )
    with pytest.raises(ValueError, match="validation failed"):
        run_preparation(spark, bad, root, run_ts="20240101_000000")


def test_prepare_job_keeps_snapshots_after_failed_validation(spark, readings, tmp_path):
    """A run whose validation fails adds its raw and report snapshots and
    prunes nothing: retention follows a successful preparation only."""
    import os

    from electricity_forecast_pipeline_airflow_k8s_spark.jobs import prepare_job

    lake = tmp_path / "lake"
    seeded = [f"2023010{d}_000000" for d in range(10)]
    for prefix in ("raw", "processed", "reports"):
        for ts in seeded:
            os.makedirs(lake / prefix / f"run_ts={ts}")
    src = str(tmp_path / "bad")
    readings.withColumn(
        "value", F.when(F.col("respondent") == "CAL", -5.0).otherwise(F.col("value"))
    ).write.parquet(src)

    out = prepare_job(spark, src, f"file://{lake}", run_ts="20240101_000000")
    assert not out["is_valid"]
    assert out["validated_path"] is None
    for prefix, new in (("raw", 1), ("processed", 0), ("reports", 1)):
        runs = sorted(d.split("=", 1)[1] for d in os.listdir(lake / prefix))
        assert runs == seeded + ["20240101_000000"] * new, prefix


def test_run_training_end_to_end(spark, readings):
    res = run_training(spark, readings, lookback=24, horizon=6)
    # top region by count: tie (400/400) -> lexicographic CAL
    fc = res.forecasts.collect()
    assert len(fc) == 6
    assert all(r["respondent"] == "CAL" for r in fc)
    # periodic signal, ridge AR: near-perfect fit, inverse-scaled to MW range
    assert res.metrics["rmse"] < 0.05
    assert all(19000 < r["predicted_load"] < 22000 for r in fc)


def test_schema_drift_detects_adds_drops_and_type_changes(spark):
    from electricity_forecast_pipeline_airflow_k8s_spark.sources.snapshots import (
        schema_drift,
    )

    old = spark.createDataFrame([(1, "a", 1.0)], "id long, name string, v double")
    new = spark.createDataFrame([(1, "a", 2, True)], "id long, name string, v int, flag boolean")
    d = schema_drift(old, new)
    assert d["added"] == ["flag"]
    assert d["dropped"] == []
    assert d["type_changed"] == [("v", "double", "int")]
    # identical schemas -> empty report
    clean = schema_drift(old, old)
    assert clean == {"added": [], "dropped": [], "type_changed": []}


def test_observe_metrics_single_pass_equal_separate_aggregates(spark, sf_dir):
    """df.observe collects validation counters DURING a write pass -- the
    zero-extra-scan form of the quality counters (at 100 TB a separate
    metrics aggregation is a second full read)."""
    from pyspark.sql import Observation

    from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import (
        load_table,
    )

    ev = load_table(spark, "events", sf_dir)
    obs = Observation("quality")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null_value"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("n_negative"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null_value"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("n_negative"),
    ).collect()[0]
    assert got["n_rows"] == want["n_rows"]
    assert got["n_null_value"] == want["n_null_value"]
    assert got["n_negative"] == want["n_negative"]


def test_python_udtf_lateral_chunking(spark):
    """Spark 4 Python UDTF as a SQL table function: chunk text via a
    LATERAL join and agree exactly with the native substring+sequence
    equivalent. API-surface pin only -- UDTFs are row-at-a-time Python,
    so per repo policy (zero Python in hot paths) production chunking
    stays on the native text_pack_chunks operators; this guards that the
    registration/lateral plumbing works when a user brings their own."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id: int, piece: string")
    class ChunkText:
        def eval(self, text: str, size: int):
            t = text or ""
            for i in range(0, len(t), size):
                yield (i // size, t[i : i + size])

    spark.udtf.register("chunk_text", ChunkText)
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "klmno"), (3, "")], "doc_id int, text string"
    )
    docs.createOrReplaceTempView("udtf_docs")
    got = spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.piece
        FROM udtf_docs d, LATERAL chunk_text(d.text, 4) c
        ORDER BY d.doc_id, c.chunk_id
        """
    ).collect()
    native = (
        docs.filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, int(ceil(length(text)/4.0)) - 1),"
                    " i -> substring(text, i * 4 + 1, 4))"
                )
            ).alias("chunk_id", "piece"),
        )
        .orderBy("doc_id", "chunk_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in native]
