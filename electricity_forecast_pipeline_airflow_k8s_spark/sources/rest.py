"""Parallel paginated-REST source (SURVEY §2.1 S1).

The reference fetches EIA pages sequentially in the driver process and
accumulates every record in RAM (`core/data_extraction.py:57-111` -- the
anti-pattern in SURVEY §4.2). Spark-first: pagination becomes a DataFrame
of page specs; ``mapInPandas`` fans the page fetches out across executors,
each yielding its page as an Arrow batch. The fetch callable is injected
(tests use a fake; production passes an HTTP client closure), so the
engine has no live-API dependency.

For Spark 4 clusters the same shape can be packaged as a Python
``DataSource``; the page-spec DataFrame form below needs only stock APIs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

PageFetcher = Callable[[int, int], list[dict]]
"""(offset, length) -> list of record dicts for that page."""


def page_specs(spark: SparkSession, total: int, page_size: int = 5000) -> DataFrame:
    """One row per page: (offset, length). page_size=5000 mirrors the EIA
    API max (`core/data_extraction.py:69`)."""
    specs = [(off, page_size) for off in range(0, total, page_size)]
    df = spark.createDataFrame(specs, "offset long, length long")
    # total=0 -> no pages; repartition(0) is illegal, so clamp to 1
    return df.repartition(max(1, min(len(specs), 64)))


def fetch_paginated(
    spark: SparkSession,
    fetcher: PageFetcher,
    total: int,
    schema: T.StructType,
    page_size: int = 5000,
) -> DataFrame:
    """Distributed paginated scan: each executor task fetches its pages and
    emits Arrow batches; downstream normalization (sources/normalize) casts
    to the canonical schema."""
    cols = [f.name for f in schema.fields]

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                records = fetcher(int(row["offset"]), int(row["length"]))
                if records:
                    yield pd.DataFrame.from_records(records)[cols]

    return page_specs(spark, total, page_size).mapInPandas(fetch, schema)


# -- live-HTTP fetcher (stdlib, executor-side) --------------------------------
# Mirrors the reference's EIA loop semantics (core/data_extraction.py:57-108)
# but distributed: the driver probes `response.total` once, then each
# executor task GETs its own (offset, length) page. Reference behaviors
# preserved: non-200 -> raise (ref :81-85), missing response.data -> empty
# page (ref :87-90), junk values pass through for downstream try_cast
# coercion (sources/normalize.py), termination because page specs are
# derived from total (ref :99-104's `offset + length >= total`).


def _http_get_json(url: str, timeout: float) -> dict:
    import json as _json
    from urllib.request import urlopen
    from urllib.error import HTTPError

    try:
        with urlopen(url, timeout=timeout) as resp:  # noqa: S310 (http scheme by design)
            status = getattr(resp, "status", 200)
            body = resp.read()
    except HTTPError as e:  # urllib raises instead of returning non-200
        raise RuntimeError(
            f"API request failed: {e.code} ({e.read()[:200]!r})"
        ) from e
    if status != 200:
        raise RuntimeError(f"API request failed: {status}")
    return _json.loads(body)


def http_page_fetcher(
    base_url: str, params: dict[str, str] | None = None, timeout: float = 30.0
) -> PageFetcher:
    """Build a picklable (offset, length) -> records fetcher that GETs
    ``base_url?offset=..&length=..&<params>`` and unwraps the EIA-shaped
    envelope ``{"response": {"total": N, "data": [...]}}``."""
    from functools import partial

    return partial(_http_fetch_page, base_url, tuple(sorted((params or {}).items())), timeout)


def _http_fetch_page(
    base_url: str, params: tuple, timeout: float, offset: int, length: int
) -> list[dict]:
    from urllib.parse import urlencode

    qs = urlencode(list(params) + [("offset", offset), ("length", length)])
    data = _http_get_json(f"{base_url}?{qs}", timeout)
    if "response" not in data or "data" not in data["response"]:
        return []
    return data["response"]["data"]


def probe_total(
    base_url: str, params: dict[str, str] | None = None, timeout: float = 30.0
) -> int:
    """Driver-side single probe of ``response.total`` (length=0 page): the
    distributed replacement for the reference's per-iteration total check
    (core/data_extraction.py:99-101)."""
    from urllib.parse import urlencode

    qs = urlencode(list((params or {}).items()) + [("offset", 0), ("length", 0)])
    data = _http_get_json(f"{base_url}?{qs}", timeout)
    return int(data.get("response", {}).get("total", 0))


def fetch_paginated_http(
    spark: SparkSession,
    base_url: str,
    schema: T.StructType,
    page_size: int = 5000,
    params: dict[str, str] | None = None,
    timeout: float = 30.0,
) -> DataFrame:
    """End-to-end live-HTTP paginated scan: probe total on the driver,
    fan page GETs out across executors via :func:`fetch_paginated`."""
    total = probe_total(base_url, params, timeout)
    return fetch_paginated(
        spark, http_page_fetcher(base_url, params, timeout), total, schema, page_size
    )
