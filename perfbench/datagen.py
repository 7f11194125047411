"""Seeded input generators for the benchmark.

Every table is written as one single-row-group parquet file, the layout of
the repository's fixture directories (TESTDATA.md), so the package reads the
generated directory exactly as it reads a fixture directory. The same seed
always gives byte-identical inputs; the package never sees the seed.

Row counts follow the fixture scale factors (lineitem = 6,000,000 x sf).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "red", "green", "small", "large", "shiny", "old", "new")
PART_NOUN = ("anvil", "bolt", "gear", "nut", "ring", "screw", "spring", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# The electricity-load regions of the reference pipeline (FIXTURES.md §1).
GRID_REGIONS = ("CAL", "CAR", "CENT", "FLA", "MIDA", "NE", "NW", "NY", "SW", "TEX")

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    span = (hi - lo).days
    us = _micros(lo) + rng.integers(0, span + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) or 1)
    return len(table)


def write_lane_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables the lane registry reads; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = int(15_000 * sf), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    rows: dict[str, int] = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    # events: Poisson arrivals over thirty days, heavy-tailed values
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev)
    ts = _micros(dt.datetime(2024, 1, 1)) + np.cumsum(gaps).astype(np.int64)
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    # documents: bag-of-words texts; one in twenty repeats an earlier text
    # with a " dup" suffix, so the near-duplicate lanes have work to find
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return rows


def write_readings(out_dir: str, seed: int, days: int) -> int:
    """Write hourly electricity-load readings as the ``events`` table the
    weekly DAG extracts (``event_type`` = region, ``ts`` = period,
    ``value`` = MW). Each region gets its own base load, a diurnal and a
    weekly cycle and multiplicative noise; returns the row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    hours = np.arange(days * 24)
    start = _micros(dt.datetime(2024, 1, 1))
    ts, region, value = [], [], []
    for code in GRID_REGIONS:
        base = rng.uniform(5_000.0, 40_000.0)
        phase = rng.uniform(0.0, 2 * np.pi)
        diurnal = 0.25 * np.sin(2 * np.pi * hours / 24 + phase)
        weekly = 0.10 * np.sin(2 * np.pi * hours / 168)
        noise = rng.normal(0.0, 0.03, hours.size)
        ts.append(start + hours * 3_600_000_000)
        region.extend([code] * hours.size)
        value.append(np.round(base * (1.0 + diurnal + weekly + noise), 2))
    n = len(region)
    return _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.concatenate(ts), pa.timestamp("us")),
        "user_id": pa.array(np.zeros(n, np.int64)),
        "event_type": pa.array(region),
        "value": pa.array(np.concatenate(value)),
        "props": pa.array(["{}"] * n),
    })
