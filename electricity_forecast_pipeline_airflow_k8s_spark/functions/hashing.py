"""Hashing helpers. Every construction is md5-based, so it is
engine-portable (identical in DuckDB/Trino/Spark): minhash, simhash,
fingerprints and hash sampling all have oracles that replay it."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_hash(*cols) -> Column:
    """Deterministic row hash: md5 over the values joined by a unit
    separator, the same in every engine."""
    parts = [
        (F.col(c) if isinstance(c, str) else c).cast("string") for c in cols
    ]
    return F.md5(F.concat_ws("\x1f", *parts))


def hex_nibble(hash_col, pos: int) -> Column:
    """Value 0-15 of hex character ``pos`` (1-based) of a hex-digest
    column -- the building block for md5-derived bit features (simhash,
    LSH planes)."""
    return F.conv(F.substring(hash_col, pos, 1), 16, 10).cast("int")
