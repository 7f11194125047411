"""Cross-engine-exact means.

Averages of fixed-decimal data (prices, 2-decimal sensor values) land
EXACTLY on round-half boundaries (e.g. cents averaged over 24 rows give
...375/...625), so a 1-ulp difference in float summation order between
engines flips round(x, 4) -- observed at sf0.1 where ~1/1000 hourly
averages mismatched DuckDB. Fix: sum in DECIMAL (exact, order-free), cast
the single exact sum to double, divide by the count -- both engines then
divide identical doubles by identical longs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_mean(col) -> Column:
    """Aggregate mean via exact decimal(18,2) sum / count (null-skipping
    like avg). Use over a groupBy or as a window function via .over()."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_divide(F.sum(c.cast("decimal(18,2)")).cast("double"), F.count(c))


def exact_mean_sql(expr: str) -> str:
    """DuckDB fragment computing the identical exact mean."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) / count({expr})"


def portable_round(col, decimals: int = 4) -> Column:
    """Engine-portable rounding: floor(x * 10^d + 0.5) / 10^d.

    Builtin round() disagrees across engines at tie-adjacent doubles even
    on IDENTICAL inputs: DuckDB multiplies first (the multiply can land
    exactly on .5) while Spark rounds the exact decimal expansion of the
    double. Means of fixed-decimal data sit exactly on those ties
    (1403.37/24 = 58.473749999...). This formula is the same two IEEE ops
    in both engines, so identical inputs give identical outputs, always.
    Pair with the identical SQL fragment (:func:`portable_round_sql`)."""
    c = F.col(col) if isinstance(col, str) else col
    p = 10**decimals
    return F.floor(c * p + 0.5) / p


def portable_round_sql(expr: str, decimals: int = 4) -> str:
    p = 10**decimals
    return f"floor(({expr}) * {p} + 0.5) / {p}"
