"""Numeric expression helpers.

`decimal_sum` exists because summing doubles is order-dependent: with AQE
and shuffle partial-aggregation the add order differs run to run, so a
double SUM is not reproducible (and can't hash-match an oracle). Rounding
each addend to a fixed scale makes the aggregation exact and associative —
deterministic under any partitioning.

Why `floor(x·10^s + 0.5)` instead of a DECIMAL cast: Spark's double→
decimal cast rounds the SHORTEST string representation of the double
(`BigDecimal.valueOf` ≍ `Double.toString`) with HALF_UP, while engines
that round the exact binary value (DuckDB, Postgres) disagree on ~1 in
100 rows by one ulp of the scale. `floor`/`*`/`+` are plain IEEE-754
ops with bit-identical results everywhere. The scaled integers sum
exactly (decimal(38,0) accumulator — no long overflow at any realistic
scale), and the final divide is one well-defined double op.

The matching oracle-SQL pattern (see `queries.py`):
``CAST(SUM(CAST(floor(x * 10000 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000.0``
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def decimal_sum(col: Column, scale: int = 4) -> Column:
    """Order-independent, engine-portable SUM of a double expression:
    round to ``scale`` decimals in pure IEEE arithmetic, sum exactly,
    rescale."""
    scaled = F.floor(col * F.lit(float(10**scale)) + F.lit(0.5)).cast("decimal(38,0)")
    return F.sum(scaled).cast("double") / F.lit(float(10**scale))


def decimal_avg(col: Column, scale: int = 4) -> Column:
    """Order-independent AVG: exact scaled sum divided by count."""
    return decimal_sum(col, scale) / F.count(col)
