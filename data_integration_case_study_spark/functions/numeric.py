"""Order-independent floating aggregation for oracle parity.

A plain ``SUM(double)`` is non-deterministic across partitionings: IEEE-754
addition is not associative, so the same query can hash differently run-to-
run and engine-to-engine. The fix used throughout this engine: cast each
row's value to a wide decimal (per-row, deterministic), sum exactly in
decimal (associative — order-independent), and cast the final total back to
double.

The final decimal→double cast must be CORRECTLY ROUNDED on both sides.
Spark's is (BigDecimal.doubleValue — exact-digit string parse); DuckDB's
direct ``CAST(decimal AS DOUBLE)`` is NOT — it divides two lossy doubles
(int128 → double, then / scale), which diverges in the last ulps once the
scaled integer exceeds 2^53 (seen at sf0.1: 7478912584.05 vs …4.049999).
The oracle twin therefore routes through VARCHAR —
``CAST(CAST(SUM(...) AS VARCHAR) AS DOUBLE)`` — DuckDB's string→double
parse is correctly rounded, making both engines bit-identical at ANY
magnitude.

This also matters at 100 TB for reproducibility: partial aggregation order
varies with partition count and AQE decisions; decimal accumulation makes
results stable under re-partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 38 total digits, `scale` fractional → 30 integer digits at scale 8:
# overflow-safe for any realistic money/quantity sum.
_PRECISION = 38


def dsum(col: Column | str, scale: int = 8) -> Column:
    """Exact, order-independent sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({_PRECISION},{scale})")).cast("double")


def dsum_sql(expr: str, scale: int = 8) -> str:
    """The DuckDB twin of :func:`dsum` for oracle_sql strings (VARCHAR
    route = correctly-rounded decimal→double; see module docstring)."""
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL({_PRECISION},{scale})))"
        f" AS VARCHAR) AS DOUBLE)"
    )


def davg(col: Column | str) -> Column:
    """Exact-sum average: decimal sum / count, divided in double space."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def davg_sql(expr: str) -> str:
    """The DuckDB twin of :func:`davg`."""
    return f"({dsum_sql(expr)} / COUNT({expr}))"
