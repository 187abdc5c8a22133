"""Exact decimal aggregation helpers (SURVEY §5.3 float hazards).

Two build-time observations drive this module:

1. SUM over doubles accumulates in a different order on each engine
   (distributed partial aggregation vs sequential scan vs segment
   trees) -> the raw sums differ in the last ulp.
2. round(double, n) ITSELF diverges between engines at true decimal
   boundaries: Spark rounds the shortest-decimal representation
   (BigDecimal.valueOf: 66.55375 -> 66.5538) while DuckDB rounds the
   binary value (66.55375 is stored as 66.5537499.. -> 66.5537).
   Probed at build time; this bit 3/1000 rows of a windowed average.

Consequences:
- Aggregates whose exact value has a SHORT decimal expansion (avg of
  2-dp money, ratios of small ints) must NEVER be rounded.
- Instead, compute them EXACTLY: aggregate integer cents
  (round(col*100) as BIGINT is exact - the per-row double is within
  1e-9 of the true cent value), then perform ONE double division.
  Identical integer inputs + one identical IEEE division ==
  bit-identical doubles on both engines, no rounding needed.
- Rounding remains correct for sums of 2-dp data at 4 dp (the exact
  value is never on a boundary) and for irrational results
  (stddev/ln/cosine - boundary hits have measure zero).

Scale note: int64 cents hold ~9e16 dollars exactly; a 100 TB
lineitem's sum still fits where double sums lost the cents long ago.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str, scale: int = 100) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale, 0).cast("long")


def avg_exact(col: Column | str, scale: int = 100) -> Column:
    """Exact average of a `scale`-decimal column: integer-cent sum,
    one double division, NO rounding (see module docstring)."""
    c = cents(col, scale)
    return F.sum(c) / (F.count(c) * float(scale))


def avg_exact_over(col: Column | str, window, scale: int = 100) -> Column:
    c = cents(col, scale)
    return F.sum(c).over(window) / (F.count(c).over(window) * float(scale))


def sql_avg_exact(expr: str, scale: int = 100) -> str:
    """DuckDB twin of avg_exact (CAST kills HUGEINT promotion)."""
    c = f"CAST(round(({expr}) * {scale}, 0) AS BIGINT)"
    return f"(CAST(sum({c}) AS DOUBLE) / (count({c}) * {scale}.0))"
