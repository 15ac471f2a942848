"""Cross-engine FP determinism helpers (SURVEY.md §1.2 FP-noise note).

Rules that make a Spark aggregate bit-identical to the DuckDB oracle:

1. Aggregate through exact DECIMAL intermediates, never doubles —
   double accumulation order differs with partitioning.
2. Inputs cast to DECIMAL(12,4): a triple product stays within the
   38-digit precision cap of both engines (wider forces Spark into a
   lossy scale reduction).
3. ROUND the exact decimal sum to scale 2 BEFORE casting to double:
   a decimal whose unscaled value exceeds 2^53 is double-rounded by
   DuckDB (int128→double, then /10^scale) but correctly rounded by
   Spark (BigDecimal.doubleValue) — 1-ulp drift. At scale 2 the
   unscaled value fits in 53 bits for any sane magnitude, so both
   conversions are exact-then-one-rounding → identical.

The SQL mirror of ``dsum(c)`` is
``CAST(ROUND(SUM(CAST(c AS DECIMAL(12,4))), 2) AS DOUBLE)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(12,4)"


def dec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(expr: str | Column, scale: int = 2) -> Column:
    """Deterministic double-valued SUM via exact decimal accumulation."""
    c = dec(expr) if isinstance(expr, str) else expr
    return F.round(F.sum(c), scale).cast("double")


def davg(expr: str | Column, scale: int = 2) -> Column:
    """Deterministic double-valued AVG: rounded exact sum / exact count."""
    c = dec(expr) if isinstance(expr, str) else expr
    return F.round(F.sum(c), scale).cast("double") / F.count(F.lit(1))


def sql_dsum(sql_expr: str, scale: int = 2) -> str:
    return f"CAST(ROUND(SUM({sql_expr}), {scale}) AS DOUBLE)"
