"""Vector math over ArrayType(FloatType) embedding columns.

Pure Catalyst higher-order functions (F.zip_with / F.aggregate), so
no Python boundary — but HOFs are interpreted: the Project that holds
a fold sits outside every whole-stage-codegen stage (PySpark 4.1.2
plans the ``dot`` Project with no ``*(n)`` marker). Elements are
widened to double BEFORE multiply/accumulate so the fold is a plain
left-to-right IEEE-double chain (reproducible, and matching what a C
loop over doubles computes).

The integer kernel of the fixed-point queries (q119, q121, q124, q126,
q131) sits below, each piece next to its DuckDB twin: ``e6`` quantizes
components to BIGINT micro-units, ``sq_l2`` is the exact BIGINT
squared-L2 between two such arrays. Both take SQL array expressions
(column names, ``slice(...)``, literal ``array(...)``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _plus(shift: int) -> str:
    return f" + {shift}" if shift else ""


def e6(arr: str = "embedding", shift: int = 0) -> Column:
    """floor(x * 1e6 + 0.5) as BIGINT per component, plus ``shift``.

    Rounding is floor(x + 0.5) on both engines, never either engine's
    round() tie-breaking. A shift of 1e6 makes every component of a
    unit-range vector non-negative, so later integer divisions floor on
    both engines (Spark DIV truncates, DuckDB // floors, and they agree
    only on non-negative dividends)."""
    return F.expr(
        f"transform({arr}, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D)"
        f" AS BIGINT){_plus(shift)})"
    )


def sql_e6(arr: str = "embedding", shift: int = 0) -> str:
    """DuckDB twin of ``e6``."""
    return (
        f"list_transform({arr}, x -> CAST(floor(x::DOUBLE * 1000000.0 + 0.5)"
        f" AS BIGINT){_plus(shift)})"
    )


def sq_l2(a: str, b: str) -> Column:
    """Exact squared L2 between two BIGINT arrays, accumulated in BIGINT
    (64 e6 components of |diff| <= 4e6 stay below 2^53)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def sql_sq_l2(a: str, b: str) -> str:
    """DuckDB twin of ``sq_l2``; the CAST pins list_sum's HUGEINT to
    BIGINT, the dtype Spark returns."""
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}),"
        " t -> (t[1] - t[2]) * (t[1] - t[2]))) AS BIGINT)"
    )
