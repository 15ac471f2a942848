"""Regression tests for the oracle gate itself (VERDICT r5 #2).

The r5 driver exposed a checker defect: DuckDB renders HUGEINT
(SUM/list_sum over BIGINT) as float64 in fetchdf(), the driver hashes
values strictly (`123` != `123.0`), but the local gate coerced and
reported MATCH. The gate must now go red on any int-vs-float dtype
pairing — these tests pin that behavior so the checker can't regress.
"""

from __future__ import annotations

import os

import pytest

from tests.oracle_utils import assert_matches, duckdb_run


def test_hugeint_oracle_drift_fails(spark, sf_dir):
    """The un-CAST q24-class oracle shape must FAIL the local gate."""
    sdf = spark.range(1).selectExpr("CAST(3 AS BIGINT) AS x")
    # DuckDB: SUM(BIGINT) -> HUGEINT -> float64 in fetchdf()
    with pytest.raises(AssertionError, match="dtype drift"):
        assert_matches(sdf, "SELECT SUM(CAST(3 AS BIGINT)) AS x", sf_dir)


def test_cast_bigint_repairs_drift(spark, sf_dir):
    """CAST(... AS BIGINT) is the sanctioned fix and must pass."""
    sdf = spark.range(1).selectExpr("CAST(3 AS BIGINT) AS x")
    assert_matches(sdf, "SELECT CAST(SUM(CAST(3 AS BIGINT)) AS BIGINT) AS x", sf_dir)


def test_float_spark_vs_int_oracle_fails(spark, sf_dir):
    """Drift in the other direction is equally red."""
    sdf = spark.range(1).selectExpr("CAST(3.0 AS DOUBLE) AS x")
    with pytest.raises(AssertionError, match="dtype drift"):
        assert_matches(sdf, "SELECT CAST(3 AS BIGINT) AS x", sf_dir)


def test_hugeint_fetchdf_assumption():
    """Document the underlying DuckDB behavior this gate defends against.

    If a DuckDB upgrade starts returning HUGEINT as int64/object, the
    drift class disappears and the strict check is merely redundant.
    """
    df = duckdb_run("SELECT SUM(CAST(3 AS BIGINT)) AS x", "/root/testdata/sf0.001")
    assert str(df["x"].dtype) == "float64"


def test_driver_sim_check_fails_empty_results(spark, sf_dir, monkeypatch):
    """driver_sim's one per-query gate (the full pass, a named subset and
    sf1_gate) fails a vacuous query, with or without an oracle."""
    import os

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from driver_sim import check

    empty = spark.range(0).selectExpr("CAST(id AS BIGINT) AS x")
    with pytest.raises(AssertionError, match="no rows"):
        check(empty, "SELECT CAST(1 AS BIGINT) AS x WHERE false", sf_dir)
    with pytest.raises(AssertionError, match="no rows"):
        check(empty, None, sf_dir)
    assert check(spark.range(2), None, sf_dir) == "rows-only (2)"
