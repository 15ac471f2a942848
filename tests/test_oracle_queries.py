"""Every declared query must hash-match its DuckDB oracle (SURVEY.md §2.11)."""

from __future__ import annotations

import pytest

from developing_img_etl_spark.queries import all_oracles, all_queries

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    from tests.oracle_utils import assert_matches

    df = QUERIES[name](spark, sf_dir)
    if name in ORACLES:
        assert_matches(df, ORACLES[name], sf_dir, require_rows=True)
    else:
        # non-SQL-expressible: weaker rows-only check, mirroring the driver
        assert df.count() > 0


def test_driver_priority_names_are_declared_once():
    """A stale or misspelled priority name would silently drop out of
    the driver's first 50 (queries() skips names it does not declare)."""
    from developing_img_etl_spark.queries import _DRIVER_PRIORITY, streaming_batch

    declared = set(QUERIES) | set(streaming_batch.GATED)
    assert [n for n in _DRIVER_PRIORITY if n not in declared] == []
    assert len(set(_DRIVER_PRIORITY)) == len(_DRIVER_PRIORITY)
    assert list(QUERIES)[: len(_DRIVER_PRIORITY)] == [
        n for n in _DRIVER_PRIORITY if n in QUERIES
    ]
