"""The pin before a global sort, shared by the query modules."""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin_for_sort(df: DataFrame) -> DataFrame:
    """Lazy-pin the (small) final frame before the global orderBy.

    The range partitioner behind orderBy SAMPLES its child to pick the
    sort boundaries, and in these chains there is no exchange between
    the Python UDFs and the sort — so that sampling job re-ran the
    ENTIRE UDF chain a second time per action (r12 find: m18 ran as
    two 32-task UDF stages; a paired A/B with the pin measured 5.02 ->
    2.75 s min, one UDF stage). The pinned frame holds only
    ids/stats/flags — kilobytes at any scale — and the sampler reads
    the cached rows instead of re-running the UDFs."""
    return df.localCheckpoint(eager=False)
