"""Q24/Q25 — the remaining UDF tiers as declared, oracle-checked
queries (SURVEY.md §2.10).

The scalar pandas-UDF tier (m1/m2), mapInPandas (m8/m11), UDTF (q10a's
operator cousin), and applyInPandasWithState (streaming/stateful.py)
were already exercised; this module puts the last two Arrow surfaces
under the driver's hash gate:

  q24 — GROUPED_AGG pandas UDF (the UDAF tier): a custom aggregate the
        built-ins don't provide, computed per group from an Arrow
        batch. Spark built-ins remain the right answer for everything
        SQL can say (SURVEY §2.10); this is the seam users extend.
  q25 — applyInPandas (grouped-map): whole-group pandas transform with
        an arbitrary per-group function.

Determinism rule: both queries keep their computed values in INTEGER
space (cents via floor(x*100 + 0.5), ranks) so pandas accumulation
order can never produce FP drift against the oracle — the same
discipline as _det.py's decimal intermediates.

Scale: GROUPED_AGG shuffles once on the group key and streams each
group through Arrow (groups must fit executor memory — true here: one
group per returnflag is bounded by the partial that feeds it...
actually no partial aggregation happens for pandas UDAFs, so at 100 TB
prefer built-ins/decimal sums for algebraic aggregates and reserve
this tier for genuinely holistic per-group math; same caveat for
applyInPandas, whose per-group pandas frame is the unit of memory).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..catalog import load
from ._pin import pin_for_sort


# half-away-from-zero cents, mirrored literally in the oracle SQL —
# identical doubles in, identical BIGINTs out, order-free int sums.
@pandas_udf(T.LongType())
def _sum_cents(price: pd.Series) -> int:
    x = price.to_numpy(dtype=np.float64)
    return int(np.floor(x * 100.0 + 0.5).astype(np.int64).sum())


@pandas_udf(T.LongType())
def _n_over_median_cents(price: pd.Series) -> int:
    """A genuinely holistic per-group aggregate (needs the whole group:
    count of rows strictly above the group's integer-cents median) —
    the kind of computation that justifies the UDAF tier at all."""
    cents = np.floor(price.to_numpy(dtype=np.float64) * 100.0 + 0.5).astype(np.int64)
    if len(cents) == 0:
        return 0
    # median convention: the LOWER middle element for even sizes, so the
    # statistic stays integer-exact (no .5 averaging) — mirrored in the
    # oracle's row_number pick
    srt = np.sort(cents)
    lower_mid = int(srt[(len(srt) - 1) // 2])
    return int((cents > lower_mid).sum())


def q24_udaf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    return pin_for_sort(
        lineitem.groupBy("l_returnflag").agg(
            _sum_cents(F.col("l_extendedprice")).alias("sum_cents"),
            _n_over_median_cents(F.col("l_extendedprice")).alias("n_over_median"),
        )
    ).orderBy("l_returnflag")


Q24_SQL = """
WITH cents AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c
  FROM lineitem
),
med AS (
  -- lower-middle element == the UDAF's integer-exact median convention
  SELECT l_returnflag, c,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY c) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM cents
),
lower_mid AS (
  SELECT l_returnflag, c AS m FROM med WHERE rn = (n - 1) // 2 + 1
)
SELECT c.l_returnflag,
       CAST(SUM(c.c) AS BIGINT) AS sum_cents,
       CAST(SUM(CASE WHEN c.c > lm.m THEN 1 ELSE 0 END) AS BIGINT) AS n_over_median
FROM cents c JOIN lower_mid lm USING (l_returnflag)
GROUP BY c.l_returnflag
ORDER BY c.l_returnflag
"""


def q25_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas: per-source dense length ranking of documents —
    whole-group pandas logic, integer output, total order."""
    docs = load(spark, sf_dir, "documents")

    def rank_in_source(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_chars", "doc_id"], ascending=[False, True])
        pdf = pdf.reset_index(drop=True)
        pdf["rk"] = np.arange(1, len(pdf) + 1, dtype=np.int64)
        return pdf[["source", "doc_id", "n_chars", "rk"]]

    return pin_for_sort(
        docs.select("source", "doc_id", "n_chars")
        .groupBy("source")
        .applyInPandas(rank_in_source, "source string, doc_id long, n_chars long, rk long")
        .filter(F.col("rk") <= 10)
    ).orderBy("source", "rk")


Q25_SQL = """
SELECT source, doc_id, n_chars, rk
FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
WHERE rk <= 10
ORDER BY source, rk
"""


QUERIES = {
    "q24_udaf_grouped_agg": q24_udaf_grouped_agg,
    "q25_grouped_map": q25_grouped_map,
}

ORACLES = {
    "q24_udaf_grouped_agg": Q24_SQL,
    "q25_grouped_map": Q25_SQL,
}


# ---------------------------------------------------------------------------
# Q90 — SQL-REGISTERED pandas UDF (the last UDF surface: spark.udf.
# register + invocation from a SQL string): teams consuming the q20
# SQL front door extend it with vectorized Python functions without
# leaving SQL. The function body is integer arithmetic on the Arrow
# batch (a quality-tier bucketing of order totals in cents), so the
# DuckDB oracle replays it in plain SQL — the hash-match certifies
# registration, SQL-side invocation, Arrow round-trip, and the
# arithmetic itself. At 100 TB this is one scan + one hash agg; the
# UDF is scalar-vectorized (one Arrow batch per task at a time).
# ---------------------------------------------------------------------------
def q90_sql_registered_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    @pandas_udf(T.IntegerType())
    def price_tier(total: pd.Series) -> pd.Series:
        cents = (total * 100 + 0.5).astype("int64")  # exact: inputs are 2-dp
        return (
            (cents >= 20_000_000).astype("int32")
            + (cents >= 10_000_000).astype("int32")
            + (cents >= 5_000_000).astype("int32")
        )

    spark.udf.register("price_tier", price_tier)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT price_tier(o_totalprice) AS tier,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
        FROM orders
        GROUP BY price_tier(o_totalprice)
        ORDER BY tier
        """
    )


Q90_SQL = """
SELECT CASE WHEN o_totalprice * 100 + 0.5 >= 20000000 THEN 3
            WHEN o_totalprice * 100 + 0.5 >= 10000000 THEN 2
            WHEN o_totalprice * 100 + 0.5 >= 5000000 THEN 1
            ELSE 0 END AS tier,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
FROM orders
GROUP BY 1
ORDER BY tier
"""

QUERIES["q90_sql_registered_udf"] = q90_sql_registered_udf
ORACLES["q90_sql_registered_udf"] = Q90_SQL
