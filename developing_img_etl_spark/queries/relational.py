"""Relational core queries Q1-Q10 (SURVEY.md §2.11) with DuckDB oracles.

Covers operators P1-P5, F1-F15, A1-A6, O1-O4, J1-J6, W1-W5 from the
SURVEY.md §2 inventory. Reference citations are on each query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ._det import DEC, davg, dec as _dec, dsum


# ---------------------------------------------------------------------------
# Q1 — pipeline shape: project/filter/normalize/concat-key + anti-join.
# Re-expresses the reference's incremental-dedup core (composite key build
# /root/reference/test.py:103-107, probe test.py:143-146, space→underscore
# normalization test.py:130,140) on the orders/lineitem tables: orders whose
# composite key has no "already processed" lineitem match.
# ---------------------------------------------------------------------------
def q1_incremental_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    pending = orders.select(
        F.col("o_orderkey").alias("orderkey"),
        F.concat_ws(
            "_",
            F.col("o_orderkey").cast("string"),
            F.translate(F.col("o_orderpriority"), " ", "_"),
        ).alias("composite_key"),
        F.col("o_totalprice"),
    ).filter(F.col("o_totalprice").isNotNull())
    processed = lineitem.filter(F.col("l_linenumber") == 1).select(
        F.col("l_orderkey").alias("orderkey")
    )
    return (
        pending.join(processed, "orderkey", "left_anti")
        .orderBy("orderkey")
        .select("orderkey", "composite_key", "o_totalprice")
    )


Q1_SQL = """
SELECT o_orderkey AS orderkey,
       concat_ws('_', CAST(o_orderkey AS VARCHAR), replace(o_orderpriority, ' ', '_')) AS composite_key,
       o_totalprice
FROM orders
WHERE o_totalprice IS NOT NULL
  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_linenumber = 1)
ORDER BY orderkey
"""


# ---------------------------------------------------------------------------
# Q2 — TPC-H Q1-style grouped aggregation (A2/A3). The reference's catalog
# layout is a (kode_proyek, minggu) group-by over size_gambar_kb
# (/root/reference/test.py:186-193); this is the same shape on lineitem.
# ---------------------------------------------------------------------------
def q2_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast(DEC) + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q2_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) * (CAST(1 AS DECIMAL(12,4)) + CAST(l_tax AS DECIMAL(12,4)))), 2) AS DOUBLE) AS sum_charge,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 2) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Q3 — 5-way join chain (J4/J6): region⋈nation⋈customer⋈orders⋈lineitem,
# revenue per nation. The generalization of the reference's planned FK model
# (/root/reference/test.mmd:71-78). Dimensions (region, nation) broadcast.
# ---------------------------------------------------------------------------
def q3_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(dsum(disc_price).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q3_SQL = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# ---------------------------------------------------------------------------
# Q4 — anti/semi joins (J1/J6). The reference's incremental skip is a
# left-anti join (/root/reference/test.py:143-146); the semi is its dual.
# ---------------------------------------------------------------------------
def q4a_customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


Q4A_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
"""


def q4b_parts_with_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        part.filter(F.col("p_size") > 40)
        .join(lineitem, part.p_partkey == lineitem.l_partkey, "left_semi")
        .select("p_partkey", "p_name", "p_size")
        .orderBy("p_partkey")
    )


Q4B_SQL = """
SELECT p_partkey, p_name, p_size
FROM part
WHERE p_size > 40
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# Q5 — window suite (W1-W5): row_number / dense_rank / lag / running sum /
# ntile / percent_rank / first_value over orders per customer.
# Deterministic total order inside each partition: (o_orderdate, o_orderkey).
# ---------------------------------------------------------------------------
def q5_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.row_number().over(w).alias("rn"),
        F.dense_rank().over(w).alias("drk"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.round(F.sum(_dec("o_totalprice")).over(frame), 2).cast("double").alias("running_total"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.first("o_orderkey").over(frame).alias("first_order"),
    ).filter(F.col("o_custkey") % 10 == 0).orderBy("o_custkey", "rn")
    # post-window filter: windows span every order; only 1/10th of
    # customers are emitted (bounds the result-set transfer, not the work)


Q5_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       ROW_NUMBER()   OVER w AS rn,
       DENSE_RANK()   OVER w AS drk,
       LAG(o_totalprice) OVER w AS prev_price,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total,
       NTILE(4)       OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
QUALIFY o_custkey % 10 = 0
ORDER BY o_custkey, rn
"""


# ---------------------------------------------------------------------------
# Q6 — rollup (A4): revenue by (nation, year) with subtotal and grand-total
# rows. Rollup NULL markers are coalesced to sentinels ('ALL' / -1) so the
# result has no nullable-int columns (cross-engine pandas dtype stability).
# ---------------------------------------------------------------------------
def q6_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    base = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("n_name", F.year("o_orderdate").cast("long").alias("o_year"), "o_totalprice")
    )
    return (
        base.rollup("n_name", "o_year")
        .agg(dsum("o_totalprice").alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("o_year"), F.lit(-1).cast("long")).alias("o_year"),
            "revenue",
            "n_orders",
        )
        .orderBy("nation", "o_year")
    )


Q6_SQL = """
SELECT COALESCE(n_name, 'ALL') AS nation,
       COALESCE(year(o_orderdate), -1) AS o_year,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, year(o_orderdate))
ORDER BY nation, o_year
"""


# ---------------------------------------------------------------------------
# Q7 — top-k (O2): top-10 customers by revenue. Spark plans
# TakeOrderedAndProject (no global sort). Tie-broken on c_custkey.
# ---------------------------------------------------------------------------
def q7_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(dsum("o_totalprice").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(10)
    )


Q7_SQL = """
SELECT c_custkey, c_name,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q8 — set ops (O3/O4): tagged symmetric difference of two customer-key
# slices via union/intersect/except (the reference's key-set membership
# check /root/reference/test.py:144 is the degenerate form).
# ---------------------------------------------------------------------------
def q8_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    both = a.intersect(b).withColumn("tag", F.lit("both"))
    only_a = a.subtract(b).withColumn("tag", F.lit("only_a"))
    only_b = b.subtract(a).withColumn("tag", F.lit("only_b"))
    return both.unionByName(only_a).unionByName(only_b).orderBy("tag", "c_custkey")


Q8_SQL = """
SELECT c_custkey, 'both' AS tag
FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
UNION ALL
SELECT c_custkey, 'only_a' AS tag
FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
UNION ALL
SELECT c_custkey, 'only_b' AS tag
FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
ORDER BY tag, c_custkey
"""


# ---------------------------------------------------------------------------
# Q9a — scalar string suite (F1-F8) on part. Each column mirrors one
# reference string op (citations in SURVEY.md §2.7).
# ---------------------------------------------------------------------------
def q9a_scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    path = F.concat_ws("/", F.lit("parts"), F.col("p_brand"), F.col("p_name"))
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.translate(F.col("p_name"), " ", "_").alias("name_norm"),
        F.regexp_extract(path, "[^/]*$", 0).alias("basename"),
        F.substring_index(F.col("p_type"), " ", 1).alias("type_head"),
        F.concat_ws("_", F.col("p_brand"), F.col("p_size").cast("string")).alias("composite_key"),
        F.url_decode(F.regexp_replace(F.col("p_name"), " ", "%20")).alias("url_dec"),
        F.base64(F.col("p_name").cast("binary")).alias("name_b64"),
        F.length("p_name").cast("long").alias("name_len"),
    ).orderBy("p_partkey")


Q9A_SQL = """
SELECT p_partkey,
       lower(p_name) AS name_lower,
       replace(p_name, ' ', '_') AS name_norm,
       regexp_extract(concat_ws('/', 'parts', p_brand, p_name), '[^/]*$') AS basename,
       split_part(p_type, ' ', 1) AS type_head,
       concat_ws('_', p_brand, CAST(p_size AS VARCHAR)) AS composite_key,
       p_name AS url_dec,
       base64(encode(p_name)) AS name_b64,
       CAST(length(p_name) AS BIGINT) AS name_len
FROM part
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# Q9b — scalar date/math suite (F9-F15) on orders. Integer outputs cast to
# BIGINT on both sides; transcendentals rounded to 6dp (libm is not
# cross-engine correctly-rounded); squares via plain multiply (exact IEEE).
# ---------------------------------------------------------------------------
def q9b_scalar_dates_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.quarter("o_orderdate").cast("long").alias("o_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("days_to_y2k"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        (F.col("o_orderkey") % 7).cast("long").alias("key_mod7"),
        F.round(price.cast("decimal(12,2)"), 1).cast("double").alias("price_r1"),
        F.abs(price - 100000.0).alias("abs_dev"),
        F.sqrt(price).alias("price_sqrt"),
        (price * price).alias("price_sq"),
        F.round(F.log(price), 6).alias("price_ln"),
        F.signum(price - 100000.0).cast("long").alias("price_sign"),
    ).orderBy("o_orderkey")


Q9B_SQL = """
SELECT o_orderkey,
       year(o_orderdate) AS o_year,
       month(o_orderdate) AS o_month,
       quarter(o_orderdate) AS o_quarter,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
       strftime(o_orderdate, '%Y-%m') AS ym,
       o_orderkey % 7 AS key_mod7,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 1) AS DOUBLE) AS price_r1,
       abs(o_totalprice - 100000.0) AS abs_dev,
       sqrt(o_totalprice) AS price_sqrt,
       o_totalprice * o_totalprice AS price_sq,
       round(ln(o_totalprice), 6) AS price_ln,
       CAST(sign(o_totalprice - 100000.0) AS BIGINT) AS price_sign
FROM orders
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# Q10a — unpivot (UDTF analogue): stack part attribute columns long + count.
# The reference's hand-rolled unpivot is the 8 photo/desc column pairs →
# rows loop (/root/reference/test.py:128-134).
# ---------------------------------------------------------------------------
def q10a_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    long = part.unpivot(
        ids=["p_partkey"],
        values=["p_brand", "p_type"],
        variableColumnName="attr",
        valueColumnName="val",
    )
    return long.groupBy("attr", "val").agg(F.count(F.lit(1)).alias("n")).orderBy("attr", "val")


Q10A_SQL = """
SELECT attr, val, COUNT(*) AS n
FROM (
  SELECT 'p_brand' AS attr, p_brand AS val FROM part
  UNION ALL
  SELECT 'p_type' AS attr, p_type AS val FROM part
)
GROUP BY attr, val
ORDER BY attr, val
"""


# ---------------------------------------------------------------------------
# Q10b — pivot (A6): order counts per year pivoted by status. The inverse of
# the unpivot — the reference's 8-wide report shape.
# ---------------------------------------------------------------------------
def q10b_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(F.year("o_orderdate").cast("long").alias("o_year"), "o_orderstatus")
        .groupBy("o_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_year",
            F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
        )
        .orderBy("o_year")
    )


Q10B_SQL = """
SELECT year(o_orderdate) AS o_year,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders
GROUP BY year(o_orderdate)
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# Q6b — cube (A4, the full grouping-set lattice over two keys).
# ---------------------------------------------------------------------------
def q6b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    return (
        base.cube("o_orderstatus", "o_orderpriority")
        .agg(dsum("o_totalprice").alias("revenue"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "revenue",
            "n",
        )
        .orderBy("status", "priority")
    )


Q6B_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


# ---------------------------------------------------------------------------
# Q15 — self-join on adjacent attribute values (J5: the STAGE_DEPENDENCY
# child→parent self-join shape, /root/reference/test.mmd:52-58,77-78):
# parts paired with same-type parts one size larger. The pair set is
# quadratic per (type, size) bucket (~131M pairs at sf1), so the query
# returns the per-type audit AGGREGATE over the pairs — pair count,
# size mass, and an order-invariant key checksum that pins every
# individual (child, parent) pairing — instead of materializing the
# pair list to the driver (at 100 TB the pairs feed the next operator
# or a sink, never a collect; r6: the old row-identical output made
# the sf1 benchmark measure 130M rows of pandas serialization on BOTH
# engines rather than the join). Overflow discipline (r6 ADVICE): the
# pair-encoding width is DERIVED FROM THE DATA (w = max(p_partkey)+1,
# a 1-row broadcast scalar), so min_pair/max_pair stay injective at
# every SF where max_key^2 < 2^63 (max_key < 3.0e9, sf < ~15000);
# the checksum reduces each term mod 2^20 before summing, so
# SUM < n_pairs x 2^20 < 2^63 for any n_pairs < 8.8e12 (sf < ~8000).
# ---------------------------------------------------------------------------
def q15_selfjoin_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    # ~650x fanout per probe row: spread the (tiny) probe side across
    # every core before the broadcast join — scan-size-based splitting
    # cannot see output size (q101's fanout-repartition pattern)
    child = part.repartition(spark.sparkContext.defaultParallelism).alias("c")
    parent = part.alias("p")
    width = part.agg((F.max("p_partkey") + 1).cast("long").alias("w"))
    pair = F.col("child_key") * F.col("w") + F.col("parent_key")
    return (
        child.join(
            F.broadcast(parent),
            (F.col("c.p_type") == F.col("p.p_type"))
            & (F.col("p.p_size") == F.col("c.p_size") + 1),
        )
        .select(
            F.col("c.p_type").alias("p_type"),
            F.col("c.p_partkey").alias("child_key"),
            F.col("p.p_partkey").alias("parent_key"),
            F.col("c.p_size").alias("child_size"),
        )
        .join(F.broadcast(width))  # 1-row scalar: data-derived encoding width
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("child_size").cast("long").alias("sum_child_size"),
            F.min(pair).alias("min_pair"),
            F.max(pair).alias("max_pair"),
            F.sum((F.col("child_key") * 31 + F.col("parent_key")) % 1_048_576)
            .cast("long")
            .alias("key_checksum"),
        )
        .orderBy("p_type")
    )


Q15_SQL = """
SELECT c.p_type AS p_type,
       COUNT(*) AS n_pairs,
       CAST(SUM(c.p_size) AS BIGINT) AS sum_child_size,
       CAST(MIN(c.p_partkey * s.w + p.p_partkey) AS BIGINT) AS min_pair,
       CAST(MAX(c.p_partkey * s.w + p.p_partkey) AS BIGINT) AS max_pair,
       CAST(SUM((c.p_partkey * 31 + p.p_partkey) % 1048576) AS BIGINT) AS key_checksum
FROM part c
JOIN part p ON c.p_type = p.p_type AND p.p_size = c.p_size + 1
CROSS JOIN (SELECT CAST(MAX(p_partkey) + 1 AS BIGINT) AS w FROM part) s
GROUP BY c.p_type
ORDER BY c.p_type
"""


# ---------------------------------------------------------------------------
# Q16 — collect_list re-pivot (A6: the inverse of the photo unpivot —
# group members gathered back into an ordered array).
# ---------------------------------------------------------------------------
def q16_collect_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_custkey", F.year("o_orderdate").cast("long").alias("y"))
        .groupBy("o_custkey")
        .agg(
            F.array_join(F.sort_array(F.collect_set("y")), ",").alias("order_years"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


Q16_SQL = """
SELECT o_custkey,
       array_to_string(list_sort(list_distinct(list(year(o_orderdate)))), ',') AS order_years,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""


# ---------------------------------------------------------------------------
# Q17 — approximate distinct count (A5), promoted to hash-MATCH
# (VERDICT r10 #6): the estimate is the repo's own from-primitives HLL
# (q97's exact-integer estimator at p = 9 — md5-hashed registers,
# integer alpha_m arithmetic, frozen linear-counting table), so the
# DuckDB oracle replays the sketch bit-for-bit and the driver hashes
# sketch AND exact side by side. Spark's builtin approx_count_distinct
# (engine-private HLL++ registers, unhashable by construction) stays
# error-pinned in tests/test_misc_surface.py on the same grouping.
# Scale shape: hash/idx/rho are map-side codegen; the register shuffle
# carries ≤ 5 priorities × 512 rows regardless of data volume; the
# exact audit column is the one data-sized aggregation.
# ---------------------------------------------------------------------------
def q17_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .classify import md5_prefix_int
    from .sketches import _M, _rho, hll_estimate_frame

    orders = load(spark, sf_dir, "orders")
    row = orders.select(
        "o_orderpriority",
        md5_prefix_int(F.col("o_custkey").cast("string"), 15).alias("h"),
    ).select(
        "o_orderpriority",
        (F.col("h") % _M).alias("idx"),
        _rho(F.expr(f"h div {_M}")).alias("rho"),
    )
    regs = row.groupBy("o_orderpriority", "idx").agg(F.max("rho").alias("m_reg"))
    est = hll_estimate_frame(regs, 9, "o_orderpriority")
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    return (
        est.join(exact, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("exact_customers").cast("long").alias("exact_customers"),
            "n_zero_registers",
            "s_scaled",
            F.col("hll_estimate").alias("hll_customers"),
            F.expr(
                "CAST(CAST(abs(hll_estimate - exact_customers) AS DECIMAL(38,0))"
                " * 1000000 DIV exact_customers AS BIGINT)"
            ).alias("err_ppm"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q18 — TPC-H Q5-complete join (J4/J6 + supplier): the local-supplier
# revenue query. Closes the round-1 gap of `supplier` being declared in
# the catalog but untouched by any query (VERDICT r1 missing #4).
# lineitem⋈orders⋈customer⋈supplier with the Q5 twist that the supplier
# must sit in the customer's nation, then nation⋈region dims broadcast.
# ---------------------------------------------------------------------------
def q18_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            dsum(disc_price).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


Q18_SQL = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items,
       COUNT(DISTINCT s_suppkey) AS n_suppliers
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# ---------------------------------------------------------------------------
# Q19 — STAGE_DEPENDENCY date arithmetic (/root/reference/test.mmd:52-58):
# child stage's earliest constraint date = anchor(parent) + lag_days,
# where relation_type FS/FF anchors on the parent's FINISH and SS/SF on
# its START. Modeled on lineitem adjacency within an order (linenumber
# n+1 depends on n — the natural precedence chain); parent finish =
# shipdate, start = shipdate - 7d, relation type cycles by linenumber,
# lag from quantity (floor-cast both engines; see _det notes).
# Covers F12×J5 together (VERDICT r1 missing #3).
# ---------------------------------------------------------------------------
def q19_stage_dependency_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    stages = lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.to_date("l_shipdate").alias("finish"),
        F.date_add(F.to_date("l_shipdate"), -7).alias("start"),
        (F.floor("l_quantity").cast("int") % 15).alias("lag_days"),
    )
    child = stages.alias("c")
    parent = stages.alias("p")
    rel = F.element_at(
        F.array(F.lit("FS"), F.lit("SS"), F.lit("FF"), F.lit("SF")),
        (F.col("p.l_linenumber") % 4) + 1,
    )
    anchor = F.when(rel.isin("FS", "FF"), F.col("p.finish")).otherwise(F.col("p.start"))
    return (
        child.join(
            parent,
            (F.col("c.l_orderkey") == F.col("p.l_orderkey"))
            & (F.col("c.l_linenumber") == F.col("p.l_linenumber") + 1),
        )
        .select(
            F.col("c.l_orderkey").alias("orderkey"),
            F.col("c.l_linenumber").alias("child_line"),
            rel.alias("relation_type"),
            F.col("c.lag_days").alias("lag_days"),
            F.date_add(anchor, F.col("c.lag_days")).alias("constraint_date"),
            F.when(F.col("c.start") < F.date_add(anchor, F.col("c.lag_days")), F.lit("LATE-START"))
            .otherwise(F.lit("OK"))
            .alias("schedule_flag"),
        )
        .orderBy("orderkey", "child_line")
    )


Q19_SQL = """
WITH stages AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_shipdate AS DATE) AS finish,
         CAST(l_shipdate AS DATE) - 7 AS start,
         CAST(FLOOR(l_quantity) AS INT) % 15 AS lag_days
  FROM lineitem
)
SELECT c.l_orderkey AS orderkey,
       c.l_linenumber AS child_line,
       CASE p.l_linenumber % 4 WHEN 0 THEN 'FS' WHEN 1 THEN 'SS'
                               WHEN 2 THEN 'FF' ELSE 'SF' END AS relation_type,
       c.lag_days,
       CASE WHEN p.l_linenumber % 4 IN (0, 2) THEN p.finish ELSE p.start END
         + c.lag_days AS constraint_date,
       CASE WHEN c.start <
              CASE WHEN p.l_linenumber % 4 IN (0, 2) THEN p.finish ELSE p.start END
                + c.lag_days
            THEN 'LATE-START' ELSE 'OK' END AS schedule_flag
FROM stages c
JOIN stages p ON c.l_orderkey = p.l_orderkey
            AND c.l_linenumber = p.l_linenumber + 1
ORDER BY orderkey, child_line
"""



# ---------------------------------------------------------------------------
# Q22 — exact percentiles + conditional counts (A-family completeness):
# Spark `percentile` and DuckDB `quantile_cont` share the linear-
# interpolation definition, so the match is bit-exact (verified) —
# no decimal detour needed. At scale: exact percentile is a full sort
# per group; the approximate tier is approx_percentile (same shape as
# q17's HLL tradeoff).
# ---------------------------------------------------------------------------
def q22_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distribution-based exact percentiles instead of the `percentile`
    # aggregate: the builtin is an ImperativeAggregate whose per-group
    # value->count maps merge serially on the final reducer (parallelism
    # = group count, 3 here — measured 2.9 s at sf0.1). This form does
    # the heavy lifting in a PARALLEL groupBy on (flag, value) (dedup +
    # counts across all shuffle partitions), then runs the cheap
    # interpolation over the compressed distribution: cumulative ranges
    # via window, pick the rows covering index h = p*(n-1), interpolate
    # v_l*(1-frac) + v_u*frac — the same linear-interpolation definition
    # (and FP shape) as Spark `percentile`/DuckDB quantile_cont, so the
    # hash match is preserved. Scales with distinct values, not rows.
    # The distribution still has ~0.5 distinct values per row (TPC-H
    # extendedprice), so a cumulative window partitioned by the 3 flags
    # alone serializes a ~1M-row sort onto 3 tasks (10.7 s at sf1).
    # Salt the cumulative into coarse price buckets: bucket-level counts
    # roll up to offsets through a TINY window (3 flags x ~110 buckets),
    # the per-value cumulative runs at (flag x bucket) parallelism, and
    # cum = bucket_offset + within-bucket cum. lead(v) at a bucket's last
    # value falls over to the next non-empty bucket's min. Interpolation
    # arithmetic is unchanged, so the bit-exact match is preserved.
    lineitem = load(spark, sf_dir, "lineitem")
    dist = lineitem.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # pin: both bstats (broadcast side) and the probe consume dist —
    # without the pin the 6M-row groupBy subtree runs twice
    dist = dist.withColumn(
        "bkt", F.floor(F.col("v") / 1000).cast("long")
    ).localCheckpoint(eager=False)
    wb = Window.partitionBy("l_returnflag").orderBy("bkt")
    bstats = (
        dist.groupBy("l_returnflag", "bkt")
        .agg(F.sum("cnt").alias("bcnt"), F.min("v").alias("bmin"))
        .withColumn("boff", F.sum("bcnt").over(wb) - F.col("bcnt"))
        .withColumn("next_bmin", F.lead("bmin").over(wb))
        .withColumn("n", F.sum("bcnt").over(Window.partitionBy("l_returnflag")))
        .select("l_returnflag", "bkt", "boff", "next_bmin", "n")
    )
    w = Window.partitionBy("l_returnflag", "bkt").orderBy("v")
    d = (
        dist.join(F.broadcast(bstats), ["l_returnflag", "bkt"])
        .withColumn("cum", F.col("boff") + F.sum("cnt").over(w))
        .withColumn("start", F.col("cum") - F.col("cnt"))  # covers [start, cum)
        .withColumn("v_next", F.coalesce(F.lead("v").over(w), F.col("next_bmin")))
    )

    def q_expr(p: float):
        h = F.lit(p) * (F.col("n") - 1).cast("double")
        lower = F.floor(h)
        frac = h - lower
        v_u = F.when(lower + 1 < F.col("cum"), F.col("v")).otherwise(F.col("v_next"))
        qv = F.col("v") * (F.lit(1.0) - frac) + v_u * frac
        covers = (F.col("start") <= lower) & (lower < F.col("cum"))
        return F.max(F.when(covers, qv))

    return (
        d.groupBy("l_returnflag")
        .agg(
            q_expr(0.25).alias("p25"),
            q_expr(0.5).alias("p50"),
            q_expr(0.75).alias("p75"),
            q_expr(0.9).alias("p90"),
            F.sum(F.when(F.col("v") > 50000, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_big"),
            F.sum("cnt").cast("long").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


Q22_SQL = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.5)  AS p50,
       quantile_cont(l_extendedprice, 0.75) AS p75,
       quantile_cont(l_extendedprice, 0.9)  AS p90,
       count(*) FILTER (WHERE l_extendedprice > 50000) AS n_big,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Q23 — approx_percentile (the scale tier q22's comment promises):
# KLL/GK-style sketch, mergeable map-side, ONE pass with no per-group
# sort — the 100 TB path where q22's exact per-group sort is the
# correctness oracle at small scale. Promoted to hash-MATCH (VERDICT
# r10 #6): the sketch value itself is engine-private, but its
# DETERMINISTIC GUARANTEE is not — Greenwald-Khanna promises the
# returned element's rank lies within n/accuracy of the target rank.
# The query certifies that guarantee in-query: it joins the sketch
# answers back to the data, computes each answer's exact rank span
# (count <, count ≤ — one extra aggregation over the facts), and emits
# within_bound against the [lo_rank, hi_rank] window both engines
# derive as a pure integer function of (n_rows, quantile, accuracy).
# The oracle replays the group counts + rank windows and asserts TRUE:
# a Spark sketch that ever broke its bound would flip the hash. The
# value-level accuracy check stays in tests/test_approx_ops.py.
# Scale shape: sketch agg is one map-side-combinable pass; the rank
# audit broadcasts the 12-row answer frame and re-scans the facts once.
# ---------------------------------------------------------------------------
APPROX_PCT_ACCURACY = 10_000  # 1/accuracy relative-rank error bound
_Q23_QS_PPM = (250000, 500000, 750000, 900000)


def q23_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Result is posexploded to scalar rows (no array column in the
    # output): the driver harness canonicalizes via pandas sort_values,
    # which cannot hash list-typed cells. Rule: declared queries return
    # only scalar columns.
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    acc = APPROX_PCT_ACCURACY
    eps_ppm = 1_000_000 // acc
    qlist = ", ".join(f"{q / 1_000_000}" for q in _Q23_QS_PPM)
    agg = lineitem.groupBy("l_returnflag").agg(
        F.expr(
            f"approx_percentile(l_extendedprice, array({qlist}), {acc})"
        ).alias("approx_quartiles"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    pts = agg.select(
        "l_returnflag",
        "n_rows",
        F.posexplode("approx_quartiles").alias("q_pos", "q_value"),
    ).withColumn(
        "q_ppm",
        F.element_at(
            F.array(*[F.lit(q) for q in _Q23_QS_PPM]), F.col("q_pos") + 1
        ),
    )
    ranked = (
        lineitem.join(F.broadcast(pts), "l_returnflag")
        .groupBy("l_returnflag", "q_pos", "q_ppm", "q_value", "n_rows")
        .agg(
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("q_value"), 1).otherwise(0)
            ).alias("rank_le"),
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("q_value"), 1).otherwise(0)
            ).alias("rank_lt"),
        )
    )
    # guaranteed rank window, pure integers of (n_rows, q_ppm): the ±1
    # absorbs the engine's open/closed target-rank convention
    lo = (
        f"greatest(CAST((q_ppm - {eps_ppm}) * n_rows div 1000000 AS BIGINT) - 1,"
        " CAST(1 AS BIGINT))"
    )
    hi = (
        f"least(CAST(((q_ppm + {eps_ppm}) * n_rows + 999999) div 1000000 AS BIGINT)"
        " + 1, CAST(n_rows AS BIGINT))"
    )
    return (
        ranked.select(
            "l_returnflag",
            F.col("q_pos").cast("int").alias("q_pos"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.expr(lo).alias("lo_rank"),
            F.expr(hi).alias("hi_rank"),
            (
                (F.col("rank_le") >= F.expr(lo))
                & ((F.col("rank_lt") + 1) <= F.expr(hi))
            ).alias("within_bound"),
        )
        .orderBy("l_returnflag", "q_pos")
    )


def _q17_sql() -> str:
    """DuckDB replay of q17's from-primitives HLL (q97's mirror shape,
    over orders.o_custkey) — built lazily so the sketches-module import
    stays function-local."""
    from .classify import sql_md5_prefix_int
    from .sketches import _DEN_C, _FIELD, _M, _NUM, _S_SCALE, sql_hll_estimate_case

    h = sql_md5_prefix_int(15)
    return f"""
WITH rho AS (
  SELECT o_orderpriority, hv % {_M} AS idx,
         CASE WHEN hv // {_M} = 0 THEN {_FIELD + 1}
              ELSE {_FIELD + 1} - length(bin(hv // {_M})) END AS rho
  FROM (SELECT o_orderpriority, {h} AS hv
        FROM (SELECT o_orderpriority, md5(CAST(o_custkey AS VARCHAR)) AS h
              FROM orders))
),
regs AS (
  SELECT o_orderpriority, idx, MAX(rho) AS m_reg
  FROM rho GROUP BY o_orderpriority, idx
),
est AS (
  SELECT o_orderpriority,
         CAST({_M} - COUNT(*) AS BIGINT) AS n_zero_registers,
         CAST(SUM(1::BIGINT << ({_FIELD + 1} - m_reg))
              + ({_M} - COUNT(*)) * {_S_SCALE}::BIGINT AS BIGINT) AS s_scaled
  FROM regs GROUP BY o_orderpriority
),
exact AS (
  SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_customers
  FROM orders GROUP BY o_orderpriority
),
raw AS (
  SELECT e.o_orderpriority, x.exact_customers, e.n_zero_registers, e.s_scaled,
         CAST(CAST('{_NUM}' AS HUGEINT)
              // ({_DEN_C}::HUGEINT * e.s_scaled::HUGEINT) AS BIGINT) AS raw_est
  FROM est e JOIN exact x USING (o_orderpriority)
),
corrected AS (
  SELECT o_orderpriority, exact_customers, n_zero_registers, s_scaled,
         CAST({sql_hll_estimate_case(9)} AS BIGINT) AS hll_customers
  FROM raw
)
SELECT o_orderpriority,
       CAST(exact_customers AS BIGINT) AS exact_customers,
       n_zero_registers, s_scaled, hll_customers,
       CAST(CAST(abs(hll_customers - exact_customers) AS HUGEINT)
            * 1000000 // exact_customers AS BIGINT) AS err_ppm
FROM corrected
ORDER BY o_orderpriority
"""


_Q23_EPS_PPM = 1_000_000 // APPROX_PCT_ACCURACY
_Q23_POSLIST = ", ".join(str(i) for i in range(len(_Q23_QS_PPM)))
_Q23_PPMLIST = ", ".join(str(q) for q in _Q23_QS_PPM)

Q23_SQL = f"""
WITH g AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY l_returnflag
),
qs AS (
  SELECT UNNEST([{_Q23_POSLIST}]) AS q_pos,
         UNNEST([{_Q23_PPMLIST}]) AS q_ppm
)
SELECT l_returnflag,
       CAST(q_pos AS INTEGER) AS q_pos,
       n_rows,
       GREATEST(CAST((q_ppm - {_Q23_EPS_PPM}) * n_rows // 1000000 AS BIGINT) - 1,
                CAST(1 AS BIGINT)) AS lo_rank,
       LEAST(CAST(((q_ppm + {_Q23_EPS_PPM}) * n_rows + 999999) // 1000000 AS BIGINT)
             + 1, n_rows) AS hi_rank,
       TRUE AS within_bound
FROM g CROSS JOIN qs
ORDER BY l_returnflag, q_pos
"""


QUERIES = {
    "q1_incremental_antijoin": q1_incremental_antijoin,
    "q23_approx_percentiles": q23_approx_percentiles,
    "q17_approx_distinct": q17_approx_distinct,
    "q6b_cube": q6b_cube,
    "q15_selfjoin_adjacent": q15_selfjoin_adjacent,
    "q16_collect_years": q16_collect_years,
    "q2_grouped_agg": q2_grouped_agg,
    "q3_join_chain": q3_join_chain,
    "q4a_customers_without_urgent_orders": q4a_customers_without_urgent_orders,
    "q4b_parts_with_sales": q4b_parts_with_sales,
    "q5_window_suite": q5_window_suite,
    "q6_rollup": q6_rollup,
    "q7_topk": q7_topk,
    "q8_setops": q8_setops,
    "q9a_scalar_strings": q9a_scalar_strings,
    "q9b_scalar_dates_math": q9b_scalar_dates_math,
    "q10a_unpivot": q10a_unpivot,
    "q10b_pivot": q10b_pivot,
    "q18_local_supplier_revenue": q18_local_supplier_revenue,
    "q19_stage_dependency_dates": q19_stage_dependency_dates,
    "q22_percentiles": q22_percentiles,
}

ORACLES = {
    "q1_incremental_antijoin": Q1_SQL,
    "q6b_cube": Q6B_SQL,
    "q15_selfjoin_adjacent": Q15_SQL,
    "q16_collect_years": Q16_SQL,
    "q2_grouped_agg": Q2_SQL,
    "q3_join_chain": Q3_SQL,
    "q4a_customers_without_urgent_orders": Q4A_SQL,
    "q4b_parts_with_sales": Q4B_SQL,
    "q5_window_suite": Q5_SQL,
    "q6_rollup": Q6_SQL,
    "q7_topk": Q7_SQL,
    "q8_setops": Q8_SQL,
    "q9a_scalar_strings": Q9A_SQL,
    "q9b_scalar_dates_math": Q9B_SQL,
    "q10a_unpivot": Q10A_SQL,
    "q10b_pivot": Q10B_SQL,
    "q18_local_supplier_revenue": Q18_SQL,
    "q19_stage_dependency_dates": Q19_SQL,
    "q22_percentiles": Q22_SQL,
    "q17_approx_distinct": _q17_sql(),
    "q23_approx_percentiles": Q23_SQL,
}


# ---------------------------------------------------------------------------
# Q29 — time-RANGE window frames (W-family completeness beyond q5's
# ROWS frames): per-customer rolling 90-day order spend. RANGE frames
# bound by a VALUE interval, not a row count — the Spark form orders by
# epoch days and uses rangeBetween(-90, 0); the oracle mirrors with
# RANGE BETWEEN 90 PRECEDING over the same integer key. One shuffle on
# the partition key; no self-join/explode materializes the window.
# ---------------------------------------------------------------------------
def q29_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    epoch_day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_day)
        .rangeBetween(-90, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.count(F.lit(1)).over(w).alias("n_orders_90d"),
            F.round(F.sum(_dec("o_totalprice")).over(w), 2)
            .cast("double")
            .alias("spend_90d"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


Q29_SQL = """
SELECT o_custkey,
       o_orderkey,
       o_orderdate,
       COUNT(*) OVER w AS n_orders_90d,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))) OVER w, 2) AS DOUBLE) AS spend_90d
FROM orders
WHERE o_custkey < 200
WINDOW w AS (
  PARTITION BY o_custkey
  ORDER BY CAST(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS BIGINT)
  RANGE BETWEEN 90 PRECEDING AND CURRENT ROW
)
ORDER BY o_custkey, o_orderdate, o_orderkey
"""

QUERIES["q29_rolling_time_window"] = q29_rolling_time_window
ORACLES["q29_rolling_time_window"] = Q29_SQL


# ---------------------------------------------------------------------------
# Q89 — distribution ranks: percent_rank and cume_dist, the two W-family
# members q5's window suite left out, emitted as exact integers (ppm)
# instead of their engine-native doubles: percent_rank ≡
# (rank−1)·10⁶ DIV (n−1), cume_dist ≡ cnt_le·10⁶ DIV n — the same
# integer-ratio discipline as q45's idf, so a 1-ulp FP division can
# never flip a value across engines. rank/count come from plain
# windows; ONE mktsegment shuffle serves all four frames.
# ---------------------------------------------------------------------------
def q89_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    customer = load(spark, sf_dir, "customer")
    # order by balance ALONE: ties are real, so rank() keeps peer
    # semantics and the RANGE-frame count genuinely measures cume_dist
    # peers (a custkey tiebreaker would reduce both to row_number
    # arithmetic); rank and peer-count are tie-invariant, so the
    # result stays cross-engine deterministic without a unique order
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    wall = Window.partitionBy("c_mktsegment")
    ranked = customer.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.rank().over(w).alias("rk"),
        F.count(F.lit(1))
        .over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cnt_le"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    return (
        ranked.select(
            "c_mktsegment",
            "c_custkey",
            # rank() is INT32: widen BEFORE the ppm multiply (ANSI mode
            # overflows at rank > ~2147 otherwise — bit at sf0.1)
            F.expr("(CAST(rk AS BIGINT) - 1) * 1000000 DIV (n - 1)").alias("pct_rank_ppm"),
            F.expr("CAST(cnt_le AS BIGINT) * 1000000 DIV n").alias("cume_dist_ppm"),
        )
        .orderBy("c_mktsegment", "c_custkey")
    )


Q89_SQL = """
WITH ranked AS (
  SELECT c_mktsegment, c_custkey,
         rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS rk,
         COUNT(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_le,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM customer
)
SELECT c_mktsegment, c_custkey,
       CAST((rk - 1) * 1000000 // (n - 1) AS BIGINT) AS pct_rank_ppm,
       CAST(cnt_le * 1000000 // n AS BIGINT) AS cume_dist_ppm
FROM ranked
ORDER BY c_mktsegment, c_custkey
"""

QUERIES["q89_distribution_ranks"] = q89_distribution_ranks
ORACLES["q89_distribution_ranks"] = Q89_SQL


# ---------------------------------------------------------------------------
# Q99 — interval-overlap join via bin bucketing (J7's missing sibling).
#
# As-of and range joins (q11b-d) cover point-to-interval lookup; the
# remaining interval primitive is INTERVAL x INTERVAL overlap — "which
# order-activity windows intersect which campaign windows" (the
# genomics/AD-tech overlap join). A naive theta join is O(n*m); the
# scale shape is BINNING: each interval explodes to the fixed-width
# timeline bins it spans, candidates come from an EQUI-join on
# (segment, bin), pairs are deduped, and the exact overlap predicate +
# arithmetic runs only on candidates. Intervals here span <= 30 days
# -> <= 2 bins each, so the blowup factor is bounded by
# ceil(len/binw)+1 regardless of data volume, and the join is an
# ordinary hash join Catalyst/AQE can plan (vs an unplannable theta).
#
# The DuckDB oracle runs the NAIVE theta join over the same intervals,
# so the hash-match is a cross-ALGORITHM invariance check (the q82
# discipline): binning provably loses no pair and invents none.
#
# Campaign windows are derived arithmetically from the segment list
# (12 per segment, 30-day cadence, md5-jittered start, 10-25 day
# length) — deterministic on both engines, no side table needed.
# ---------------------------------------------------------------------------

_Q99_BIN = 30
_Q99_D0 = 9131  # epoch day of 1995-01-01


def q99_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .classify import epoch_day, md5_prefix_int

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    o_day = epoch_day(F.col("o_orderdate"))
    o_iv = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "o_orderkey",
            F.col("c_mktsegment").alias("segment"),
            o_day.alias("o_start"),
            (o_day + 1 + F.col("o_orderkey") % 14).alias("o_end"),
        )
    )
    camp = (
        cust.select(F.col("c_mktsegment").alias("segment"))
        .distinct()
        .select("segment", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("campaign_id"))
        .select(
            "segment",
            "campaign_id",
            (
                F.lit(_Q99_D0)
                + F.col("campaign_id") * 30
                + md5_prefix_int(F.col("segment"), 2) % 20
            ).alias("c_start"),
        )
        .withColumn(
            "c_end", F.col("c_start") + 10 + (F.col("campaign_id") % 4) * 5
        )
    )
    o_bins = o_iv.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"o_start div {_Q99_BIN}"), F.expr(f"o_end div {_Q99_BIN}")
            )
        ).alias("bin"),
    )
    c_bins = camp.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"c_start div {_Q99_BIN}"), F.expr(f"c_end div {_Q99_BIN}")
            )
        ).alias("bin"),
    )
    pairs = (
        o_bins.join(c_bins, ["segment", "bin"])
        .filter((F.col("o_start") <= F.col("c_end")) & (F.col("c_start") <= F.col("o_end")))
        .select(
            "segment",
            "campaign_id",
            "c_start",
            "c_end",
            "o_orderkey",
            (
                F.least("o_end", "c_end") - F.greatest("o_start", "c_start") + 1
            ).alias("overlap_days"),
        )
        .distinct()  # an overlapping pair can share both spanned bins
    )
    return (
        pairs.groupBy("segment", "campaign_id", "c_start", "c_end")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("overlap_days").alias("total_overlap_days"),
            F.max("overlap_days").alias("max_overlap_days"),
        )
        .select(
            "segment",
            "campaign_id",
            F.col("c_start").alias("campaign_start_day"),
            F.col("c_end").alias("campaign_end_day"),
            "n_orders",
            "total_overlap_days",
            "max_overlap_days",
        )
        .orderBy("segment", "campaign_id")
    )


from .classify import sql_epoch_day, sql_md5_prefix_int as _sql_md5  # noqa: E402

Q99_SQL = rf"""
WITH o_iv AS (
  SELECT o_orderkey, c_mktsegment AS segment,
         {sql_epoch_day('o_orderdate')} AS o_start,
         {sql_epoch_day('o_orderdate')} + 1 + o_orderkey % 14 AS o_end
  FROM orders JOIN customer ON o_custkey = c_custkey
),
seg AS (SELECT DISTINCT c_mktsegment AS segment FROM customer),
segh AS (
  SELECT segment, {_sql_md5(2)} % 20 AS jitter
  FROM (SELECT segment, md5(segment) AS h FROM seg)
),
camp AS (
  SELECT segment, campaign_id,
         {_Q99_D0} + campaign_id * 30 + jitter AS c_start,
         {_Q99_D0} + campaign_id * 30 + jitter + 10 + (campaign_id % 4) * 5 AS c_end
  FROM (SELECT segment, jitter, UNNEST(range(0, 12)) AS campaign_id FROM segh)
),
pairs AS (
  SELECT o.segment, c.campaign_id, c.c_start, c.c_end, o.o_orderkey,
         least(o.o_end, c.c_end) - greatest(o.o_start, c.c_start) + 1 AS overlap_days
  FROM o_iv o JOIN camp c
    ON o.segment = c.segment AND o.o_start <= c.c_end AND c.c_start <= o.o_end
)
SELECT segment, CAST(campaign_id AS BIGINT) AS campaign_id,
       CAST(c_start AS BIGINT) AS campaign_start_day,
       CAST(c_end AS BIGINT) AS campaign_end_day,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(overlap_days) AS BIGINT) AS total_overlap_days,
       CAST(MAX(overlap_days) AS BIGINT) AS max_overlap_days
FROM pairs
GROUP BY segment, campaign_id, c_start, c_end
ORDER BY segment, campaign_id
"""

QUERIES["q99_interval_overlap_join"] = q99_interval_overlap_join
ORACLES["q99_interval_overlap_join"] = Q99_SQL


# ---------------------------------------------------------------------------
# Q111 — hierarchical ratio-to-parent rollup (region -> nation ->
# segment revenue shares).
#
# The OLAP presentation pattern the rollup/cube family (q6, q6b, q41)
# doesn't cover: each node's share OF ITS PARENT — nation within
# region, segment within nation — computed with window sums over the
# leaf aggregate, not with re-scans per level. Three levels ride ONE
# leaf aggregation: the leaf is (region, nation, segment), parents
# are window partitions over it.
#
# Shares are integer ppm over exact DECIMAL cents (the _det/q50
# discipline) — a share column that sums to ~1e6 per parent and can
# never drift with partitioning. At 100 TB: one FK-join scan, one
# 3-key hash agg (cardinality = |regions|x|nations|x|segments| — dim
# scale), window sums over that tiny frame.
# ---------------------------------------------------------------------------


def q111_ratio_to_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    leaf = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(12,4)")) * 100, 0)
            .cast("long")
            .alias("cents")
        )
    )
    w_nat = Window.partitionBy("region", "nation")
    w_reg = Window.partitionBy("region")
    w_all = Window.partitionBy(F.lit(1))
    return (
        leaf.withColumn("nation_cents", F.sum("cents").over(w_nat))
        .withColumn("region_cents", F.sum("cents").over(w_reg))
        .withColumn("total_cents", F.sum("cents").over(w_all))
        .select(
            "region",
            "nation",
            "segment",
            "cents",
            F.expr("CAST(CAST(cents AS DECIMAL(38,0)) * 1000000 div nation_cents AS BIGINT)").alias("share_of_nation_ppm"),
            F.expr("CAST(CAST(nation_cents AS DECIMAL(38,0)) * 1000000 div region_cents AS BIGINT)").alias(
                "nation_share_of_region_ppm"
            ),
            F.expr("CAST(CAST(region_cents AS DECIMAL(38,0)) * 1000000 div total_cents AS BIGINT)").alias(
                "region_share_ppm"
            ),
        )
        .orderBy("region", "nation", "segment")
    )


Q111_SQL = """
WITH leaf AS (
  SELECT r_name AS region, n_name AS nation, c_mktsegment AS segment,
         CAST(round(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100, 0) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2, 3
),
shares AS (
  SELECT *,
         SUM(cents) OVER (PARTITION BY region, nation) AS nation_cents,
         SUM(cents) OVER (PARTITION BY region) AS region_cents,
         SUM(cents) OVER () AS total_cents
  FROM leaf
)
SELECT region, nation, segment, cents,
       CAST(CAST(cents AS HUGEINT) * 1000000 // nation_cents AS BIGINT) AS share_of_nation_ppm,
       CAST(CAST(nation_cents AS HUGEINT) * 1000000 // region_cents AS BIGINT) AS nation_share_of_region_ppm,
       CAST(CAST(region_cents AS HUGEINT) * 1000000 // total_cents AS BIGINT) AS region_share_ppm
FROM shares
ORDER BY region, nation, segment
"""

QUERIES["q111_ratio_to_parent"] = q111_ratio_to_parent
ORACLES["q111_ratio_to_parent"] = Q111_SQL


# ---------------------------------------------------------------------------
# Q115 — 2-D skyline (Pareto frontier) via the sort + running-max
# rewrite.
#
# The classic multi-criteria operator (Börzsönyi et al., ICDE 2001:
# "The Skyline Operator"): per segment, the orders not DOMINATED on
# (cheaper price, more recent date) — i.e. the Pareto frontier of the
# cost/recency trade-off. The naive formulation is a quadratic
# NOT-EXISTS self-join; the 2-D scale shape is one sort: order by
# (price asc, date desc) and keep a row iff its date strictly exceeds
# the running max date over all preceding (= no cheaper-or-equal
# order is at least as recent). One window pass, distributed by
# segment; duplicates of a (price, date) coordinate keep exactly one
# deterministic representative (smallest orderkey).
#
# Both engines run the identical window formulation — the hash-match
# certifies frame semantics (rows unbounded preceding to 1 preceding,
# three-key total order) across engines; all values are integer
# cents/epoch-days.
# ---------------------------------------------------------------------------


def q115_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .classify import epoch_day

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    pts = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        "o_orderkey",
        F.round(F.col("o_totalprice").cast("decimal(12,4)") * 100, 0)
        .cast("long")
        .alias("price_cents"),
        epoch_day(F.col("o_orderdate")).alias("day"),
    )
    w = (
        Window.partitionBy("segment")
        .orderBy(F.asc("price_cents"), F.desc("day"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        pts.withColumn("best_day_before", F.max("day").over(w))
        .filter(
            F.col("best_day_before").isNull()
            | (F.col("day") > F.col("best_day_before"))
        )
    )
    w_rk = Window.partitionBy("segment").orderBy("price_cents", "o_orderkey")
    return (
        sky.withColumn("sky_rank", F.row_number().over(w_rk))
        .select(
            "segment",
            F.col("sky_rank").cast("long").alias("sky_rank"),
            "o_orderkey",
            "price_cents",
            F.col("day").cast("long").alias("day"),
        )
        .orderBy("segment", "sky_rank")
    )


Q115_SQL = f"""
WITH pts AS (
  SELECT c_mktsegment AS segment, o_orderkey,
         CAST(round(CAST(o_totalprice AS DECIMAL(12,4)) * 100, 0) AS BIGINT) AS price_cents,
         {sql_epoch_day('o_orderdate')} AS day
  FROM orders JOIN customer ON o_custkey = c_custkey
),
flagged AS (
  SELECT *,
         MAX(day) OVER (PARTITION BY segment
                        ORDER BY price_cents ASC, day DESC, o_orderkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_day_before
  FROM pts
),
sky AS (
  SELECT * FROM flagged
  WHERE best_day_before IS NULL OR day > best_day_before
)
SELECT segment,
       CAST(row_number() OVER (PARTITION BY segment ORDER BY price_cents, o_orderkey) AS BIGINT) AS sky_rank,
       o_orderkey,
       price_cents,
       CAST(day AS BIGINT) AS day
FROM sky
ORDER BY segment, sky_rank
"""

QUERIES["q115_skyline"] = q115_skyline
ORACLES["q115_skyline"] = Q115_SQL
