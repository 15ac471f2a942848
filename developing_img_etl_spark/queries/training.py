"""Q33-Q38 — training-pipeline + layout operators added in round 3b:

  q33  deterministic sequence packing   (operators/packing.py, M15)
  q34  PII detection + redaction        (functions/pii.py,     M16)
  q35  event funnel analysis            (A-family composition)
  q36  column profiling                 (stack/unpivot + agg)
  q37  SCD-1 MERGE upsert               (operators/merge.py,   S13)
  q38  Z-order layout clustering        (operators/zorder.py,  M17)
  q40  fixed-bound histogram            (binning half of q36's profile)
  q41  GROUPING SETS                    (completes the q6/q6b A4 trio)
  q42  vocabulary OOV coverage          (top-k vocab + broadcast semi)

Every oracle mirrors the Spark arithmetic bit-for-bit (see _det.py for
the decimal-sum rules; hash/bit arithmetic is pure BIGINT on both
sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import pii as PII
from ..operators.merge import merge_upsert
from ..operators.packing import pack_sequences
from ..operators.zorder import zvalue
from ..session import local_frame
from ._det import dec, dsum, sql_dsum

# ---------------------------------------------------------------------------
# Q33 — deterministic sequence packing (M15). Portable multiplicative
# hash through the operator's `bucket` override so DuckDB mirrors the
# arithmetic (same pattern as q26); the xxhash64 production path is
# pinned by pytest instead.
# ---------------------------------------------------------------------------
_K = 2654435761  # Knuth multiplicative constant
_SEED = 11
_BUCKETS = 1_000_000
_PACK_BUDGET = 4096
_PACK_GROUPS = 8


def q33_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id") * F.lit(_K) + F.lit(_SEED), F.lit(_BUCKETS))
    packed = pack_sequences(
        docs, "doc_id", "n_chars", _PACK_BUDGET, n_groups=_PACK_GROUPS, bucket=bucket
    )
    return (
        packed.groupBy("pack_group", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("pack_tokens"),
        )
        .orderBy("pack_group", "pack_id")
    )


Q33_SQL = f"""
WITH h AS (
  SELECT doc_id, n_chars,
         (doc_id * {_K} + {_SEED}) % {_BUCKETS} AS hb
  FROM documents
), g AS (
  SELECT CAST(hb % {_PACK_GROUPS} AS INT) AS pack_group, n_chars,
         COALESCE(SUM(n_chars) OVER (
             PARTITION BY hb % {_PACK_GROUPS} ORDER BY hb, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM h
)
SELECT pack_group,
       CAST(cum // {_PACK_BUDGET} AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS pack_tokens
FROM g
GROUP BY pack_group, pack_id
ORDER BY pack_group, pack_id
"""


# ---------------------------------------------------------------------------
# Q34 — PII redaction (M16). The synthetic corpus is PII-free, so the
# query plants deterministic contacts (a function of doc_id — email on
# 2/3 of docs, phone on 1/2, IP on 1/5) and then detects + redacts
# them; counts and post-redaction lengths hash-match the oracle, which
# runs the SAME regexes (dialect-portable: no escapes, ASCII classes).
# ---------------------------------------------------------------------------
def _planted_body() -> F.Column:
    d = F.col("doc_id")
    email = F.concat(
        F.lit(" user"),
        d.cast("string"),
        F.lit("@ex"),
        F.pmod(d, F.lit(10)).cast("string"),
        F.lit(".org"),
    )
    phone = F.concat(
        F.lit(" call 555-"),
        F.lpad(F.pmod(d, F.lit(1000)).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(F.pmod(d * 7, F.lit(10000)).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit(" from 10."),
        F.pmod(d, F.lit(256)).cast("string"),
        F.lit(".0."),
        F.pmod(d * 3, F.lit(256)).cast("string"),
    )
    return F.concat(
        F.col("text"),
        F.when(F.pmod(d, F.lit(3)) != 0, email).otherwise(F.lit("")),
        F.when(F.pmod(d, F.lit(2)) == 0, phone).otherwise(F.lit("")),
        F.when(F.pmod(d, F.lit(5)) == 0, ip).otherwise(F.lit("")),
    )


def q34_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn("body", _planted_body())
    return (
        docs.select(
            "source",
            PII.email_count(F.col("body")).alias("e"),
            PII.phone_count(F.col("body")).alias("p"),
            PII.ipv4_count(F.col("body")).alias("i"),
            F.length(PII.redact(F.col("body"))).alias("rlen"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("e").alias("n_emails"),
            F.sum("p").alias("n_phones"),
            F.sum("i").alias("n_ips"),
            F.sum("rlen").alias("redacted_chars"),
        )
        .orderBy("source")
    )


_Q34_BODY = (
    "text"
    " || CASE WHEN doc_id % 3 <> 0 THEN ' user' || CAST(doc_id AS VARCHAR)"
    " || '@ex' || CAST(doc_id % 10 AS VARCHAR) || '.org' ELSE '' END"
    " || CASE WHEN doc_id % 2 = 0 THEN ' call 555-'"
    " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' from 10.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.0.'"
    " || CAST((doc_id * 3) % 256 AS VARCHAR) ELSE '' END"
)

_Q34_REDACT = (
    "regexp_replace(regexp_replace(regexp_replace(body, '"
    + PII.EMAIL_RE
    + "', '<EMAIL>', 'g'), '"
    + PII.PHONE_RE
    + "', '<PHONE>', 'g'), '"
    + PII.IPV4_RE
    + "', '<IP>', 'g')"
)

Q34_SQL = (
    "WITH b AS (SELECT source, "
    + _Q34_BODY
    + " AS body FROM documents)\n"
    + "SELECT source, COUNT(*) AS n_docs,\n"
    + "  CAST(SUM(len(regexp_extract_all(body, '"
    + PII.EMAIL_RE
    + "'))) AS BIGINT) AS n_emails,\n"
    + "  CAST(SUM(len(regexp_extract_all(body, '"
    + PII.PHONE_RE
    + "'))) AS BIGINT) AS n_phones,\n"
    + "  CAST(SUM(len(regexp_extract_all(body, '"
    + PII.IPV4_RE
    + "'))) AS BIGINT) AS n_ips,\n"
    + "  CAST(SUM(length("
    + _Q34_REDACT
    + ")) AS BIGINT) AS redacted_chars\n"
    + "FROM b GROUP BY source ORDER BY source"
)


# ---------------------------------------------------------------------------
# Q35 — ordered event funnel: view → click (after the view) → purchase
# (after the click), per user, reported by first-view date. Three
# min-aggregations chained by time predicates — each stage is one
# shuffle on user_id, and all three share the same key so AQE/exchange
# reuse co-partitions them.
# ---------------------------------------------------------------------------
def q35_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .groupBy(F.to_date("t_view").alias("view_date"))
        .agg(
            F.count(F.lit(1)).alias("n_viewers"),
            F.count("t_click").alias("n_clicked"),
            F.count("t_purchase").alias("n_converted"),
            F.sum(F.unix_micros(F.col("t_purchase")) - F.unix_micros(F.col("t_view"))).alias(
                "total_convert_us"
            ),
        )
        .orderBy("view_date")
    )


Q35_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT CAST(v.t_view AS DATE) AS view_date,
       COUNT(*) AS n_viewers,
       COUNT(c.t_click) AS n_clicked,
       COUNT(p.t_purchase) AS n_converted,
       CAST(SUM(epoch_us(p.t_purchase) - epoch_us(v.t_view)) AS BIGINT) AS total_convert_us
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
GROUP BY view_date
ORDER BY view_date
"""


# ---------------------------------------------------------------------------
# Q36 — column profiling: per-column rows / nulls / exact NDV / min /
# max / decimal-exact sum. The shape a data-quality gate runs before
# training jobs.
#
# Scale shape (r6 rework — the old stack-then-groupBy form was 17x
# DuckDB at sf0.1): one INDEPENDENT single-column aggregate branch per
# profiled column, unioned. No row inflation before any aggregate, no
# string group key in any shuffle, and AQE materializes the three leaf
# stages CONCURRENTLY, so wall time is the most expensive column (the
# high-NDV one), not the sum of all three. Each branch is a plain
# two-phase agg whose only shuffled payload is the per-partition
# distinct value set — for low-cardinality columns essentially nothing.
#
# Determinism without decimal aggregation (the measured hot spot —
# decimal SUM inside the distinct-rewrite agg was ~2x the whole rest
# of the query): all three profiled columns are exact at 2 decimals,
# so the sum runs over long CENTS (exact, order-independent; the total
# stays far below 2^53) and divides by 100.0 once at the end — the
# same double sql_dsum's ROUND(SUM(DECIMAL), 2)::DOUBLE produces, so
# the existing oracle text is untouched. NDV/min/max over cents are
# injective images of NDV/min/max over the doubles.
# A/B at sf0.1 (fresh plans, warm JVM): stack-groupBy 1.88s -> wide
# multi-distinct 1.9s -> this shape 0.82s; DuckDB 0.11s.
# ---------------------------------------------------------------------------
_PROFILE_COLS = ("l_discount", "l_extendedprice", "l_quantity")


def q36_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    parts = []
    for c in _PROFILE_COLS:
        cents = F.expr(f"CAST(floor(CAST({c} AS DOUBLE) * 100.0 + 0.5) AS BIGINT)")
        parts.append(
            li.select(F.col(c).alias("raw"), cents.alias("v"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("raw").isNull().cast("long")).alias("n_null"),
                F.countDistinct("v").alias("n_distinct"),
                (F.min("v").cast("double") / 100.0).alias("min_v"),
                (F.max("v").cast("double") / 100.0).alias("max_v"),
                (F.sum("v").cast("double") / 100.0).alias("sum_v"),
            )
            .select(
                F.lit(c).alias("col_name"),
                "n_rows", "n_null", "n_distinct", "min_v", "max_v", "sum_v",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("col_name")


_Q36_UNION = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, CAST({c} AS DOUBLE) AS v FROM lineitem"
    for c in _PROFILE_COLS
)

Q36_SQL = f"""
WITH u AS (
{_Q36_UNION}
)
SELECT col_name,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       COUNT(DISTINCT v) AS n_distinct,
       MIN(v) AS min_v,
       MAX(v) AS max_v,
       {sql_dsum("CAST(v AS DECIMAL(12,4))")} AS sum_v
FROM u
GROUP BY col_name
ORDER BY col_name
"""


# ---------------------------------------------------------------------------
# Q37 — SCD-1 MERGE (S13): updates (heavy buyers get a new segment and
# +100 balance), inserts (synthetic onboarding rows), and tombstone
# deletes, through operators/merge.py, verified on the merged table's
# per-segment aggregate.
# ---------------------------------------------------------------------------
def q37_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    heavy = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 2)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    mods = (
        cust.join(heavy, "c_custkey", "left_semi")
        .filter(F.pmod(F.col("c_custkey"), F.lit(89)) != 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100.0))
        .withColumn("c_mktsegment", F.lit("HEAVY"))
        .withColumn("is_delete", F.lit(False))
    )
    ins = (
        cust.filter(F.pmod(F.col("c_custkey"), F.lit(97)) == 0)
        .withColumn("c_custkey", F.col("c_custkey") + F.lit(10_000_000))
        .withColumn("c_name", F.concat(F.lit("NEW_"), F.col("c_name")))
        .withColumn("c_acctbal", F.lit(0.0))
        .withColumn("c_mktsegment", F.lit("ONBOARD"))
        .withColumn("is_delete", F.lit(False))
    )
    tomb = cust.filter(F.pmod(F.col("c_custkey"), F.lit(89)) == 0).withColumn(
        "is_delete", F.lit(True)
    )
    updates = mods.unionByName(ins).unionByName(tomb)
    merged = merge_upsert(cust, updates, "c_custkey", delete_col="is_delete")
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


Q37_SQL = f"""
WITH heavy AS (
  SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) > 2
), mods AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
         'HEAVY' AS c_mktsegment
  FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM heavy) AND c_custkey % 89 <> 0
), ins AS (
  SELECT c_custkey + 10000000 AS c_custkey, 'NEW_' || c_name AS c_name,
         c_nationkey, 0.0 AS c_acctbal, 'ONBOARD' AS c_mktsegment
  FROM customer WHERE c_custkey % 97 = 0
), tomb AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 89 = 0
), upkeys AS (
  SELECT c_custkey FROM mods UNION ALL SELECT c_custkey FROM ins
  UNION ALL SELECT c_custkey FROM tomb
), merged AS (
  SELECT * FROM mods
  UNION ALL SELECT * FROM ins
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM upkeys)
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       {sql_dsum("CAST(c_acctbal AS DECIMAL(12,4))")} AS total_bal
FROM merged
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q38 — Z-order layout (M17): Morton code of (customer bucket, order
# day), aggregated per curve segment — exactly the per-file min/max
# ranges a Z-ordered write would produce, so the oracle doubles as a
# clustering-quality check. Pure shift/and/or chains on both sides.
# ---------------------------------------------------------------------------
_Z_EPOCH = "1995-01-01"


def _sql_spread16(e: str) -> str:
    x = f"(({e}) & 65535)"
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        x = f"((({x}) | (({x}) << {shift})) & {mask})"
    return x


def q38_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(4096))
    y = F.datediff(F.col("o_orderdate").cast("date"), F.lit(_Z_EPOCH).cast("date"))
    z = zvalue([x, y])
    return (
        o.withColumn("zval", z)
        .groupBy(F.shiftright(F.col("zval"), 16).alias("z_segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("zval").alias("z_min"),
            F.max("zval").alias("z_max"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("z_segment")
    )


_Z_X = _sql_spread16("o_custkey % 4096")
_Z_Y = _sql_spread16(f"date_diff('day', DATE '{_Z_EPOCH}', CAST(o_orderdate AS DATE))")

Q38_SQL = f"""
WITH z AS (
  SELECT o_totalprice,
         ({_Z_X}) | (({_Z_Y}) << 1) AS zval
  FROM orders
)
SELECT CAST(zval >> 16 AS BIGINT) AS z_segment,
       COUNT(*) AS n_orders,
       CAST(MIN(zval) AS BIGINT) AS z_min,
       CAST(MAX(zval) AS BIGINT) AS z_max,
       {sql_dsum("CAST(o_totalprice AS DECIMAL(12,4))")} AS total_price
FROM z
GROUP BY z_segment
ORDER BY z_segment
"""


QUERIES = {
    "q33_sequence_packing": q33_sequence_packing,
    "q34_pii_redaction": q34_pii_redaction,
    "q35_event_funnel": q35_event_funnel,
    "q36_column_profile": q36_column_profile,
    "q37_merge_upsert": q37_merge_upsert,
    "q38_zorder_layout": q38_zorder_layout,
}

ORACLES = {
    "q33_sequence_packing": Q33_SQL,
    "q34_pii_redaction": Q34_SQL,
    "q35_event_funnel": Q35_SQL,
    "q36_column_profile": Q36_SQL,
    "q37_merge_upsert": Q37_SQL,
    "q38_zorder_layout": Q38_SQL,
}


# ---------------------------------------------------------------------------
# Q40 — fixed-bound histogram (the binning half of profiling: q36 gives
# moments, this gives shape). Bucket index is pure integer arithmetic
# (floor-div with a top clamp), so it's one map-side expression + one
# hash agg — the cheapest possible distribution sketch at 100 TB, and
# the exact shape `width_bucket` compiles to.
# ---------------------------------------------------------------------------
_HIST_WIDTH = 5000
_HIST_BUCKETS = 12


def q40_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.floor(F.col("l_extendedprice") / F.lit(_HIST_WIDTH)),
        F.lit(_HIST_BUCKETS - 1),
    ).cast("int")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("bucket")
    )


Q40_SQL = f"""
SELECT CAST(LEAST(FLOOR(l_extendedprice / {_HIST_WIDTH}), {_HIST_BUCKETS - 1}) AS INT) AS bucket,
       COUNT(*) AS n_items,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       {sql_dsum("CAST(l_extendedprice AS DECIMAL(12,4))")} AS sum_price
FROM lineitem
GROUP BY bucket
ORDER BY bucket
"""

QUERIES["q40_price_histogram"] = q40_price_histogram
ORACLES["q40_price_histogram"] = Q40_SQL


# ---------------------------------------------------------------------------
# Q41 — GROUPING SETS via the native DataFrame API (completes the A4
# trio: q6 rollup, q6b cube, explicit sets here). The set list is NOT
# a rollup prefix chain — (flag), (status), () — the case only
# GROUPING SETS can express. Same Expand-based single-pass plan as
# rollup/cube: one scan, one shuffle, rows × |sets| before partial agg.
# ---------------------------------------------------------------------------
def q41_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
        )
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_extendedprice").alias("sum_price"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_price",
        )
        .orderBy("returnflag", "linestatus")
    )


Q41_SQL = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS n_items,
       {sql_dsum("CAST(l_extendedprice AS DECIMAL(12,4))")} AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY returnflag, linestatus
"""

QUERIES["q41_grouping_sets"] = q41_grouping_sets
ORACLES["q41_grouping_sets"] = Q41_SQL


# ---------------------------------------------------------------------------
# Q42 — vocabulary coverage / OOV rate: build a deterministic top-100
# token vocabulary (count desc, token asc — total order, so ties can't
# flip membership), then measure per-language out-of-vocabulary token
# mass and the share of docs that are majority-OOV. The tokenizer is
# the shared functions/text.py whitespace contract. Scale shape: one
# explode + two hash aggs + a 100-row broadcast semi-join; the final
# OOV ratio is ONE double division of exact BIGINTs, so it compares
# bit-for-bit.
# ---------------------------------------------------------------------------
_VOCAB_K = 100


def q42_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions import text as TXT

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(TXT.tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    vocab = counts.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _VOCAB_K
    ).select("tok")
    flagged = toks.join(F.broadcast(vocab), "tok", "left_semi").groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).alias("in_vocab"))
    per_doc = (
        toks.groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_tok"))
        .join(flagged, "doc_id", "left")
        .select(
            "lang",
            "n_tok",
            F.coalesce("in_vocab", F.lit(0)).alias("in_vocab"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum(F.col("n_tok") - F.col("in_vocab")).alias("oov_tokens"),
            F.sum(
                ((F.col("n_tok") - F.col("in_vocab")) * 2 > F.col("n_tok")).cast("long")
            ).alias("majority_oov_docs"),
        )
        .withColumn(
            "oov_rate",
            F.col("oov_tokens").cast("double") / F.col("total_tokens"),
        )
        .orderBy("lang")
    )


Q42_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang, t.tok
  FROM documents, UNNEST(string_split_regex(lower(text), '\s+')) AS t(tok)
  WHERE t.tok <> ''
), vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    ORDER BY n DESC, tok ASC LIMIT {_VOCAB_K}
  )
), per_doc AS (
  SELECT doc_id, lang,
         COUNT(*) AS n_tok,
         SUM(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END) AS in_vocab
  FROM toks
  GROUP BY doc_id, lang
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tok - in_vocab) AS BIGINT) AS oov_tokens,
       CAST(SUM(CASE WHEN (n_tok - in_vocab) * 2 > n_tok THEN 1 ELSE 0 END) AS BIGINT)
         AS majority_oov_docs,
       CAST(CAST(SUM(n_tok - in_vocab) AS BIGINT) AS DOUBLE)
         / CAST(SUM(n_tok) AS BIGINT) AS oov_rate
FROM per_doc
GROUP BY lang
ORDER BY lang
"""

QUERIES["q42_oov_rate"] = q42_oov_rate
ORACLES["q42_oov_rate"] = Q42_SQL


# ---------------------------------------------------------------------------
# Q43 — VariantType JSON (F14's modern engine, Spark 4): props parsed
# ONCE into a Variant (binary semi-structured form) and field-extracted
# with variant_get — the shredded/columnar path that replaces per-
# access string re-parsing (q12b's get_json_object re-reads the string
# per field). At 100 TB the parse happens once per row regardless of
# how many fields are read downstream.
# ---------------------------------------------------------------------------
def q43_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        ev.select(k.alias("k_val"), "event_type", "value")
        .groupBy(F.pmod(F.col("k_val"), F.lit(10)).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.min("k_val").alias("k_min"),
            F.max("k_val").alias("k_max"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("k_bucket")
    )


Q43_SQL = f"""
SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
       {sql_dsum("CAST(value AS DECIMAL(12,4))")} AS sum_value
FROM events
GROUP BY k_bucket
ORDER BY k_bucket
"""

QUERIES["q43_variant_json"] = q43_variant_json
ORACLES["q43_variant_json"] = Q43_SQL


# ---------------------------------------------------------------------------
# Q44 — document chunking (M18): fixed-size overlapping context windows
# (size 64, overlap 16 → a new chunk every 48 chars), the split every
# training pipeline runs before tokenization. One F.sequence explode +
# substring — all codegen; chunk identity is pinned cross-engine by
# MD5 of the chunk text (bit-identical in Spark and DuckDB), so the
# oracle verifies CONTENT, not just counts.
# ---------------------------------------------------------------------------
_CHUNK_SIZE = 64
_CHUNK_OVERLAP = 16
_CHUNK_STEP = _CHUNK_SIZE - _CHUNK_OVERLAP


def q44_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import chunk_starts

    docs = load(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id",
        "text",
        F.explode(chunk_starts(F.col("n_chars"), _CHUNK_SIZE, _CHUNK_OVERLAP)).alias(
            "start"
        ),
    )
    chunk = F.substring(F.col("text"), F.col("start").cast("int") + 1, _CHUNK_SIZE)
    return exploded.select(
        "doc_id",
        F.expr(f"start DIV {_CHUNK_STEP}").alias("chunk_idx"),
        F.length(chunk).alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


Q44_SQL = f"""
WITH s AS (
  SELECT doc_id, text,
         unnest(generate_series(0, GREATEST(0, CAST(n_chars AS BIGINT) - 1),
                                {_CHUNK_STEP})) AS start
  FROM documents
  WHERE n_chars > 0  -- empty docs yield no chunks (mirrors chunk_starts)
)
SELECT doc_id,
       start // {_CHUNK_STEP} AS chunk_idx,
       CAST(length(substring(text, CAST(start AS INT) + 1, {_CHUNK_SIZE})) AS INT)
         AS chunk_len,
       md5(substring(text, CAST(start AS INT) + 1, {_CHUNK_SIZE})) AS chunk_md5
FROM s
ORDER BY doc_id, chunk_idx
"""

QUERIES["q44_document_chunks"] = q44_document_chunks
ORACLES["q44_document_chunks"] = Q44_SQL


# ---------------------------------------------------------------------------
# Q45 — TF-IDF top terms per document. The idf is kept RATIONAL
# (score = tf * 1e6 * N DIV df — same ranking as tf * N/df, which is
# monotone in tf * ln(N/df)-style weights for fixed tf) so the score
# is exact integer arithmetic: a float ln() can drift 1 ulp between
# engines and flip a rank tie, an integer ratio cannot. Top-3 terms
# per doc, ties broken by term — total order, hash-stable.
# Scale shape: explode + two hash aggs + one join on term + per-doc
# window; the N scalar rides in via a 1-row broadcast cross join, so
# the plan stays fully lazy (no driver-side count at build time).
# ---------------------------------------------------------------------------
_TFIDF_K = 3


def q45_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions import text as TXT

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TXT.tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    # pin: tf feeds both the scored probe and the df aggregate — without
    # it the explode + (doc_id, tok) groupBy subtree runs twice
    tf = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.expr("tf * 1000000 * n_docs DIV df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _TFIDF_K)
        .select("doc_id", "rk", "tok", "tf", "df", "score")
        .orderBy("doc_id", "rk")
    )


Q45_SQL = rf"""
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, UNNEST(string_split_regex(lower(text), '\s+')) AS t(tok)
  WHERE t.tok <> ''
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
), df AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         (tf.tf * 1000000 * n.n_docs) // df.df AS score
  FROM tf JOIN df USING (tok) CROSS JOIN n
), ranked AS (
  SELECT doc_id, tok, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rk
  FROM scored
)
SELECT doc_id, rk, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score AS BIGINT) AS score
FROM ranked
WHERE rk <= {_TFIDF_K}
ORDER BY doc_id, rk
"""

QUERIES["q45_tfidf_topterms"] = q45_tfidf_topterms
ORACLES["q45_tfidf_topterms"] = Q45_SQL


# ---------------------------------------------------------------------------
# Q46 — referential-integrity audit: orphan counts for every FK edge of
# the star schema in ONE result — the data-quality gate a pipeline runs
# before joining 100 TB of facts against dims (a silently-broken FK
# turns inner joins into row loss). Each edge is a left-anti count;
# all are tiny aggregates unioned into one frame.
# ---------------------------------------------------------------------------
def q46_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")

    def orphans(name, child, fk, parent, pk):
        n = (
            child.join(parent.select(F.col(pk).alias(fk)), fk, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .withColumn("fk_edge", F.lit(name))
        )
        total = child.agg(F.count(F.lit(1)).alias("n_rows")).withColumn(
            "fk_edge", F.lit(name)
        )
        return n.join(total, "fk_edge").select("fk_edge", "n_rows", "n_orphans")

    edges = [
        orphans("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        orphans("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
        orphans("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"),
        orphans("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"),
        orphans("customer.c_nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out.orderBy("fk_edge")


Q46_SQL = """
SELECT 'customer.c_nationkey->nation' AS fk_edge,
       (SELECT COUNT(*) FROM customer) AS n_rows,
       (SELECT COUNT(*) FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS n_orphans
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
UNION ALL
SELECT 'lineitem.l_partkey->part',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
ORDER BY fk_edge
"""

QUERIES["q46_fk_integrity"] = q46_fk_integrity
ORACLES["q46_fk_integrity"] = Q46_SQL


# ---------------------------------------------------------------------------
# Q47 — join-key skew profiler: the diagnosis of which keys AQE's
# skew-join splitter (on in every session) will have to split. For a join
# key, report the heaviest keys and what share of all rows the top-10
# carry — share as integer parts-per-million (exact division of exact
# counts, cross-engine stable).
# ---------------------------------------------------------------------------
def q47_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = li.agg(F.count(F.lit(1)).alias("total"))
    w = Window.orderBy(F.desc("n"), F.asc("key"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .crossJoin(F.broadcast(total))
        .select(
            "rk",
            "key",
            "n",
            F.expr("n * 1000000 DIV total").alias("share_ppm"),
        )
        .orderBy("rk")
    )


Q47_SQL = """
WITH counts AS (
  SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
), t AS (
  SELECT COUNT(*) AS total FROM lineitem
), ranked AS (
  SELECT key, n, ROW_NUMBER() OVER (ORDER BY n DESC, key ASC) AS rk FROM counts
)
SELECT rk, key, CAST(n AS BIGINT) AS n,
       CAST((n * 1000000) // t.total AS BIGINT) AS share_ppm
FROM ranked CROSS JOIN t
WHERE rk <= 10
ORDER BY rk
"""

QUERIES["q47_skew_profile"] = q47_skew_profile
ORACLES["q47_skew_profile"] = Q47_SQL


# ---------------------------------------------------------------------------
# Q49 — JSONL ingestion round-trip (gives S11 an oracle-checked query):
# the documents table is staged as JSON-lines (once per process+SF,
# Spark-written so escaping is canonical) with three malformed lines
# injected, read back through sources/jsonl.py's PERMISSIVE
# corrupt-capture, and the GOOD rows aggregated. The oracle aggregates
# the parquet table directly — so a hash match proves the write→read
# round trip is lossless AND that corruption capture quarantined
# exactly the bad lines (a leaked corrupt row would show up as an
# all-NULL row and flip n_docs/null counts). The corrupt-side count is
# asserted in-query via a crossJoin'd scalar so the oracle sees it too.
# ---------------------------------------------------------------------------
def _ingest_roundtrip_agg(good: DataFrame, bad: DataFrame) -> DataFrame:
    """Shared q49/q91 round-trip verification shape: per-source
    aggregate of the GOOD rows + the quarantined count as the audited
    1-row broadcast scalar."""
    n_bad = bad.agg(F.count(F.lit(1)).alias("n_corrupt"))
    return (
        good.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_text_len"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .crossJoin(F.broadcast(n_bad))
        .orderBy("source")
    )


def _ingest_roundtrip_sql(n_corrupt: int) -> str:
    """The one DuckDB mirror of _ingest_roundtrip_agg."""
    return f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_text_len,
       COUNT(DISTINCT lang) AS n_langs,
       CAST({n_corrupt} AS BIGINT) AS n_corrupt
FROM documents
GROUP BY source
ORDER BY source
"""


_JSONL_STAGE_CACHE: dict[str, str] = {}
_JSONL_N_CORRUPT = 3


def _staged_jsonl_dir(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _JSONL_STAGE_CACHE:
        import os
        import tempfile

        d = tempfile.mkdtemp(prefix="jsonl_docs_")
        docs = load(spark, sf_dir, "documents")
        docs.coalesce(1).write.mode("overwrite").json(d)
        with open(os.path.join(d, "zz-corrupt.json"), "w") as fh:
            fh.write('{"doc_id": broken\n{not json at all\n{"text": "unterminated\n')
        _JSONL_STAGE_CACHE[sf_dir] = d
    return _JSONL_STAGE_CACHE[sf_dir]


def q49_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import TABLES
    from ..sources.jsonl import read_jsonl, split_corrupt

    path = _staged_jsonl_dir(spark, sf_dir)
    good, bad = split_corrupt(read_jsonl(spark, path, TABLES["documents"]))
    return _ingest_roundtrip_agg(good, bad)


Q49_SQL = _ingest_roundtrip_sql(_JSONL_N_CORRUPT)

QUERIES["q49_jsonl_roundtrip"] = q49_jsonl_roundtrip
ORACLES["q49_jsonl_roundtrip"] = Q49_SQL


# ---------------------------------------------------------------------------
# Q50 — weighted sampling (M13 extension): per-row keep probability
# proportional to document length (floor-exact arithmetic: floor() on
# BOTH sides because DuckDB's double→BIGINT cast rounds where Spark's
# truncates). The quality-weighted-mixing primitive: longer/better
# docs survive at higher rates, still deterministic by key.
# ---------------------------------------------------------------------------
def q50_weighted_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_sample

    docs = load(spark, sf_dir, "documents").withColumn(
        "w", F.col("n_chars") / F.lit(400.0)
    )
    bucket = F.pmod(F.col("doc_id") * F.lit(_K) + F.lit(_SEED), F.lit(_BUCKETS))
    kept = weighted_sample(docs, "doc_id", "w", bucket=bucket)
    n_kept = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(n_kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
        )
        .orderBy("source")
    )


Q50_SQL = f"""
WITH w AS (
  SELECT source, n_chars,
         (doc_id * {_K} + {_SEED}) % {_BUCKETS} AS b,
         CAST(FLOOR(LEAST(GREATEST(n_chars / 400.0, 0.0), 1.0) * {_BUCKETS}) AS BIGINT)
           AS thresh
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN b < thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN b < thresh THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM w
GROUP BY source
ORDER BY source
"""

QUERIES["q50_weighted_sampling"] = q50_weighted_sampling
ORACLES["q50_weighted_sampling"] = Q50_SQL


# ---------------------------------------------------------------------------
# Q51 — snapshot diff (operators/diff.py): documents vs a derived
# second snapshot (every 7th doc re-chunked to a new length, every
# 13th deleted, shifted-key inserts) classified added/removed/changed/
# unchanged in one full-outer join with null-safe column comparison —
# the post-backfill audit. Counts per (source, status) hash-match the
# oracle's IS NOT DISTINCT FROM mirror.
# ---------------------------------------------------------------------------
def q51_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.diff import table_diff

    docs = load(spark, sf_dir, "documents")
    mutated = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(13)) != 0)
        .withColumn(
            "n_chars",
            F.when(
                F.pmod(F.col("doc_id"), F.lit(7)) == 0, F.col("n_chars") + 5
            ).otherwise(F.col("n_chars")),
        )
        .unionByName(
            docs.filter(F.pmod(F.col("doc_id"), F.lit(11)) == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(1_000_000)
            )
        )
    )
    source_of = docs.select("doc_id", "source").unionByName(
        mutated.select("doc_id", "source")
    ).distinct()
    diff = table_diff(docs, mutated, "doc_id", compare_cols=["n_chars", "text"])
    return (
        diff.join(source_of, "doc_id")
        .groupBy("source", "diff_status")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("source", "diff_status")
    )


Q51_SQL = """
WITH mutated AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN n_chars + 5 ELSE n_chars END AS n_chars,
         text, source
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000, n_chars, text, source
  FROM documents WHERE doc_id % 11 = 0
), diff AS (
  SELECT COALESCE(o.doc_id, m.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN m.doc_id IS NULL THEN 'removed'
              WHEN (o.n_chars IS NOT DISTINCT FROM m.n_chars)
               AND (o.text IS NOT DISTINCT FROM m.text) THEN 'unchanged'
              ELSE 'changed' END AS diff_status
  FROM documents o FULL OUTER JOIN mutated m ON o.doc_id = m.doc_id
), source_of AS (
  SELECT DISTINCT doc_id, source FROM (
    SELECT doc_id, source FROM documents
    UNION ALL SELECT doc_id, source FROM mutated)
)
SELECT s.source, d.diff_status, COUNT(*) AS n_keys
FROM diff d JOIN source_of s USING (doc_id)
GROUP BY s.source, d.diff_status
ORDER BY s.source, d.diff_status
"""

QUERIES["q51_snapshot_diff"] = q51_snapshot_diff
ORACLES["q51_snapshot_diff"] = Q51_SQL


# ---------------------------------------------------------------------------
# Q52 — calendar gap-fill (time-series resample): a complete daily
# spine from the table's own min/max dates (lazy 1-row scalar, same
# broadcast-cross shape as q45) exploded from F.sequence, left-joined
# to the daily aggregate, empties zero-filled — the densify step every
# time-series model needs before windowing, where a naive groupBy
# silently drops empty days. Spine length = date span, not row count.
# ---------------------------------------------------------------------------
def q52_calendar_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderdate").cast("date").alias("d"), "o_totalprice"
    )
    bounds = urgent.agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(dmin, dmax, interval 1 day)")).alias("day")
    )
    daily = urgent.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("rev"),
    )
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n", F.lit(0)).alias("n_orders"),
            F.coalesce("rev", F.lit(0.0)).alias("revenue"),
        )
        .orderBy("day")
    )


Q52_SQL = f"""
WITH urgent AS (
  SELECT CAST(o_orderdate AS DATE) AS d, o_totalprice
  FROM orders WHERE o_orderpriority = '1-URGENT'
), bounds AS (
  SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM urgent
), spine AS (
  SELECT unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))::DATE AS day FROM bounds
), daily AS (
  SELECT d AS day, COUNT(*) AS n,
         {sql_dsum("CAST(o_totalprice AS DECIMAL(12,4))")} AS rev
  FROM urgent GROUP BY d
)
SELECT s.day,
       CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_orders,
       COALESCE(daily.rev, 0.0) AS revenue
FROM spine s LEFT JOIN daily USING (day)
ORDER BY s.day
"""

QUERIES["q52_calendar_gapfill"] = q52_calendar_gapfill
ORACLES["q52_calendar_gapfill"] = Q52_SQL


# ---------------------------------------------------------------------------
# Q55 — transactional time travel (TxLogFormat, sinks/txlog.py): write
# the customer table as commit v0, overwrite with a deterministic
# segment migration as commit v1 (snapshot-isolated — readers of v0
# never saw a gap), then read BOTH versions back via time travel and
# reconcile per-segment counts. The oracle recomputes both snapshots
# from the raw table, so a wrong byte in either version's live file
# set hash-mismatches. The physical table is built once per (process,
# sf_dir) in a temp dir; the declared query itself is read-only over
# the transaction log.
# ---------------------------------------------------------------------------
_TXDEMO_CACHE: dict[str, str] = {}


def _txdemo_table(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _TXDEMO_CACHE:
        import tempfile

        from ..sinks.txlog import TxLogFormat

        fmt = TxLogFormat()
        path = tempfile.mkdtemp(prefix="txdemo_") + "/customer"
        cust = load(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        fmt.append(cust, path)  # v0: the raw snapshot
        migrated = cust.withColumn(
            "c_mktsegment",
            F.when(F.col("c_acctbal") > 5000, F.lit("PREMIUM")).otherwise(
                F.col("c_mktsegment")
            ),
        )
        fmt.overwrite(migrated, path)  # v1: one atomic snapshot swap
        _TXDEMO_CACHE[sf_dir] = path
    return _TXDEMO_CACHE[sf_dir]


def q55_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.txlog import TxLogFormat

    fmt = TxLogFormat()
    path = _txdemo_table(spark, sf_dir)
    v0 = (
        fmt.read(spark, path, version=0)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("v0_customers"), dsum("c_acctbal").alias("v0_bal"))
    )
    v1 = (
        fmt.read(spark, path)  # latest
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("v1_customers"))
    )
    return (
        v0.join(v1, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            F.coalesce("v0_customers", F.lit(0)).alias("v0_customers"),
            F.coalesce("v1_customers", F.lit(0)).alias("v1_customers"),
            (
                F.coalesce("v1_customers", F.lit(0)) - F.coalesce("v0_customers", F.lit(0))
            ).alias("delta_customers"),
            F.coalesce("v0_bal", F.lit(0.0)).alias("v0_bal"),
        )
        .orderBy("c_mktsegment")
    )


Q55_SQL = f"""
WITH v0 AS (
  SELECT c_mktsegment,
         COUNT(*) AS v0_customers,
         {sql_dsum("CAST(c_acctbal AS DECIMAL(12,4))")} AS v0_bal
  FROM customer
  GROUP BY c_mktsegment
), v1 AS (
  SELECT CASE WHEN c_acctbal > 5000 THEN 'PREMIUM' ELSE c_mktsegment END AS c_mktsegment,
         COUNT(*) AS v1_customers
  FROM customer
  GROUP BY 1
)
SELECT COALESCE(v0.c_mktsegment, v1.c_mktsegment) AS c_mktsegment,
       COALESCE(v0_customers, 0) AS v0_customers,
       COALESCE(v1_customers, 0) AS v1_customers,
       COALESCE(v1_customers, 0) - COALESCE(v0_customers, 0) AS delta_customers,
       COALESCE(v0_bal, 0.0) AS v0_bal
FROM v0 FULL OUTER JOIN v1 ON v0.c_mktsegment = v1.c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES["q55_time_travel_diff"] = q55_time_travel_diff
ORACLES["q55_time_travel_diff"] = Q55_SQL


# ---------------------------------------------------------------------------
# Q59 — native MERGE INTO on the transactional format with FILE-LEVEL
# PRUNING (TxLogFormat.merge_into, sinks/txlog.py): the customer table
# is laid out range-partitioned on c_custkey (8 files whose min/max
# key stats land in the commit log), then a small update set — win-back
# segment flips for low-key customers with an URGENT order, tombstone
# deletes for low-key negative-balance customers without one — merges
# in ONE atomic commit that rewrites only the files whose logged key
# range intersects the update keys; every other file survives
# byte-identical (pruning asserted in tests/test_txlog.py). The oracle
# recomputes the post-merge state from the raw tables, so a lost
# update, a surviving tombstone, or a row dropped from an untouched
# file all hash-mismatch. Table built once per (process, sf_dir); the
# declared query reads the committed snapshot.
# ---------------------------------------------------------------------------
_TXMERGE_CACHE: dict[str, str] = {}


def _txmerge_table(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _TXMERGE_CACHE:
        import tempfile

        from ..sinks.txlog import TxLogFormat

        fmt = TxLogFormat()
        path = tempfile.mkdtemp(prefix="txmerge_") + "/customer"
        cust = load(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        fmt.append(cust.repartitionByRange(8, "c_custkey"), path)

        urgent = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select(F.col("o_custkey").alias("c_custkey"))
            .distinct()
        )
        band = cust.filter(F.col("c_custkey") <= 150)
        upserts = (
            band.join(urgent, "c_custkey", "left_semi")
            .withColumn("c_mktsegment", F.lit("WON_BACK"))
            .withColumn("is_deleted", F.lit(False))
        )
        tombstones = (
            band.filter(F.col("c_acctbal") < 0)
            .join(urgent, "c_custkey", "left_anti")
            .withColumn("is_deleted", F.lit(True))
        )
        fmt.merge_into(
            spark,
            path,
            upserts.unionByName(tombstones),
            "c_custkey",
            delete_col="is_deleted",
        )
        _TXMERGE_CACHE[sf_dir] = path
    return _TXMERGE_CACHE[sf_dir]


def q59_merge_into_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.txlog import TxLogFormat

    fmt = TxLogFormat()
    path = _txmerge_table(spark, sf_dir)
    return (
        fmt.read(spark, path)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


Q59_SQL = f"""
WITH urgent AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
merged AS (
  SELECT c_custkey,
         CASE WHEN c_custkey <= 150 AND c_custkey IN (SELECT o_custkey FROM urgent)
              THEN 'WON_BACK' ELSE c_mktsegment END AS c_mktsegment,
         c_acctbal
  FROM customer
  WHERE NOT (c_custkey <= 150 AND c_acctbal < 0
             AND c_custkey NOT IN (SELECT o_custkey FROM urgent))
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       {sql_dsum("CAST(c_acctbal AS DECIMAL(12,4))")} AS total_bal
FROM merged
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES["q59_merge_into_pruned"] = q59_merge_into_pruned
ORACLES["q59_merge_into_pruned"] = Q59_SQL


# ---------------------------------------------------------------------------
# Q60 — incremental materialized-view maintenance (operators/ivm.py):
# a grouped COUNT/SUM view over pre-1997 orders is refreshed with a
# SIGNED delta — 1997+ orders as inserts, a deterministic slice of old
# finished orders as retractions — by aggregating the DELTA ONLY and
# merging partials (refresh cost ∝ |delta| + |groups|, never the base).
# The view stores exact DECIMAL partial sums (a stored rounded double
# cannot be additively maintained); rounding happens once at
# presentation. The oracle recomputes the final state from the full
# orders table, so a wrong partial, a lost retraction, or premature
# rounding all hash-mismatch.
# ---------------------------------------------------------------------------
_IVM_CUT = "1997-01-01"


def q60_incremental_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivm import build_view, delta_aggregate, incremental_refresh

    orders = load(spark, sf_dir, "orders")
    cut = F.lit(_IVM_CUT).cast("date")
    base = orders.filter(F.col("o_orderdate") < cut)
    view = build_view(base, ["o_orderpriority"], ["o_totalprice"])

    inserts = orders.filter(F.col("o_orderdate") >= cut).withColumn("s", F.lit(1))
    retractions = base.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 97 == 0)
    ).withColumn("s", F.lit(-1))
    dagg = delta_aggregate(
        inserts.unionByName(retractions),
        ["o_orderpriority"],
        ["o_totalprice"],
        sign_col="s",
    )
    refreshed = incremental_refresh(view, dagg, ["o_orderpriority"], ["o_totalprice"])
    return refreshed.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n_orders"),
        F.round(F.col("o_totalprice"), 2).cast("double").alias("total_price"),
    ).orderBy("o_orderpriority")


Q60_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum("CAST(o_totalprice AS DECIMAL(12,4))")} AS total_price
FROM orders
WHERE NOT (o_orderdate < DATE '{_IVM_CUT}'
           AND o_orderstatus = 'F' AND o_orderkey % 97 = 0)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

QUERIES["q60_incremental_view_refresh"] = q60_incremental_view_refresh
ORACLES["q60_incremental_view_refresh"] = Q60_SQL


# ---------------------------------------------------------------------------
# Q61 — Bloom-filter semi-join reduction (operators/bloom.py): build a
# 256-bit / 2-hash Bloom bitmap over the suppliers of one nation (one
# hash agg, bit_or-packed words, no driver collect), probe every
# lineitem row map-side (broadcast word frame + codegen bit tests —
# the fact table never shuffles), and score the filter per suppkey
# residue class: rows kept by the Bloom vs rows that truly match
# (exact broadcast semi-join), false positives = kept - true. The hash
# family is bounded modular arithmetic, so the DuckDB oracle rebuilds
# the identical bitmap: one wrong bit anywhere flips a count and
# hash-mismatches. (Spark's runtime bloomFilter join does this
# implicitly inside one query; the operator is the explicit, portable,
# cross-stage form.)
# ---------------------------------------------------------------------------
_BLOOM_NATION = 3
_BLOOM_M = 256
_BLOOM_K = 2


def q61_bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_build, bloom_might_contain

    supp = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == _BLOOM_NATION)
        .select("s_suppkey")
    )
    words = bloom_build(supp, "s_suppkey", m_bits=_BLOOM_M, k_hashes=_BLOOM_K)
    li = load(spark, sf_dir, "lineitem").select("l_suppkey")
    probed = bloom_might_contain(
        li, "l_suppkey", words, m_bits=_BLOOM_M, k_hashes=_BLOOM_K
    )
    flagged = probed.join(
        F.broadcast(supp.withColumn("is_true", F.lit(True))),
        probed.l_suppkey == supp.s_suppkey,
        "left",
    ).select(
        (F.col("l_suppkey") % 8).alias("residue"),
        F.col("bloom_pass").cast("long").alias("p"),
        F.coalesce("is_true", F.lit(False)).cast("long").alias("t"),
    )
    return (
        flagged.groupBy("residue")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("p").alias("n_bloom_pass"),
            F.sum("t").alias("n_true_match"),
            F.sum(F.col("p") * (1 - F.col("t"))).alias("n_false_pos"),
        )
        .orderBy("residue")
    )


Q61_SQL = f"""
WITH dimpos AS (
  SELECT DISTINCT
         (((s_suppkey % 2147483647) * 1103515245 + 12345) % 2147483647
          + i * (((s_suppkey % 2147483647) * 69069 + 362437) % 2147483647))
         % 2147483647 % {_BLOOM_M} AS pos
  FROM (SELECT s_suppkey, UNNEST([0, 1]) AS i
        FROM supplier WHERE s_nationkey = {_BLOOM_NATION})
),
probe AS (
  SELECT l_suppkey,
         (SELECT COUNT(*) FROM dimpos WHERE pos =
            (((l_suppkey % 2147483647) * 1103515245 + 12345) % 2147483647)
            % 2147483647 % {_BLOOM_M}) > 0
         AND
         (SELECT COUNT(*) FROM dimpos WHERE pos =
            (((l_suppkey % 2147483647) * 1103515245 + 12345) % 2147483647
             + ((l_suppkey % 2147483647) * 69069 + 362437) % 2147483647)
            % 2147483647 % {_BLOOM_M}) > 0 AS bloom_pass,
         l_suppkey IN (SELECT s_suppkey FROM supplier
                       WHERE s_nationkey = {_BLOOM_NATION}) AS is_true
  FROM lineitem
)
SELECT l_suppkey % 8 AS residue,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos
FROM probe
GROUP BY residue
ORDER BY residue
"""

QUERIES["q61_bloom_semijoin_reduction"] = q61_bloom_semijoin_reduction
ORACLES["q61_bloom_semijoin_reduction"] = Q61_SQL


# ---------------------------------------------------------------------------
# Q64 — k-anonymity risk profile (training-data governance, Sweeney
# 2002: a released/trained-on table is k-anonymous iff every quasi-
# identifier combination covers >= k rows; smaller groups re-identify
# individuals). Quasi-identifier here: (c_mktsegment, c_nationkey).
# One hash agg builds the group-size table, a second rolls up the risk
# report per segment: groups, under-k groups, rows that would need
# suppression/generalization, and the smallest group. Both stages are
# partial-agg friendly; at 100 TB this is two scans' worth of shuffle
# on the QI key — the shape of every privacy audit over a corpus.
# ---------------------------------------------------------------------------
_KANON_K = 10


def q64_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    groups = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("gsize")
    )
    return (
        groups.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("gsize") < _KANON_K).cast("long")).alias("n_under_k"),
            F.sum(
                F.when(F.col("gsize") < _KANON_K, F.col("gsize")).otherwise(0)
            ).alias("rows_at_risk"),
            F.min("gsize").alias("min_group"),
            F.sum("gsize").alias("n_rows"),
        )
        .orderBy("c_mktsegment")
    )


Q64_SQL = f"""
WITH groups AS (
  SELECT c_mktsegment, c_nationkey, COUNT(*) AS gsize
  FROM customer
  GROUP BY c_mktsegment, c_nationkey
)
SELECT c_mktsegment,
       COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN gsize < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_under_k,
       CAST(SUM(CASE WHEN gsize < {_KANON_K} THEN gsize ELSE 0 END) AS BIGINT) AS rows_at_risk,
       CAST(MIN(gsize) AS BIGINT) AS min_group,
       CAST(SUM(gsize) AS BIGINT) AS n_rows
FROM groups
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES["q64_k_anonymity"] = q64_k_anonymity
ORACLES["q64_k_anonymity"] = Q64_SQL


# ---------------------------------------------------------------------------
# Q66 — change data feed from time travel (the CDC read pattern on the
# transactional format): diff two committed snapshots of the SAME
# txlog table (q55's cached v0→v1 segment migration) into per-row
# change classes via one full-outer join on the key, then roll up
# counts + balance mass per class. The oracle recomputes the class of
# every row from the raw table, so a stale file in either snapshot, a
# lost update, or a phantom insert/delete all hash-mismatch. At scale
# this is ONE sort-merge join keyed on the PK — the standard
# downstream-sync read Delta exposes as table_changes().
# ---------------------------------------------------------------------------
def q66_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.txlog import TxLogFormat

    fmt = TxLogFormat()
    path = _txdemo_table(spark, sf_dir)
    v0 = fmt.read(spark, path, version=0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg0"),
        F.col("c_acctbal").alias("bal0"),
    )
    v1 = fmt.read(spark, path).select(
        "c_custkey", F.col("c_mktsegment").alias("seg1"), "c_acctbal"
    )
    j = v0.join(v1, "c_custkey", "full_outer")
    change = (
        F.when(F.col("seg0").isNull(), "insert")
        .when(F.col("seg1").isNull(), "delete")
        .when(F.col("seg0") != F.col("seg1"), "update")
        .otherwise("unchanged")
    )
    return (
        j.select(change.alias("change_type"), F.coalesce("c_acctbal", "bal0").alias("bal"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("bal").alias("total_bal"))
        .orderBy("change_type")
    )


Q66_SQL = f"""
WITH c AS (
  SELECT CASE WHEN c_acctbal > 5000 AND c_mktsegment <> 'PREMIUM'
              THEN 'update' ELSE 'unchanged' END AS change_type,
         c_acctbal
  FROM customer
)
SELECT change_type,
       COUNT(*) AS n_rows,
       {sql_dsum("CAST(c_acctbal AS DECIMAL(12,4))")} AS total_bal
FROM c
GROUP BY change_type
ORDER BY change_type
"""

QUERIES["q66_change_data_feed"] = q66_change_data_feed
ORACLES["q66_change_data_feed"] = Q66_SQL


# --------------------------------------------------------------------------
# Q71 — SCD Type-2 dimension history build: reconstruct validity-ranged
# attribute history from an event log (the warehouse companion to q37's
# SCD-1 merge — Kimball type 2, the shape Delta's MERGE-based SCD-2
# recipes produce). Each BUILDING-segment customer's o_orderpriority
# timeline collapses into versioned rows with (valid_from, valid_to,
# is_current); a version opens whenever the attribute differs from the
# previous observation (change detection via LAG), valid_to chains from
# the next version's valid_from (LEAD).
#
# Scale shape: one shuffle on o_custkey serves every window (LAG,
# running version counter, LEAD all share the partitioning); the
# customer dim filter is a broadcast semi-join; no global sort besides
# the presentation ORDER BY. At 100 TB, per-customer history is
# bounded, so window partitions stay small — skew-safe.
# --------------------------------------------------------------------------
def q71_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = orders.join(
        F.broadcast(cust.select("c_custkey")), orders.o_custkey == F.col("c_custkey")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changed = (
        o.select("o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority")
        .withColumn("prev", F.lag("o_orderpriority").over(w))
        .withColumn(
            "version_no",
            F.sum(
                F.when(
                    F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority")), 1
                ).otherwise(0)
            )
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
    )
    versions = changed.groupBy(
        F.col("o_custkey").alias("c_custkey"), "version_no", "o_orderpriority"
    ).agg(F.min("o_orderdate").alias("valid_from"))
    wv = Window.partitionBy("c_custkey").orderBy("version_no")
    return (
        versions.withColumn("valid_to", F.lead("valid_from").over(wv))
        .select(
            "c_custkey",
            "version_no",
            F.col("o_orderpriority").alias("priority"),
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("c_custkey", "version_no")
    )


Q71_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
         LAG(o_orderpriority) OVER w AS prev
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
v AS (
  SELECT *,
         CAST(SUM(CASE WHEN prev IS NULL OR prev <> o_orderpriority THEN 1 ELSE 0 END)
              OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version_no
  FROM o
),
g AS (
  SELECT o_custkey AS c_custkey, version_no, o_orderpriority AS priority,
         MIN(o_orderdate) AS valid_from
  FROM v
  GROUP BY o_custkey, version_no, o_orderpriority
)
SELECT c_custkey, version_no, priority, valid_from,
       LEAD(valid_from) OVER wv AS valid_to,
       LEAD(valid_from) OVER wv IS NULL AS is_current
FROM g
WINDOW wv AS (PARTITION BY c_custkey ORDER BY version_no)
ORDER BY c_custkey, version_no
"""

QUERIES["q71_scd2_history"] = q71_scd2_history
ORACLES["q71_scd2_history"] = Q71_SQL


# --------------------------------------------------------------------------
# Q73 — point-in-time (temporal) join: the CONSUMER of q71's SCD-2
# history, and the feature-store correctness pattern for training-data
# assembly — every fact must see the dimension attribute that was valid
# AT THE FACT'S OWN TIME, never a later one (joining current attributes
# onto historical facts is label leakage). Each BUILDING-segment
# lineitem is joined, as of its ship date, to the customer's priority
# version in force that day (same-day versions reduced to the latest,
# the "as of end of day" convention), then revenue rolls up by
# at-ship-time priority.
#
# Spark side composes two declared operators: q71's history build and
# the J7 union-then-window as-of join (operators/asof.py — ONE key
# shuffle, no per-row subquery). The oracle replays the history in SQL
# and uses DuckDB's NATIVE ASOF JOIN for the temporal match, so the
# hash-match certifies our as-of construction against an independent
# engine-native implementation.
# --------------------------------------------------------------------------
def q73_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join
    from ._det import dec, dsum

    hist = q71_scd2_history(spark, sf_dir)
    wd = Window.partitionBy("c_custkey", "valid_from").orderBy(F.desc("version_no"))
    dim = (
        hist.withColumn("__r", F.row_number().over(wd))
        .filter(F.col("__r") == 1)
        .select("c_custkey", "valid_from", "priority")
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    li = load(spark, sf_dir, "lineitem")
    facts = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey")), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "l_shipdate",
            (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias("rev"),
        )
    )
    pit = asof_join(
        facts, dim, on="c_custkey", left_time="l_shipdate", right_time="valid_from",
        value_cols=["priority"],
    )
    return (
        pit.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            dsum(F.col("rev")).alias("revenue"),
        )
        .orderBy("priority")
    )


Q73_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
         LAG(o_orderpriority) OVER w AS prev
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
v AS (
  SELECT *,
         SUM(CASE WHEN prev IS NULL OR prev <> o_orderpriority THEN 1 ELSE 0 END)
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING) AS version_no
  FROM o
),
g AS (
  SELECT o_custkey AS c_custkey, version_no, o_orderpriority AS priority,
         MIN(o_orderdate) AS valid_from
  FROM v GROUP BY o_custkey, version_no, o_orderpriority
),
dim AS (
  SELECT c_custkey, valid_from, priority
  FROM (
    SELECT g.*, row_number() OVER (PARTITION BY c_custkey, valid_from
                                   ORDER BY version_no DESC) AS r
    FROM g
  )
  WHERE r = 1
),
facts AS (
  SELECT o_custkey AS fc_custkey, l_shipdate,
         CAST(l_extendedprice AS DECIMAL(12,4))
           * (1 - CAST(l_discount AS DECIMAL(12,4))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
)
SELECT d.priority,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(f.rev), 2) AS DOUBLE) AS revenue
FROM facts f
ASOF LEFT JOIN dim d ON f.fc_custkey = d.c_custkey AND f.l_shipdate >= d.valid_from
GROUP BY d.priority
ORDER BY d.priority
"""

QUERIES["q73_point_in_time_join"] = q73_point_in_time_join
ORACLES["q73_point_in_time_join"] = Q73_SQL


# ---------------------------------------------------------------------------
# Q81 — time-series gap repair: LOCF + LINEAR INTERPOLATION over the
# calendar spine (q52's sibling that fills gaps with values instead of
# zeros — the feature-engineering shape for sensor/metric series).
# Sparse daily revenue series PER SERIES KEY (one series per order
# priority; only days-of-month ≡ 1 mod 4 are "observed") stretched
# over a per-series spine; missing days get
# prev + (next-prev) * elapsed DIV span in integer CENTS — exact
# integer arithmetic, so both engines agree bit-for-bit (no FP slope).
# Physical shape (VERDICT r4 #5): per-series bounds → per-series
# calendar spine → ONE series-PARTITIONED window pass carrying four
# IGNORE NULLS frames (prev/next anchor day+value). Every Sort/Window
# is keyed by the series column, so at 100 TB each series interpolates
# inside its own partition — no global single-partition window
# anywhere (the r4 version's one-series frame was exactly that
# worst case; tests/test_plan_audit.py now asserts the partitioning).
# ---------------------------------------------------------------------------
def q81_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.col("o_orderpriority").alias("series"),
            F.col("o_orderdate").cast("date").alias("day"),
            "o_totalprice",
        )
        .groupBy("series", "day")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(12,4)")) * 100, 0)
            .cast("long")
            .alias("rev_cents")
        )
        .filter(F.dayofmonth("day") % 4 == 1)  # deterministic sparsifier
    )
    bounds = daily.groupBy("series").agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    )
    spine = bounds.select(
        "series",
        F.explode(F.expr("sequence(dmin, dmax, interval 1 day)")).alias("day"),
    )
    joined = spine.join(daily, ["series", "day"], "left")
    w_prev = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    filled = (
        joined.withColumn("prev_day", F.last(F.when(F.col("rev_cents").isNotNull(), F.col("day")), ignorenulls=True).over(w_prev))
        .withColumn("prev_v", F.last("rev_cents", ignorenulls=True).over(w_prev))
        .withColumn("next_day", F.first(F.when(F.col("rev_cents").isNotNull(), F.col("day")), ignorenulls=True).over(w_next))
        .withColumn("next_v", F.first("rev_cents", ignorenulls=True).over(w_next))
    )
    return filled.select(
        "series",
        "day",
        F.col("rev_cents").isNotNull().alias("observed"),
        F.when(F.col("rev_cents").isNotNull(), F.col("rev_cents"))
        .otherwise(
            F.col("prev_v")
            + F.expr(
                "(next_v - prev_v) * datediff(day, prev_day) DIV datediff(next_day, prev_day)"
            )
        )
        .alias("rev_cents_filled"),
    ).orderBy("series", "day")


Q81_SQL = """
WITH daily AS (
  SELECT series, day, rev_cents FROM (
    SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS day,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100, 0) AS BIGINT) AS rev_cents
    FROM orders
    GROUP BY 1, 2
  ) WHERE dayofmonth(day) % 4 = 1
), bounds AS (
  SELECT series, MIN(day) AS dmin, MAX(day) AS dmax FROM daily GROUP BY series
), spine AS (
  SELECT series, unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))::DATE AS day FROM bounds
), joined AS (
  SELECT s.series, s.day, d.rev_cents FROM spine s LEFT JOIN daily d USING (series, day)
), anchored AS (
  SELECT series, day, rev_cents,
         LAST_VALUE(CASE WHEN rev_cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY series ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
         LAST_VALUE(rev_cents IGNORE NULLS)
           OVER (PARTITION BY series ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         FIRST_VALUE(CASE WHEN rev_cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY series ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day,
         FIRST_VALUE(rev_cents IGNORE NULLS)
           OVER (PARTITION BY series ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v
  FROM joined
)
SELECT series, day,
       rev_cents IS NOT NULL AS observed,
       CAST(CASE WHEN rev_cents IS NOT NULL THEN rev_cents
            ELSE prev_v + (next_v - prev_v) * (day - prev_day) // (next_day - prev_day)
       END AS BIGINT) AS rev_cents_filled
FROM anchored
ORDER BY series, day
"""

QUERIES["q81_linear_interpolation"] = q81_linear_interpolation
ORACLES["q81_linear_interpolation"] = Q81_SQL


# ---------------------------------------------------------------------------
# Q85 — schema-drift-tolerant ingestion merge: two ingest "generations"
# of the same feed with DIFFERENT schemas (the later one added a
# column) unioned BY NAME with null-fill — the real-world shape of a
# long-lived landing zone (files written before a schema migration
# never have the new column). Spark: unionByName(allowMissingColumns)
# — positional UNION would silently misalign columns; DuckDB mirrors
# with its native UNION ALL BY NAME. The aggregate proves null-fill
# semantics: gen-1 rows group under the NULL priority bucket.
# ---------------------------------------------------------------------------
def q85_schema_drift_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cutoff = "1995-01-01"
    gen1 = orders.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_totalprice"
    )
    gen2 = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    merged = gen1.unionByName(gen2, allowMissingColumns=True)
    return (
        merged.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total"))
        .orderBy(F.col("o_orderpriority").asc_nulls_first())
    )


Q85_SQL = """
WITH merged AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderdate < DATE '1995-01-01'
  UNION ALL BY NAME
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderdate >= DATE '1995-01-01'
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
FROM merged
GROUP BY o_orderpriority
ORDER BY o_orderpriority NULLS FIRST
"""

QUERIES["q85_schema_drift_union"] = q85_schema_drift_union
ORACLES["q85_schema_drift_union"] = Q85_SQL


# ---------------------------------------------------------------------------
# Q88 — order-invariant table fingerprint (anti-entropy checksum): a
# replication/backfill verifier that proves two copies of a table
# identical WITHOUT sorting or moving rows — per row a canonical
# string → portable md5-prefix integer (the q77 idiom via
# classify.md5_prefix_int), then a COMMUTATIVE MODULAR SUM
# (mod 2^61−1, a Mersenne prime) per partition group. Scale-safety of
# the digest (review finding): a raw int64 SUM of 48-bit hashes
# overflows at ~65k rows/group; here Spark accumulates through exact
# DECIMAL(38,0) (good to ~10^23 rows) and DuckDB through its native
# HUGEINT sum, both reduced mod the prime at the end — identical,
# overflow-free at any corpus size. NULL-safety (review finding):
# every field passes through coalesce(cast, chr(1)) BEFORE
# concatenation — Spark's concat_ws would silently DROP null fields
# (making distinct rows collide) while DuckDB's || would null the
# whole string (dropping the row from one side of the comparison);
# the sentinel keeps both engines byte-identical and NULL-revealing.
# Any changed/missing/extra row flips its group digest; comparing two
# tables costs one scan each plus a tiny join of per-group digests —
# the classic anti-entropy shape (Dynamo/Cassandra Merkle level-0).
# ---------------------------------------------------------------------------
_FP_MOD = (1 << 61) - 1  # Mersenne prime: modular digest space


def _fp_field(col) -> F.Column:
    """NULL-revealing canonical rendering of one field (sentinel chr(1)
    can never collide with real data rendered as text)."""
    return F.coalesce(col.cast("string"), F.lit("\x01"))


def q88_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .classify import md5_prefix_int

    customer = load(spark, sf_dir, "customer")
    canon = F.concat_ws(
        "|",
        _fp_field(F.col("c_custkey")),
        _fp_field(F.col("c_name")),
        _fp_field(F.col("c_nationkey")),
        # stored balances are exact 2-dp values (verified: decimal(12,2)
        # round-trips every row), so the decimal cast is rounding-free
        # and its string form is identical on both engines
        _fp_field(F.col("c_acctbal").cast("decimal(12,2)")),
        _fp_field(F.col("c_mktsegment")),
    )
    return (
        customer.select(
            F.col("c_nationkey").alias("nationkey"),
            md5_prefix_int(canon, 12).alias("rh"),
        )
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.pmod(F.sum(F.col("rh").cast("decimal(38,0)")), F.lit(_FP_MOD))
            .cast("long")
            .alias("checksum"),
        )
        .orderBy("nationkey")
    )


def _q88_sql() -> str:
    from .classify import sql_md5_prefix_int

    fld = "COALESCE(CAST({0} AS VARCHAR), chr(1))"
    fields = " || '|' || ".join(
        fld.format(c)
        for c in (
            "c_custkey",
            "c_name",
            "c_nationkey",
            "CAST(c_acctbal AS DECIMAL(12,2))",
            "c_mktsegment",
        )
    )
    return f"""
WITH canon AS (
  SELECT c_nationkey AS nationkey, md5({fields}) AS h
  FROM customer
)
SELECT nationkey,
       COUNT(*) AS n_rows,
       CAST(SUM({sql_md5_prefix_int(12)}) % {_FP_MOD} AS BIGINT) AS checksum
FROM canon
GROUP BY nationkey
ORDER BY nationkey
"""


QUERIES["q88_table_fingerprint"] = q88_table_fingerprint
ORACLES["q88_table_fingerprint"] = _q88_sql()


# ---------------------------------------------------------------------------
# Q91 — CSV ingestion round-trip (gives the CSV source its
# oracle-checked query, the q49 pattern on the OTHER wire format):
# the documents table staged as quoted CSV (Spark-written, so
# embedded delimiters/newlines in text get canonical quoting), two
# malformed lines injected (a type-failure row and an arity-overflow
# row), read back through sources/csv.py's PERMISSIVE corrupt-capture
# with multiLine quoting, good rows aggregated against the parquet
# truth. A hash match proves the quote/escape round trip is lossless
# (CSV's hard part — newlines inside quoted text) AND that exactly
# the injected garbage (a type-failure row and an arity-overflow row)
# was quarantined.
# ---------------------------------------------------------------------------
_CSV_STAGE_CACHE: dict[str, str] = {}
_CSV_N_CORRUPT = 2


def _staged_csv_dir(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _CSV_STAGE_CACHE:
        import os
        import tempfile

        d = tempfile.mkdtemp(prefix="csv_docs_")
        docs = load(spark, sf_dir, "documents")
        (
            docs.coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .option("quoteAll", True)
            .csv(d)
        )
        with open(os.path.join(d, "zz-corrupt.csv"), "w") as fh:
            # header first (header=True consumes line 1 of EVERY file);
            # then a type-failure row (doc_id not a number) and an
            # arity-overflow row. NOT an unterminated quote: under
            # multiLine quoting that swallows the rest of the file into
            # one cell instead of quarantining a single line.
            fh.write("doc_id,text,lang,source,n_chars\n")
            fh.write("notanumber,sometext,en,web,12\n")
            fh.write("9999992,too,many,columns,here,extra,fields,beyond,schema\n")
        _CSV_STAGE_CACHE[sf_dir] = d
    return _CSV_STAGE_CACHE[sf_dir]


def q91_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import TABLES
    from ..sources.csv import read_csv, split_corrupt

    path = _staged_csv_dir(spark, sf_dir)
    good, bad = split_corrupt(read_csv(spark, path, TABLES["documents"]))
    return _ingest_roundtrip_agg(good, bad)


Q91_SQL = _ingest_roundtrip_sql(_CSV_N_CORRUPT)

QUERIES["q91_csv_roundtrip"] = q91_csv_roundtrip
ORACLES["q91_csv_roundtrip"] = Q91_SQL


# ---------------------------------------------------------------------------
# Q92 — temperature-scaled source mixing (the mT5/Pile domain-balance
# rule): sampling shares ∝ (n_i)^(1/T) with T = 2, so over-represented
# sources are damped toward the small ones without flattening
# entirely. sqrt is IEEE-correctly-rounded on both engines (probed),
# so floor(sqrt(n)·10³) is engine-exact; everything downstream is
# integer ppm arithmetic. The computed per-source keep-rate then
# DRIVES an actual deterministic hash sample (the q26/q50 machinery:
# keep iff (doc_id·K + seed) mod 10⁶ < rate_ppm) and the output
# reports plan vs realized counts per source — the full
# plan→execute→audit loop of a mixing stage in one query. Σweight
# rides the audited 1-row broadcast scalar (BNLJ allowlist).
# ---------------------------------------------------------------------------
_MIX_BUDGET_PPM = 400_000  # sample ~40% of the corpus overall


def q92_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    per_src = per_src.withColumn(
        "w", F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000).cast("long")
    )
    tot = per_src.agg(
        F.sum("w").alias("sum_w"), F.sum("n_docs").alias("n_total")
    )
    planned = (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.expr("w * 1000000 DIV sum_w").alias("target_ppm"),
            # quota: this source's slice of the overall sampling budget
            F.expr(
                f"(n_total * {_MIX_BUDGET_PPM} DIV 1000000) * (w * 1000000 DIV sum_w) DIV 1000000"
            ).alias("quota"),
        )
        .withColumn("rate_ppm", F.expr("least(quota * 1000000 DIV n_docs, 1000000)"))
    )
    kept = (
        docs.join(F.broadcast(planned.select("source", "rate_ppm")), "source")
        .filter(
            F.pmod(F.col("doc_id") * F.lit(_K) + F.lit(_SEED), F.lit(_BUCKETS))
            < F.col("rate_ppm")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        planned.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "target_ppm",
            "quota",
            "rate_ppm",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


Q92_SQL = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000) AS BIGINT) AS w
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(w) AS sum_w, SUM(n_docs) AS n_total FROM per_src),
planned AS (
  SELECT source, n_docs,
         w * 1000000 // sum_w AS target_ppm,
         (n_total * {_MIX_BUDGET_PPM} // 1000000) * (w * 1000000 // sum_w) // 1000000 AS quota
  FROM per_src CROSS JOIN tot
),
rated AS (
  SELECT *, least(quota * 1000000 // n_docs, 1000000) AS rate_ppm FROM planned
),
kept AS (
  SELECT d.source, COUNT(*) AS n_kept
  FROM documents d JOIN rated r USING (source)
  WHERE (d.doc_id * {_K} + {_SEED}) % {_BUCKETS} < r.rate_ppm
  GROUP BY d.source
)
SELECT r.source,
       CAST(r.n_docs AS BIGINT) AS n_docs,
       CAST(r.target_ppm AS BIGINT) AS target_ppm,
       CAST(r.quota AS BIGINT) AS quota,
       CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
FROM rated r LEFT JOIN kept k USING (source)
ORDER BY r.source
"""

QUERIES["q92_temperature_mixing"] = q92_temperature_mixing
ORACLES["q92_temperature_mixing"] = Q92_SQL


# ---------------------------------------------------------------------------
# Q95 — Count-Min sketch heavy hitters (operators/cms.py). Completes
# the sketch family next to Bloom (q61) and HLL (q17): the reference
# keeps exact driver-side frequency maps (/root/reference/test.py:
# 94-118); at 100 TB heavy-hitter tracking runs on a mergeable sketch.
#
# One token-count aggregation feeds BOTH sides: the exact top-20 probe
# set (TakeOrdered — no global sort) and the sketch build (token-level
# weighted cells, so the d-way explode multiplies distinct tokens, not
# occurrences). The estimate attaches via a broadcast join of the
# d·w-cell frame; the never-underestimate invariant (over_est >= 0 on
# every row) is checked by the oracle hash on the subtraction itself.
# The hash family is the Bloom filter's portable Kirsch–Mitzenmacher
# arithmetic over md5-derived integer keys, so DuckDB rebuilds the
# identical cells — one wrong cell anywhere flips an estimate.
# ---------------------------------------------------------------------------
_CMS_D = 3
_CMS_W = 16  # 31 distinct corpus tokens -> real collisions, the estimate is not vacuously exact
_CMS_TOP = 20


def q95_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as TXT
    from ..operators.cms import cms_build, cms_estimate
    from .classify import md5_prefix_int

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TXT.tokens(F.col("text"))).alias("tok")).filter(
        F.col("tok") != ""
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_exact"))
    keyed = counts.select("tok", "n_exact", md5_prefix_int(F.col("tok"), 8).alias("k"))
    cells = cms_build(keyed, "k", "n_exact", depth=_CMS_D, width=_CMS_W)
    w = Window.orderBy(F.desc("n_exact"), F.asc("tok"))
    probes = keyed.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _CMS_TOP
    )
    est = cms_estimate(probes, "k", cells, depth=_CMS_D, width=_CMS_W)
    return est.select(
        F.col("rk").cast("long").alias("rk"),
        "tok",
        "n_exact",
        "cms_est",
        (F.col("cms_est") - F.col("n_exact")).alias("over_est"),
    ).orderBy("rk")


def _sql_cms_pos(key: str, r: int) -> str:
    h1 = f"((({key}) % {P}) * {K1} + {S1}) % {P}"
    h2 = f"((({key}) % {P}) * {K2} + {S2}) % {P}"
    return f"(({h1}) + {r} * ({h2})) % {P} % {_CMS_W}"


from ..operators.bloom import K1, K2, P, S1, S2  # noqa: E402  (portable hash family)
from .classify import sql_md5_prefix_int  # noqa: E402

Q95_SQL = rf"""
WITH toks AS (
  SELECT t.tok
  FROM documents, UNNEST(string_split_regex(lower(text), '\s+')) AS t(tok)
  WHERE t.tok <> ''
),
counts AS (
  SELECT tok, COUNT(*) AS n_exact FROM toks GROUP BY tok
),
keyed AS (
  SELECT tok, n_exact, {sql_md5_prefix_int(8)} AS k
  FROM (SELECT tok, n_exact, md5(tok) AS h FROM counts)
),
cells AS (
  SELECT r, c, SUM(n_exact) AS cnt
  FROM (
    SELECT n_exact, u.r,
           CASE u.r
             WHEN 0 THEN {_sql_cms_pos('k', 0)}
             WHEN 1 THEN {_sql_cms_pos('k', 1)}
             ELSE {_sql_cms_pos('k', 2)}
           END AS c
    FROM keyed, UNNEST([0, 1, 2]) AS u(r)
  )
  GROUP BY r, c
),
probes AS (
  SELECT tok, n_exact, k,
         row_number() OVER (ORDER BY n_exact DESC, tok ASC) AS rk
  FROM keyed
  QUALIFY rk <= {_CMS_TOP}
),
est AS (
  SELECT p.rk, p.tok, p.n_exact, MIN(COALESCE(ce.cnt, 0)) AS cms_est
  FROM (
    SELECT rk, tok, n_exact, u.r,
           CASE u.r
             WHEN 0 THEN {_sql_cms_pos('k', 0)}
             WHEN 1 THEN {_sql_cms_pos('k', 1)}
             ELSE {_sql_cms_pos('k', 2)}
           END AS c
    FROM probes, UNNEST([0, 1, 2]) AS u(r)
  ) p
  LEFT JOIN cells ce ON ce.r = p.r AND ce.c = p.c
  GROUP BY p.rk, p.tok, p.n_exact
)
SELECT CAST(rk AS BIGINT) AS rk, tok,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - n_exact AS BIGINT) AS over_est
FROM est
ORDER BY rk
"""

QUERIES["q95_cms_heavy_hitters"] = q95_cms_heavy_hitters
ORACLES["q95_cms_heavy_hitters"] = Q95_SQL


# ---------------------------------------------------------------------------
# Q106 — Benford first-digit audit (data-forensics profile).
#
# The data-quality family (q36 column profile, q64 k-anonymity, q88
# table fingerprint) gains the classic forensic screen: Newcomb-
# Benford first-significant-digit analysis, the standard test for
# fabricated or machine-generated numeric columns (auditing, fraud
# detection, synthetic-data detection — directly relevant to spotting
# TEMPLATED/GENERATED text-corpus metadata at curation time). Real
# organic amounts follow P(d) = log10(1 + 1/d); uniform synthetic
# generators (like this TPC-H-ish price column) do NOT — the audit's
# delta column is designed to light up here, demonstrating the
# detector against a known-synthetic source.
#
# Exactness: amounts go through the integer-cents idiom; the first
# significant digit is string arithmetic on the BIGINT cents value;
# expected Benford shares are frozen integer ppm constants (no log()
# at query time); observed shares are truncating integer ppm. The
# chi-square-style statistic is cross-multiplied exact:
# sum((obs*1e6 - exp*total)^2 DIV (exp*total)) carried in
# DECIMAL(38,0) on both engines.
#
# Scale shape: one scan -> map-side digit extraction -> 9-key hash
# agg; the total is the audited 1-row broadcast scalar. Scan-bound at
# any volume.
# ---------------------------------------------------------------------------

_BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
                6: 66947, 7: 57992, 8: 51153, 9: 45757}


def q106_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice").cast("decimal(12,4)") * 100, 0).cast("long")
    digit = F.substring(F.col("cents").cast("string"), 1, 1).cast("int")
    exp_map = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PPM.items() for x in kv]
    )
    obs = (
        orders.select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    tot = obs.agg(F.sum("observed").alias("total"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "observed",
            "total",
            F.expr("observed * 1000000 div total").alias("obs_ppm"),
            exp_map[F.col("digit")].alias("exp_ppm"),
        )
        .withColumn(
            "chi_term",
            F.expr(
                "CAST((CAST(observed AS DECIMAL(38,0)) * 1000000 - CAST(exp_ppm AS DECIMAL(38,0)) * total)"
                " * (CAST(observed AS DECIMAL(38,0)) * 1000000 - CAST(exp_ppm AS DECIMAL(38,0)) * total)"
                " div (CAST(exp_ppm AS DECIMAL(38,0)) * total * 1000000) AS BIGINT)"
            ),
        )
        .select(
            F.col("digit").cast("int").alias("digit"),
            "observed",
            "total",
            "obs_ppm",
            F.col("exp_ppm").cast("long").alias("exp_ppm"),
            (F.col("obs_ppm") - F.col("exp_ppm")).alias("delta_ppm"),
            "chi_term",
        )
        .orderBy("digit")
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
)

Q106_SQL = f"""
WITH cents AS (
  SELECT CAST(round(CAST(o_totalprice AS DECIMAL(12,4)) * 100, 0) AS BIGINT) AS cents
  FROM orders
),
obs AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         COUNT(*) AS observed
  FROM cents WHERE cents > 0
  GROUP BY 1
),
tot AS (SELECT SUM(observed) AS total FROM obs),
j AS (
  SELECT digit, observed, total,
         observed * 1000000 // total AS obs_ppm,
         CASE digit {_BENFORD_CASE} END AS exp_ppm
  FROM obs CROSS JOIN tot
)
SELECT CAST(digit AS INTEGER) AS digit,
       CAST(observed AS BIGINT) AS observed,
       CAST(total AS BIGINT) AS total,
       CAST(obs_ppm AS BIGINT) AS obs_ppm,
       CAST(exp_ppm AS BIGINT) AS exp_ppm,
       CAST(obs_ppm - exp_ppm AS BIGINT) AS delta_ppm,
       CAST((CAST(observed AS HUGEINT) * 1000000 - CAST(exp_ppm AS HUGEINT) * total)
            * (CAST(observed AS HUGEINT) * 1000000 - CAST(exp_ppm AS HUGEINT) * total)
            // (CAST(exp_ppm AS HUGEINT) * total * 1000000) AS BIGINT) AS chi_term
FROM j
ORDER BY digit
"""

QUERIES["q106_benford_audit"] = q106_benford_audit
ORACLES["q106_benford_audit"] = Q106_SQL


# ---------------------------------------------------------------------------
# Q133 (r8) — ZONE-MAP data-skipping audit: the metadata computation
# behind every warehouse's "files skipped" number (Snowflake
# micro-partition pruning, Delta/Iceberg file stats, ORC/Parquet
# row-group min/max), made a first-class operator. Two LAYOUTS of
# lineitem are modeled arithmetically — no global sort, so the audit
# itself is scale-safe:
#
#   natural   zone = (l_orderkey·8 + l_linenumber) DIV 4096 — the
#             insert-order surrogate (orderkeys are generation-ordered),
#             i.e. what you get WITHOUT clustering;
#   clustered zone = days(l_shipdate since 1995-01-01) DIV 7 — weekly
#             CLUSTER BY shipdate value partitions (q38's z-order is
#             the multi-column generalization).
#
# For each layout the operator maintains per-zone (n_rows, min_day,
# max_day) — the zone map — then evaluates a fixed predicate suite of
# ship-date ranges: a zone is PRUNED iff max < lo OR min > hi (the
# standard min/max test; lossless). Reported per (layout, predicate):
# zones pruned, rows scanned by surviving zones, true matching rows,
# and the scan amplification ×1000 — the number that quantifies why
# the clustered layout wins (natural zones straddle the full date
# range, so nothing prunes; clustered zones prune ~proportionally to
# the predicate). EXACT integer arithmetic end to end.
#
# Scale shape: one pass over lineitem computes (day, both zone ids);
# the two zone-map aggregations are map-side-combined groupBys onto
# bounded frames (zones ≪ rows); predicates are a 4-row broadcast;
# everything after the zone maps is dim-scale.
# ---------------------------------------------------------------------------

_Q133_EPOCH = "1995-01-01"
_Q133_PREDS = (  # (pred_id, lo, hi) as ISO dates, inclusive
    (1, "1996-01-01", "1996-03-31"),
    (2, "1998-06-01", "1998-06-07"),
    (3, "1995-01-01", "2002-01-01"),
    (4, "2001-10-01", "2001-12-31"),
)


def q133_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    li = load(spark, sf_dir, "lineitem")
    day = F.datediff(F.col("l_shipdate").cast("date"), F.lit(_Q133_EPOCH).cast("date"))
    base = li.select(
        day.alias("day"),
        ((F.col("l_orderkey") * 8 + F.col("l_linenumber")) / 4096)
        .cast("long")
        .alias("z_nat"),
    ).withColumn("z_clu", F.expr("day DIV 7"))
    zones = (
        base.groupBy(F.lit("natural").alias("layout"), F.col("z_nat").alias("z"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
        .unionByName(
            base.groupBy(F.lit("clustered").alias("layout"), F.col("z_clu").alias("z"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("day").alias("min_day"),
                F.max("day").alias("max_day"),
            )
        )
    )
    epoch = _dt.date.fromisoformat(_Q133_EPOCH)
    preds = local_frame(
        spark,
        [
            (
                pid,
                (_dt.date.fromisoformat(lo) - epoch).days,
                (_dt.date.fromisoformat(hi) - epoch).days,
            )
            for pid, lo, hi in _Q133_PREDS
        ],
        "pred_id long, lo_d int, hi_d int",
    )
    audited = zones.crossJoin(F.broadcast(preds)).withColumn(
        "pruned",
        ((F.col("max_day") < F.col("lo_d")) | (F.col("min_day") > F.col("hi_d"))).cast(
            "long"
        ),
    )
    matches = (
        base.crossJoin(F.broadcast(preds))
        .filter((F.col("day") >= F.col("lo_d")) & (F.col("day") <= F.col("hi_d")))
        .groupBy("pred_id")
        .agg(F.count(F.lit(1)).alias("matching_rows"))
    )
    return (
        audited.groupBy("layout", "pred_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_zones"),
            F.sum("pruned").cast("long").alias("n_pruned"),
            F.sum(F.when(F.col("pruned") == 0, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("scanned_rows"),
        )
        .join(matches, "pred_id", "left")
        .select(
            "layout",
            "pred_id",
            "n_zones",
            "n_pruned",
            "scanned_rows",
            F.coalesce("matching_rows", F.lit(0)).cast("long").alias("matching_rows"),
            F.expr(
                "CAST(scanned_rows * 1000 DIV GREATEST(COALESCE(matching_rows, 0), 1)"
                " AS BIGINT)"
            ).alias("scan_amp_x1000"),
        )
        .orderBy("layout", "pred_id")
    )


def _q133_sql() -> str:
    pred_rows = ", ".join(
        f"({pid}, DATE '{lo}', DATE '{hi}')" for pid, lo, hi in _Q133_PREDS
    )
    return f"""
WITH base AS (
  SELECT datediff('day', DATE '{_Q133_EPOCH}', CAST(l_shipdate AS DATE)) AS day,
         (l_orderkey * 8 + l_linenumber) // 4096 AS z_nat
  FROM lineitem
),
base2 AS (SELECT day, z_nat, day // 7 AS z_clu FROM base),
zones AS (
  SELECT 'natural' AS layout, z_nat AS z, COUNT(*) AS n_rows,
         MIN(day) AS min_day, MAX(day) AS max_day
  FROM base2 GROUP BY z_nat
  UNION ALL
  SELECT 'clustered' AS layout, z_clu AS z, COUNT(*) AS n_rows,
         MIN(day) AS min_day, MAX(day) AS max_day
  FROM base2 GROUP BY z_clu
),
preds AS (
  SELECT pred_id,
         datediff('day', DATE '{_Q133_EPOCH}', lo) AS lo_d,
         datediff('day', DATE '{_Q133_EPOCH}', hi) AS hi_d
  FROM (VALUES {pred_rows}) AS t(pred_id, lo, hi)
),
audited AS (
  SELECT z.layout, p.pred_id, z.n_rows,
         CASE WHEN z.max_day < p.lo_d OR z.min_day > p.hi_d THEN 1 ELSE 0 END AS pruned
  FROM zones z CROSS JOIN preds p
),
matches AS (
  SELECT p.pred_id, COUNT(*) AS matching_rows
  FROM base2 b JOIN preds p ON b.day BETWEEN p.lo_d AND p.hi_d
  GROUP BY p.pred_id
)
SELECT a.layout,
       CAST(a.pred_id AS BIGINT) AS pred_id,
       CAST(COUNT(*) AS BIGINT) AS n_zones,
       CAST(SUM(a.pruned) AS BIGINT) AS n_pruned,
       CAST(SUM(CASE WHEN a.pruned = 0 THEN a.n_rows ELSE 0 END) AS BIGINT)
         AS scanned_rows,
       CAST(COALESCE(MAX(m.matching_rows), 0) AS BIGINT) AS matching_rows,
       CAST(SUM(CASE WHEN a.pruned = 0 THEN a.n_rows ELSE 0 END) * 1000
            // GREATEST(COALESCE(MAX(m.matching_rows), 0), 1) AS BIGINT)
         AS scan_amp_x1000
FROM audited a LEFT JOIN matches m ON a.pred_id = m.pred_id
GROUP BY a.layout, a.pred_id
ORDER BY a.layout, a.pred_id
"""


QUERIES["q133_zonemap_skipping"] = q133_zonemap_skipping
ORACLES["q133_zonemap_skipping"] = _q133_sql()


# ---------------------------------------------------------------------------
# Q134 (r8) — ANALYZE-style table profile: the statistics-collection
# operator every optimizer and data-quality gate runs first (ANALYZE
# TABLE / dbt source freshness / Deequ profiles): per column — row
# count, nulls, exact distinct count, canonical min/max rendering,
# and mean length ×100 for text columns. EXACT end to end: the money
# column renders as integer cents (floor(x·100+0.5), the q120 money
# discipline) so no float ever reaches the hash.
#
# Scale shape: ONE pass over the table computes every stat in a
# single aggregate row (the q131 many-sums idiom; the exact distinct
# counts plan as one Expand + two-level agg — Spark's standard
# multi-distinct strategy, still map-side-combined per column), then
# a 5-row stack() to long form — no per-column rescans, no
# data-proportional shuffle beyond the distinct aggregation itself.
# ---------------------------------------------------------------------------
def q134_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    agg = c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            e
            for col, kind in (
                ("c_custkey", "int"),
                ("c_name", "str"),
                ("c_nationkey", "int"),
                ("c_acctbal", "money"),
                ("c_mktsegment", "str"),
            )
            for e in (
                F.count(F.col(col)).alias(f"{col}_nn"),
                F.countDistinct(F.col(col)).alias(f"{col}_nd"),
                (
                    F.min(F.expr(f"CAST(floor({col} * 100 + 0.5) AS BIGINT)"))
                    if kind == "money"
                    else F.min(F.col(col))
                )
                .cast("string")
                .alias(f"{col}_min"),
                (
                    F.max(F.expr(f"CAST(floor({col} * 100 + 0.5) AS BIGINT)"))
                    if kind == "money"
                    else F.max(F.col(col))
                )
                .cast("string")
                .alias(f"{col}_max"),
                (
                    F.expr(f"SUM(length({col})) * 100 DIV COUNT({col})")
                    if kind == "str"
                    else F.lit(None).cast("long")
                ).alias(f"{col}_len"),
            )
        ],
    )
    stack = ", ".join(
        f"'{col}', {col}_nn, {col}_nd, {col}_min, {col}_max, {col}_len"
        for col in ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    )
    return (
        agg.selectExpr(
            "n_rows",
            f"stack(5, {stack}) AS (col_name, n_nonnull, n_distinct, min_repr,"
            " max_repr, avg_len_x100)",
        )
        .select(
            "col_name",
            F.col("n_rows").cast("long").alias("n_rows"),
            (F.col("n_rows") - F.col("n_nonnull")).cast("long").alias("n_null"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "min_repr",
            "max_repr",
            F.col("avg_len_x100").cast("long").alias("avg_len_x100"),
        )
        .orderBy("col_name")
    )


Q134_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(c_custkey) AS k_nn, COUNT(DISTINCT c_custkey) AS k_nd,
         CAST(MIN(c_custkey) AS VARCHAR) AS k_min, CAST(MAX(c_custkey) AS VARCHAR) AS k_max,
         COUNT(c_name) AS nm_nn, COUNT(DISTINCT c_name) AS nm_nd,
         MIN(c_name) AS nm_min, MAX(c_name) AS nm_max,
         SUM(length(c_name)) * 100 // COUNT(c_name) AS nm_len,
         COUNT(c_nationkey) AS nk_nn, COUNT(DISTINCT c_nationkey) AS nk_nd,
         CAST(MIN(c_nationkey) AS VARCHAR) AS nk_min, CAST(MAX(c_nationkey) AS VARCHAR) AS nk_max,
         COUNT(c_acctbal) AS ab_nn, COUNT(DISTINCT c_acctbal) AS ab_nd,
         CAST(MIN(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS VARCHAR) AS ab_min,
         CAST(MAX(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS VARCHAR) AS ab_max,
         COUNT(c_mktsegment) AS ms_nn, COUNT(DISTINCT c_mktsegment) AS ms_nd,
         MIN(c_mktsegment) AS ms_min, MAX(c_mktsegment) AS ms_max,
         SUM(length(c_mktsegment)) * 100 // COUNT(c_mktsegment) AS ms_len
  FROM customer
)
SELECT col_name,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_rows - n_nonnull AS BIGINT) AS n_null,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       min_repr, max_repr,
       CAST(avg_len_x100 AS BIGINT) AS avg_len_x100
FROM (
  SELECT n_rows, 'c_custkey' AS col_name, k_nn AS n_nonnull, k_nd AS n_distinct,
         k_min AS min_repr, k_max AS max_repr, NULL AS avg_len_x100 FROM agg
  UNION ALL
  SELECT n_rows, 'c_name', nm_nn, nm_nd, nm_min, nm_max, nm_len FROM agg
  UNION ALL
  SELECT n_rows, 'c_nationkey', nk_nn, nk_nd, nk_min, nk_max, NULL FROM agg
  UNION ALL
  SELECT n_rows, 'c_acctbal', ab_nn, ab_nd, ab_min, ab_max, NULL FROM agg
  UNION ALL
  SELECT n_rows, 'c_mktsegment', ms_nn, ms_nd, ms_min, ms_max, ms_len FROM agg
)
ORDER BY col_name
"""

QUERIES["q134_table_profile"] = q134_table_profile
ORACLES["q134_table_profile"] = Q134_SQL


# ---------------------------------------------------------------------------
# Q135 (r8) — optimizer CARDINALITY-ESTIMATE audit: the validation
# pass a query planner's statistics pipeline needs — compare the
# textbook uniform-assumption join-cardinality estimate
#
#   |A ⋈_k B|  ≈  |A| · |B| / max(ndv_A(k), ndv_B(k))
#
# (System-R / Selinger '79; what every CBO computes from ANALYZE
# stats like q134's) against the EXACT join cardinality, for the three
# canonical TPC-H joins. Reported per join: both inputs' sizes and
# ndv, the estimate, the actual, and the signed error in ppm of
# actual. All wide products ride DECIMAL(38,0)/HUGEINT (the q97
# discipline) — |A|·|B| overflows int64 from sf~3.
#
# Scale shape: per-join stats are single-pass aggregates; the exact
# cardinality is the equi-join count Catalyst already executes
# optimally (broadcast/shuffle by key); output is 3 rows.
# ---------------------------------------------------------------------------

_Q135_JOINS = (
    # (join_id, left table, left key, right table, right key) — joins
    # 1-3 are FK joins (the uniform estimate is EXACT: err_ppm = 0, a
    # correctness check on the stats themselves); join 4 is the
    # many-to-many case where the assumption genuinely errs (~+4.6% at
    # sf0.01) — the number a planner's risk model actually wants
    (1, "orders", "o_custkey", "customer", "c_custkey"),
    (2, "lineitem", "l_partkey", "part", "p_partkey"),
    (3, "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    (4, "events", "user_id", "orders", "o_custkey"),
)


def q135_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for jid, lt, lk, rt, rk in _Q135_JOINS:
        left = load(spark, sf_dir, lt)
        right = load(spark, sf_dir, rt)
        lstats = left.agg(
            F.count(F.lit(1)).alias("n_left"), F.countDistinct(lk).alias("ndv_left")
        )
        rstats = right.agg(
            F.count(F.lit(1)).alias("n_right"), F.countDistinct(rk).alias("ndv_right")
        )
        actual = (
            left.select(F.col(lk).alias("k"))
            .join(right.select(F.col(rk).alias("k")), "k")
            .agg(F.count(F.lit(1)).alias("actual"))
        )
        row = (
            lstats.crossJoin(rstats)
            .crossJoin(actual)
            .select(
                F.lit(jid).cast("long").alias("join_id"),
                F.lit(f"{lt}.{lk}={rt}.{rk}").alias("join_key"),
                F.col("n_left").cast("long"),
                F.col("ndv_left").cast("long"),
                F.col("n_right").cast("long"),
                F.col("ndv_right").cast("long"),
                F.expr(
                    "CAST(CAST(n_left AS DECIMAL(38,0)) * n_right"
                    " DIV GREATEST(ndv_left, ndv_right) AS BIGINT)"
                ).alias("estimated"),
                F.col("actual").cast("long"),
                F.expr(
                    "CAST((CAST(n_left AS DECIMAL(38,0)) * n_right"
                    " DIV GREATEST(ndv_left, ndv_right) - actual) * 1000000"
                    " DIV GREATEST(actual, 1) AS BIGINT)"
                ).alias("err_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("join_id")


def _q135_sql() -> str:
    parts = []
    for jid, lt, lk, rt, rk in _Q135_JOINS:
        parts.append(f"""
SELECT CAST({jid} AS BIGINT) AS join_id,
       '{lt}.{lk}={rt}.{rk}' AS join_key,
       CAST(n_left AS BIGINT) AS n_left,
       CAST(ndv_left AS BIGINT) AS ndv_left,
       CAST(n_right AS BIGINT) AS n_right,
       CAST(ndv_right AS BIGINT) AS ndv_right,
       CAST(CAST(n_left AS HUGEINT) * n_right
            // GREATEST(ndv_left, ndv_right) AS BIGINT) AS estimated,
       CAST(actual AS BIGINT) AS actual,
       CAST((CAST(n_left AS HUGEINT) * n_right // GREATEST(ndv_left, ndv_right)
             - actual) * 1000000 // GREATEST(actual, 1) AS BIGINT) AS err_ppm
FROM (SELECT COUNT(*) AS n_left, COUNT(DISTINCT {lk}) AS ndv_left FROM {lt}),
     (SELECT COUNT(*) AS n_right, COUNT(DISTINCT {rk}) AS ndv_right FROM {rt}),
     (SELECT COUNT(*) AS actual FROM {lt} JOIN {rt} ON {lt}.{lk} = {rt}.{rk})""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY join_id"


QUERIES["q135_cardinality_audit"] = q135_cardinality_audit
ORACLES["q135_cardinality_audit"] = _q135_sql()


# ---------------------------------------------------------------------------
# Q138 (r8) — CASCADE-DELETE audit (right-to-be-forgotten): the
# compliance operator every lakehouse runs for GDPR/CCPA erasure —
# given a deletion cohort (customers with c_custkey % 1009 == 0,
# ~0.1%), purge them and everything reachable through their foreign
# keys (orders via o_custkey, lineitem via the purged orderkeys), and
# emit the audit row per table: rows before, rows deleted, rows after,
# and a position-free survivor checksum (sum of key mod 2^20 terms —
# overflow-free, the q15 discipline) that proves the survivor set is
# exactly the anti-join complement. Deletes are expressed as
# ANTI-JOINS (the only scalable shape — never row-at-a-time), and the
# lineitem cascade anti-joins on the PURGED order set, not the cohort,
# so the audit also checks FK transitivity.
#
# Scale shape: cohort is a key-only broadcast; each table pays one
# scan + one (broadcastable) anti-join + one aggregate; output 3 rows.
# ---------------------------------------------------------------------------
_Q138_MOD = 1009


def q138_cascade_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cohort = cust.filter(F.pmod(F.col("c_custkey"), F.lit(_Q138_MOD)) == 0).select(
        F.col("c_custkey").alias("k")
    )
    purged_orders = orders.join(
        F.broadcast(cohort), orders.o_custkey == F.col("k"), "left_semi"
    ).select(F.col("o_orderkey").alias("ok"))

    def audit(table, df, key_col, del_keys, join_col):
        kept = df.join(F.broadcast(del_keys), F.col(join_col) == del_keys[0], "left_anti")
        total = df.agg(F.count(F.lit(1)).alias("n_before"))
        kept_agg = kept.agg(
            F.count(F.lit(1)).alias("n_after"),
            F.sum(F.pmod(F.col(key_col), F.lit(1 << 20))).alias("survivor_checksum"),
        )
        return total.crossJoin(kept_agg).select(
            F.lit(table).alias("table_name"),
            F.col("n_before").cast("long"),
            (F.col("n_before") - F.col("n_after")).cast("long").alias("n_deleted"),
            F.col("n_after").cast("long"),
            F.coalesce(F.col("survivor_checksum"), F.lit(0))
            .cast("long")
            .alias("survivor_checksum"),
        )

    out = (
        audit("customer", cust, "c_custkey", cohort, "c_custkey")
        .unionByName(audit("orders", orders, "o_orderkey", cohort, "o_custkey"))
        .unionByName(audit("lineitem", li, "l_orderkey", purged_orders, "l_orderkey"))
    )
    return out.orderBy("table_name")


Q138_SQL = f"""
WITH cohort AS (
  SELECT c_custkey AS k FROM customer WHERE c_custkey % {_Q138_MOD} = 0
),
purged_orders AS (
  SELECT o_orderkey AS ok FROM orders WHERE o_custkey IN (SELECT k FROM cohort)
),
c_kept AS (
  SELECT c_custkey FROM customer WHERE c_custkey NOT IN (SELECT k FROM cohort)
),
o_kept AS (
  SELECT o_orderkey FROM orders WHERE o_custkey NOT IN (SELECT k FROM cohort)
),
l_kept AS (
  SELECT l_orderkey FROM lineitem
  WHERE l_orderkey NOT IN (SELECT ok FROM purged_orders)
)
SELECT 'customer' AS table_name,
       CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_before,
       CAST((SELECT COUNT(*) FROM customer) - COUNT(*) AS BIGINT) AS n_deleted,
       CAST(COUNT(*) AS BIGINT) AS n_after,
       CAST(COALESCE(SUM(c_custkey % 1048576), 0) AS BIGINT) AS survivor_checksum
FROM c_kept
UNION ALL
SELECT 'lineitem',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem) - COUNT(*) AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(l_orderkey % 1048576), 0) AS BIGINT)
FROM l_kept
UNION ALL
SELECT 'orders',
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders) - COUNT(*) AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(o_orderkey % 1048576), 0) AS BIGINT)
FROM o_kept
ORDER BY table_name
"""

QUERIES["q138_cascade_delete_audit"] = q138_cascade_delete_audit
ORACLES["q138_cascade_delete_audit"] = Q138_SQL


# ---------------------------------------------------------------------------
# Q142 — l-diversity audit (Machanavajjhala et al. 2007), the privacy
# tier ABOVE q64's k-anonymity: a quasi-identifier group can be large
# (k-anonymous) yet still disclose its members' sensitive attribute if
# every member shares one value. Distinct l-diversity counts the
# distinct sensitive values per QI group; groups with l < L leak.
#
# Same QI grouping as q64 — (c_mktsegment, c_nationkey) — so the two
# audits compose into one privacy report; the sensitive attribute is
# the account-balance $1000 band (cents DIV 100000, exact integers —
# balances can be negative and both engines' DIV must agree, so the
# band uses floor semantics via (cents - (cents % 100000 + 100000) %
# 100000) DIV 100000, the non-negative-remainder identity both engines
# compute identically).
#
# Scale shape (100 TB): one customer scan reduces map-side to the
# (QI, band) frame, then to the bounded per-QI l frame; every window/
# report aggregation runs over |segments x nations| rows.
# ---------------------------------------------------------------------------

_LDIV_L = 3  # required distinct sensitive values per QI group


def q142_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    cents = F.expr("CAST(floor(CAST(c_acctbal AS DOUBLE) * 100.0 + 0.5) AS BIGINT)")
    band = F.expr(
        "(cents - (cents % 100000 + 100000) % 100000) DIV 100000"
    )
    groups = (
        cust.select("c_mktsegment", "c_nationkey", cents.alias("cents"))
        .select("c_mktsegment", "c_nationkey", band.alias("band"))
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.countDistinct("band").alias("l"),
            F.count(F.lit(1)).alias("gsize"),
        )
    )
    return (
        groups.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.min("l").cast("long").alias("min_l"),
            F.sum((F.col("l") < _LDIV_L).cast("long")).alias("n_under_l"),
            F.sum(
                F.when(F.col("l") < _LDIV_L, F.col("gsize")).otherwise(0)
            ).cast("long").alias("rows_at_risk"),
            F.sum((F.col("l") == 1).cast("long")).alias("n_disclosed"),
        )
        .orderBy("c_mktsegment")
    )


Q142_SQL = f"""
WITH banded AS (
  SELECT c_mktsegment, c_nationkey,
         (cents - (cents % 100000 + 100000) % 100000) // 100000 AS band
  FROM (
    SELECT c_mktsegment, c_nationkey,
           CAST(floor(CAST(c_acctbal AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS cents
    FROM customer
  )
),
groups AS (
  SELECT c_mktsegment, c_nationkey,
         COUNT(DISTINCT band) AS l,
         COUNT(*) AS gsize
  FROM banded
  GROUP BY c_mktsegment, c_nationkey
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(l) AS BIGINT) AS min_l,
       CAST(SUM(CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT) AS n_under_l,
       CAST(SUM(CASE WHEN l < {_LDIV_L} THEN gsize ELSE 0 END) AS BIGINT) AS rows_at_risk,
       CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_disclosed
FROM groups
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES["q142_l_diversity"] = q142_l_diversity
ORACLES["q142_l_diversity"] = Q142_SQL


# ---------------------------------------------------------------------------
# Q144 — noisy-count release MECHANICS audit (r9): the RELEASE tier of
# the governance family (q64 k-anonymity, q142 l-diversity, q138
# erasure, q34 redaction) — publishing per-group counts through a
# geometric-mechanism noise map instead of suppressing groups.
#
# WHAT THIS CERTIFIES — and what it does NOT: the operator exercises
# the full release pipeline (cell counting, inverse-CDF noise mapping,
# post-processing floor at 0, calibration accounting) with the
# geometric mechanism's exact thresholds (discrete Laplace, Ghosh-
# Roughgarden-Sundararajan '09, nominal eps=1, sensitivity 1 — each
# customer contributes to exactly one (segment, nation) cell). The
# noise source here is a DETERMINISTIC md5 of the PUBLIC cell key, so
# the shipped release carries NO differential-privacy guarantee of any
# epsilon — anyone who knows the mechanism can invert the noise. That
# is deliberate: determinism is what makes the mechanics bit-exact and
# oracle-checkable. A production deployment MUST swap the hash-PRG for
# a secure per-release RNG (at which point the eps=1 calibration the
# thresholds encode becomes a real guarantee); what an audit of THIS
# operator can check is the mechanics, and only the mechanics.
#
# The draw is INVERSE-CDF over the seeded hash uniform: u =
# md5_prefix_int(segment|nation, 15) in [0, 16^15), mapped through the
# discrete-Laplace cumulative thresholds truncated to |k| <= 16
# (tail mass < 2e-7). The thresholds are computed ONCE at module
# import by the same Python that emits both the Spark expression and
# the oracle SQL — both engines compare the same integers.
#
# Scale shape (100 TB): one customer scan reduces map-side to the
# bounded (segment, nation) cell frame; the noise mapping is a pure
# CASE ladder (no join, no shuffle); the calibration report aggregates
# |segments| rows.
# ---------------------------------------------------------------------------


def _q144_thresholds() -> list[tuple[int, int]]:
    """Cumulative inverse-CDF thresholds for the truncated discrete
    Laplace, symmetric BY CONSTRUCTION: per-|k| interval widths are
    rounded once and mirrored (so P(k) == P(-k) exactly in integer
    units), and the rounding residual is absorbed into the k=0 mode —
    the total closes at exactly 16^15."""
    import math

    eps, k_max, scale = 1.0, 16, 16**15
    w = [math.exp(-eps * k) for k in range(k_max + 1)]
    z = w[0] + 2 * sum(w[1:])
    widths = [round(x / z * scale) for x in w]
    widths[0] = scale - 2 * sum(widths[1:])  # close exactly, keep symmetry
    out, cum = [], 0
    for k in range(-k_max, k_max + 1):
        cum += widths[abs(k)]
        out.append((k, cum))
    return out


def _q144_case(u_expr: str) -> str:
    """Shared CASE-ladder text (valid in both Spark SQL and DuckDB)."""
    parts = ["CASE"]
    for k, hi in _q144_thresholds()[:-1]:
        parts.append(f"WHEN {u_expr} < {hi} THEN {k}")
    parts.append(f"ELSE {_q144_thresholds()[-1][0]} END")
    return " ".join(parts)


def q144_dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .classify import md5_prefix_int

    cust = load(spark, sf_dir, "customer")
    cells = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("true_n")
    )
    u = md5_prefix_int(
        F.concat_ws("|", F.col("c_mktsegment"), F.col("c_nationkey")), 15
    )
    noisy = cells.withColumn("u", u).withColumn(
        "noise", F.expr(_q144_case("u"))
    ).withColumn(
        "noisy_n", F.greatest(F.col("true_n") + F.col("noise"), F.lit(0))
    )
    return (
        noisy.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("true_n").cast("long").alias("total_true"),
            F.sum("noisy_n").cast("long").alias("total_noisy"),
            F.max(F.abs(F.col("noise"))).cast("long").alias("max_abs_noise"),
            F.sum(F.abs(F.col("noise"))).cast("long").alias("sum_abs_noise"),
            F.sum((F.col("noise") == 0).cast("long")).alias("n_exact"),
        )
        .orderBy("c_mktsegment")
    )


def _q144_sql() -> str:
    from .classify import sql_md5_prefix_int

    return f"""
WITH cells AS (
  SELECT c_mktsegment, c_nationkey, COUNT(*) AS true_n
  FROM customer
  GROUP BY c_mktsegment, c_nationkey
),
seeded AS (
  SELECT c_mktsegment, true_n, {sql_md5_prefix_int(15)} AS u
  FROM (
    SELECT c_mktsegment, true_n,
           md5(c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR)) AS h
    FROM cells
  )
),
noised AS (
  SELECT c_mktsegment, true_n,
         {_q144_case("u")} AS noise
  FROM seeded
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(true_n) AS BIGINT) AS total_true,
       CAST(SUM(GREATEST(true_n + noise, 0)) AS BIGINT) AS total_noisy,
       CAST(MAX(ABS(noise)) AS BIGINT) AS max_abs_noise,
       CAST(SUM(ABS(noise)) AS BIGINT) AS sum_abs_noise,
       CAST(SUM(CASE WHEN noise = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
FROM noised
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


QUERIES["q144_dp_noisy_release"] = q144_dp_noisy_release
ORACLES["q144_dp_noisy_release"] = _q144_sql()
