"""Q97 — HyperLogLog distinct-count sketch, built from scratch and
replayed EXACTLY on both engines.

The reference pipeline sizes its corpus by counting rows/images
(`/root/reference/test.py:120-133` tallies processed records); the
100 TB generalization is cardinality estimation: "how many distinct
n-grams / users / URLs does this corpus contain" is the canonical
sketch workload, and HLL is the canonical sketch (Flajolet et al.
2007; Heule et al. "HyperLogLog in Practice", Google, 2013).

q17 already exercises Spark's built-in approx_count_distinct, but its
HLL++ register layout is engine-private, so that query is rows-only.
This query builds the sketch FROM PRIMITIVES so the DuckDB oracle can
replay it bit-for-bit — turning an "approximate" operator into a
hash-matched one:

  h       = first 15 hex digits of md5(shingle)       (60-bit portable hash)
  idx     = h % 512                                   (m = 512 registers, p = 9)
  w       = h // 512                                  (51-bit rho field)
  rho(w)  = 52 - bitlen(w), w = 0 -> 52               (leading-zero rank;
                                                       bitlen via bin(), which
                                                       both engines render
                                                       without leading zeros)
  M[idx]  = max(rho)                                  (the register file)

The estimator is evaluated in EXACT integer arithmetic — no floating
point anywhere, so partitioning/accumulation order cannot flip a bit:

  sum 2^-M scaled by 2^52:  S = sum(1 << (52 - M)) + n_zero * 2^52
  alpha_m = 0.7213 / (1 + 1.079/m) = 7213*m / (10*(1000m + 1079))
  E = alpha_m * m^2 / sum(2^-M)
    = (7213 * m^3 * 2^52)  DIV  (10*(1000m+1079) * S)

The numerator constant is ~4.4e27 — DECIMAL(38,0) in Spark, HUGEINT in
DuckDB; both `div`/`//` truncate identically. S <= m * 2^52 = 2^61
fits a BIGINT.

Mergeability — THE property that makes the sketch a distributed
operator — is proven inside the query: per-language register files are
merged by taking the element-wise max, and the merged scope's row must
equal the directly-computed global scope's row (the oracle recomputes
both independently, so the hash-match certifies max-merge == direct
on both engines).

Scale shape: the hash/idx/rho arithmetic is map-side codegen on the
shared persisted shingle index (`_shingle.py` — zero extra scans); the
only shuffles carry (scope, idx, rho) — 512 registers per scope, i.e.
KILOBYTES, regardless of whether the input is 500 docs or 100 TB. The
exact_distinct audit column is the one data-sized aggregation, present
to make the estimator's error measurable in the result itself (a
deployment doing pure estimation would drop it and shuffle only
registers).

Accuracy: sigma = 1.04/sqrt(512) ~= 4.6%, now guaranteed across
scales: the small-range (linear counting) branch — raw estimate
<= 5m/2 with zero registers present -> round(m*ln(m/V)) from a frozen
integer lookup shared by both engines (hll_lc_table) — removes the
raw estimator's low-fill bias (ADVICE r4). The large-range correction
is intentionally omitted: it compensates 32-bit hash collisions and
this sketch hashes into 60 bits. tests/test_approx_ops.py pins every
scope within 15% of exact at sf0.001 and exercises the LC branch
directly.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ._shingle import shingle_index, sql_shingle_index
from .classify import (
    log_bucket_expr,
    md5_prefix_int,
    sql_log_bucket_expr,
    sql_md5_prefix_int,
)

_P = 9
_M = 1 << _P  # 512 registers
_FIELD = 60 - _P  # 51-bit rho field; rho in 1..52
_NUM = 7213 * _M**3 * 2**_FIELD * 2  # alpha_m * m^3 scaled: 7213*m^3*2^52
# NB: 2**_FIELD * 2 == 2^52 — the S scale below.
_DEN_C = 10 * (1000 * _M + 1079)
_S_SCALE = 1 << (_FIELD + 1)  # 2^52: the scaled value of an empty register


def _rho(w: Column, field: int = _FIELD) -> Column:
    """Leading-zero rank of the ``field``-bit word: field+1 - bitlen(w);
    w = 0 -> field+1. Shared with st13's streaming register builder."""
    return F.when(w == 0, F.lit(field + 1)).otherwise(
        F.lit(field + 1) - F.length(F.bin(w))
    )


def hll_params(p: int) -> tuple[int, int, int, int, int]:
    """(m, field, num, den, scale) for a 60-bit-hash HLL at precision
    ``p`` — the ONE home of the integer estimator constants (q97 at
    p = 9, st13 at p = 8): est = num DIV (den * s_scaled)."""
    m = 1 << p
    field = 60 - p
    scale = 1 << (field + 1)
    return m, field, 7213 * m**3 * scale, 10 * (1000 * m + 1079), scale


def hll_lc_table(p: int) -> list[int]:
    """Frozen small-range (linear counting) lookup: entry V (1-indexed,
    V = number of zero registers) = round(m * ln(m / V)) — the standard
    HLL correction for low register fill (Flajolet et al. 2007 §4;
    ADVICE r4). Computed ONCE here in driver Python and embedded as
    integer literals in BOTH engines' expressions, so a libm rounding
    difference can never split the hash-match. Entry V = m maps to 0
    (empty sketch → zero distinct). The large-range correction is
    intentionally absent: it exists to undo 32-bit hash collisions and
    this sketch hashes into 60 bits — the collision regime (~2^60)
    is unreachable."""
    m = 1 << p
    return [round(m * math.log(m / v)) for v in range(1, m + 1)]


def sql_hll_estimate_case(p: int, *, raw: str = "raw_est", v: str = "n_zero_registers") -> str:
    """The DuckDB-side CASE applying the linear-counting branch to a
    precomputed raw estimate column — mirrors hll_estimate_frame's
    Spark expression, same frozen table, same 5m/2 threshold."""
    m = 1 << p
    table = ",".join(map(str, hll_lc_table(p)))
    return (
        f"CASE WHEN {v} > 0 AND {raw} <= {5 * m // 2}"
        f" THEN ([{table}])[CAST({v} AS INT)]"
        f" ELSE {raw} END"
    )


def hll_estimate_frame(regs: DataFrame, p: int, *group_cols: str) -> DataFrame:
    """Evaluate the integer HLL estimator over a register frame
    ``(…group_cols, idx, m_reg)`` → ``(…group_cols, n_zero_registers,
    s_scaled, hll_estimate)`` — shared by q97 and st13 so an estimator
    correction can never be applied to one consumer only."""
    m, field, num, den, scale = hll_params(p)
    agged = (
        regs.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {field + 1} - m_reg)")
            ).alias("s_present"),
        )
        if group_cols
        else regs.agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {field + 1} - m_reg)")
            ).alias("s_present"),
        )
    )
    lc = ",".join(map(str, hll_lc_table(p)))
    return (
        agged.select(
            *group_cols,
            (F.lit(m) - F.col("n_present")).cast("long").alias("n_zero_registers"),
            (F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(scale))
            .cast("long")
            .alias("s_scaled"),
        )
        .withColumn(
            "raw_est",
            F.expr(
                f"CAST('{num}' AS DECIMAL(38,0)) div "
                f"(CAST({den} AS DECIMAL(38,0)) * CAST(s_scaled AS DECIMAL(38,0)))"
            ).cast("long"),
        )
        # small-range correction: below 5m/2 with zero registers
        # present, the raw estimator is biased — switch to the frozen
        # linear-counting table (integer-exact on both engines)
        .withColumn(
            "hll_estimate",
            F.expr(
                f"CASE WHEN n_zero_registers > 0 AND raw_est <= {5 * m // 2}"
                f" THEN element_at(array({lc}), CAST(n_zero_registers AS INT))"
                " ELSE raw_est END"
            ).cast("long"),
        )
        .drop("raw_est")
    )


def q97_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    sh = shingle_index(spark, sf_dir).select("doc_id", "s")
    # ONE (lang, shingle) dedup feeds registers AND the exact audit —
    # without the pin, the join + md5 over the full index would re-run
    # for each of the four aggregation branches below. Registers are
    # insensitive to the dedup (max of identical rho's); the exact
    # count requires it anyway. In deployment this is a staged frame
    # like _shingle.py itself.
    row = (
        sh.join(docs, "doc_id")
        .select("lang", "s")
        .distinct()
        .select("lang", "s", md5_prefix_int(F.col("s"), 15).alias("h"))
        .select(
            "lang",
            "s",
            (F.col("h") % _M).alias("idx"),
            _rho(F.expr(f"h div {_M}")).alias("rho"),
        )
        .localCheckpoint(eager=False)
    )

    # r12 fold: the __all__ and __merged__ register files are PROVABLY
    # the same frame (max over all rows == max over per-lang maxes —
    # max is associative), so both scopes derive from the pinned
    # per-lang fold instead of re-aggregating the full index: 5 passes
    # over `row` become 3. The mergeability PROOF is intact — the
    # oracle still computes the two scopes independently, so the
    # hash-match certifies the fold. exact_lang uses count(*) (row is
    # (lang, s)-distinct by construction, so countDistinct == count —
    # drops the per-group distinct machinery), and the one remaining
    # global countDistinct is computed ONCE and exploded into both
    # scope labels (was two identical full-row aggregations). Paired
    # knob probe (min-of-4, sf0.1): min 2.532 vs 2.702, median 2.79
    # vs 2.849 folded vs unfolded; oracle MATCH sf0.01 + sf0.1.
    regs_lang = (
        row.groupBy("lang", "idx")
        .agg(F.max("rho").alias("m_reg"))
        .localCheckpoint(eager=False)  # KB-scale; feeds 3 consumers
    )
    merged = regs_lang.groupBy("idx").agg(F.max("m_reg").alias("m_reg"))
    regs = (
        regs_lang.select("lang", "idx", "m_reg")
        .unionByName(merged.select(F.lit("__all__").alias("lang"), "idx", "m_reg"))
        .unionByName(
            merged.select(F.lit("__merged__").alias("lang"), "idx", "m_reg")
        )
    )

    est = hll_estimate_frame(regs, _P, "lang").withColumnRenamed("lang", "scope")

    exact_lang = row.groupBy("lang").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    exact = exact_lang.unionByName(
        row.agg(F.countDistinct("s").alias("exact_distinct")).select(
            F.explode(
                F.array(F.lit("__all__"), F.lit("__merged__"))
            ).alias("lang"),
            "exact_distinct",
        )
    ).select(F.col("lang").alias("scope"), "exact_distinct")

    return (
        est.join(exact, "scope")
        .select(
            "scope",
            "n_zero_registers",
            "s_scaled",
            "hll_estimate",
            "exact_distinct",
            F.expr(
                "CAST(CAST(abs(hll_estimate - exact_distinct) AS DECIMAL(38,0))"
                " * 1000000 DIV exact_distinct AS BIGINT)"
            ).alias("err_ppm"),
        )
        .orderBy("scope")
    )


_SQL_H = sql_md5_prefix_int(15)

Q97_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
  FROM toks
  WHERE len(t) >= 3
),
tagged AS (
  SELECT lang, shingle, {_SQL_H} AS hv
  FROM (SELECT lang, UNNEST(s) AS shingle, md5(UNNEST(s)) AS h FROM sh)
),
rho AS (
  SELECT lang, shingle, hv % {_M} AS idx,
         CASE WHEN hv // {_M} = 0 THEN {_FIELD + 1}
              ELSE {_FIELD + 1} - length(bin(hv // {_M})) END AS rho
  FROM tagged
),
regs_lang AS (
  SELECT lang, idx, MAX(rho) AS m_reg FROM rho GROUP BY lang, idx
),
regs AS (
  SELECT lang, idx, m_reg FROM regs_lang
  UNION ALL
  SELECT '__all__' AS lang, idx, MAX(rho) AS m_reg FROM rho GROUP BY idx
  UNION ALL
  SELECT '__merged__' AS lang, idx, MAX(m_reg) AS m_reg FROM regs_lang GROUP BY idx
),
est AS (
  SELECT lang AS scope,
         CAST({_M} - COUNT(*) AS BIGINT) AS n_zero_registers,
         CAST(SUM(1::BIGINT << ({_FIELD + 1} - m_reg))
              + ({_M} - COUNT(*)) * {_S_SCALE}::BIGINT AS BIGINT) AS s_scaled
  FROM regs GROUP BY lang
),
exact_lang AS (
  SELECT lang, COUNT(DISTINCT shingle) AS exact_distinct FROM rho GROUP BY lang
),
exact_all AS (
  SELECT COUNT(DISTINCT shingle) AS exact_distinct FROM rho
),
exact AS (
  SELECT lang AS scope, exact_distinct FROM exact_lang
  UNION ALL SELECT '__all__', exact_distinct FROM exact_all
  UNION ALL SELECT '__merged__', exact_distinct FROM exact_all
),
final AS (
  SELECT e.scope, e.n_zero_registers, e.s_scaled,
         CAST(CAST('{_NUM}' AS HUGEINT)
              // ({_DEN_C}::HUGEINT * e.s_scaled::HUGEINT) AS BIGINT) AS raw_est,
         x.exact_distinct
  FROM est e JOIN exact x USING (scope)
),
corrected AS (
  SELECT scope, n_zero_registers, s_scaled,
         CAST({sql_hll_estimate_case(_P)} AS BIGINT) AS hll_estimate,
         exact_distinct
  FROM final
)
SELECT scope, n_zero_registers, s_scaled, hll_estimate,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       CAST(CAST(abs(hll_estimate - exact_distinct) AS HUGEINT)
            * 1000000 // exact_distinct AS BIGINT) AS err_ppm
FROM corrected
ORDER BY scope
"""


QUERIES = {"q97_hll_distinct": q97_hll_distinct}
ORACLES = {"q97_hll_distinct": Q97_SQL}


# ---------------------------------------------------------------------------
# Q113 — mergeable log-bucket quantile sketch (the DDSketch shape),
# pure integer arithmetic, hash-matched.
#
# Completes the from-scratch sketch family (q61 Bloom, q95 count-min,
# q97 HLL, q108 MinHash): quantiles. The q22/q23 tiers give exact and
# engine-private-approximate percentiles; THIS tier is the production
# monitoring shape — a DDSketch-style histogram (Masson et al., VLDB
# 2019) whose buckets are a pure function of the value, so histograms
# from different partitions/days/tables MERGE by adding counts.
#
# DDSketch's gamma-log bucket needs log(); this variant uses base-2
# log buckets with 4 sub-mantissa bits, entirely integer:
#
#   b      = bitlen(v)            (bin() length — the q97 idiom)
#   sub    = (v >> (b-5)) - 16    (4 bits after the leading 1)
#   bucket = 16*b + sub           (relative width 2^(b-5)/lo <= 1/16)
#   lo     = (16+sub) << (b-5),  hi = lo + (1 << (b-5))
#
# guaranteeing est/true in [1-1/17, 1+1/17] ~ +/-6% worst case (~3%
# at midpoint). Quantile lookup is a prefix-sum over the (tiny,
# bounded: <= 16*63 buckets) histogram with nearest-rank semantics —
# rank = ceil(q*n) — evaluated per scope and per target quantile.
#
# Mergeability is proven the q97 way: per-segment histograms are
# summed into a '__merged__' scope whose quantile rows must equal the
# directly-computed '__all__' scope, and the oracle replays both.
#
# Scale shape: bucketing is map-side codegen; the shuffle carries
# (scope, bucket) pairs — bounded by #scopes x ~1000 buckets
# regardless of data volume; quantile extraction windows run over
# that dim-scale frame. tests/test_approx_ops.py pins the estimate
# within the analytic error bound against numpy exact percentiles.
# ---------------------------------------------------------------------------

_Q113_QS = (250000, 500000, 750000, 900000, 990000)  # target quantiles, ppm


def q113_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice").cast("decimal(12,4)") * 100, 0).cast("long")
    vals = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(F.col("c_mktsegment").alias("scope"), cents.alias("v"))
        .filter(F.col("v") >= 16)  # b >= 5; order totals are always >= $1
    )
    bucketed = vals.select(
        "scope",
        F.expr(log_bucket_expr("v")).alias("bucket"),
    )
    # hist_seg is the DIM-SCALE histogram (scopes x ~1000 buckets);
    # localCheckpoint pins those few rows so the '__merged__' branch
    # derives from them without re-paying the fact scan+join. '__all__'
    # deliberately re-aggregates from the base — the independent direct
    # path the mergeability proof compares against (2 fact scans total,
    # not 3).
    hist_seg = (
        bucketed.groupBy("scope", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    hist_all = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("__all__").alias("scope"), "bucket", "n"
    )
    hist_merged = hist_seg.groupBy("bucket").agg(F.sum("n").alias("n")).select(
        F.lit("__merged__").alias("scope"), "bucket", "n"
    )
    hist = hist_seg.unionByName(hist_all).unionByName(hist_merged)

    # cumulative histogram + totals — the shared q67/q113/q117
    # machinery (classify.cumulate_histogram)
    from .classify import cumulate_histogram

    cum = cumulate_histogram(hist, "bucket", "scope")
    # the 5 target quantiles attach as a per-row literal-array explode —
    # pure projection, no join operator in the plan at all
    hit = (
        cum.withColumn(
            "q_ppm", F.explode(F.array(*[F.lit(q) for q in _Q113_QS]))
        )
        .withColumn(
            "rank", F.expr("(n_total * q_ppm + 999999) div 1000000")
        )
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy("scope", "q_ppm", "n_total")
        .agg(F.min("bucket").alias("bucket"))
    )
    return (
        hit.select(
            "scope",
            "q_ppm",
            F.col("n_total").cast("long").alias("n_total"),
            F.col("bucket").cast("long").alias("bucket"),
            F.expr("shiftleft(CAST(16 + bucket % 16 AS BIGINT), CAST(bucket div 16 AS INT) - 5)").alias("lo"),
        )
        .withColumn(
            "hi",
            F.col("lo") + F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket div 16 AS INT) - 5)"),
        )
        .withColumn("est_cents", F.expr("(lo + hi) div 2"))
        .orderBy("scope", "q_ppm")
    )


_Q113_QLIST = ", ".join(str(q) for q in _Q113_QS)

Q113_SQL = f"""
WITH vals AS (
  SELECT c_mktsegment AS scope,
         CAST(round(CAST(o_totalprice AS DECIMAL(12,4)) * 100, 0) AS BIGINT) AS v
  FROM orders JOIN customer ON o_custkey = c_custkey
),
bucketed AS (
  SELECT scope,
         {sql_log_bucket_expr('v')} AS bucket
  FROM vals WHERE v >= 16
),
hist AS (
  SELECT scope, bucket, COUNT(*) AS n FROM bucketed GROUP BY scope, bucket
  UNION ALL
  SELECT '__all__' AS scope, bucket, COUNT(*) AS n FROM bucketed GROUP BY bucket
  UNION ALL
  SELECT '__merged__' AS scope, bucket, SUM(n) AS n
  FROM (SELECT scope, bucket, COUNT(*) AS n FROM bucketed GROUP BY scope, bucket)
  GROUP BY bucket
),
cum AS (
  SELECT scope, bucket, n,
         SUM(n) OVER (PARTITION BY scope ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n) OVER (PARTITION BY scope) AS n_total
  FROM hist
),
qs AS (SELECT UNNEST([{_Q113_QLIST}]) AS q_ppm),
hit AS (
  SELECT scope, q_ppm, n_total, MIN(bucket) AS bucket
  FROM cum CROSS JOIN qs
  WHERE cum >= (n_total * q_ppm + 999999) // 1000000
  GROUP BY scope, q_ppm, n_total
)
SELECT scope,
       CAST(q_ppm AS INTEGER) AS q_ppm,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(bucket AS BIGINT) AS bucket,
       CAST((16 + bucket % 16) << (bucket // 16 - 5) AS BIGINT) AS lo,
       CAST(((16 + bucket % 16) << (bucket // 16 - 5))
            + (1::BIGINT << (bucket // 16 - 5)) AS BIGINT) AS hi,
       CAST((((16 + bucket % 16) << (bucket // 16 - 5)) * 2
             + (1::BIGINT << (bucket // 16 - 5))) // 2 AS BIGINT) AS est_cents
FROM hit
ORDER BY scope, q_ppm
"""

QUERIES["q113_quantile_sketch"] = q113_quantile_sketch
ORACLES["q113_quantile_sketch"] = Q113_SQL


# ---------------------------------------------------------------------------
# Q148 — pairwise source-vocabulary overlap from MERGED HLL sketches
# (inclusion-exclusion over register files).
#
# The production question: "how much does crawl source A's shingle
# vocabulary overlap source B's?" — the dedup/mixing planner's input.
# At 100 TB you cannot afford a pairwise raw-data intersection across
# every source pair; the sketch answer is the classical one (Flajolet
# 2007 §5): |A ∩ B| ≈ E(A) + E(B) − E(A ∪ B), where E(A ∪ B) comes
# FREE from the register algebra — union registers = element-wise max
# of the two register files. This query certifies that algebra under
# the oracle gate using q97's exact-integer estimator (no floats, so
# both engines agree bit-for-bit).
#
# Scale shape: raw data is touched ONCE (the shared shingle index);
# everything pairwise runs on register files — 512 ints per source,
# so the P(P-1)/2 pair frame is kilobytes regardless of corpus size.
# The exact_overlap audit column is the one data-sized branch (shingle
# self-join, vocabulary-bounded); a deployment doing pure estimation
# drops it and never shuffles more than registers. Pair expansion is
# two equi-joins + a max-merge — never a broadcast-nested-loop.
# ---------------------------------------------------------------------------


def q148_hll_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    sh = shingle_index(spark, sf_dir).select("doc_id", "s")
    row = (
        sh.join(docs, "doc_id")
        .select("source", "s")
        .distinct()
        .select("source", "s", md5_prefix_int(F.col("s"), 15).alias("h"))
        .select(
            "source",
            "s",
            (F.col("h") % _M).alias("idx"),
            _rho(F.expr(f"h div {_M}")).alias("rho"),
        )
        .localCheckpoint(eager=False)
    )
    # pin the per-source register fold (r12, VERDICT r11 #4): sregs
    # feeds THREE consumers (both pair-expansion legs of pregs and
    # est_src) — without the pin each consumer re-ran the
    # groupBy(source, idx) shuffle+agg over the pinned row blocks.
    # The fold itself is already two-phase (partial_max map-side, then
    # final max after the exchange — Spark's built-in agg); the pin
    # makes the driver-bound stage chain pay it once. Register frames
    # are P sources x 512 idx rows — kilobytes at any corpus size.
    # Evidence: plan HashAggregates 60 -> 44, Exchanges 52 -> 44
    # (plans/r12); paired knob probes, both orders, mins 3.40 vs 3.53
    # and 3.06 vs 3.12 s pinned vs unpinned at sf0.1.
    sregs = (
        row.groupBy("source", "idx")
        .agg(F.max("rho").alias("m_reg"))
        .localCheckpoint(eager=False)
    )
    # r12 continuation: the source list comes off the pinned KB-scale
    # register fold, not another full pass over the pinned index —
    # every source in `row` owns at least one register row, so the
    # distinct sets are identical by construction. Paired knob probes,
    # both orders (min-of-4, sf0.1): mins 4.799/4.158 vs 4.488/4.490 —
    # a local wash, kept for the removed full-index pass at scale.
    # Oracle MATCH sf0.01 + sf0.1.
    srcs = sregs.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .join(
            F.broadcast(srcs.select(F.col("source").alias("sb"))),
            F.col("sa") < F.col("sb"),
        )
    )
    pregs = (
        pairs.join(sregs.withColumnRenamed("source", "sa"), "sa")
        .select("sa", "sb", "idx", "m_reg")
        .unionByName(
            pairs.join(sregs.withColumnRenamed("source", "sb"), "sb").select(
                "sa", "sb", "idx", "m_reg"
            )
        )
        .groupBy("sa", "sb", "idx")
        .agg(F.max("m_reg").alias("m_reg"))
    )
    est_pair = hll_estimate_frame(pregs, _P, "sa", "sb").select(
        "sa", "sb", F.col("hll_estimate").alias("est_union")
    )
    est_src = hll_estimate_frame(sregs, _P, "source").select(
        "source", "hll_estimate"
    )
    inter = (
        row.select(F.col("source").alias("sa"), "s")
        .join(row.select(F.col("source").alias("sb"), "s"), "s")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    return (
        pairs.join(
            est_src.select(F.col("source").alias("sa"), F.col("hll_estimate").alias("est_a")),
            "sa",
        )
        .join(
            est_src.select(F.col("source").alias("sb"), F.col("hll_estimate").alias("est_b")),
            "sb",
        )
        .join(est_pair, ["sa", "sb"])
        .join(inter, ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("src_a"),
            F.col("sb").alias("src_b"),
            "est_a",
            "est_b",
            "est_union",
            F.greatest(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0)
            ).cast("long").alias("overlap_est"),
            F.coalesce("exact_overlap", F.lit(0)).alias("exact_overlap"),
        )
        .orderBy("src_a", "src_b")
    )


def _q148_sql() -> str:
    est_exprs = f"""
         CAST({_M} - COUNT(*) AS BIGINT) AS n_zero_registers,
         CAST(SUM(1::BIGINT << ({_FIELD + 1} - m_reg))
              + ({_M} - COUNT(*)) * {_S_SCALE}::BIGINT AS BIGINT) AS s_scaled"""
    corrected = sql_hll_estimate_case(_P)
    return f"""
WITH {sql_shingle_index()},
rowd AS (
  SELECT DISTINCT source, shingle FROM (SELECT source, UNNEST(s) AS shingle FROM sh)
),
tagged AS (
  SELECT source, shingle, {_SQL_H} AS hv
  FROM (SELECT source, shingle, md5(shingle) AS h FROM rowd)
),
rho AS (
  SELECT source, shingle, hv % {_M} AS idx,
         CASE WHEN hv // {_M} = 0 THEN {_FIELD + 1}
              ELSE {_FIELD + 1} - length(bin(hv // {_M})) END AS rho
  FROM tagged
),
sregs AS (
  SELECT source, idx, MAX(rho) AS m_reg FROM rho GROUP BY source, idx
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM (SELECT DISTINCT source FROM rowd) a
  JOIN (SELECT DISTINCT source FROM rowd) b ON a.source < b.source
),
pregs AS (
  SELECT sa, sb, idx, MAX(m_reg) AS m_reg FROM (
    SELECT p.sa, p.sb, r.idx, r.m_reg FROM pairs p JOIN sregs r ON r.source = p.sa
    UNION ALL
    SELECT p.sa, p.sb, r.idx, r.m_reg FROM pairs p JOIN sregs r ON r.source = p.sb
  ) GROUP BY sa, sb, idx
),
est_src_raw AS (
  SELECT source,{est_exprs}
  FROM sregs GROUP BY source
),
est_src_r AS (
  SELECT source, n_zero_registers,
         CAST(CAST('{_NUM}' AS HUGEINT)
              // ({_DEN_C}::HUGEINT * s_scaled::HUGEINT) AS BIGINT) AS raw_est
  FROM est_src_raw
),
est_src AS (
  SELECT source, CAST({corrected} AS BIGINT) AS hll_estimate FROM est_src_r
),
est_pair_raw AS (
  SELECT sa, sb,{est_exprs}
  FROM pregs GROUP BY sa, sb
),
est_pair_r AS (
  SELECT sa, sb, n_zero_registers,
         CAST(CAST('{_NUM}' AS HUGEINT)
              // ({_DEN_C}::HUGEINT * s_scaled::HUGEINT) AS BIGINT) AS raw_est
  FROM est_pair_raw
),
est_pair AS (
  SELECT sa, sb, CAST({corrected} AS BIGINT) AS est_union FROM est_pair_r
),
inter AS (
  SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS exact_overlap
  FROM rowd a JOIN rowd b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.sa AS src_a, p.sb AS src_b,
       ea.hll_estimate AS est_a,
       eb.hll_estimate AS est_b,
       ep.est_union,
       CAST(GREATEST(ea.hll_estimate + eb.hll_estimate - ep.est_union, 0)
            AS BIGINT) AS overlap_est,
       COALESCE(i.exact_overlap, 0) AS exact_overlap
FROM pairs p
JOIN est_src ea ON p.sa = ea.source
JOIN est_src eb ON p.sb = eb.source
JOIN est_pair ep ON p.sa = ep.sa AND p.sb = ep.sb
LEFT JOIN inter i ON p.sa = i.sa AND p.sb = i.sb
ORDER BY src_a, src_b
"""


QUERIES["q148_hll_source_overlap"] = q148_hll_source_overlap
ORACLES["q148_hll_source_overlap"] = _q148_sql()
