"""Pipeline-quality audit queries (SURVEY.md §2 M115-M116).

The dedup/curation stack is only trustworthy at 100 TB if its
approximations are AUDITED against exact ground truth on the same
corpus — these queries are those audits, hash-exact on both engines:

- q152_lsh_recall_audit: confusion table (tp/fp/fn, precision/recall
  in exact ppm) of the q122 MinHash-LSH candidate generator against
  the exact capped-pair Jaccard truth at a fixed threshold. This is
  the query a user runs BEFORE trusting banded LSH to replace exact
  near-dup scans on the full corpus.
- q153_repetition_signals: Gopher-style in-document repetition
  quality signals (top-token fraction, duplicate-bigram fraction,
  distinct-token ratio — all exact integer ppm), aggregated per
  (source, lang) with a flagged-document count.

Reference parity: the reference pipeline (test.py) has no audit tier;
these extend the mandated LLM-training-data surface (near-dup §,
text-quality §) the same way q122/q62 do.

Scale shape (100 TB):
- q152's truth side is the SAME df-capped inverted-index pair
  generator as q14c/q30 (never all-pairs; per-source shingle df caps
  bound the explode), and its LSH side is the q122 banded/bucket-capped
  candidate join. The confusion step is one pair-key equi-join of two
  already-small pair sets plus a per-source agg — dim-scale.
- q153 is entirely map-side per document (array ops inside whole-stage
  codegen: sort + run-length aggregate; no token explode, no shuffle of
  corpus text) followed by ONE hash agg on (source, lang).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ._shingle import (
    _LSH_BAND_KEY,
    doubled_index,
    lsh_bands,
    lsh_capped_buckets,
    lsh_signatures,
    shingle_index,
    sql_doubled_index,
    sql_lsh_bands,
    sql_lsh_capped_buckets,
    sql_lsh_signatures,
    sql_shingle_index,
)
from .dedup import _capped_pair_edges, _sql_capped_pairs
from .sampling import _BUCKETS as _SPL_BUCKETS
from .sampling import _K as _SPL_K
from .sampling import _SEED as _SPL_SEED

# two-tier exact-Jaccard truth for the recall audit: the audit reports
# recall on STRONG pairs (>= 0.2 Jaccard — the q14c family's working
# near-dup band; 4x4 banding must keep essentially all of these) AND on
# ALL materially-overlapping capped pairs (>= 1 % — the tail the
# banding knowingly sacrifices; its recall here is the measured cost of
# the LSH shortcut). The doubled corpus (q122's idiom) guarantees the
# strong tier is non-degenerate at every SF.
_TRUTH_PPM_ALL = 10_000
_TRUTH_PPM_STRONG = 200_000

# q153 flag thresholds (ppm): a doc is repetition-flagged when its most
# frequent token exceeds 20 % of tokens or >10 % of its bigrams are
# repeats — the Gopher-rule shape, calibrated so the synthetic corpus
# flags a small nonzero tail (~3 % at sf0.01).
_TOP_TOK_PPM = 200_000
_DUP_BIGRAM_PPM = 100_000


def q152_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source confusion table of banded MinHash-LSH candidates vs
    exact capped-pair Jaccard truth (>= _TRUTH_PPM).

    Per source: truth-set sizes at both tiers, the candidate count,
    tp/fp against the ALL tier, and recall at both tiers plus
    precision — all exact integer ppm, so the driver hash-checks the
    audit itself. The expected 100 TB reading: recall_strong_ppm at or
    near 1e6 (banding keeps real near-dups), recall_all_ppm well below
    it (the measured cost of skipping the low-overlap tail)."""
    shd = doubled_index(spark, sf_dir).localCheckpoint(eager=False)

    # r12 continuation: n_sh rides the signature agg (the q122 move —
    # it is constant per doc, so F.first in the same groupBy is free);
    # the per-doc (doc_id, n_sh) map for the truth side then comes off
    # the pinned sigs frame instead of a separate distinct pass over
    # the full doubled index — one fewer full-index shuffle+agg at any
    # scale. Paired knob probes, both orders (min-of-4, sf0.1): mins
    # 5.324/5.486 vs 5.330/5.259 — a local wash (the deleted pass ran
    # on idle cores), kept for the structural win, matching q122's
    # generator shape. Oracle MATCH sf0.01 + sf0.1.
    sigs = lsh_signatures(shd, "n_sh").localCheckpoint(eager=False)
    nsh = sigs.select("doc_id", "n_sh")

    # truth: exact Jaccard over df-capped pairs (q14c's generator)
    truth = (
        _capped_pair_edges(shd, min_common=2)
        .join(nsh.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(nsh.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .select(
            "source",
            "id_a",
            "id_b",
            F.expr("n_common * 1000000 DIV (n_a + n_b - n_common)").alias("jacc_ppm"),
        )
        .filter(F.col("jacc_ppm") >= _TRUTH_PPM_ALL)
        .select(
            "source",
            "id_a",
            "id_b",
            (F.col("jacc_ppm") >= _TRUTH_PPM_STRONG).cast("long").alias("strong"),
        )
    )

    # candidates: q122's 16-perm / 4x4-band / capped-bucket generator
    bands = lsh_bands(sigs).localCheckpoint(eager=False)
    # ^ the q122 pin: bands feeds THREE branches (keep + both bucket-join
    # sides); unpinned, the optimizer re-expands the explode subtree
    # into each (r11 — q122 carries the same pin for the same reason)
    bkey = _LSH_BAND_KEY
    bb = lsh_capped_buckets(bands)
    cand = (
        bb.select(*bkey, F.col("doc_id").alias("id_a"))
        .join(bb.select(*bkey, F.col("doc_id").alias("id_b")), bkey)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("source", "id_a", "id_b")
        .distinct()
    )

    # confusion: one full-outer pair-key join, then a per-source agg
    conf = truth.withColumn("t", F.lit(1)).join(
        cand.withColumn("c", F.lit(1)), ["source", "id_a", "id_b"], "full_outer"
    )
    is_t = F.col("t").isNotNull()
    is_c = F.col("c").isNotNull()
    return (
        conf.groupBy("source")
        .agg(
            F.sum(is_t.cast("long")).alias("n_truth"),
            F.sum(F.coalesce(F.col("strong"), F.lit(0))).cast("long").alias("n_strong"),
            F.sum(is_c.cast("long")).alias("n_cand"),
            F.sum((is_t & is_c).cast("long")).alias("tp"),
            F.sum(
                (is_c & F.coalesce(F.col("strong"), F.lit(0)).cast("boolean")).cast(
                    "long"
                )
            ).alias("tp_strong"),
            F.sum((~is_t & is_c).cast("long")).alias("fp"),
            F.sum((is_t & ~is_c).cast("long")).alias("fn"),
        )
        .select(
            "source",
            "n_truth",
            "n_strong",
            "n_cand",
            "tp",
            "tp_strong",
            "fp",
            "fn",
            F.expr(
                "CASE WHEN n_cand = 0 THEN CAST(0 AS BIGINT) "
                "ELSE tp * 1000000 DIV n_cand END"
            ).alias("precision_ppm"),
            F.expr(
                "CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT) "
                "ELSE tp * 1000000 DIV n_truth END"
            ).alias("recall_all_ppm"),
            F.expr(
                "CASE WHEN n_strong = 0 THEN CAST(0 AS BIGINT) "
                "ELSE tp_strong * 1000000 DIV n_strong END"
            ).alias("recall_strong_ppm"),
        )
        .orderBy("source")
    )


# per-doc run-length maximum over the SORTED token array = count of the
# most frequent token, computed entirely map-side (no token explode):
# sorting groups equal tokens contiguously, and one aggregate() scan
# carries (prev, run, best) through the array inside codegen.
_TOP_RUN = """
aggregate(
  array_sort(toks),
  named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT),
               'best', CAST(0 AS BIGINT)),
  (acc, x) -> named_struct(
    'prev', x,
    'run', CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
                THEN acc.run + 1 ELSE CAST(1 AS BIGINT) END,
    'best', GREATEST(acc.best,
            CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
                 THEN acc.run + 1 ELSE CAST(1 AS BIGINT) END)),
  acc -> acc.best)
"""


def q153_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style in-document repetition signals per (source, lang):
    average top-token / duplicate-bigram / distinct-token ppm plus the
    count of repetition-flagged docs. Exact integer arithmetic
    end-to-end."""
    docs = load(spark, sf_dir, "documents")
    per_doc = (
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.expr(r"filter(split(lower(text), '\\s+'), x -> x <> '')").alias("toks"),
        )
        .filter(F.expr("size(toks) >= 2"))
        .select(
            "source",
            "lang",
            F.expr("CAST(size(toks) AS BIGINT)").alias("n_tok"),
            F.expr("CAST(size(array_distinct(toks)) AS BIGINT)").alias("n_dist"),
            F.expr(_TOP_RUN).alias("top_cnt"),
            F.expr(
                "CAST(size(toks) - 1 - size(array_distinct("
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i + 1])))) AS BIGINT)"
            ).alias("dup_bi"),
        )
        .select(
            "source",
            "lang",
            F.expr("top_cnt * 1000000 DIV n_tok").alias("top_ppm"),
            F.expr("dup_bi * 1000000 DIV (n_tok - 1)").alias("dup_bi_ppm"),
            F.expr("n_dist * 1000000 DIV n_tok").alias("dist_ppm"),
        )
    )
    flagged = (
        (F.col("top_ppm") > _TOP_TOK_PPM) | (F.col("dup_bi_ppm") > _DUP_BIGRAM_PPM)
    ).cast("long")
    return (
        per_doc.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("top_ppm").alias("s_top"),
            F.sum("dup_bi_ppm").alias("s_bi"),
            F.sum("dist_ppm").alias("s_dist"),
            F.sum(flagged).alias("n_flagged"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            F.expr("s_top DIV n_docs").alias("avg_top_ppm"),
            F.expr("s_bi DIV n_docs").alias("avg_dup_bigram_ppm"),
            F.expr("s_dist DIV n_docs").alias("avg_distinct_ppm"),
            "n_flagged",
        )
        .orderBy("source", "lang")
    )


def _sql_q152() -> str:
    return f"""
WITH {sql_doubled_index()},
{_sql_capped_pairs(2)},
nsh AS (SELECT DISTINCT doc_id, n_sh FROM inv),
truth AS (
  SELECT p.source, p.id_a, p.id_b,
         CASE WHEN p.n_common * 1000000 // (na.n_sh + nb.n_sh - p.n_common)
                   >= {_TRUTH_PPM_STRONG} THEN 1 ELSE 0 END AS strong
  FROM pairs p
  JOIN nsh na ON na.doc_id = p.id_a
  JOIN nsh nb ON nb.doc_id = p.id_b
  WHERE p.n_common * 1000000 // (na.n_sh + nb.n_sh - p.n_common)
        >= {_TRUTH_PPM_ALL}
),
{sql_lsh_signatures()},
{sql_lsh_bands()},
{sql_lsh_capped_buckets()},
cand AS (
  SELECT DISTINCT a.source, a.doc_id AS id_a, b.doc_id AS id_b
  FROM bb a JOIN bb b
    ON a.source = b.source AND a.band = b.band
   AND a.r0 = b.r0 AND a.r1 = b.r1 AND a.r2 = b.r2 AND a.r3 = b.r3
   AND a.doc_id < b.doc_id
),
conf AS (
  SELECT COALESCE(t.source, c.source) AS source,
         CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_t,
         COALESCE(t.strong, 0) AS strong,
         CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_c
  FROM truth t
  FULL OUTER JOIN cand c
    ON t.source = c.source AND t.id_a = c.id_a AND t.id_b = c.id_b
)
SELECT source,
       CAST(SUM(is_t) AS BIGINT) AS n_truth,
       CAST(SUM(strong) AS BIGINT) AS n_strong,
       CAST(SUM(is_c) AS BIGINT) AS n_cand,
       CAST(SUM(is_t * is_c) AS BIGINT) AS tp,
       CAST(SUM(strong * is_c) AS BIGINT) AS tp_strong,
       CAST(SUM((1 - is_t) * is_c) AS BIGINT) AS fp,
       CAST(SUM(is_t * (1 - is_c)) AS BIGINT) AS fn,
       CAST(CASE WHEN SUM(is_c) = 0 THEN 0
                 ELSE SUM(is_t * is_c) * 1000000 // SUM(is_c) END AS BIGINT)
         AS precision_ppm,
       CAST(CASE WHEN SUM(is_t) = 0 THEN 0
                 ELSE SUM(is_t * is_c) * 1000000 // SUM(is_t) END AS BIGINT)
         AS recall_all_ppm,
       CAST(CASE WHEN SUM(strong) = 0 THEN 0
                 ELSE SUM(strong * is_c) * 1000000 // SUM(strong) END AS BIGINT)
         AS recall_strong_ppm
FROM conf
GROUP BY source
ORDER BY source
"""


_SQL_Q153 = rf"""
WITH tk AS (
  SELECT doc_id, source, lang,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
),
base AS (
  SELECT doc_id, source, lang,
         CAST(len(toks) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist,
         CAST(len(toks) - 1 - len(list_distinct(list_transform(
             range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])))
           AS BIGINT) AS dup_bi
  FROM tk WHERE len(toks) >= 2
),
tops AS (
  SELECT doc_id, MAX(c) AS top_cnt FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, UNNEST(toks) AS tok FROM tk WHERE len(toks) >= 2)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
),
per_doc AS (
  SELECT b.source, b.lang,
         t.top_cnt * 1000000 // b.n_tok AS top_ppm,
         b.dup_bi * 1000000 // (b.n_tok - 1) AS dup_bi_ppm,
         b.n_dist * 1000000 // b.n_tok AS dist_ppm
  FROM base b JOIN tops t USING (doc_id)
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(top_ppm) // COUNT(*) AS BIGINT) AS avg_top_ppm,
       CAST(SUM(dup_bi_ppm) // COUNT(*) AS BIGINT) AS avg_dup_bigram_ppm,
       CAST(SUM(dist_ppm) // COUNT(*) AS BIGINT) AS avg_distinct_ppm,
       CAST(SUM(CASE WHEN top_ppm > {_TOP_TOK_PPM}
                       OR dup_bi_ppm > {_DUP_BIGRAM_PPM}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM per_doc
GROUP BY source, lang
ORDER BY source, lang
"""


# ---------------------------------------------------------------------------
# Q154 — train/val/test split-leakage audit (M117): near-dup pairs that
# STRADDLE the deterministic split are eval contamination — a test doc
# whose near-duplicate sits in train leaks the benchmark into training
# (Dodge et al. 2021; the reason C4/Pile decontaminate before splitting,
# not after). The audit counts, per source: all strong near-dup pairs
# (the q14c >= 0.2 Jaccard tier over the df-capped pair generator),
# pairs crossing any split boundary, cross pairs touching an eval
# (test/val) member, the DISTINCT eval docs so compromised, and the
# leak rate in exact ppm. Split assignment is the q26/q65 portable-hash
# arithmetic evaluated MAP-SIDE on each pair's own id columns — zero
# extra joins beyond the pair generator itself. Corpus doubled (q122's
# idiom) so exact-dup pairs exist — and straddle splits — at every SF.
# ---------------------------------------------------------------------------
_Q154_STRONG_PPM = 200_000


def _split_of(idcol):
    b = F.pmod(idcol * F.lit(_SPL_K) + F.lit(_SPL_SEED), F.lit(_SPL_BUCKETS))
    return (
        F.when(b < 100_000, F.lit("test"))
        .when(b < 200_000, F.lit("val"))
        .otherwise(F.lit("train"))
    )


def q154_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    shd = doubled_index(spark, sf_dir).localCheckpoint(eager=False)
    nsh = shd.select("doc_id", "n_sh").distinct()
    pairs = (
        _capped_pair_edges(shd, min_common=2)
        .join(nsh.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(nsh.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .filter(
            F.expr("n_common * 1000000 DIV (n_a + n_b - n_common)")
            >= _Q154_STRONG_PPM
        )
        .select(
            "source",
            "id_a",
            "id_b",
            _split_of(F.col("id_a")).alias("sp_a"),
            _split_of(F.col("id_b")).alias("sp_b"),
        )
        .localCheckpoint(eager=False)  # pair set reused by both aggs below
    )
    cross = F.col("sp_a") != F.col("sp_b")
    eval_leak = cross & (
        F.col("sp_a").isin("test", "val") | F.col("sp_b").isin("test", "val")
    )
    per_src = pairs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(cross.cast("long")).alias("n_cross"),
        F.sum(eval_leak.cast("long")).alias("n_eval_leak"),
    )
    # distinct eval docs with a cross-split near-dup: a doc can appear
    # as id_a in one pair and id_b in another, so count over the UNION
    # of both legs, not per-column.
    legs = pairs.filter(cross).select(
        "source", F.col("id_a").alias("id"), F.col("sp_a").alias("sp")
    ).unionByName(
        pairs.filter(cross).select(
            "source", F.col("id_b").alias("id"), F.col("sp_b").alias("sp")
        )
    )
    leaked = (
        legs.filter(F.col("sp").isin("test", "val"))
        .select("source", "id")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_leaked_eval_docs"))
    )
    return (
        per_src.join(leaked, "source", "left")
        .select(
            "source",
            "n_pairs",
            "n_cross",
            "n_eval_leak",
            F.coalesce("n_leaked_eval_docs", F.lit(0)).cast("long").alias(
                "n_leaked_eval_docs"
            ),
            F.expr(
                "CASE WHEN n_pairs = 0 THEN CAST(0 AS BIGINT) "
                "ELSE n_eval_leak * 1000000 DIV n_pairs END"
            ).alias("leak_ppm"),
        )
        .orderBy("source")
    )


_SQL_Q154 = f"""
WITH {sql_doubled_index()},
{_sql_capped_pairs(2)},
nsh AS (SELECT DISTINCT doc_id, n_sh FROM inv),
sp AS (
  SELECT p.source, p.id_a, p.id_b,
         CASE WHEN (p.id_a * {_SPL_K} + {_SPL_SEED}) % {_SPL_BUCKETS} < 100000
                THEN 'test'
              WHEN (p.id_a * {_SPL_K} + {_SPL_SEED}) % {_SPL_BUCKETS} < 200000
                THEN 'val' ELSE 'train' END AS sp_a,
         CASE WHEN (p.id_b * {_SPL_K} + {_SPL_SEED}) % {_SPL_BUCKETS} < 100000
                THEN 'test'
              WHEN (p.id_b * {_SPL_K} + {_SPL_SEED}) % {_SPL_BUCKETS} < 200000
                THEN 'val' ELSE 'train' END AS sp_b
  FROM pairs p
  JOIN nsh na ON na.doc_id = p.id_a
  JOIN nsh nb ON nb.doc_id = p.id_b
  WHERE p.n_common * 1000000 // (na.n_sh + nb.n_sh - p.n_common)
        >= {_Q154_STRONG_PPM}
),
per_src AS (
  SELECT source,
         COUNT(*) AS n_pairs,
         SUM(CASE WHEN sp_a <> sp_b THEN 1 ELSE 0 END) AS n_cross,
         SUM(CASE WHEN sp_a <> sp_b
                   AND (sp_a IN ('test', 'val') OR sp_b IN ('test', 'val'))
                  THEN 1 ELSE 0 END) AS n_eval_leak
  FROM sp GROUP BY source
),
legs AS (
  SELECT source, id_a AS id, sp_a AS sp FROM sp WHERE sp_a <> sp_b
  UNION ALL
  SELECT source, id_b AS id, sp_b AS sp FROM sp WHERE sp_a <> sp_b
),
leaked AS (
  SELECT source, COUNT(DISTINCT id) AS n_leaked_eval_docs
  FROM legs WHERE sp IN ('test', 'val') GROUP BY source
)
SELECT p.source,
       CAST(p.n_pairs AS BIGINT) AS n_pairs,
       CAST(p.n_cross AS BIGINT) AS n_cross,
       CAST(p.n_eval_leak AS BIGINT) AS n_eval_leak,
       CAST(COALESCE(l.n_leaked_eval_docs, 0) AS BIGINT) AS n_leaked_eval_docs,
       CAST(CASE WHEN p.n_pairs = 0 THEN 0
                 ELSE p.n_eval_leak * 1000000 // p.n_pairs END AS BIGINT)
         AS leak_ppm
FROM per_src p LEFT JOIN leaked l USING (source)
ORDER BY p.source
"""


# ---------------------------------------------------------------------------
# Q155 — Jaccard threshold sweep (M118): the calibration curve an
# operator reads before CHOOSING a dedup threshold — per (source,
# jaccard decile bucket): pair count, cumulative pairs at >= that
# bucket (the window an engine would actually delete at each candidate
# threshold), and the distinct docs the bucket touches. Exact integer
# ppm bucketing over the SAME df-capped pair generator as q14c/q152, on
# the natural (undoubled) corpus — this audits the real corpus's
# overlap distribution, not a synthetic one. The cumulative column is a
# ~20x11-row window, driver-scale by construction.
# ---------------------------------------------------------------------------
_Q155_FLOOR_PPM = 10_000


def q155_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    sh = shingle_index(spark, sf_dir)
    nsh = sh.select("doc_id", "n_sh").distinct()
    pairs = (
        _capped_pair_edges(sh, min_common=2)
        .join(nsh.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(nsh.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .select(
            "source",
            "id_a",
            "id_b",
            F.expr("n_common * 1000000 DIV (n_a + n_b - n_common)").alias("jacc_ppm"),
        )
        .filter(F.col("jacc_ppm") >= _Q155_FLOOR_PPM)
        .select(
            "source",
            "id_a",
            "id_b",
            F.least(F.expr("jacc_ppm DIV 100000"), F.lit(10)).alias("bucket"),
        )
        # pair set feeds three subtrees (per_bucket + both legs of
        # docs_in_bucket) — pinned like q154's, else the inverted-index
        # pair generation re-expands into each (r11; was 3 computations
        # of the capped self-join per run, 134-exchange plan)
        .localCheckpoint(eager=False)
    )
    per_bucket = pairs.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    docs_in_bucket = (
        pairs.select("source", "bucket", F.col("id_a").alias("id"))
        .unionByName(pairs.select("source", "bucket", F.col("id_b").alias("id")))
        .distinct()
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_bucket.join(docs_in_bucket, ["source", "bucket"])
        .select(
            "source",
            (F.col("bucket") * 100_000).cast("long").alias("bucket_lo_ppm"),
            "n_pairs",
            F.sum("n_pairs").over(w).cast("long").alias("cum_pairs_at_or_above"),
            "n_docs",
        )
        .orderBy("source", "bucket_lo_ppm")
    )


_SQL_Q155 = f"""
WITH {sql_shingle_index()},
inv AS (
  SELECT doc_id, source, len(s) AS n_sh, UNNEST(s) AS shingle FROM sh
),
{_sql_capped_pairs(2)},
nsh AS (SELECT DISTINCT doc_id, n_sh FROM inv),
jp AS (
  SELECT p.source, p.id_a, p.id_b,
         p.n_common * 1000000 // (na.n_sh + nb.n_sh - p.n_common) AS jacc_ppm
  FROM pairs p
  JOIN nsh na ON na.doc_id = p.id_a
  JOIN nsh nb ON nb.doc_id = p.id_b
  WHERE p.n_common * 1000000 // (na.n_sh + nb.n_sh - p.n_common)
        >= {_Q155_FLOOR_PPM}
),
bp AS (
  SELECT source, id_a, id_b, least(jacc_ppm // 100000, 10) AS bucket FROM jp
),
per_bucket AS (
  SELECT source, bucket, COUNT(*) AS n_pairs FROM bp GROUP BY source, bucket
),
docs_in_bucket AS (
  SELECT source, bucket, COUNT(*) AS n_docs FROM (
    SELECT DISTINCT source, bucket, id FROM (
      SELECT source, bucket, id_a AS id FROM bp
      UNION ALL
      SELECT source, bucket, id_b AS id FROM bp
    )
  ) GROUP BY source, bucket
)
SELECT p.source,
       CAST(p.bucket * 100000 AS BIGINT) AS bucket_lo_ppm,
       CAST(p.n_pairs AS BIGINT) AS n_pairs,
       CAST(SUM(p.n_pairs) OVER (PARTITION BY p.source ORDER BY p.bucket DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_pairs_at_or_above,
       CAST(d.n_docs AS BIGINT) AS n_docs
FROM per_bucket p JOIN docs_in_bucket d USING (source, bucket)
ORDER BY p.source, bucket_lo_ppm
"""


QUERIES = {
    "q152_lsh_recall_audit": q152_lsh_recall_audit,
    "q153_repetition_signals": q153_repetition_signals,
    "q154_split_leakage_audit": q154_split_leakage_audit,
    "q155_jaccard_threshold_sweep": q155_jaccard_threshold_sweep,
}

ORACLES = {
    "q152_lsh_recall_audit": _sql_q152(),
    "q153_repetition_signals": _SQL_Q153,
    "q154_split_leakage_audit": _SQL_Q154,
    "q155_jaccard_threshold_sweep": _SQL_Q155,
}
