"""Physical-plan invariants as a test (VERDICT r1 next-round #10) —
the 100 TB checklist enforced in CI, not just eyeballed:

  1. No CartesianProduct in any declared query.
  2. BroadcastNestedLoopJoin only where a broadcast-side cross is the
     intended algorithm: q11d (broadcast bucket range join) and q13
     (brute-force cosine baseline: tiny probe set × corpus).
  3. No hash-partitioned Exchange carrying array/binary/map columns —
     fat payloads are re-attached by key after shuffling ids (the m6
     lesson from round 1). Range partitioning (the final total-order
     sort) is exempt: returning sorted arrays inherently sorts them.
  4. Filter pushdown reaches the parquet scan on the representative
     filtering queries.

Plans are built at sf0.01; building a plan is cheap, so the whole
suite audits in seconds.
"""

from __future__ import annotations

import pytest

from developing_img_etl_spark.queries import all_queries

# queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# q11d/q13 broadcast a small dimension/probe set against every row (the
# algorithm); the r3b entries broadcast a ONE-ROW aggregate scalar
# (corpus size / row total / corrupt count) via crossJoin — a 1×N
# nested loop is the cheapest way to attach a lazy scalar, and the
# broadcast side can never exceed one row by construction.
BNLJ_ALLOWED = {
    "q11d_bucket_range_join",
    "q13_brute_force_topk",
    "q93_rrf_hybrid_retrieval",  # q13's tiny-probe-set broadcast cross
    "q45_tfidf_topterms",
    "q46_fk_integrity",
    "q47_skew_profile",
    "q49_jsonl_roundtrip",
    "q91_csv_roundtrip",  # same 1-row corrupt-count scalar as q49
    # q68: q13's tiny-probe-set × corpus cross (exact positives) plus a
    # 1-row corpus-count scalar cross — both broadcast-side bounded
    "q68_contrastive_triplets",
    # q75: per-source token totals as a 1-row aggregate scalar cross
    "q75_corpus_drift",
    # q92: Σweight/corpus-total as the 1-row mixing-plan scalar cross
    "q92_temperature_mixing",
    # q151: the same 1-row mixing-total scalar cross inside the
    # corpus-build composition (stage 3 is q92's plan)
    "q151_corpus_build",
    # q96: K-row medoid set broadcast against every vector (the q13
    # tiny-probe-set cross — assignment IS the algorithm)
    "q96_semdedup",
    # q110: the q13/q93 tiny-probe-set broadcast cross (ground truth)
    "q110_retrieval_eval",
    # q121: the exact-distance leg broadcasts the ONE-ROW probe vector
    # against the corpus (q13's shape; the PQ/ADC legs are equi-joins)
    "q121_pq_adc_topk",
    # q124: the 16-row coarse-centroid table broadcast against every
    # vector for the map-side argmin assignment (IVF's intended shape;
    # the probe/re-score legs are equi-joins on cell/vec_id)
    "q124_ivf_probe_topk",
    # NOTE q126 also runs q13's tiny-probe-set broadcast cross, but it
    # sits behind the `ranked` localCheckpoint, so the final plan this
    # audit walks never contains the BNLJ node — not listed here (the
    # strict leg below asserts presence). If the pin is ever removed,
    # the surfaced BNLJ will fail the disallowed assertion and the name
    # belongs in this allowlist again.
    # 1-row aggregate scalar crosses (structurally verified below):
    # q98 distinct-bigram total, q104 corpus total, q105 day bounds,
    # q106 observed total, q107 max doc id
    "q98_kneser_ney_bigrams",
    "q104_stratified_quota_sample",
    "q105_sliding_distinct_users",
    "q106_benford_audit",
    "q107_vocab_growth",
    # q117: two 1-row scalar crosses — corpus token total n_corpus,
    # and the (cut1, cut2) tercile-cutoff aggregate
    "q117_perplexity_buckets",
    # q118: the (n_c, n_t) token-total 1-row scalar cross
    "q118_importance_logratio",
    # r7 data-derived overflow-safe constants (r6 ADVICE): each is a
    # 1-row aggregate scalar cross — q15's pair-encoding width
    # max(p_partkey)+1; q122's dup-id offset max(doc_id)+1. q123 runs
    # the same offset cross but behind its `sim` localCheckpoint, so
    # (like q126) the audited plan never contains the BNLJ node — not
    # listed; if the pin is removed, the surfaced BNLJ fails the
    # disallowed assertion and the name belongs here again.
    "q15_selfjoin_adjacent",
    "q122_minhash_lsh_pairs",
    # r8: q133 broadcasts the 4-row predicate-suite literal against the
    # zone maps AND against lineitem (the q13 tiny-probe-set cross —
    # evaluating a fixed predicate suite IS the operator)
    "q133_zonemap_skipping",
    # r8 1-row aggregate scalar crosses (structurally verified below):
    # q135 joins three single-row stat frames; q136 crosses the 1-row
    # arm-size frame (and the 1-row n_users frame inside thr); q137
    # crosses the per-step 1-row funnel counts and the 1-row median
    "q135_cardinality_audit",
    "q136_ab_test_audit",
    "q137_funnel_steps",
    # q138: the 1-row kept-rows aggregate crossed with the 1-row
    # pre-delete total (same pattern as q135–q137)
    "q138_cascade_delete_audit",
    # r9: q139 crosses the 1-row data-derived fallback language
    # (min profile lang) onto the holdout frame — the standard 1-row
    # aggregate scalar cross
    "q139_ngram_lang_id",
    # r10: q147 builds its contingency grid as broadcast crosses of the
    # 30-row top-token frame × the 5-row language frame × the 1-row
    # corpus total — every side aggregate-bounded
    "q147_chi2_token_lang",
    # r10: q148 pairs the ~20-row distinct-source dimension with itself
    # (sa < sb) — a structurally bounded dimension×dimension cross; all
    # register/sketch joins downstream are equi-joins
    "q148_hll_source_overlap",
    # r10: q150 runs q110's tiny-probe-set broadcast cross (the shared
    # _vector_ranking leg)
    "q150_rbo_rankings",
}

# no exemptions today: every declared query ships ids through hash
# shuffles and re-attaches fat payloads by key
FAT_SHUFFLE_ALLOWED: dict[str, set[str]] = {}

SF_DIR = "/root/testdata/sf0.01"


def _walk(node):
    yield node
    ch = node.children()
    for i in range(ch.length()):
        yield from _walk(ch.apply(i))


def _batch_queries():
    return {
        name: fn
        for name, fn in all_queries().items()
        if not name.startswith("st")  # streaming: no batch plan
    }


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in sorted(_batch_queries().items()):
        df = fn(spark, SF_DIR)
        qe = df._jdf.queryExecution()
        out[name] = (qe.sparkPlan(), qe.executedPlan().toString())
    return out


def test_no_cartesian_product(plans):
    offenders = [
        name
        for name, (plan, _) in plans.items()
        if any(n.nodeName() == "CartesianProduct" for n in _walk(plan))
    ]
    assert offenders == []


def test_bnlj_only_where_intended(plans):
    offenders = [
        name
        for name, (plan, _) in plans.items()
        if name not in BNLJ_ALLOWED
        and any(n.nodeName() == "BroadcastNestedLoopJoin" for n in _walk(plan))
    ]
    assert offenders == []
    # and the allowed ones actually use it (guards against silent
    # strategy drift that would invalidate the allowlist)
    for name in BNLJ_ALLOWED:
        plan, _ = plans[name]
        assert any(n.nodeName() == "BroadcastNestedLoopJoin" for n in _walk(plan)), name


# the subset of BNLJ_ALLOWED whose justification is "broadcasts a
# ONE-ROW aggregate scalar" — verified structurally below, so a future
# edit sneaking a genuine cartesian join into an exempted query fails
# the audit instead of hiding behind the name-based allowlist
# (ADVICE r3).
SCALAR_BNLJ = {
    "q45_tfidf_topterms",
    "q46_fk_integrity",
    "q47_skew_profile",
    "q49_jsonl_roundtrip",
    "q91_csv_roundtrip",
    "q92_temperature_mixing",
    "q151_corpus_build",
    "q98_kneser_ney_bigrams",
    "q104_stratified_quota_sample",
    "q105_sliding_distinct_users",
    "q106_benford_audit",
    "q107_vocab_growth",
    "q117_perplexity_buckets",
    "q118_importance_logratio",
    "q15_selfjoin_adjacent",
    "q122_minhash_lsh_pairs",
    "q135_cardinality_audit",
    "q136_ab_test_audit",
    "q137_funnel_steps",
    "q138_cascade_delete_audit",
    "q139_ngram_lang_id",
}


def test_m4_single_signature_pass(spark):
    """r12: lsh_candidate_pairs pins its band-explode frame, so the
    64-column groupBy-min signature aggregation is built ONCE — the
    m4 plan must not regrow the duplicated min(h0..h63) subtree the
    unpinned self-join produced (16 HashAggregates; 8 with the pin)."""
    from developing_img_etl_spark.queries.multimodal import m4_minhash_near_dups

    df = m4_minhash_near_dups(spark, SF_DIR)
    plan_str = df._jdf.queryExecution().executedPlan().toString()
    assert plan_str.count("partial_min(h0#") <= 1, plan_str


def test_pair_edges_are_df_capped(spark, monkeypatch):
    """q30/q74/q103's near-dup edge generation must route through the
    shingle document-frequency cap (VERDICT r4 #4), so a future edit
    can't silently reintroduce the uncapped d^2 self-join that a
    single hot shingle turns quadratic at 100 TB. Two layers: (1) the
    helper's own physical plan carries the pair_df guard filter (the
    consumers' plans hide it behind localCheckpoint lineage barriers,
    so the helper is audited directly); (2) each consumer actually
    calls the helper (monkeypatch spy at plan-build time)."""
    from developing_img_etl_spark.queries import dedup
    from developing_img_etl_spark.queries._shingle import shingle_index

    # (1) the guard filter, audited on the pre-pin posting frame (the
    # r12 lineage pin in _capped_pair_edges hides it from the final
    # plan, so the audit reads the frame the pin is applied to)
    idx = dedup._df_capped_postings(shingle_index(spark, SF_DIR))
    plan_str = idx._jdf.queryExecution().executedPlan().toString()
    assert "pair_df" in plan_str and "<= 64" in plan_str, plan_str

    # (1b) the pair generator actually routes through that frame
    postings_calls: list[bool] = []
    orig_postings = dedup._df_capped_postings

    def postings_spy(sh):
        postings_calls.append(True)
        return orig_postings(sh)

    monkeypatch.setattr(dedup, "_df_capped_postings", postings_spy)
    dedup._capped_pair_edges(shingle_index(spark, SF_DIR), 2)
    assert postings_calls, "_capped_pair_edges no longer uses the df-capped postings"

    calls: list[int] = []
    orig = dedup._capped_pair_edges

    def spy(sh, min_common):
        calls.append(min_common)
        return orig(sh, min_common)

    monkeypatch.setattr(dedup, "_capped_pair_edges", spy)
    dedup.q30_dedup_clusters(spark, SF_DIR)
    dedup.q74_canonical_dedup(spark, SF_DIR)
    dedup.q103_label_propagation(spark, SF_DIR)
    dedup.q48_edit_distance_pairs(spark, SF_DIR)
    assert calls == [2, 2, dedup._Q103_MIN_COMMON, 3]


def test_q81_windows_are_series_partitioned(plans):
    """q81's interpolation windows must be PARTITIONED by the series
    key (VERDICT r4 #5) — an unpartitioned window spec sorts the whole
    frame into one task at scale. In plan text an unpartitioned spec
    starts its windowspecdefinition with the ORDER column (`col#N ASC`);
    a partitioned one leads with the bare partition column."""
    import re

    _, plan_str = plans["q81_linear_interpolation"]
    assert "windowspecdefinition" in plan_str
    unpartitioned = re.findall(
        r"windowspecdefinition\(\w+#\d+ (?:ASC|DESC)", plan_str
    )
    assert unpartitioned == [], unpartitioned


def test_scalar_bnlj_broadcast_side_is_one_row_aggregate(plans):
    for name in sorted(SCALAR_BNLJ):
        plan, _ = plans[name]
        bnljs = [n for n in _walk(plan) if n.nodeName() == "BroadcastNestedLoopJoin"]
        assert bnljs, f"{name}: exempted but has no BNLJ"
        for j in bnljs:
            # sparkPlan() predates exchange insertion, so identify the
            # broadcast side via the join's buildSide instead of a
            # BroadcastExchange node
            ch = j.children()
            build = ch.apply(0) if "BuildLeft" in j.buildSide().toString() else ch.apply(1)
            # the FIRST aggregate under the build side (skipping row-
            # preserving projections) must be GLOBAL — no grouping keys
            # → exactly one row by construction
            node = build
            while node.nodeName() in ("Project", "Filter"):
                node = node.children().apply(0)
            assert "Aggregate" in node.nodeName() and node.groupingExpressions().isEmpty(), (
                f"{name}: broadcast side of BNLJ is not a 1-row global aggregate "
                f"(top build node: {node.nodeName()})"
            )


def test_no_fat_hash_shuffles(plans):
    """Hash-partitioned exchanges must carry scalar columns only."""
    offenders = {}
    for name, (plan, _) in plans.items():
        for node in _walk(plan):
            if node.nodeName() != "Exchange":
                continue
            part = node.outputPartitioning().toString()
            if "rangepartitioning" in part:
                continue  # final total-order sort of the result rows
            out = node.output()
            fat = []
            for i in range(out.length()):
                a = out.apply(i)
                if a.dataType().typeName() in ("array", "binary", "map"):
                    fat.append(f"{a.name()}:{a.dataType().typeName()}")
            fat = [c for c in fat if c not in FAT_SHUFFLE_ALLOWED.get(name, set())]
            if fat:
                offenders.setdefault(name, []).extend(fat)
    assert offenders == {}, f"fat columns in hash shuffles: {offenders}"


@pytest.mark.parametrize(
    "name",
    ["q3_join_chain", "q15_selfjoin_adjacent", "q18_local_supplier_revenue"],
)
def test_filter_pushdown_reaches_scan(plans, name):
    _, text = plans[name]
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", text)
    assert any(p.strip() for p in pushed), f"{name}: no pushed filters in\n{text[:500]}"


@pytest.fixture
def explain_audit(monkeypatch):
    import os

    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
    )
    import explain_audit

    return explain_audit


def test_masked_plan_hashes_are_stable_and_local(spark, explain_audit, monkeypatch):
    """scripts/explain_audit.py's masked plan hashes: two builds of a
    query in one session hash equal (expression ids, lambda-variable
    suffixes and plan ids are masked), and changing one query's
    constant moves that query's hashes and no other's."""
    from developing_img_etl_spark.queries import similarity

    names = [
        "q13_brute_force_topk",
        "q56_embedding_stats",
        "q68_contrastive_triplets",
        "q100_int8_quantization",
        "q131_embedding_covariance",
    ]
    queries = all_queries()

    def hashes():
        return {n: explain_audit.plan_hashes(queries[n](spark, SF_DIR)) for n in names}

    first = hashes()
    assert hashes() == first
    monkeypatch.setattr(similarity, "TOP_K", similarity.TOP_K + 1)
    patched = hashes()
    moved = {n: [p for p in first[n] if patched[n][p] != first[n][p]] for n in names}
    assert moved == {
        n: (["analyzed", "optimized", "physical"] if n == "q13_brute_force_topk" else [])
        for n in names
    }


def test_masked_plan_hashes_keep_join_sides(spark, explain_audit):
    """Expression ids are renumbered, not flattened: in a self-join,
    where both sides carry the same column names, swapping the sides of
    the join condition or reading the other side's column moves every
    hash."""
    from pyspark.sql import functions as F

    df = spark.range(4).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    l, r = df.alias("l"), df.alias("r")

    def hashes(cond, out):
        return explain_audit.plan_hashes(l.join(r, F.col(cond[0]) == F.col(cond[1])).select(out))

    base = hashes(("l.k", "r.v"), "l.v")
    assert hashes(("l.k", "r.v"), "l.v") == base
    for variant in (hashes(("r.k", "l.v"), "l.v"), hashes(("l.k", "r.v"), "r.v")):
        assert all(variant[p] != base[p] for p in base), variant
