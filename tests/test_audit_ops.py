"""Invariant tests for the r11 audit queries (queries/audit.py).

The oracle hash-match itself runs in test_oracle_queries.py; these pin
the audit-specific algebra that a hash can't explain on its own."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from developing_img_etl_spark.catalog import load
from developing_img_etl_spark.queries._shingle import doubled_index, shingle_index
from developing_img_etl_spark.queries.audit import (
    _TRUTH_PPM_ALL,
    _TRUTH_PPM_STRONG,
    q152_lsh_recall_audit,
    q153_repetition_signals,
    q154_split_leakage_audit,
    q155_jaccard_threshold_sweep,
)


def test_doubled_index_maps_each_doc_id_to_one_source_and_n_sh(spark, sf_dir):
    """q122's and q152's F.first("n_sh") and q152's per-doc n_sh joins
    read one (source, n_sh) per doc_id of the doubled index. That holds
    because documents.doc_id is unique and non-negative and the copy
    offset exceeds max(doc_id); checked here on the sf0.01 data."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    n, n_ids, lo = (
        load(spark, sf, "documents")
        .agg(F.count(F.lit(1)), F.countDistinct("doc_id"), F.min("doc_id"))
        .first()
    )
    assert n == n_ids and lo >= 0
    per_id = doubled_index(spark, sf).groupBy("doc_id").agg(
        F.countDistinct("source", "n_sh").alias("k")
    )
    assert per_id.filter(F.col("k") != 1).count() == 0
    n_orig = shingle_index(spark, sf).select("doc_id").distinct().count()
    assert n_orig > 0 and per_id.count() == 2 * n_orig


def test_q152_confusion_algebra(spark, sf_dir):
    rows = q152_lsh_recall_audit(spark, sf_dir).collect()
    assert rows, "audit must cover at least one source"
    assert _TRUTH_PPM_ALL < _TRUTH_PPM_STRONG
    for r in rows:
        # confusion cells partition the pair universe
        assert r.tp + r.fn == r.n_truth
        assert r.tp + r.fp == r.n_cand
        assert r.tp_strong <= r.tp and r.tp_strong <= r.n_strong
        assert r.n_strong <= r.n_truth
        # the doubled corpus guarantees >= 1 exact-dup pair per source,
        # and 4x4 banding can never miss an identical signature pair
        # whose bucket holds just the two copies
        assert r.n_strong >= 1
        assert 0 <= r.recall_all_ppm <= 1_000_000
        assert 0 <= r.recall_strong_ppm <= 1_000_000
        assert 0 <= r.precision_ppm <= 1_000_000


def test_q152_strong_recall_is_total_on_doubled_corpus(spark, sf_dir):
    """Every strong pair in the synthetic corpus is either an exact
    double (identical signatures -> always a shared band) or a planted
    near-dup well above the banding threshold — 4x4 LSH must keep them
    all. A recall_strong_ppm below 1e6 would mean the band/bucket logic
    dropped a real near-dup."""
    for r in q152_lsh_recall_audit(spark, sf_dir).collect():
        assert r.recall_strong_ppm == 1_000_000, r


def test_q154_leakage_algebra(spark, sf_dir):
    rows = q154_split_leakage_audit(spark, sf_dir).collect()
    assert rows, "doubled corpus guarantees pairs in every source"
    for r in rows:
        # cross-split pairs are a subset of all pairs; eval-touching
        # cross pairs a subset of those; each leak pair contributes at
        # most 2 distinct eval docs
        assert 0 < r.n_pairs
        assert 0 <= r.n_cross <= r.n_pairs
        assert 0 <= r.n_eval_leak <= r.n_cross
        assert 0 <= r.n_leaked_eval_docs <= 2 * r.n_eval_leak
        # a cross pair NOT counted as eval leak must be train-train —
        # impossible (two different splits can't both be train), so
        # n_eval_leak == n_cross by construction of a 3-way split
        assert r.n_eval_leak == r.n_cross
        assert r.leak_ppm == r.n_eval_leak * 1_000_000 // r.n_pairs


def test_q154_doubled_corpus_leaks_exist_globally(spark, sf_dir):
    """The doubled corpus plants an exact-dup pair (id, id+off) for
    every doc; split assignment is hash-arithmetic on the id, so across
    the whole corpus SOME pair must straddle splits (eval fractions are
    20 % combined). A zero total would mean the split columns are not
    actually being derived per-member."""
    rows = q154_split_leakage_audit(spark, sf_dir).collect()
    assert sum(r.n_cross for r in rows) > 0


def test_q155_sweep_algebra(spark, sf_dir):
    rows = q155_jaccard_threshold_sweep(spark, sf_dir).collect()
    assert rows
    by_src: dict[str, list] = {}
    for r in rows:
        assert 0 <= r.bucket_lo_ppm <= 1_000_000
        assert r.bucket_lo_ppm % 100_000 == 0
        assert 0 < r.n_pairs
        # each pair touches exactly 2 docs; distinct docs in the bucket
        # is bounded by that and must be at least 2
        assert 2 <= r.n_docs <= 2 * r.n_pairs
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.bucket_lo_ppm)
        # cumulative column decreases as the threshold rises and the
        # lowest bucket's cumulative equals the source's total pairs
        cums = [r.cum_pairs_at_or_above for r in rs]
        assert cums == sorted(cums, reverse=True), src
        assert cums[0] == sum(r.n_pairs for r in rs), src


def test_q153_signal_bounds(spark, sf_dir):
    rows = q153_repetition_signals(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_docs >= 1
        assert 0 <= r.n_flagged <= r.n_docs
        # top token is at least 1/n_tok of the doc and at most all of it
        assert 0 < r.avg_top_ppm <= 1_000_000
        assert 0 <= r.avg_dup_bigram_ppm < 1_000_000
        assert 0 < r.avg_distinct_ppm <= 1_000_000
