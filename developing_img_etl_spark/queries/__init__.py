"""Declared correctness queries (SURVEY.md §2.11).

Each submodule exposes:
  QUERIES: dict[name, Callable[(SparkSession, sf_dir), DataFrame]]
  ORACLES: dict[name, str]  — DuckDB-runnable ANSI SQL mirror (omitted
           for non-SQL-expressible operators; driver then does a weaker
           rows-only check).

Determinism contract (SURVEY.md §1.2 FP-noise note): every aggregate
over doubles is computed through exact DECIMAL intermediates in BOTH
the Spark query and the oracle SQL, with a final cast to DOUBLE —
identical bit-for-bit results regardless of partitioning/accumulation
order. Every computed column carries the same alias on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    audio,
    audit,
    behavior,
    classify,
    corpus,
    dedup,
    evaluation,
    linkage,
    multimodal,
    relational,
    sampling,
    similarity,
    sketches,
    sql_surface,
    streaming_batch,
    text,
    training,
    udf_surface,
)

_MODULES = (
    relational,
    corpus,
    streaming_batch,
    text,
    similarity,
    dedup,
    multimodal,
    sql_surface,
    udf_surface,
    sampling,
    training,
    behavior,
    classify,
    sketches,
    linkage,
    evaluation,
    audit,
    audio,
)


# Driver-coverage rotation (VERDICT r4 #3): the round driver checks
# only the FIRST 50 entries of queries() in registration order. The
# list below front-loads what changed since the last CORRECTNESS
# artifact (r12), so the next round certifies it, then lists the
# stalest certifications (past the 50th name once the changed set
# outgrows the sample; they lead again as it is rotated out). Names
# not listed keep module order after these. Rotate each round: drop
# names once a CORRECTNESS artifact shows them green on their current
# code.
# tests/test_oracle_queries.py checks every name is declared (or
# gated) and listed once.
_DRIVER_PRIORITY = (
    # r12 leftovers: the JPEG/codec rework and the queries whose
    # driver-held frames build as local relations
    "m1_image_compress",
    "m12_bmp_compress",
    "m14_png_compress",
    "m18_jpeg_compress",
    "q119_kmeans_fixed_point",
    "q133_zonemap_skipping",
    "q145_kcore_peel",
    "st18_streaming_zonemap",
    # changed since r12 and outside its first 50: the still-image and
    # video families, the exact-Jaccard pair join, the shingle index,
    # and the checked streaming drain
    "m17_gif_compress",
    "m20_avi_frame_sample",
    "m21_mov_frame_sample",
    "m22_fmp4_frame_sample",
    "q14c_ngram_jaccard_pairs",
    "q83_prefix_filter_jaccard",
    "q108_minhash_audit",
    "q122_minhash_lsh_pairs",
    "st7_transform_with_state",
    "st14_stream_stream_left_outer",
    # the shared st* bodies (registry drain, batch-0 replay rule,
    # doubled staging, per-type aggregate, view/purchase join,
    # lifetime totals) and the batch windows over streaming/windows.py
    "q11a_tumbling_window",
    "q11e_session_window",
    "st1_streaming_tumbling",
    "st2_streaming_session",
    "st3_streaming_late_data",
    "st4_stream_stream_join",
    "st5_stateful_user_totals",
    "st6_streaming_dedup",
    "st8_streaming_txlog_exactly_once",
    "st9_streaming_view_maintenance",
    "st11_streaming_dedup_ttl",
    "st12_stream_static_enrich",
    "st13_streaming_hll_registers",
    "st16_streaming_cms_counts",
    "st17_streaming_exact_quantiles",
    "st19_streaming_benford",
    "st20_streaming_ewma",
    # changed since r12 and already inside its first 50
    "m23_mkv_frame_sample",
    "st10_custom_source_stream",
    "st15_streaming_lsh_dedup",
    "q152_lsh_recall_audit",
    "q153_repetition_signals",
    "q154_split_leakage_audit",
    "q155_jaccard_threshold_sweep",
    # the embedding queries over the shared exact-cosine, lexical and
    # integer-vector bodies, and the queries whose sort pin moved. The
    # first eight (names 43-50) are the ones whose oracle SQL or plan
    # changed: q68's plan renames one alias; m8 and m13 reuse q13's
    # oracle, and q126 and q131 changed only oracle whitespace. The rest
    # keep their plans and oracles.
    "q68_contrastive_triplets",
    "q93_rrf_hybrid_retrieval",
    "q110_retrieval_eval",
    "q150_rbo_rankings",
    "q13_brute_force_topk",
    "q121_pq_adc_topk",
    "q124_ivf_probe_topk",
    "q96_semdedup",
    # the oracles that splice classify.sql_epoch_day (names 51-56): the
    # SQL text is unchanged (q99's differs in whitespace only), and so
    # are the plans
    "q99_interval_overlap_join",
    "q105_sliding_distinct_users",
    "q109_revenue_trend",
    "q114_weekday_seasonality",
    "q115_skyline",
    "q141_cusum_changepoint",
    "m8_numpy_topk",
    "m13_arrow_topk",
    "q126_matryoshka_rank_audit",
    "q131_embedding_covariance",
    "q31_cosine_near_dups",
    "m6_ann_lsh_topk",
    "m9_ann_ivf_topk",
    "m15_ann_pq_topk",
    "q24_udaf_grouped_agg",
    "q25_grouped_map",
    "m24_mp3_metadata",
    # stalest certifications (last green artifact r6)
    "q36_column_profile",
    "q37_merge_upsert",
    "q38_zorder_layout",
    "q40_price_histogram",
    "q41_grouping_sets",
    "q42_oov_rate",
    "q65_split_label_balance",
    "q72_weighted_topk_sample",
)


def _prioritized(full: dict) -> dict:
    ordered = {n: full[n] for n in _DRIVER_PRIORITY if n in full}
    ordered.update((n, v) for n, v in full.items() if n not in ordered)
    return ordered


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return _prioritized(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return out
