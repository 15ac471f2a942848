"""Hypothesis property tests (SURVEY.md §5 test strategy): pin the
engine's composite operators against independent pure-Python reference
implementations on randomized inputs — the cases hand-picked fixtures
miss (empty strings, repeated tokens, ties in as-of timestamps,
unicode-ish text).

One module-scoped Spark session; hypothesis drives data generation,
Spark evaluates in small batches (deadline disabled — JVM calls are not
per-example-deterministic in time).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from developing_img_etl_spark.functions import text as TXT

SET = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=5), min_size=0, max_size=12
)


def _py_shingles(tokens: list[str], n: int = 3) -> set[str]:
    return {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}


@given(words)
@SET
def test_shingles_match_python_reference(spark, toks):
    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(TXT.shingles(F.col("text"), 3).alias("s")).collect()[0].s
    # engine tokenizes by whitespace+lowercase; mirror that
    expect = _py_shingles([t.lower() for t in toks if t], 3)
    assert set(got) == expect


# Hand-written edge cases for the cross-engine shingle check: fewer
# than 3 tokens and exactly 3, repeated 3-grams, mixed case, leading/
# trailing/repeated whitespace incl. tab and newline, the empty string,
# whitespace only, and non-ASCII text.
_SHINGLE_ROWS = [
    (1, "s", ""),
    (2, "s", "one"),
    (3, "s", "one two"),
    (4, "s", "one two three"),
    (5, "s", "a b c a b c a b c"),
    (6, "s", "The QUICK brown Fox jumps"),
    (7, "s", "  lead and trail  "),
    (8, "s", "tab\tsep\nnew  line   runs"),
    (9, "s", "café naïve über straße"),
    (10, "s", "日本 語 テキスト です"),
    (11, "s", " \t\n "),
    (12, "s", "İstanbul ΟΔΟΣ ΣΟΦΙΑ ok"),
]


def test_shingles_agree_across_engines(spark):
    """TXT.shingles (Spark) and sql_shingle_index() (the oracles'
    DuckDB CTEs) give the same shingle set per document, except the
    known non-ASCII case-folding split, pinned exactly."""
    import duckdb

    from developing_img_etl_spark.queries._shingle import sql_shingle_index

    df = spark.createDataFrame(
        _SHINGLE_ROWS, "doc_id long, source string, text string"
    )
    got_spark = {
        r.doc_id: set(r.s)
        for r in df.select("doc_id", TXT.shingles(F.col("text"), 3).alias("s"))
        .filter(F.size("s") > 0)
        .collect()
    }
    with duckdb.connect() as con:
        con.execute(
            "CREATE TABLE documents (doc_id BIGINT, source VARCHAR, text VARCHAR)"
        )
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", _SHINGLE_ROWS)
        got_duck = {
            d: set(s)
            for d, s in con.execute(
                f"WITH {sql_shingle_index()} SELECT doc_id, s FROM sh"
            ).fetchall()
        }
    # only 3+ token documents have shingles, on both sides
    assert set(got_spark) == set(got_duck) == {4, 5, 6, 7, 8, 9, 10, 12}
    assert got_spark[4] == {"one two three"}
    assert got_spark[5] == {"a b c", "b c a", "c a b"}
    assert got_spark[7] == {" lead and", "lead and trail", "and trail "}
    # special-cased Unicode lowercasing differs: Spark maps İ to
    # i + U+0307 and a word-final Σ to ς, DuckDB to i and σ
    assert got_spark.pop(12) == {"i\u0307stanbul οδος σοφια", "οδος σοφια ok"}
    assert got_duck.pop(12) == {"istanbul οδοσ σοφια", "οδοσ σοφια ok"}
    assert got_spark == got_duck


@given(words)
@SET
def test_token_count_matches_python(spark, toks):
    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(TXT.token_count(F.col("text")).alias("n")).collect()[0].n
    # F.split on a fully-empty string yields [""], count 1 — the
    # documented edge; mirror it
    expect = len([t for t in toks if t]) if any(toks) else 1
    assert got == expect


asof_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=15
)
asof_quotes = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 999)),
    min_size=0,
    max_size=15,
    unique_by=lambda q: (q[0], q[1]),  # one quote per (key, time): well-defined as-of
)


@given(asof_events, asof_quotes)
@SET
def test_asof_join_matches_naive(spark, evs, qts):
    """asof_join == 'latest right with time <= left time per key' under
    randomized keys/times including exact ties."""
    from developing_img_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(evs)], "k int, t int, row_id int"
    )
    right = spark.createDataFrame(qts, "k int, t int, v int")
    out = asof_join(
        left, right, on="k", left_time="t", right_time="t", value_cols=["v"]
    ).collect()
    by_key: dict[int, list[tuple[int, int]]] = {}
    for k, t, v in qts:
        by_key.setdefault(k, []).append((t, v))
    for r in out:
        cands = [(t, v) for (t, v) in by_key.get(r.k, []) if t <= r.t]
        expect = max(cands)[1] if cands else None
        assert r.v == expect, f"key={r.k} t={r.t}: got {r.v}, want {expect}"
    assert len(out) == len(evs)


xlsx_cell = st.one_of(st.none(), st.text(alphabet="abcxyz123 ", max_size=8))


@given(
    st.integers(1, 4).flatmap(
        lambda w: st.tuples(
            st.just([f"c{i}" for i in range(w)]),
            st.lists(st.lists(xlsx_cell, min_size=w, max_size=w), min_size=0, max_size=6),
        )
    )
)
@SET
def test_stdlib_xlsx_roundtrip(spark, tmp_path_factory, tbl):
    """read_excel(stdlib tier) inverts the minimal writer for arbitrary
    small tables (None cells, spaces, duplicate values)."""
    from developing_img_etl_spark.sources.excel import _read_xlsx_stdlib

    header, rows = tbl
    p = str(tmp_path_factory.mktemp("xl") / "t.xlsx")
    from tests.test_misc_surface import _write_minimal_xlsx

    _write_minimal_xlsx(p, header, rows)
    got_header, got_rows = _read_xlsx_stdlib(p)
    assert got_header == header
    norm = [[c if c != "" else None for c in r] for r in rows]
    got_norm = [[c if c != "" else None for c in r] for r in got_rows]
    assert got_norm == norm


def _assert_capped(out: bytes, w: int, h: int, max_dim: int) -> None:
    """_recompress output obeys the cap and preserves aspect within the
    reference's int-truncation arithmetic (test.py:52-53)."""
    from developing_img_etl_spark.multimodal import image as IMG

    ow, oh = IMG._decode_dims(out)
    assert max(ow, oh) <= max_dim
    if max(w, h) <= max_dim:
        assert (ow, oh) == (w, h)
    else:
        scale = max_dim / float(max(w, h))
        assert (ow, oh) == (max(int(w * scale), 1), max(int(h * scale), 1))


@given(st.integers(1, 3000), st.integers(1, 3000), st.integers(0, 1000))
@SET
def test_bmp_recompress_properties(w, h, seed):
    """The real raster path (no Spark needed — pure codec): encode →
    _recompress obeys the cap, preserves aspect within ±1px of the
    int-truncation arithmetic, and stays a decodable lossless BMP."""
    import numpy as np

    from developing_img_etl_spark.multimodal import bmp
    from developing_img_etl_spark.multimodal import image as IMG

    data = bmp.make_bmp(w, h, seed)
    assert np.array_equal(bmp.bmp_decode(bmp.bmp_encode(bmp.bmp_decode(data))), bmp.bmp_decode(data))

    out = IMG._recompress(data, IMG.MAX_DIM, IMG.JPEG_QUALITY)
    _assert_capped(out, w, h, IMG.MAX_DIM)
    if max(w, h) <= IMG.MAX_DIM:
        assert bytes(out) == data  # lossless no-op


@pytest.mark.parametrize("fmt", ["png", "gif", "jpeg"])
@given(st.integers(1, 48), st.integers(1, 48), st.integers(1, 32), st.integers(0, 250))
@SET
def test_recompress_properties_per_format(fmt, w, h, max_dim, seed):
    """The same cap/aspect property for the other `_CODECS` rows, at
    small sizes under a small cap. Output keeps the input's format;
    the lossless rows keep every pixel when under the cap."""
    import numpy as np

    from developing_img_etl_spark.multimodal import gif, jpeg, png
    from developing_img_etl_spark.multimodal import image as IMG

    make, decode = {
        "png": (png.make_png, png.png_decode),
        "gif": (gif.make_gif, gif.gif_decode),
        "jpeg": (lambda w, h, s: jpeg.jpeg_encode(jpeg.make_photo(w, h, s)), jpeg.jpeg_decode),
    }[fmt]
    data = make(w, h, seed)
    out = IMG._recompress(data, max_dim, IMG.JPEG_QUALITY)
    _assert_capped(out, w, h, max_dim)
    arr = decode(out)
    assert arr is not None and arr.shape[:2] == IMG._decode_dims(out)[::-1]
    if fmt != "jpeg" and max(w, h) <= max_dim:
        assert np.array_equal(arr, decode(data))


@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=3, max_size=24).map("".join),
        min_size=3,
        max_size=24,
    ),
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=3, max_size=24).map("".join),
        min_size=3,
        max_size=24,
    ),
)
@settings(max_examples=30, deadline=None)
def test_q125_spans_match_bruteforce(spark, toks_a, toks_b):
    """q125's diagonal gaps-and-islands run detection == brute-force
    shared-substring search, independently of the DuckDB oracle. Two
    synthetic docs over a 2-token alphabet (maximally collision-prone);
    the expected longest shared token span is the classic O(n*m) DP."""
    from developing_img_etl_spark.queries.dedup import (
        _Q125_MINRUN,
        q125_substring_span_pairs,
    )

    n, m = len(toks_a), len(toks_b)
    dp = [[0] * (m + 1) for _ in range(n + 1)]
    longest = 0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            if toks_a[i - 1] == toks_b[j - 1]:
                dp[i][j] = dp[i - 1][j - 1] + 1
                longest = max(longest, dp[i][j])

    import os
    import tempfile

    with tempfile.TemporaryDirectory(prefix="q125prop_") as d:
        ta, tb = " ".join(toks_a), " ".join(toks_b)
        spark.createDataFrame(
            [(1, "s", ta, "en", len(ta)), (2, "s", tb, "en", len(tb))],
            "doc_id long, source string, text string, lang string, n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        rows = q125_substring_span_pairs(spark, d).collect()

    # df-cap can't fire here (2 docs x <=22 positions per gram < 64)
    if longest >= _Q125_MINRUN:
        assert len(rows) == 1
        assert rows[0]["longest_run"] == longest
    else:
        assert rows == []
