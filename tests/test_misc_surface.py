"""Excel-source gating, unpivot operator unit tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from developing_img_etl_spark.operators.unpivot import unpivot_groups


def test_unpivot_groups_rejects_ragged(spark):
    df = spark.createDataFrame([(1, "a", "b")], "id int, x string, y string")
    with pytest.raises(ValueError, match="equal length"):
        unpivot_groups(df, ids=["id"], groups={"u": ["x", "y"], "v": ["x"]})


def test_unpivot_groups_order_and_values(spark):
    df = spark.createDataFrame([(1, "a", "b", "p", "q")], "id int, x1 string, x2 string, y1 string, y2 string")
    out = unpivot_groups(
        df, ids=["id"], groups={"u": ["x1", "x2"], "v": ["y1", "y2"]}
    ).orderBy("pos").collect()
    assert [(r.pos, r.u, r.v) for r in out] == [(1, "a", "p"), (2, "b", "q")]


def _write_minimal_xlsx(path, header, rows, *, cell_refs=True):
    """Hand-rolled minimal xlsx (inline strings) — lets the source be
    tested without any xlsx writer in the container. cell_refs=False
    omits the optional r= attribute (legal OOXML; some writers do)."""
    import zipfile

    def cell(ref, v):
        if v is None:
            # Without r= refs a skipped cell would shift later cells
            # left; emit an empty positional cell instead.
            return "<c/>" if not cell_refs else ""
        r_attr = f' r="{ref}"' if cell_refs else ""
        return f'<c{r_attr} t="inlineStr"><is><t>{v}</t></is></c>'

    def row_xml(i, values):
        cols = "".join(cell(f"{chr(65 + j)}{i}", v) for j, v in enumerate(values))
        return f'<row r="{i}">{cols}</row>'

    body = row_xml(1, header) + "".join(
        row_xml(i + 2, r) for i, r in enumerate(rows)
    )
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        )
        z.writestr(
            "xl/workbook.xml",
            f'<?xml version="1.0"?><workbook xmlns="{ns}"><sheets>'
            f'<sheet name="Sheet1" sheetId="1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>{body}</sheetData></worksheet>',
        )


def test_excel_source_stdlib_fallback(spark, tmp_path):
    """The source must work with NO xlsx engine installed: stdlib
    zip+XML parse, strings throughout, header from row 1."""
    from developing_img_etl_spark.sources.excel import read_excel

    p = str(tmp_path / "t.xlsx")
    _write_minimal_xlsx(p, ["a", "b"], [["1", "x"], ["2", None]])
    out = read_excel(spark, p)
    assert out.columns == ["a", "b"]
    got = {(r.a, r.b) for r in out.collect()}
    assert got == {("1", "x"), ("2", None)}


def test_excel_source_rejects_duplicate_headers(spark, tmp_path):
    """A repeated header name is an error, with or without a schema:
    the by-name lookup would otherwise read the last duplicate."""
    from pyspark.sql import types as T

    from developing_img_etl_spark.sources.excel import read_excel

    p = str(tmp_path / "dup.xlsx")
    _write_minimal_xlsx(p, ["a", "b", "a"], [["1", "x", "2"]])
    schema = T.StructType([T.StructField("a", T.StringType())])
    with pytest.raises(ValueError, match="duplicate xlsx header names"):
        read_excel(spark, p, schema=schema)
    with pytest.raises(ValueError, match="duplicate xlsx header names"):
        read_excel(spark, p)


def test_excel_source_cells_without_refs(spark, tmp_path):
    """Cells may legally omit the r= reference; the parser must fall
    back to a running column index instead of crashing."""
    from developing_img_etl_spark.sources.excel import read_excel

    p = str(tmp_path / "noref.xlsx")
    _write_minimal_xlsx(
        p, ["a", "b", "c"], [["1", "x", "y"], ["2", None, "z"]], cell_refs=False
    )
    out = read_excel(spark, p)
    assert out.columns == ["a", "b", "c"]
    got = {(r.a, r.b, r.c) for r in out.collect()}
    assert got == {("1", "x", "y"), ("2", None, "z")}


def test_excel_source_reads_reference_fixture(spark, request):
    """S1 against the real reference artifact: 24 catalog rows, shared
    strings + numeric cells (/root/reference/foto_metadata.xlsx), or the
    reference-shaped stand-in when that file is not on disk."""
    import os

    from developing_img_etl_spark.sources.excel import read_excel

    path = "/root/reference/foto_metadata.xlsx"
    if not os.path.exists(path):
        path = os.path.join(request.getfixturevalue("reference_standin"), "foto_metadata.xlsx")
    out = read_excel(spark, path)
    assert out.columns == [
        "kode_proyek", "minggu", "link_foto",
        "deskripsi_foto", "nama_file", "size_gambar_kb",
    ]
    assert out.count() == 24


def test_approx_count_distinct_tolerance(spark, sf_dir):
    """A5: Spark's builtin HLL++ estimate within 3×rsd of exact
    (rsd=0.05) — the builtin's registers are engine-private so it lives
    here, while the DECLARED q17 carries the hash-matched
    from-primitives HLL (VERDICT r10 #6); its err_ppm must meet the
    q97-grade 15% bound on the same grouping."""
    from developing_img_etl_spark.catalog import load
    from developing_img_etl_spark.queries.relational import q17_approx_distinct

    orders = load(spark, sf_dir, "orders")
    builtin = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", 0.05).alias("approx"),
    )
    for r in builtin.collect():
        rel_err = abs(r.approx - r.exact) / max(r.exact, 1)
        assert rel_err <= 0.15, f"{r.o_orderpriority}: rel_err={rel_err:.3f}"
    for r in q17_approx_distinct(spark, sf_dir).collect():
        assert r.exact_customers > 0
        assert r.err_ppm <= 150_000, f"{r.o_orderpriority}: err_ppm={r.err_ppm}"


def test_fuzzy_resolve_unblocked_refuses_huge_listing(spark):
    """Scale guard: an unblocked fuzzy_resolve must refuse to broadcast
    a file listing beyond max_broadcast_files instead of silently
    planning a quadratic scan."""
    from developing_img_etl_spark.operators.fuzzy import fuzzy_resolve

    expected = spark.createDataFrame([("a.jpg",)], "nama_file string")
    files = spark.range(10).selectExpr("concat('f', id, '.jpg') AS file_name")
    with pytest.raises(ValueError, match="block_cols"):
        fuzzy_resolve(expected, files, row_key=["nama_file"], max_broadcast_files=5)
    # under the limit: resolves fine
    out = fuzzy_resolve(expected, files, row_key=["nama_file"], max_broadcast_files=100)
    assert out.count() == 1


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located join contract: two tables bucketed on the same key
    with equal bucket counts join via SortMergeJoin with NO
    ShuffleExchange on either side — the 100 TB path for repeated
    fact-fact joins on a hot key."""
    from developing_img_etl_spark.catalog import load
    from developing_img_etl_spark.sinks.bucketed import bucketed_join, write_bucketed

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "orderkey"),
        "b_orders", bucket_cols=["orderkey"], n_buckets=8, sort_cols=["orderkey"],
    )
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "orderkey"),
        "b_lineitem", bucket_cols=["orderkey"], n_buckets=8, sort_cols=["orderkey"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at test SF both sides fit the broadcast threshold, which would
        # mask the bucketing (at fleet scale neither side broadcasts) —
        # force the sort-merge path the contract is about
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_lineitem", on=["orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"unexpected shuffle in bucketed join:\n{plan[:800]}"
        # and it actually computes
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_table_format_seam_is_pluggable(spark, tmp_path):
    """S8 seam: a custom TableFormat (here: call-recording subclass of
    the parquet tier) drives both the catalog save and the streaming
    idempotent append without any upstream change — the slot a
    Delta/Iceberg implementation plugs into."""
    from developing_img_etl_spark.sinks import partitioned as PS
    from developing_img_etl_spark.sinks.writer import ParquetFormat, TableFormat
    from developing_img_etl_spark.streaming.incremental import start_incremental_append

    class RecordingFormat(ParquetFormat):
        def __init__(self):
            self.calls = []

        def append(self, df, path, *, partition_cols=None):
            self.calls.append(("append", path))
            super().append(df, path, partition_cols=partition_cols)

        def overwrite(self, df, path):
            self.calls.append(("overwrite", path))
            super().overwrite(df, path)

    fmt = RecordingFormat()
    assert isinstance(fmt, TableFormat)

    # catalog round-trip through the seam
    cat_path = str(tmp_path / "cat")
    schema = "kode_proyek string, minggu string, nama_file string"
    seed = spark.createDataFrame([("P1", "w1", "a.jpg")], schema)
    PS.overwrite_catalog(PS.read_catalog(spark, cat_path, schema, fmt=fmt).unionByName(seed), cat_path, fmt=fmt)
    assert [r.nama_file for r in PS.read_catalog(spark, cat_path, schema, fmt=fmt).collect()] == ["a.jpg"]

    # streaming idempotent append through the seam
    src = str(tmp_path / "src")
    rows = [("P1", "w1", "a.jpg", 1.0), ("P1", "w1", "b.jpg", 2.0)]
    sschema = "kode_proyek string, minggu string, nama_file string, v double"
    spark.createDataFrame(rows, sschema).write.parquet(src)
    stream = spark.readStream.schema(sschema).parquet(src)
    sink = str(tmp_path / "sink")
    q = start_incremental_append(
        stream, target_dir=sink, checkpoint_dir=str(tmp_path / "ck"), spark=spark, fmt=fmt
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 2
    assert ("overwrite", cat_path) in fmt.calls
    assert any(c == ("append", sink) for c in fmt.calls)


def test_hash_sampling_deterministic_and_disjoint(spark, sf_dir):
    """Sampling operators (production xxhash64 path): retry/partitioning
    determinism, rate tolerance, split disjoint + exhaustive + stable,
    and cross-table key alignment."""
    from developing_img_etl_spark.catalog import load
    from developing_img_etl_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
        train_test_split,
    )

    docs = load(spark, sf_dir, "documents")
    n = docs.count()

    # determinism under different partitioning (what a task retry sees)
    a = {r.doc_id for r in hash_sample(docs, "doc_id", 0.3).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in hash_sample(docs.repartition(13), "doc_id", 0.3).select("doc_id").collect()
    }
    assert a == b
    assert abs(len(a) / n - 0.3) < 0.08

    # cross-table alignment: same key+seed makes the same membership
    # decision in every table, so sampled docs and embeddings stay in sync
    emb = load(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "doc_id")
    emb_ids = {r.doc_id for r in emb.select("doc_id").collect()}
    e = {r.doc_id for r in hash_sample(emb, "doc_id", 0.3).select("doc_id").collect()}
    assert a & emb_ids == e & {r.doc_id for r in docs.select("doc_id").collect()}

    # stratified rates
    samp = stratified_sample(
        docs, "source", {"src0": 1.0, "src1": 0.0}, key_col="doc_id", default_rate=0.5
    )
    got = {r.source: r.cnt for r in samp.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    full = {r.source: r.cnt for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got["src0"] == full["src0"]
    assert "src1" not in got
    other = [s for s in full if s not in ("src0", "src1")]
    frac = sum(got.get(s, 0) for s in other) / sum(full[s] for s in other)
    assert abs(frac - 0.5) < 0.1

    # split: disjoint, exhaustive, roughly sized
    sp = train_test_split(docs, "doc_id", test_frac=0.2, val_frac=0.1)
    counts = {r.split: r.cnt for r in sp.groupBy("split").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert sum(counts.values()) == n
    assert abs(counts["test"] / n - 0.2) < 0.08 and abs(counts["val"] / n - 0.1) < 0.06
    # stability: same row -> same split on recompute
    s1 = {(r.doc_id, r.split) for r in sp.select("doc_id", "split").collect()}
    s2 = {(r.doc_id, r.split) for r in train_test_split(docs.repartition(7), "doc_id", test_frac=0.2, val_frac=0.1).select("doc_id", "split").collect()}
    assert s1 == s2


def test_jsonl_source_schema_and_corrupt_capture(spark, tmp_path):
    """JSONL ingestion: explicit schema, malformed lines captured as
    corrupt records (skip-and-continue), good/bad split helper."""
    from pyspark.sql import types as T

    from developing_img_etl_spark.sources.jsonl import read_jsonl, split_corrupt

    p = str(tmp_path / "docs.jsonl")
    with open(p, "w") as f:
        f.write('{"doc_id": 1, "text": "hello world", "lang": "en"}\n')
        f.write('{"doc_id": 2, "text": "bonjour", "lang": "fr"}\n')
        f.write("this is not json at all\n")
        f.write('{"doc_id": "NaN-ish", "text": 3}\n')  # type mismatch
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    df = read_jsonl(spark, p, schema)
    good, bad = split_corrupt(df)
    assert {r.doc_id for r in good.collect()} == {1, 2}
    assert good.columns == ["doc_id", "text", "lang"]
    assert bad.count() == 2  # garbage line + type-mismatch line
    import pytest as _pytest

    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception):
        read_jsonl(spark, p, schema, mode="FAILFAST").collect()


def test_training_shards_deterministic(spark, tmp_path):
    """Shard writer: shard membership and intra-shard order are pure
    functions of (key, seed) — identical across input partitionings —
    and all rows survive."""
    import os

    from developing_img_etl_spark.sinks.shards import write_training_shards

    df = spark.range(2000).selectExpr("id AS k", "id * 2 AS v")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(df, p1, n_shards=8, key_col="k")
    write_training_shards(df.repartition(13), p2, n_shards=8, key_col="k")

    def shard_contents(path):
        out = {}
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet"):
                rows = [tuple(r) for r in spark.read.parquet(f"{path}/{f}").collect()]
                out[frozenset(rows)] = rows  # keyed by content, order kept
        return out

    c1, c2 = shard_contents(p1), shard_contents(p2)
    # same shard partitioning (content sets) and same in-file order
    assert set(c1.keys()) == set(c2.keys())
    for k in c1:
        assert c1[k] == c2[k]
    total = sum(len(v) for v in c1.values())
    assert total == 2000
    # balanced-ish: no shard more than 2x the mean
    sizes = [len(v) for v in c1.values()]
    assert max(sizes) <= 2 * (2000 / 8)



def test_chunk_starts_contract(spark):
    """ADVICE r3: zero-length text must yield NO chunks; non-empty text
    is fully covered with exact overlap."""
    from pyspark.sql import functions as F

    from developing_img_etl_spark.functions.text import chunk_starts

    df = spark.createDataFrame(
        [(1, ""), (2, "a" * 5), (3, "b" * 10), (4, "c" * 11)], "id long, text string"
    ).withColumn("n", F.length("text"))
    got = {
        r.id: r.starts
        for r in df.select(
            "id", chunk_starts(F.col("n"), size=8, overlap=3).alias("starts")
        ).collect()
    }
    assert got[1] == []                 # empty doc -> no phantom chunk
    assert got[2] == [0]                # shorter than size -> one chunk
    assert got[3] == [0, 5]             # step = size - overlap = 5
    assert got[4] == [0, 5, 10]
    # coverage + overlap: consecutive chunks share exactly `overlap`
    # chars while both are full-size
    for starts, n in ((got[3], 10), (got[4], 11)):
        assert starts[0] == 0 and starts[-1] < n
        for a, b in zip(starts, starts[1:]):
            assert b - a == 5


def test_group_topk_sample_contract(spark, sf_dir):
    """Exactly-k per group, deterministic across partitionings, and the
    xxhash64 production path picks a uniform-without-replacement subset
    (all rows distinct, subset of the group)."""
    from pyspark.sql import functions as F

    from developing_img_etl_spark.catalog import load
    from developing_img_etl_spark.operators.sampling import group_topk_sample

    docs = load(spark, sf_dir, "documents")
    k = 5
    picked = group_topk_sample(docs, "source", "doc_id", k, seed=3)
    sizes = {r.source: r.n for r in picked.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for src, n in sizes.items():
        assert n == min(k, totals[src]), (src, n)

    ids = sorted(r.doc_id for r in picked.select("doc_id").collect())
    assert len(ids) == len(set(ids))
    # repartitioning the input must not change the selection
    ids2 = sorted(
        r.doc_id
        for r in group_topk_sample(docs.repartition(13), "source", "doc_id", k, seed=3)
        .select("doc_id")
        .collect()
    )
    assert ids == ids2
    # a different seed draws a different sample (overwhelmingly likely)
    ids3 = sorted(
        r.doc_id
        for r in group_topk_sample(docs, "source", "doc_id", k, seed=4).select("doc_id").collect()
    )
    assert ids != ids3


def test_weighted_topk_sample_contract(spark, sf_dir):
    """Exactly k rows globally, deterministic across partitionings and
    seeds on the xxhash64 production path, and the portable-draw seam
    reproduces a pure-Python reference of the min-of-w-draws ranking."""
    from pyspark.sql import functions as F

    from developing_img_etl_spark.catalog import load
    from developing_img_etl_spark.operators.sampling import weighted_topk_sample

    docs = load(spark, sf_dir, "documents").withColumn(
        "w", F.least(F.lit(1) + F.expr("n_chars DIV 400"), F.lit(8))
    )
    k = 37
    picked = weighted_topk_sample(docs, "doc_id", "w", k, seed=3)
    ids = sorted(r.doc_id for r in picked.select("doc_id").collect())
    assert len(ids) == k and len(set(ids)) == k
    ids2 = sorted(
        r.doc_id
        for r in weighted_topk_sample(docs.repartition(13), "doc_id", "w", k, seed=3)
        .select("doc_id")
        .collect()
    )
    assert ids == ids2  # partitioning-invariant
    ids3 = sorted(
        r.doc_id for r in weighted_topk_sample(docs, "doc_id", "w", k, seed=4).select("doc_id").collect()
    )
    assert ids != ids3  # a different seed draws a different sample

    # portable-draw seam == pure-Python reference (min over w draws,
    # tiebreak by key), the exact arithmetic the q72 oracle replays
    K, K2, SEED, B = 2654435761, 2246822519, 7, 1_000_000
    draw = lambda key, i: F.pmod(key * F.lit(K) + i * F.lit(K2) + F.lit(SEED), F.lit(B))  # noqa: E731
    got = [
        (r.rank_key, r.doc_id)
        for r in weighted_topk_sample(docs, "doc_id", "w", k, draw=draw, rank_out="rank_key")
        .select("rank_key", "doc_id")
        .collect()
    ]
    rows = docs.select("doc_id", "w").collect()
    ref = sorted(
        (min((r.doc_id * K + i * K2 + SEED) % B for i in range(1, r.w + 1)), r.doc_id)
        for r in rows
    )[:k]
    assert sorted(got) == ref

    # weight monotonicity of the rank construction: more draws can only
    # lower (or keep) the minimum, so a superset of draws never ranks worse
    w1 = {r.doc_id: min((r.doc_id * K + i * K2 + SEED) % B for i in range(1, 2)) for r in rows}
    w8 = {r.doc_id: min((r.doc_id * K + i * K2 + SEED) % B for i in range(1, 9)) for r in rows}
    assert all(w8[d] <= w1[d] for d in w1)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        weighted_topk_sample(docs, "doc_id", "w", 0)
    with _pytest.raises(ValueError):
        weighted_topk_sample(docs, "doc_id", "w", 5, max_weight=0)


def test_q77_classifier_primitives(spark):
    """Hashing-trick classifier: bucket == md5-derived value on both
    sides of the seam, weights bounded, zero-token docs keep a row."""
    import hashlib

    from pyspark.sql import functions as F

    from developing_img_etl_spark.queries.classify import (
        _N_BUCKETS,
        _W_MOD,
        _W_MULT,
        _W_SHIFT,
        bucket_weight,
        token_bucket,
    )

    toks = ["hello", "world", "the", "a", "zebra", "42", "ünïcode"]
    df = spark.createDataFrame([(t,) for t in toks], "token string").select(
        "token",
        token_bucket(F.col("token")).alias("b"),
        bucket_weight(token_bucket(F.col("token"))).alias("w"),
    )
    for r in df.collect():
        expect = int(hashlib.md5(r.token.encode()).hexdigest()[:4], 16) % _N_BUCKETS
        assert r.b == expect, r.token
        assert r.w == (expect * _W_MULT) % _W_MOD - _W_SHIFT
        assert -_W_SHIFT <= r.w <= _W_MOD - 1 - _W_SHIFT


def test_q77_zero_token_doc_survives(spark, tmp_path):
    """A whitespace-only document classifies as mid with logit 0 rather
    than dropping out of the scored corpus."""
    from developing_img_etl_spark.queries.classify import q77_quality_classifier

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [(1, "hello world", "en", "web", 11), (2, "   ", "en", "web", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in q77_quality_classifier(spark, sf).collect()}
    assert set(out) == {1, 2}
    assert out[2].n_toks == 0 and out[2].logit == 0 and out[2].pred_label == "mid"
    assert out[1].n_toks == 2


def test_q88_fingerprint_null_fields_cross_engine(spark, tmp_path):
    """Anti-entropy fingerprint must hash NULL-bearing rows identically
    on both engines (review finding: concat_ws silently drops NULL
    fields while SQL || nulls the whole string — the sentinel
    rendering closes both) and must distinguish a NULL field from an
    adjacent-field collision."""
    import duckdb

    from developing_img_etl_spark.queries.training import (
        _q88_sql,
        q88_table_fingerprint,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, None, 7, 10.50, "SEG"),
            (2, "alice", 7, None, "SEG"),
            (3, "bo|b", 7, 3.25, None),
            (4, "plain", 8, 1.00, "SEG"),
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(f"{sf}/customer.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{sf}/customer.parquet/*.parquet'"
    )
    oracle = con.execute(_q88_sql()).fetchall()
    got = [tuple(r) for r in q88_table_fingerprint(spark, sf).collect()]
    assert got == [(int(a), int(b), int(c)) for a, b, c in oracle]

    # NULL is not the same row as the sentinel-free rendering of a
    # different split: fingerprints over the two groups must differ
    rows = {r.nationkey: r.checksum for r in q88_table_fingerprint(spark, sf).collect()}
    assert rows[7] != rows[8]


def test_q83_prefix_path_prunes_sparse_corpus(spark, tmp_path):
    """On a rare-tail corpus the adaptive probe must take the PREFIX
    branch (not the bypass) and still equal the naive q14c result —
    the sparse-side pin for q83's plan choice."""
    import duckdb

    from developing_img_etl_spark.queries.dedup import (
        Q14C_SQL,
        q83_prefix_filter_jaccard,
    )

    sf = str(tmp_path)
    rows = []
    # 40 docs with fully unique vocabularies (no shared shingles at
    # all) + 2 genuine near-duplicates: shared posting lists carry a
    # tiny fraction of index rows, so the probe must choose the prefix
    # branch, and the participant set must collapse to the dup pair
    for i in range(40):
        text = " ".join(f"tok{i}x{j}" for j in range(12))
        rows.append((i, text, "en", "web", len(text)))
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows.append((100, dup, "en", "web", len(dup)))
    rows.append((101, dup + " extra", "en", "web", len(dup) + 6))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")

    got = [tuple(r) for r in q83_prefix_filter_jaccard(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    exp = [tuple(r) for r in con.execute(Q14C_SQL).fetchall()]
    assert got == exp
    assert [(a, b) for _, a, b, _ in got] == [(100, 101)]
