"""Streaming surface tests (SURVEY.md §2.9): AvailableNow incremental
drain + idempotent foreachBatch, streaming windows == batch oracle
results, watermark dedup, REST sink contract.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from developing_img_etl_spark.catalog import load
from developing_img_etl_spark.streaming import incremental as INC
from developing_img_etl_spark.streaming import windows as W

PHOTO_SCHEMA = T.StructType(
    [
        T.StructField("kode_proyek", T.StringType()),
        T.StructField("minggu", T.StringType()),
        T.StructField("nama_file", T.StringType()),
        T.StructField("ingest_ts", T.TimestampType()),
    ]
)


def _photo_rows(spark, n, start=0):
    return spark.createDataFrame(
        [
            (f"PRJ{i % 3}", str(7 + i % 2), f"img{start + i}.jpg", None)
            for i in range(n)
        ],
        PHOTO_SCHEMA,
    ).withColumn("ingest_ts", F.current_timestamp())


def test_available_now_incremental(spark, tmp_path):
    """Two triggers: second run drains ONLY newly arrived files; the
    idempotent writer never double-appends (test.py:100-111 contract)."""
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    _photo_rows(spark, 10).write.parquet(src)
    stream = INC.read_photo_stream(spark, src, PHOTO_SCHEMA)
    INC.start_incremental_append(
        stream, target_dir=target, checkpoint_dir=ckpt, spark=spark
    ).awaitTermination(120)
    assert spark.read.parquet(target).count() == 10

    # second batch: 5 new + 10 duplicates of already-written keys
    _photo_rows(spark, 5, start=100).write.mode("append").parquet(src)
    _photo_rows(spark, 10).write.mode("append").parquet(src)
    stream = INC.read_photo_stream(spark, src, PHOTO_SCHEMA)
    INC.start_incremental_append(
        stream, target_dir=target, checkpoint_dir=ckpt, spark=spark
    ).awaitTermination(120)
    out = spark.read.parquet(target)
    assert out.count() == 15  # duplicates suppressed by the anti-join
    assert out.select("kode_proyek", "minggu", "nama_file").distinct().count() == 15


def test_streaming_tumbling_equals_batch(spark, sf_dir, tmp_path):
    """ST4 cross-check: the streaming aggregation over an AvailableNow
    drain must produce exactly the batch q11a numbers."""
    from developing_img_etl_spark.queries.streaming_batch import q11a_tumbling_window

    events = load(spark, sf_dir, "events")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = W.tumbling_counts(stream, watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.w_start, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    want = {
        (r.w_start, r.n_events, r.sum_value)
        for r in q11a_tumbling_window(spark, sf_dir).collect()
    }
    assert got == want


def test_rest_sink_idempotent(spark, tmp_path):
    from developing_img_etl_spark.sinks.rest import LocalFsTransport, upload

    root = str(tmp_path / "store")
    os.makedirs(root, exist_ok=True)
    df = spark.createDataFrame(
        [(f"a/b/f{i}.bin", bytes([i]) * 64) for i in range(20)],
        "object_key string, content binary",
    )
    r1 = upload(df, lambda: LocalFsTransport(root)).groupBy("status").count().collect()
    assert {r.status: r["count"] for r in r1} == {"uploaded": 20}
    # re-run: content identical → all skipped, nothing rewritten
    r2 = upload(df, lambda: LocalFsTransport(root)).groupBy("status").count().collect()
    assert {r.status: r["count"] for r in r2} == {"skipped_identical": 20}
    # changed content → replaced
    df2 = df.withColumn("content", F.concat(F.col("content"), F.lit(b"x")))
    r3 = upload(df2, lambda: LocalFsTransport(root)).groupBy("status").count().collect()
    assert {r.status: r["count"] for r in r3} == {"uploaded": 20}


def test_rest_sink_retry_then_fail(spark, tmp_path):
    from developing_img_etl_spark.sinks import rest

    class Flaky(rest.LocalFsTransport):
        calls = 0

        def put(self, key, content):
            Flaky.calls += 1
            raise OSError("boom")

    root = str(tmp_path / "store2")
    os.makedirs(root, exist_ok=True)
    df = spark.createDataFrame([("k.bin", b"data")], "object_key string, content binary")
    out = rest.upload(df, lambda: Flaky(root), max_retries=2, backoff_s=0.0).collect()
    assert out[0].status == "failed" and out[0].attempts == 3


def test_stateful_user_totals(spark, sf_dir, tmp_path):
    """applyInPandasWithState totals across two micro-batches must equal
    the batch groupBy over the union of both."""
    from developing_img_etl_spark.streaming.stateful import user_totals

    events = load(spark, sf_dir, "events").select("user_id", "value", "ts")
    half1 = events.filter(F.col("user_id") % 2 == 0)
    half2 = events
    src = str(tmp_path / "ev_src")
    out_dir = str(tmp_path / "state_out")
    half1.write.parquet(src)

    def drain():
        # memory sink can't recover a stateful checkpoint — foreachBatch
        # to parquet is the recoverable shape (and the realistic one)
        def sink(batch, batch_id):
            batch.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out_dir)

        stream = spark.readStream.schema(half1.schema).parquet(src)
        q = (
            user_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    half2.write.mode("append").parquet(src)
    drain()

    out = spark.read.parquet(out_dir)
    last_batch = out.agg(F.max("batch_id")).first()[0]
    final = out.filter(F.col("batch_id") == last_batch)
    cents = (F.signum("value") * F.floor(F.abs(F.col("value")) * 100 + 0.5)).cast("long")
    expected = (
        half1.unionByName(half2)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents).alias("total_cents"))
    )
    got = {(r.user_id, r.n_events, r.total_cents) for r in final.collect()}
    want = {(r.user_id, r.n_events, r.total_cents) for r in expected.collect()}
    assert got == want


def test_late_data_dropped(spark, tmp_path):
    """ST5: rows older than the watermark are excluded from finalized
    windows in append mode."""
    import datetime as dt

    from developing_img_etl_spark.streaming.windows import tumbling_counts

    base = dt.datetime(2024, 1, 1)
    on_time = [(i, base + dt.timedelta(days=20), 1.0) for i in range(10)]
    late = [(99, base - dt.timedelta(days=30), 1.0)]  # far behind the watermark
    src = str(tmp_path / "late_src")
    spark.createDataFrame(on_time, "event_id long, ts timestamp, value double").write.parquet(src)

    out_dir = str(tmp_path / "late_out")

    def drain():
        def sink(batch, batch_id):
            batch.write.mode("append").parquet(out_dir)

        stream = spark.readStream.schema("event_id long, ts timestamp, value double").parquet(src)
        q = (
            tumbling_counts(stream, window="7 days", watermark="1 day")
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "late_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(late, "event_id long, ts timestamp, value double").write.mode(
        "append"
    ).parquet(src)
    drain()
    rows = spark.read.parquet(out_dir).collect()
    # the late row's window (Dec 2023) must not appear: watermark already
    # advanced past it in batch 1
    assert all(r.w_start.year == 2024 for r in rows)


def test_corrupt_sink_fails_batch_not_double_append(spark, tmp_path):
    """A sink path that EXISTS but cannot be read must fail the batch —
    never be treated as 'first batch' (which would skip the idempotency
    anti-join and double-append). Guards the explicit FS-exists probe in
    start_incremental_append."""
    src = str(tmp_path / "src")
    target_dir = tmp_path / "target"
    ckpt = str(tmp_path / "ckpt")

    _photo_rows(spark, 5).write.parquet(src)
    # fabricate a corrupt sink: directory exists, file is not parquet
    target_dir.mkdir()
    (target_dir / "part-00000.parquet").write_bytes(b"not a parquet file")

    stream = INC.read_photo_stream(spark, src, PHOTO_SCHEMA)
    q = INC.start_incremental_append(
        stream, target_dir=str(target_dir), checkpoint_dir=ckpt, spark=spark
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
        # StreamingQuery surfaces foreachBatch errors on stop/exception
        if q.exception() is not None:
            raise q.exception()
    # the corrupt marker is still the only file — nothing was appended
    names = [p.name for p in target_dir.iterdir() if not p.name.startswith((".", "_"))]
    assert names == ["part-00000.parquet"]


def test_transform_with_state_matches_st5_oracle(spark, sf_dir):
    """ST7: the transformWithStateInPandas implementation must produce
    the SAME result as applyInPandasWithState (both hash the ST5
    oracle). The API's state protocol needs google.protobuf; containers
    without it run on the vendored mini-runtime (vendor/protoshim),
    which conftest installs at collection time — so this test runs
    everywhere the driver path does, never skips."""
    import pytest

    from developing_img_etl_spark.queries.streaming_batch import (
        ST5_SQL,
        _tws_available,
        st7_transform_with_state,
    )

    # conftest installs vendor/protoshim at collection time, so the
    # protocol import must succeed here exactly as it does on the
    # driver path — a False from _tws_available() is a shim regression,
    # not an environment gap, and must FAIL rather than skip.
    assert _tws_available(), "vendor/protoshim failed to satisfy google.protobuf"
    from tests.oracle_utils import assert_matches

    df = st7_transform_with_state(spark, sf_dir)
    assert_matches(df, ST5_SQL, sf_dir, require_rows=True)


def test_ticks_source_offset_contract():
    """S16 reader protocol: the latest offset is the whole bounded range,
    its partitions tile [start, end) exactly in `step`-row slices,
    re-planning the same offsets (the replay path) reproduces the
    original rows bit-for-bit, and rows are pure functions of their
    offset."""
    from developing_img_etl_spark.sources.ticks_datasource import (
        _row,
        _TicksStreamReader,
    )

    def rows(reader, start, end):
        return [x for p in reader.partitions(start, end) for x in reader.read(p)]

    r = _TicksStreamReader({"end": "25", "step": "10"})
    start, end = r.initialOffset(), r.latestOffset()
    assert (start, end) == ({"i": 0}, {"i": 25})
    assert [p.value for p in r.partitions(start, end)] == [(0, 10), (10, 20), (20, 25)]
    seen = rows(r, start, end)
    assert [x[0] for x in seen] == list(range(25))  # exact tiling, no dupes
    assert seen == [_row(i) for i in range(25)]
    # replay path must be byte-identical to the original read
    assert rows(r, start, end) == seen
    assert rows(r, {"i": 7}, {"i": 19}) == [_row(i) for i in range(7, 19)]
    # a fresh reader (a restarted query) plans the same rows
    assert rows(_TicksStreamReader({"end": "25", "step": "10"}), {"i": 7}, {"i": 19}) == seen[7:19]
    # bounded source: a drained range plans no partition
    assert r.partitions(end, end) == []


def test_workdir_shares_one_root_removed_at_exit(monkeypatch):
    """Every st* work dir lives under one per-process root, and the
    hook registered for interpreter exit removes that root."""
    from developing_img_etl_spark.queries import streaming_batch as SB

    hooks = []
    monkeypatch.setattr(SB.atexit, "register", lambda fn, *a, **k: hooks.append((fn, a, k)))
    SB._work_root.cache_clear()
    try:
        a, b = SB._workdir("st_a_"), SB._workdir("st_b_")
    finally:
        SB._work_root.cache_clear()
    root = os.path.dirname(a)
    assert os.path.dirname(b) == root and a != b
    assert os.path.isdir(a) and os.path.isdir(b)
    assert len(hooks) == 1
    fn, args, kwargs = hooks[0]
    fn(*args, **kwargs)
    assert not os.path.exists(root)


# -- the batch-0 replay rule and the additive registry ----------------------


def test_batch_files_name_each_staged_file_once(spark, tmp_path):
    """Two staged files drained one per trigger: the commit log names one
    file per batch, different files, together the staged set, and each
    batch's rows are its named file's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from developing_img_etl_spark.queries import streaming_batch as SB

    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    src.mkdir()
    staged = {}
    for name, xs in (("a.parquet", [1, 2, 3]), ("b.parquet", [10, 20])):
        pq.write_table(pa.table({"x": pa.array(xs, pa.int64())}), src / name)
        staged[name] = xs
    seen = {}

    def sink(batch, batch_id):
        seen[batch_id] = sorted(r.x for r in batch.collect())

    stream = spark.readStream.schema("x long").option("maxFilesPerTrigger", 1).parquet(str(src))
    SB._drain(stream, sink, ckpt, stateful=False)

    f0, f1 = SB._batch_files(ckpt, 0), SB._batch_files(ckpt, 1)
    assert len(f0) == 1 and len(f1) == 1 and f0 != f1
    assert {os.path.basename(f) for f in f0 + f1} == set(staged)
    for batch_id, files in ((0, f0), (1, f1)):
        assert seen[batch_id] == staged[os.path.basename(files[0])]

    empty = tmp_path / "empty" / "sources" / "0"
    empty.mkdir(parents=True)
    (empty / "0").write_text("v1\n")
    with pytest.raises(ValueError, match="empty file manifest"):
        SB._batch_files(str(tmp_path / "empty"), 0)


def test_registry_drain_replays_batch_zero_input(spark, sf_dir):
    """The registry holds each batch's partials tagged with its batch_id,
    and the crash-replay leg re-runs batch 0's own input: tagging every
    cell with its source file shows batch 0 read one file (drain and
    replay alike) and batch 1 the other."""
    from developing_img_etl_spark.queries import streaming_batch as SB

    def file_cells(df):
        return df.groupBy(F.input_file_name().alias("f")).agg(F.count(F.lit(1)).alias("cnt"))

    reg, src = SB._registry_drain(spark, sf_dir, "st_test_", file_cells)
    assert reg.columns == ["batch_id", "f", "cnt"]
    rows = reg.collect()
    files = {b: {os.path.basename(r.f) for r in rows if r.batch_id == b} for b in (0, 1)}
    assert {r.batch_id for r in rows} == {0, 1}
    assert len(files[0]) == 1 and len(files[1]) == 1 and files[0] != files[1]
    assert files[0] | files[1] == set(os.listdir(src))
    # the drain's batch 0 plus its replay: two identical partials
    assert sorted(r.cnt for r in rows if r.batch_id == 0) == [
        r.cnt for r in rows if r.batch_id == 1
    ] * 2


def test_reconciled_counts_each_batch_once(spark):
    """Batch 0's partials written twice (drain + replay) plus batch 1:
    MAX per (batch_id, keys), then SUM, counts each batch once."""
    from developing_img_etl_spark.queries import streaming_batch as SB
    from developing_img_etl_spark.session import local_frame

    batch0 = [(0, "a", 3), (0, "b", 1)]
    reg = local_frame(
        spark, batch0 + batch0 + [(1, "a", 2), (1, "c", 5)], "batch_id long, k string, cnt long"
    )
    got = {r.k: r.cnt for r in SB._reconciled(reg, ["k"], "cnt").collect()}
    assert got == {"a": 5, "b": 1, "c": 5}


# -- the checked drain (queries/streaming_batch.py::_drain) -----------------

_SHUFFLE = "spark.sql.shuffle.partitions"


def _tiny_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).coalesce(1).write.parquet(src)
    return spark.readStream.schema("id BIGINT").parquet(src)


def test_drain_timeout_stops_query_and_restores_confs(spark, tmp_path, monkeypatch):
    """A drain still running at its timeout raises TimeoutError instead
    of letting the caller read a partial result, leaves no active query
    behind, and restores the state partition count it scoped."""
    import time

    from developing_img_etl_spark.queries.streaming_batch import _drain

    before = spark.conf.get(_SHUFFLE)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")

    def slow_sink(batch, batch_id):
        time.sleep(4)

    with pytest.raises(TimeoutError):
        _drain(
            _tiny_stream(spark, tmp_path),
            slow_sink,
            str(tmp_path / "ckpt"),
            stateful=True,
            timeout_s=1,
        )
    assert spark.streams.active == []
    assert spark.conf.get(_SHUFFLE) == before


def test_drain_scopes_state_partitions_only_when_stateful(spark, tmp_path, monkeypatch):
    """The knob is read at each drain (not at import), reaches the
    query's micro-batches only for a stateful drain, and the session
    count is back after either kind."""
    from developing_img_etl_spark.queries.streaming_batch import _drain

    before = spark.conf.get(_SHUFFLE)
    stream = _tiny_stream(spark, tmp_path)
    seen = []

    def sink(batch, batch_id):
        seen.append(batch.sparkSession.conf.get(_SHUFFLE))

    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    _drain(stream, sink, str(tmp_path / "ck1"), stateful=True)
    assert spark.conf.get(_SHUFFLE) == before
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "5")
    _drain(stream, sink, str(tmp_path / "ck2"), stateful=True)
    _drain(stream, sink, str(tmp_path / "ck3"), stateful=False)
    assert seen == ["3", "5", before]
    assert spark.conf.get(_SHUFFLE) == before


def test_scoped_confs_restore_when_the_block_raises(spark):
    """Each scoped key gets its old value back — and a key that was
    unset is unset again — also when the drain inside raises."""
    from developing_img_etl_spark.queries.streaming_batch import _scoped_confs

    unset_key = "spark.graft.test.scopedConf"
    before = spark.conf.get(_SHUFFLE)
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError):
        with _scoped_confs(spark, {_SHUFFLE: "3", unset_key: "on"}):
            assert spark.conf.get(_SHUFFLE) == "3"
            assert spark.conf.get(unset_key) == "on"
            raise RuntimeError("drain failed")
    assert spark.conf.get(_SHUFFLE) == before
    assert spark.conf.get(unset_key, None) is None
