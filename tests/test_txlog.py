"""TxLogFormat (sinks/txlog.py): the transactional TableFormat tier —
atomic commits, snapshot isolation, time travel, conflict detection,
vacuum, crash-debris immunity."""

from __future__ import annotations

import json
import os

import pytest

from developing_img_etl_spark.sinks.txlog import TxConflict, TxLogFormat
from developing_img_etl_spark.sinks.writer import TableFormat

SCHEMA = "k INT, v STRING"


def _rows(spark, path, fmt, **kw):
    return {r.k: r.v for r in fmt.read(spark, path, SCHEMA, **kw).collect()}


def test_seam_append_read_versions(spark, tmp_path):
    fmt = TxLogFormat()
    assert isinstance(fmt, TableFormat)
    path = str(tmp_path / "t")

    assert not fmt.exists(spark, path)
    assert fmt.read(spark, path, SCHEMA).count() == 0  # first-run empty frame

    fmt.append(spark.createDataFrame([(1, "a")], SCHEMA), path)
    fmt.append(spark.createDataFrame([(2, "b")], SCHEMA), path)
    assert fmt.exists(spark, path)
    assert fmt.versions(path) == [0, 1]
    assert _rows(spark, path, fmt) == {1: "a", 2: "b"}
    # time travel: v0 predates the second append
    assert _rows(spark, path, fmt, version=0) == {1: "a"}


def test_overwrite_is_snapshot_isolated(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA), path)

    # read -> transform -> overwrite of the SAME path, no localCheckpoint:
    # legal because input files are immutable (only un-referenced)
    cur = fmt.read(spark, path, SCHEMA)
    from pyspark.sql import functions as F

    fmt.overwrite(cur.withColumn("v", F.upper("v")), path)
    assert _rows(spark, path, fmt) == {1: "A", 2: "B"}
    # the pre-overwrite snapshot is still fully readable
    assert _rows(spark, path, fmt, version=0) == {1: "a", 2: "b"}


def test_commit_conflict_detected(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, "a")], SCHEMA), path)

    # a concurrent writer claims v1 between our read and our commit
    log = os.path.join(path, "_txlog")
    with open(os.path.join(log, "00000001.json"), "w") as f:
        json.dump({"version": 1, "add": [], "remove": []}, f)
    with pytest.raises(TxConflict):
        fmt._commit(path, add=[], remove=[], expected_version=1)
    # blind append (no expected version) just takes the next slot
    v = fmt._commit(path, add=[], remove=[])
    assert v == 2


def test_crash_debris_is_invisible(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, "a")], SCHEMA), path)

    # a crashed writer left staged data with no commit record, and a
    # torn temp log record — readers must see neither
    with open(os.path.join(path, "data-deadbeef-part-0.parquet"), "wb") as f:
        f.write(b"not even parquet")
    with open(os.path.join(path, "_txlog", "zzz.json.tmp"), "w") as f:
        f.write("{not json")
    assert _rows(spark, path, fmt) == {1: "a"}
    assert fmt.versions(path) == [0]


def test_vacuum_drops_only_unreachable(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, "a")], SCHEMA), path)
    fmt.overwrite(spark.createDataFrame([(1, "x"), (2, "y")], SCHEMA), path)
    assert _rows(spark, path, fmt, version=0) == {1: "a"}

    deleted = fmt.vacuum(path, retain_versions=0)
    assert deleted, "v0's files should have been vacuumed"
    # latest snapshot intact; vacuumed snapshot no longer readable
    assert _rows(spark, path, fmt) == {1: "x", 2: "y"}
    with pytest.raises(Exception):  # noqa: B017 — files gone is the contract
        fmt.read(spark, path, SCHEMA, version=0).collect()
    # idempotent
    assert fmt.vacuum(path, retain_versions=0) == []


def _range_table(spark, n=1000, files=4):
    from pyspark.sql import functions as F

    df = spark.range(0, n).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    return df.repartitionByRange(files, "k")


def test_add_actions_carry_footer_stats(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(_range_table(spark), path)
    actions = fmt.files(path)
    assert len(actions) == 4
    ks = [a["stats"]["k"] for a in actions]
    # per-file min/max present, ranges disjoint (repartitionByRange), rows sum
    assert all(mn <= mx for mn, mx, _ in ks)
    ordered = sorted(ks)
    assert all(a[1] < b[0] for a, b in zip(ordered, ordered[1:]))
    assert sum(a["rows"] for a in actions) == 1000
    assert min(mn for mn, _, _ in ks) == 0 and max(mx for _, mx, _ in ks) == 999


def test_read_where_skips_files(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(_range_table(spark), path)

    full = fmt.read(spark, path, SCHEMA)
    pruned = fmt.read(spark, path, SCHEMA, where=[("k", "<", 100)])
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 100
    # point lookup touches one file; residual filter still exact
    point = fmt.read(spark, path, SCHEMA, where=[("k", "==", 500)])
    assert len(point.inputFiles()) == 1
    assert [r.v for r in point.collect()] == ["v500"]
    # provably-empty predicate: no data files opened beyond the schema probe
    empty = fmt.read(spark, path, SCHEMA, where=[("k", ">", 10_000)])
    assert empty.count() == 0
    # IN-list across two files
    two = fmt.read(spark, path, SCHEMA, where=[("k", "in", [10, 990])])
    assert len(two.inputFiles()) == 2
    assert sorted(r.k for r in two.collect()) == [10, 990]


def test_merge_into_rewrites_only_touched_files(spark, tmp_path):
    from pyspark.sql import functions as F

    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(_range_table(spark), path)
    before = {a["path"] for a in fmt.files(path)}

    updates = spark.createDataFrame(
        [(5, "UP5"), (7, "UP7"), (1005, "NEW")], SCHEMA
    )
    res = fmt.merge_into(spark, path, updates, "k")
    assert res["files_rewritten"] == 1, res
    assert res["files_skipped"] == 3
    after = {a["path"] for a in fmt.files(path)}
    # the three untouched files survive the commit byte-identical
    assert len(before & after) == 3

    got = {r.k: r.v for r in fmt.read(spark, path, SCHEMA).collect()}
    assert got[5] == "UP5" and got[7] == "UP7" and got[1005] == "NEW"
    assert got[6] == "v6" and got[999] == "v999" and len(got) == 1001


def test_merge_into_insert_only_touches_nothing(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(_range_table(spark), path)
    res = fmt.merge_into(
        spark, path, spark.createDataFrame([(2000, "n1"), (2001, "n2")], SCHEMA), "k"
    )
    assert res["files_rewritten"] == 0 and res["rows_scanned"] == 0
    assert fmt.read(spark, path, SCHEMA).count() == 1002


def test_merge_into_tombstone_delete(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(_range_table(spark, n=100, files=2), path)
    updates = spark.createDataFrame(
        [(3, None, True), (4, "UP4", False)], "k INT, v STRING, is_deleted BOOLEAN"
    )
    res = fmt.merge_into(spark, path, updates, "k", delete_col="is_deleted")
    assert res["files_rewritten"] == 1
    got = {r.k: r.v for r in fmt.read(spark, path, SCHEMA).collect()}
    assert 3 not in got and got[4] == "UP4" and len(got) == 99


def test_merge_into_exact_key_pruning_beats_bounds(spark, tmp_path):
    # keys 5 and 995 span all four file ranges as an interval, but exact
    # membership keeps the middle two files out of the rewrite
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(_range_table(spark), path)
    res = fmt.merge_into(
        spark, path, spark.createDataFrame([(5, "A"), (995, "B")], SCHEMA), "k"
    )
    assert res["files_rewritten"] == 2, res
    got = {r.k: r.v for r in fmt.read(spark, path, SCHEMA).collect()}
    assert got[5] == "A" and got[995] == "B" and len(got) == 1000


def test_schema_evolution_additive(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, "a")], SCHEMA), path)
    # additive evolution: a new column joins the table schema
    fmt.append(
        spark.createDataFrame([(2, "b", 7)], "k INT, v STRING, extra INT"), path
    )
    cur = fmt.read(spark, path)  # no explicit schema: the LOG's schema
    assert [f.name for f in cur.schema.fields] == ["k", "v", "extra"]
    got = {r.k: (r.v, r.extra) for r in cur.collect()}
    assert got == {1: ("a", None), 2: ("b", 7)}  # old files null-fill
    # time travel sees the schema as of that version
    v0 = fmt.read(spark, path, version=0)
    assert [f.name for f in v0.schema.fields] == ["k", "v"]


def test_schema_evolution_type_change_rejected(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, "a")], SCHEMA), path)
    with pytest.raises(ValueError, match="schema evolution rejected"):
        fmt.append(
            spark.createDataFrame([("x", "b")], "k STRING, v STRING"), path
        )
    # the failed append staged no commit: table state is untouched
    assert fmt.versions(path) == [0]


def test_empty_live_set_reads_logged_schema(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, "a")], SCHEMA), path)
    fmt.overwrite(spark.createDataFrame([], SCHEMA), path)
    cur = fmt.read(spark, path)  # no schema argument needed anymore
    assert cur.count() == 0
    assert [f.name for f in cur.schema.fields] == ["k", "v"]


def test_log_checkpoint_seeds_replay(spark, tmp_path):
    fmt = TxLogFormat(checkpoint_every=3)
    path = str(tmp_path / "t")
    for i in range(8):
        fmt.append(spark.createDataFrame([(i, f"v{i}")], SCHEMA), path)
    # checkpoints at v3 and v6; commit records all still present
    cps = [f for f in os.listdir(os.path.join(path, "_txlog"))
           if f.endswith(".checkpoint.json")]
    assert sorted(cps) == ["00000003.checkpoint.json", "00000006.checkpoint.json"]
    assert fmt.versions(path) == list(range(8))
    assert _rows(spark, path, fmt) == {i: f"v{i}" for i in range(8)}
    # time travel BEFORE the first checkpoint still replays correctly
    assert _rows(spark, path, fmt, version=1) == {0: "v0", 1: "v1"}
    # ... and to a mid-checkpoint version
    assert _rows(spark, path, fmt, version=4) == {i: f"v{i}" for i in range(5)}


def test_corrupt_checkpoint_falls_back_to_log(spark, tmp_path):
    fmt = TxLogFormat(checkpoint_every=2)
    path = str(tmp_path / "t")
    for i in range(5):
        fmt.append(spark.createDataFrame([(i, f"v{i}")], SCHEMA), path)
    cp = os.path.join(path, "_txlog", "00000004.checkpoint.json")
    assert os.path.exists(cp)
    with open(cp, "w") as f:
        f.write("{torn")
    # commits are the source of truth: replay is unaffected
    assert _rows(spark, path, fmt) == {i: f"v{i}" for i in range(5)}
    with open(cp, "w") as f:
        json.dump({"version": 4, "live": []}, f)  # valid JSON, WRONG state
    # a wrong-but-parseable checkpoint seeds at its word (same trust
    # model as Delta); earlier intact checkpoints still serve older reads
    assert _rows(spark, path, fmt, version=1) == {0: "v0", 1: "v1"}


def test_merge_into_rejects_narrow_updates(spark, tmp_path):
    # updates missing a table column would silently null bystander rows
    # in rewritten files — must refuse up front
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(
        spark.createDataFrame([(1, "a", 1.5)], "k INT, v STRING, x DOUBLE"), path
    )
    with pytest.raises(ValueError, match="merge_into schema drift"):
        fmt.merge_into(
            spark, path, spark.createDataFrame([(1, "b")], SCHEMA), "k"
        )
    with pytest.raises(ValueError, match="merge_into schema drift"):
        fmt.merge_into(
            spark,
            path,
            spark.createDataFrame(
                [(1, "b", 1.5, 9)], "k INT, v STRING, x DOUBLE, y INT"
            ),
            "k",
        )
    assert fmt.versions(path) == [0]  # nothing committed


def test_read_where_type_mismatch_keeps_semantics(spark, tmp_path):
    # a predicate literal that can't compare with the stored stats type
    # must fall back to no-prune, not crash the read
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(_range_table(spark, n=100, files=2), path)
    got = fmt.read(spark, path, SCHEMA, where=[("k", "==", "42")]).collect()
    assert [r.k for r in got] == [42]  # Spark's own coercion decides


# -- exactly-once streaming sink (streaming/txlog_sink.py) ------------------


def test_txn_marker_makes_batch_replay_noop(spark, tmp_path):
    from developing_img_etl_spark.streaming.txlog_sink import (
        exactly_once_batch_writer,
    )

    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    wb = exactly_once_batch_writer(fmt, path, "app1")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
    wb(b0, 0)
    wb(b0, 0)  # crash-between-commit-and-checkpoint replay
    wb(spark.createDataFrame([(3, "c")], SCHEMA), 1)
    wb(b0, 0)  # late replay after later batches committed
    assert _rows(spark, path, fmt) == {1: "a", 2: "b", 3: "c"}
    assert fmt.txn_batches(path, "app1") == {0, 1}
    # a DIFFERENT app's batch 0 is its own transaction
    exactly_once_batch_writer(fmt, path, "app2")(
        spark.createDataFrame([(9, "z")], SCHEMA), 0
    )
    assert _rows(spark, path, fmt)[9] == "z"


def test_stream_restart_with_deleted_checkpoint_no_duplicates(spark, tmp_path):
    """The failure a keyless plain-append sink cannot survive: wiping the
    checkpoint re-drains the source from scratch and replays every batch
    id; txn markers turn the whole second run into no-ops."""
    from developing_img_etl_spark.streaming.txlog_sink import (
        exactly_once_batch_writer,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame([(i, f"v{i}") for i in range(10)], SCHEMA).coalesce(
        1
    ).write.parquet(src)
    fmt = TxLogFormat()
    path = str(tmp_path / "t")

    def drain(ckpt: str) -> None:
        q = (
            spark.readStream.schema(SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(exactly_once_batch_writer(fmt, path, "etl"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(str(tmp_path / "ck1"))
    n1 = fmt.read(spark, path).count()
    drain(str(tmp_path / "ck2"))  # fresh checkpoint: full replay
    assert fmt.read(spark, path).count() == n1 == 10


def test_gdpr_erasure_workflow(spark, tmp_path):
    """Right-to-be-forgotten through the transactional stack: tombstone
    MERGE removes the subject's rows from the live table, VACUUM makes
    the removal PHYSICAL — the bytes leave disk and even time travel
    (which would otherwise resurrect them) fails closed."""
    from pyspark.sql import functions as F

    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    fmt.append(_range_table(spark), path)

    subject = [5, 77, 901]
    tomb = (
        fmt.read(spark, path)
        .filter(F.col("k").isin(subject))
        .withColumn("is_deleted", F.lit(True))
    )
    res = fmt.merge_into(spark, path, tomb, "k", delete_col="is_deleted")
    # keys 5 and 77 share a range file, 901 sits in another: 2 of 4 files
    assert res["files_rewritten"] == 2
    live = fmt.read(spark, path)
    assert live.filter(F.col("k").isin(subject)).count() == 0
    assert live.count() == 997
    # pre-vacuum, the data still exists in the old snapshot (time travel)
    assert fmt.read(spark, path, version=0).filter(F.col("k").isin(subject)).count() == 3

    deleted = fmt.vacuum(path, retain_versions=0)
    assert len(deleted) == 2  # exactly the rewritten files' predecessors
    with pytest.raises(Exception):  # noqa: B017 — erased means unreadable
        fmt.read(spark, path, version=0).filter(F.col("k").isin(subject)).collect()
    # live table unaffected by the vacuum
    assert fmt.read(spark, path).count() == 997


def test_txn_markers_fold_into_checkpoints(spark, tmp_path):
    from developing_img_etl_spark.streaming.txlog_sink import (
        exactly_once_batch_writer,
    )

    fmt = TxLogFormat(checkpoint_every=3)
    path = str(tmp_path / "t")
    wb = exactly_once_batch_writer(fmt, path, "etl")
    for i in range(7):
        wb(spark.createDataFrame([(i, f"v{i}")], SCHEMA), i)
    # checkpoints exist and carry the folded txn map
    cp = os.path.join(path, "_txlog", "00000006.checkpoint.json")
    with open(cp) as f:
        assert json.load(f)["txn"] == {"etl": 6}
    assert fmt.last_txn_batch(path, "etl") == 6
    assert fmt.last_txn_batch(path, "other") is None
    # replays of any earlier batch are no-ops via the seeded lookup
    wb(spark.createDataFrame([(0, "dup")], SCHEMA), 0)
    wb(spark.createDataFrame([(6, "dup")], SCHEMA), 6)
    assert fmt.read(spark, path).count() == 7


def test_optimize_compacts_and_preserves_content(spark, tmp_path):
    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    for i in range(4):  # 4 appends × 2 files = 8 small files
        fmt.append(_range_table(spark, n=100, files=2), path)
    before = {r.k for r in fmt.read(spark, path).select("k").distinct().collect()}
    res = fmt.optimize(spark, path, target_files=2)
    assert res["files_before"] == 8 and res["files_after"] <= 2
    after = fmt.read(spark, path)
    assert after.count() == 400  # 4 × 100 rows, content unchanged
    assert {r.k for r in after.select("k").distinct().collect()} == before
    # pre-optimize snapshot still time-travels
    assert fmt.read(spark, path, version=0).count() == 100


def test_optimize_zorder_restores_multi_dim_skipping(spark, tmp_path):
    """After OPTIMIZE ZORDER BY (a, b), range predicates on EITHER
    column prune files via the logged stats — the point of interleaved
    layout over a single-column sort."""
    from pyspark.sql import functions as F

    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    # write in an order that correlates with NEITHER dimension: every
    # file spans the full (a, b) domain → zero pruning either way
    df = spark.range(0, 4096).select(
        F.pmod(F.col("id") * 197, F.lit(256)).cast("int").alias("a"),
        F.pmod(F.col("id") * 89, F.lit(256)).cast("int").alias("b"),
        F.col("id").alias("payload"),
    )
    fmt.append(df.repartition(8), path)
    full = len(fmt.read(spark, path).inputFiles())
    pre_a = len(fmt.read(spark, path, where=[("a", "<", 32)]).inputFiles())
    assert pre_a == full  # random layout: nothing prunes

    res = fmt.optimize(spark, path, zorder_by=["a", "b"], target_files=8)
    assert res["files_after"] == 8
    post_a = len(fmt.read(spark, path, where=[("a", "<", 32)]).inputFiles())
    post_b = len(fmt.read(spark, path, where=[("b", "<", 32)]).inputFiles())
    assert post_a < full and post_b < full  # BOTH dimensions prune now
    # content survives the layout pass bit-for-bit
    assert fmt.read(spark, path).count() == 4096
    got = fmt.read(spark, path, where=[("a", "<", 32)]).filter("a < 32").count()
    assert got == df.filter("a < 32").count()


def test_partitioned_append_prunes_via_stats(spark, tmp_path):
    """partition_cols = hive layout; partition values land in the add-
    action stats as point ranges, so read(where=) prunes partitions
    through the SAME path as data-derived stats."""
    from pyspark.sql import functions as F

    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("s"), (F.col("id") % 3)).alias("seg"),
    )
    fmt.append(df, path, partition_cols=["seg"])
    actions = fmt.files(path)
    assert all("seg=" in a["path"] for a in actions)
    assert all(a["partition"]["seg"].startswith("s") for a in actions)

    full = fmt.read(spark, path)
    assert sorted(full.columns) == ["k", "seg"]  # partition col recovered
    assert full.count() == 300
    one = fmt.read(spark, path, where=[("seg", "==", "s1")])
    assert len(one.inputFiles()) < len(full.inputFiles())
    assert one.count() == 100
    assert {r.seg for r in one.select("seg").distinct().collect()} == {"s1"}
    # vacuum handles the nested layout
    fmt.overwrite(df.filter("k < 10"), path)
    deleted = fmt.vacuum(path, retain_versions=0)
    assert all("seg=" in d for d in deleted) and len(deleted) == len(actions)


def test_partitioned_optimize_and_merge_keep_partition_values(spark, tmp_path):
    """optimize() and merge_into() on a hive-partitioned table must
    preserve partition-column VALUES (recovered via basePath into data
    columns on rewrite) — a plain parquet read would null them out."""
    from pyspark.sql import functions as F

    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("s"), (F.col("id") % 3)).alias("seg"),
    )
    fmt.append(df, path, partition_cols=["seg"])

    res = fmt.optimize(spark, path, target_files=2)
    assert res["files_after"] <= 2
    after = fmt.read(spark, path)
    assert after.filter(F.col("seg").isNull()).count() == 0
    assert {r.seg for r in after.select("seg").distinct().collect()} == {"s0", "s1", "s2"}

    upd = spark.createDataFrame([(0, "sX")], "k INT, seg STRING")
    fmt.merge_into(spark, path, upd, "k")
    got = {r.k: r.seg for r in fmt.read(spark, path).collect()}
    assert got[0] == "sX" and got[1] == "s1" and len(got) == 300


def test_int_partition_values_prune_with_typed_predicates(spark, tmp_path):
    from pyspark.sql import functions as F

    fmt = TxLogFormat()
    path = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 3).cast("int").alias("year"),
    )
    fmt.append(df, path, partition_cols=["year"])
    # typed predicate against an int partition column must PRUNE, not
    # silently fall back to a full scan via the TypeError guard
    one = fmt.read(spark, path, where=[("year", "==", 1)])
    assert len(one.inputFiles()) < len(fmt.read(spark, path).inputFiles())
    assert one.count() == 100


def test_incremental_view_writer_exactly_once(spark, tmp_path):
    from pyspark.sql import functions as F

    from developing_img_etl_spark.streaming.txlog_sink import (
        incremental_view_writer,
    )

    fmt = TxLogFormat()
    path = str(tmp_path / "view")
    wb = incremental_view_writer(fmt, path, "ivm", ["g"], ["x"])
    b0 = spark.createDataFrame([("a", 10.0), ("b", 5.0)], "g STRING, x DOUBLE")
    b1 = spark.createDataFrame([("a", 1.0)], "g STRING, x DOUBLE")
    wb(b0, 0)
    wb(b0, 0)  # immediate replay: marker no-op
    wb(b1, 1)
    wb(b0, 0)  # late replay after a newer batch: still a no-op
    got = {r.g: (r.n, float(r.x)) for r in fmt.read(spark, path).collect()}
    assert got == {"a": (2, 11.0), "b": (1, 5.0)}
    # the view's history is per-batch snapshots (time travel works)
    v0 = {r.g: r.n for r in fmt.read(spark, path, version=0).collect()}
    assert v0 == {"a": 1, "b": 1}


@pytest.mark.parametrize("rival_app", ["etl", "other"])
@pytest.mark.parametrize("kind", ["append", "view"])
def test_commit_loop_retries_after_losing_the_cas(spark, tmp_path, kind, rival_app):
    """A rival commit lands between the writer's version capture and
    its commit, so the first commit loses the CAS. On retry the writer
    finds its own marker (the rival was a concurrent replay of the same
    batch) or commits at the next version (the rival was another app)."""
    from developing_img_etl_spark.streaming.txlog_sink import (
        exactly_once_batch_writer,
        incremental_view_writer,
    )

    path = str(tmp_path / "t")
    batch = spark.createDataFrame([("a", 10.0), ("b", 5.0)], "g STRING, x DOUBLE")
    if kind == "append":
        method = "append"

        def make(f, app):
            return exactly_once_batch_writer(f, path, app)
    else:
        method = "overwrite"

        def make(f, app):
            return incremental_view_writer(f, path, app, ["g"], ["x"])

    fmt = TxLogFormat()
    rival = make(TxLogFormat(), rival_app)
    real = getattr(fmt, method)
    attempts = []

    def racing_commit(df, p, **kw):
        attempts.append(kw["expected_version"])
        if len(attempts) == 1:
            rival(batch, 0)  # claims the version this commit expects
        return real(df, p, **kw)

    setattr(fmt, method, racing_commit)
    make(fmt, "etl")(batch, 0)

    assert fmt.txn_batches(path, "etl") == {0}
    if rival_app == "etl":  # retry finds the marker: no second commit
        assert attempts == [0] and fmt.versions(path) == [0]
        copies = 1
    else:  # retry commits at the next version
        assert attempts == [0, 1] and fmt.versions(path) == [0, 1]
        copies = 2
    got = fmt.read(spark, path)
    if kind == "append":
        assert got.count() == 2 * copies
    else:
        rows = {r.g: (r.n, float(r.x)) for r in got.collect()}
        assert rows == {"a": (copies, 10.0 * copies), "b": (copies, 5.0 * copies)}
