"""Exactly-once streaming sink into the transactional table format
(SURVEY.md §2.9 ST2 upgraded to the Delta streaming-sink pattern).

`incremental.py::start_incremental_append` gets idempotency from a
composite-key anti-join — correct, but it needs a natural key and pays
a sink read per batch. The transactional form needs neither: every
micro-batch commit is stamped with a **transaction marker**
``(app_id, batch_id)`` (the Delta `txn` action), and a replayed batch
— checkpoint rollback, crash between the sink commit and the
checkpoint advance, or a fully deleted checkpoint re-draining the
source — is detected from the log and becomes a NO-OP. Idempotence by
transaction identity, not by data content.

The marker check and the commit are raced-closed with the log's
version CAS: the writer reads the committed-batch set, commits with
``expected_version`` = next; if ANOTHER writer (a concurrent retry of
the same batch) claims the version first, the loser re-reads the
marker set and discovers the batch is already in — no double append,
no locks. Exactly the upgrade path the reference's GET-sha-then-PUT
sink (/root/reference/test.py:70-81) points at.

Scale: the per-batch overhead is one marker lookup seeded from the
log's periodic checkpoints (`TxLogFormat.last_txn_batch` —
O(checkpoint_every) driver work, the Delta setTransaction folding)
plus one atomic commit; batch data itself is staged exactly once.
Batch ids are monotonic per Spark query lifetime, so "≤ last
committed" is the idempotency predicate.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame

from ..sinks.txlog import TxConflict, TxLogFormat


def _commit_exactly_once(
    fmt: TxLogFormat, path: str, app_id: str, batch_id: int, commit, max_retries: int
) -> None:
    """Commit batch ``batch_id`` of ``app_id`` at most once: skip it if
    its txn marker is already in the log, else call
    ``commit(txn=..., expected_version=...)`` and retry on TxConflict.
    A version > 0 means the table already has a snapshot."""
    for _ in range(max_retries):
        # ORDER MATTERS: capture the expected version FIRST, then
        # scan markers. The marker scan then covers every commit
        # ≤ expected-1; any commit that lands after it (including a
        # concurrent replay of THIS batch) claims `expected` and
        # fails our CAS, forcing a marker re-read. Checking markers
        # before the version read would leave a window where a
        # freshly-committed duplicate passes both checks.
        vs = fmt.versions(path)
        expected = (vs[-1] + 1) if vs else 0
        last = fmt.last_txn_batch(path, app_id)
        if last is not None and batch_id <= last:
            return  # replay of a committed batch: no-op
        try:
            commit(txn=(app_id, batch_id), expected_version=expected)
            return
        except TxConflict:
            continue  # someone committed meanwhile — recheck markers
    raise TxConflict(
        f"{path}: batch {batch_id} lost the commit race {max_retries} times"
    )


def exactly_once_batch_writer(
    fmt: TxLogFormat, path: str, app_id: str, *, max_retries: int = 10
):
    """A foreachBatch callable with transactional exactly-once appends.

    Usage::

        q = (df.writeStream
               .foreachBatch(exactly_once_batch_writer(fmt, path, "my-app"))
               .option("checkpointLocation", ckpt)
               .trigger(availableNow=True)
               .start())
    """

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        _commit_exactly_once(
            fmt, path, app_id, batch_id, partial(fmt.append, batch, path), max_retries
        )

    return write_batch


def incremental_view_writer(
    fmt: TxLogFormat,
    path: str,
    app_id: str,
    group_cols,
    sum_cols,
    *,
    max_retries: int = 10,
):
    """Streaming MATERIALIZED-VIEW maintenance, exactly once: each
    micro-batch is delta-aggregated (operators/ivm.py — cost ∝ batch,
    never the base) and merged into the stored view with ONE
    snapshot-isolated overwrite stamped by a txn marker. Readers of the
    view always see a complete consistent snapshot; a replayed batch is
    a marker no-op; a concurrent replay loses the version CAS and
    discovers the marker on retry."""
    from ..operators.ivm import delta_aggregate, incremental_refresh

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        def refresh(*, txn, expected_version: int) -> None:
            refreshed = delta_aggregate(batch, group_cols, sum_cols)
            if expected_version:
                view = fmt.read(batch.sparkSession, path)
                refreshed = incremental_refresh(view, refreshed, group_cols, sum_cols)
            fmt.overwrite(refreshed, path, txn=txn, expected_version=expected_version)

        _commit_exactly_once(fmt, path, app_id, batch_id, refresh, max_retries)

    return write_batch
