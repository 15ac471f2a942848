"""Incremental micro-batch pipeline (SURVEY.md §2.9 ST1-ST3).

The reference hand-rolls incrementality: every run re-reads the whole Excel
and skips already-processed composite keys via an in-memory key set
(/root/reference/test.py:100-111,143-146), with run-to-run idempotency
from the sha-check upsert sink (test.py:69-81). The Spark-native form:

  ST1  file-source readStream + Trigger.AvailableNow — each run drains
       exactly the files not yet in the checkpoint, then stops. The
       checkpoint replaces the catalog-as-state-store role.
  ST2  foreachBatch writer that anti-joins the batch against the sink
       table on the composite key before appending — idempotent under
       replays, the sha-compare PUT generalized.

In-stream duplicate keys within a watermark horizon are the
dropDuplicatesWithinWatermark operator that st11
(queries/streaming_batch.py) checks against its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions.strings import composite_key
from ..sinks.writer import DEFAULT_FORMAT, TableFormat


def read_photo_stream(spark: SparkSession, src_dir: str, schema: T.StructType) -> DataFrame:
    """ST1: the long-form photo-record stream (one row per photo)."""
    return spark.readStream.schema(schema).parquet(src_dir)


def start_incremental_append(
    photos: DataFrame,
    *,
    target_dir: str,
    checkpoint_dir: str,
    spark: SparkSession,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> StreamingQuery:
    """ST2: AvailableNow drain with an idempotent foreachBatch append.

    Each micro-batch anti-joins the current sink contents on the
    composite key, so a replayed batch (checkpoint rollback, retry)
    can never double-append — the engine's version of the reference's
    GET-sha-then-PUT create-or-replace (test.py:70-81). Persistence
    goes through the TableFormat seam: with a transactional format the
    read-before-append pair becomes a snapshot read + commit."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        key = composite_key("kode_proyek", "minggu", "nama_file")
        fresh = batch.dropDuplicates(["kode_proyek", "minggu", "nama_file"])
        sess = batch.sparkSession
        # Probe sink existence explicitly via the format — a blanket
        # except around the read would also swallow real failures
        # (corrupt footer, permissions, transient FS) and silently skip
        # the anti-join, double-appending. Only a genuinely absent sink
        # may skip it; any other read error must fail the batch.
        if fmt.exists(sess, target_dir):
            existing = fmt.read(sess, target_dir).select(
                composite_key("kode_proyek", "minggu", "nama_file").alias("__key")
            )
            fresh = (
                fresh.withColumn("__key", key)
                .join(existing, "__key", "left_anti")
                .drop("__key")
                # The append below writes into the same path the
                # anti-join reads; materialize first so the write job
                # never races its own input file listing.
                .localCheckpoint(eager=True)
            )
        fmt.append(fresh, target_dir)

    return (
        photos.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
