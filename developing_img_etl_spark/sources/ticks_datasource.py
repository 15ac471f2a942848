"""S16 — a custom STREAMING Python DataSource (Spark 4 API): a
bounded, deterministic, offset-tracked tick source.

S14 (xlsx) exercises the batch half of the Python DataSource API;
this is the streaming half — `spark.readStream.format("ticks")` with
real offset management: `initialOffset` / `latestOffset` /
`partitions(start, end)` / `read(partition)`. Offsets are row
indices, a micro-batch covers [start, end) exactly once in
`step`-row partitions, and every row is a pure function of its index
— so ANY duplication, loss or reorder introduced by the source/engine
contract shows up against an arithmetic oracle. The latest offset is
the whole bounded range, so a Trigger.AvailableNow drain reads all
of it, and a replayed batch re-plans the same partitions.

This is the in-container stand-in for the Kafka/Kinesis-style sources
a deployment plugs in: the engine-facing contract (offsets, replay,
commit) is identical; only `read` would fetch from a broker instead
of generating arithmetic rows.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import StructType


class TicksDataSource(DataSource):
    """options: end (total rows), step (rows per partition)."""

    @classmethod
    def name(cls) -> str:
        return "ticks"

    def schema(self) -> str:
        return "i bigint, user_id int, v bigint"

    def streamReader(self, schema: StructType):
        return _TicksStreamReader(self.options)


def _row(i: int) -> tuple[int, int, int]:
    # pure function of the offset — the oracle replays it from range()
    return (i, i % 50, (i * i) % 97 + i % 13)


class _TicksStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.end = int(options.get("end", 10_000))
        self.step = int(options.get("step", 1_000))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def latestOffset(self) -> dict:
        return {"i": self.end}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # also the failure-replay path: the same offsets give the same rows
        s, e = int(start["i"]), int(end["i"])
        return [InputPartition((i, min(i + self.step, e))) for i in range(s, e, self.step)]

    def read(self, partition: InputPartition):
        lo, hi = partition.value
        return map(_row, range(lo, hi))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up — offsets are arithmetic


def register_ticks_source(spark: SparkSession) -> None:
    spark.dataSource.register(TicksDataSource)
