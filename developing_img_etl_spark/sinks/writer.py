"""Table-format seam (SURVEY.md §2.1 S8 at fleet scale).

The engine's tables are plain parquet directories locally, but the
catalog/append/overwrite call sites are exactly where a deployment
wants a transactional table format: snapshot-isolated overwrite,
concurrent writers, and compaction that doesn't race readers — i.e.
Delta Lake or Apache Iceberg. This module is the seam: everything that
persists a table goes through a `TableFormat`, and the default
`ParquetFormat` reproduces today's behavior exactly. A deployment
swaps in a `DeltaFormat`/`IcebergFormat` (same four methods, their
commit protocol underneath — e.g. `df.write.format("delta")` /
`format("iceberg")`) and nothing upstream changes; users stop
hand-rolling atomicity on top of directory renames. `TxLogFormat`
(sinks/txlog.py) is the in-repo transactional implementation of this
seam — snapshot isolation, atomic commits, conflict detection, time
travel — proving the protocol shape with zero dependencies.

Why the parquet tier is "atomic enough" locally and not at fleet
scale: overwrite is delete-then-write (a reader can observe the gap),
append is visible file-by-file, and there is no writer-writer
coordination. The localCheckpoint in overwrite() papers over the
single-writer case only; compaction that doesn't race readers is
`TxLogFormat.optimize`.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame


@runtime_checkable
class TableFormat(Protocol):
    """The four operations the engine needs from a table format."""

    def append(self, df: DataFrame, path: str, *, partition_cols: list[str] | None = None) -> None: ...

    def overwrite(self, df: DataFrame, path: str) -> None: ...

    def read(self, spark: SparkSession, path: str, schema: str | None = None) -> DataFrame: ...

    def exists(self, spark: SparkSession, path: str) -> bool: ...


class ParquetFormat:
    """Plain-parquet implementation (the local/default tier)."""

    def append(
        self, df: DataFrame, path: str, *, partition_cols: list[str] | None = None
    ) -> None:
        w = df.write.mode("append")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(path)

    def overwrite(self, df: DataFrame, path: str) -> None:
        """Overwrite-save. The typical lineage is read(path) → union →
        overwrite of the SAME path; Spark either refuses ('Cannot
        overwrite a path that is also being read from') or deletes
        input files mid-read. Materialize to executor storage first so
        the write's lineage no longer references the target. A
        transactional format makes this a snapshot commit instead."""
        df.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)

    def read(self, spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
        """Read a table, or an empty frame on first run when a schema
        is given. Existence is probed via the Hadoop FS — catching read
        exceptions instead would also swallow corrupt-footer /
        permission / transient-FS errors and silently restart the
        table from empty."""
        if self.exists(spark, path):
            return spark.read.schema(schema).parquet(path) if schema else spark.read.parquet(path)
        if schema is None:
            raise FileNotFoundError(path)
        return local_frame(spark, [], schema)

    def exists(self, spark: SparkSession, path: str) -> bool:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))


DEFAULT_FORMAT: TableFormat = ParquetFormat()
