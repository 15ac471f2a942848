"""Partitioned sinks (SURVEY.md §2.1 S6, S8).

The reference's output layout `weekly_photos/{kode_proyek}/{minggu}/{file}`
(/root/reference/test.py:172-173) is exactly a Hive-style partitioned
write; partition pruning on (kode_proyek, minggu) then comes free for
every downstream read. Keys must be normalized BEFORE reaching here
(§1.4 — the reference wrote two partition trees for one project).

All persistence goes through the TableFormat seam (sinks/writer.py):
parquet locally, Delta/Iceberg on a deployment — these wrappers keep
the original call signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .writer import DEFAULT_FORMAT, TableFormat


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_cols: list[str] = ("kode_proyek", "minggu"),
    mode: str = "append",
    fmt: TableFormat = DEFAULT_FORMAT,
) -> None:
    """Hive-partitioned write. Binary `content` columns ride along as a
    regular column — never a shuffle key (SURVEY §4.2)."""
    if mode == "append":
        fmt.append(df, path, partition_cols=list(partition_cols))
    else:
        df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def overwrite_catalog(catalog: DataFrame, path: str, *, fmt: TableFormat = DEFAULT_FORMAT) -> None:
    """The catalog overwrite-save (test.py:200-201); see
    ParquetFormat.overwrite for the read-then-overwrite-same-path
    hazard the default implementation defuses. The catalog holds
    metadata rows only, so it is written as one file whatever the
    partitioning of the rows it came from (e.g. compress_pipeline's
    spread): one partition per core would write one tiny file each.
    A one-partition exchange rather than coalesce(1), which would pull
    the upstream work into one task and measured slower per save."""
    fmt.overwrite(catalog.repartition(1), path)


def read_catalog(
    spark: SparkSession, path: str, schema: str, *, fmt: TableFormat = DEFAULT_FORMAT
) -> DataFrame:
    """Read the catalog, or an empty frame on first run
    (test.py:99-111 'if exists' semantics)."""
    return fmt.read(spark, path, schema)
