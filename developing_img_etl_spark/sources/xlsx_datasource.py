"""S14 — the Excel reader as a REAL Spark data source (Python
DataSource API, Spark 4+): `spark.read.format("xlsx").load(path)`.

S1's driver-side `read_excel` is the right shape for one small Forms
export; this wraps the same stdlib zipfile+XML parser
(sources/excel.py) in the DataSourceV2 Python API so xlsx behaves like
any other format — usable in SQL (`CREATE TABLE ... USING xlsx`),
composable with the catalog, and EXECUTOR-side: with many workbook
files (the 100 TB shape is thousands of small export files, not one
big one), each file becomes an InputPartition and parses in parallel
instead of serially on the driver.

Register once per session:  register_xlsx_source(spark)
Then:                       spark.read.format("xlsx")
                                 .option("path", "/dir/or/file.xlsx")
                                 .schema("a string, b string").load()

All columns surface as strings (the parser's contract — Forms exports
are stringly typed; cast downstream), and the declared schema selects/
orders columns by header name.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType


class _XlsxPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class XlsxDataSource(DataSource):
    """One workbook file (or a directory of them) → one table; first
    sheet, first row = header."""

    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self) -> str:
        # Infer from the first file's header ROW ONLY (stream-parse,
        # stops at the first </row> — ADVICE r3: the earlier form parsed
        # the whole workbook driver-side). Runs driver-side once;
        # executors re-parse their own files only.
        from .excel import _check_no_duplicate_headers, read_xlsx_header

        header = read_xlsx_header(_paths(self.options)[0])
        _check_no_duplicate_headers(header)
        return ", ".join(f"`{h}` string" for h in header)

    def reader(self, schema: StructType) -> DataSourceReader:
        return _XlsxReader(schema, _paths(self.options))


def _paths(options) -> list[str]:
    path = options.get("path")
    if not path:
        raise ValueError("xlsx source requires a path (.load(path) or option('path', ...))")
    if os.path.isdir(path):
        out = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".xlsx")
        )
        if not out:
            raise FileNotFoundError(f"no .xlsx files under {path}")
        return out
    return [path]


class _XlsxReader(DataSourceReader):
    def __init__(self, schema: StructType, paths: list[str]):
        self.fields = [f.name for f in schema.fields]
        self.paths = paths

    def partitions(self):
        return [_XlsxPartition(p) for p in self.paths]

    def read(self, partition: _XlsxPartition):
        from .excel import _check_no_duplicate_headers, _read_xlsx_stdlib

        header, rows = _read_xlsx_stdlib(partition.path)
        _check_no_duplicate_headers(header)
        idx = {h: i for i, h in enumerate(header)}
        missing = [f for f in self.fields if f not in idx]
        if missing:
            raise ValueError(
                f"{partition.path}: columns {missing} not in header {header}"
            )
        sel = [idx[f] for f in self.fields]
        for row in rows:
            yield tuple(row[i] if i < len(row) else None for i in sel)


def register_xlsx_source(spark: SparkSession) -> None:
    spark.dataSource.register(XlsxDataSource)
