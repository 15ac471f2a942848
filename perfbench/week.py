"""One week of the paper's pipeline, composed from the package's public
functions the way a user of the package would: Forms xlsx in, catalog
saved out.

Every call into a package layer sits in a ``Tracer`` span named
``<layer>.<step>``. With tracing off the spans cost one no-op context
manager each.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from developing_img_etl_spark.functions.strings import size_kb
from developing_img_etl_spark.multimodal.image import compress_pipeline
from developing_img_etl_spark.pipeline.etl import (
    CATALOG_COLUMNS,
    append_catalog,
    folder_map_df,
    run_incremental,
)
from developing_img_etl_spark.sinks.partitioned import (
    overwrite_catalog,
    read_catalog,
    write_partitioned,
)
from developing_img_etl_spark.sinks.rest import LocalFsTransport, upload
from developing_img_etl_spark.sinks.xlsx_writer import write_xlsx
from developing_img_etl_spark.sources.binary import read_binary_dir
from developing_img_etl_spark.sources.excel import read_excel

CATALOG_DDL = (
    "kode_proyek string, minggu string, link_foto string, "
    "deskripsi_foto string, nama_file string, size_gambar_kb double"
)


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    week: int


class Tracer:
    """Spans kept in memory; the caller writes them out at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self.week = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, self.week))

    def self_times(self, week: int) -> dict[str, float]:
        """Per span name, the week's total duration minus the time its
        child spans cover."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.week == week:
                out[s.name] += s.end - s.start
                if s.parent is not None:
                    out[s.parent] -= s.end - s.start
        return dict(out)


@dataclass(frozen=True)
class WeekPaths:
    forms: str  # the Forms export xlsx
    staging: str  # downloaded photos, <folder>/<file>
    catalog: str  # the catalog table (parquet), overwritten each week
    store: str  # the upload target (LocalFsTransport root)
    weekly_photos: str  # partitioned photo output, {kode_proyek}/{minggu}/
    xlsx: str  # the foto_metadata.xlsx export


@dataclass
class WeekResult:
    """What the week left in memory for the oracle and the trace. The
    ``*_query`` frames are the ones the pins executed, so their query
    executions hold the plan timings and SQL metrics."""

    forms: DataFrame  # the parsed Forms export
    records_query: DataFrame  # resolved new photos, as built by run_incremental
    records: DataFrame  # ... pinned
    codec_query: DataFrame  # recompressed photos with status 'ok'
    ok: DataFrame  # ... pinned
    statuses: list[tuple[str, str]]  # (object_key, upload status)
    catalog_rows: int  # rows of the saved catalog (the xlsx export)


def run_week(spark: SparkSession, paths: WeekPaths, tracer: Tracer) -> WeekResult:
    span = tracer.span
    with span("week"):
        with span("sources.forms"):
            forms = read_excel(spark, paths.forms)
        with span("sources.listing"):
            files = read_binary_dir(spark, paths.staging)
        staged = files.select(
            F.element_at(F.split("path", "/"), -1).alias("resolved_file"), "content"
        )
        with span("sinks.read_catalog"):
            catalog = read_catalog(spark, paths.catalog, CATALOG_DDL)
        with span("pipeline.build"):
            records_query, _ = run_incremental(
                forms,
                catalog,
                staged.withColumnRenamed("resolved_file", "file_name"),
                folder_map_df(spark),
            )
        with span("pipeline.resolve"):
            records = records_query.localCheckpoint(eager=True)
        with span("multimodal.codec"):
            # keep only photos that decoded, as the reference does
            # (test.py:179-183); pinned once, it feeds three sinks
            codec_query = compress_pipeline(records.join(staged, "resolved_file")).filter(
                F.col("status") == "ok"
            )
            ok = codec_query.localCheckpoint(eager=True)
        with span("sinks.upload"):
            objects = ok.select(
                F.concat_ws("/", "kode_proyek", "minggu", "nama_file").alias("object_key"),
                F.col("content_out").alias("content"),
            )
            statuses = [
                (r.object_key, r.status)
                for r in upload(objects, functools.partial(LocalFsTransport, paths.store)).collect()
            ]
        with span("sinks.partitioned_write"):
            write_partitioned(
                ok.select(*CATALOG_COLUMNS[:5], F.col("content_out").alias("content")),
                paths.weekly_photos,
            )
        new_rows = ok.withColumn("size_gambar_kb", size_kb(F.length("content_out")))
        with span("sinks.catalog"):
            overwrite_catalog(append_catalog(catalog, new_rows.select(*CATALOG_COLUMNS)), paths.catalog)
        with span("sinks.xlsx"):
            n = write_xlsx(read_catalog(spark, paths.catalog, CATALOG_DDL), paths.xlsx)
    return WeekResult(forms, records_query, records, codec_query, ok, statuses, n)
