"""Reference-fixture parity (VERDICT r1 next-round #5): run the REAL
reference artifacts — foto_metadata.xlsx (24 catalog rows) and the 24
compressed/*.jpg files — through the engine's own sources and image
UDFs, and assert the invariants BASELINE.md records for them:

  - catalog: 3 (kode_proyek, minggu) groups × 8 rows, unique composite
    keys (test.py:103-107, 115-124);
  - files: 24 jpgs, mean size 46.26 KB (BASELINE.md), every one
    648×490 (read through the real pandas-UDF metadata path via the
    stdlib JPEG header parser — no codec in this container);
  - the catalog's nama_file set matches the on-disk tree per normalized
    (kode_proyek, minggu) partition (test.py:172-173 layout).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from developing_img_etl_spark.functions.strings import normalize_name
from developing_img_etl_spark.multimodal.image import image_dims
from developing_img_etl_spark.sources.binary import read_binary_dir, with_partition_keys
from developing_img_etl_spark.sources.excel import read_excel

XLSX = "/root/reference/foto_metadata.xlsx"
JPG_ROOT = "/root/reference/compressed"
# Without the reference run's artifacts on disk, every test here reads
# the reference-shaped stand-in (tests/reference_standin.py) instead,
# and takes its expected values from what the stand-in wrote.
REAL = os.path.exists(XLSX) and os.path.isdir(JPG_ROOT)


@pytest.fixture(scope="module")
def ref(request) -> tuple[str, str]:
    """(catalog xlsx, photo root) of the reference run or the stand-in."""
    if REAL:
        return XLSX, JPG_ROOT
    root = request.getfixturevalue("reference_standin")
    return os.path.join(root, "foto_metadata.xlsx"), os.path.join(root, "compressed")


@pytest.fixture(scope="module")
def catalog(spark, ref):
    return read_excel(spark, ref[0])


@pytest.fixture(scope="module")
def files(spark, ref):
    return with_partition_keys(read_binary_dir(spark, ref[1]))


def test_catalog_groups_3x8(catalog):
    groups = (
        catalog.groupBy("kode_proyek", "minggu")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(groups) == 3
    assert all(r.n == 8 for r in groups)
    assert catalog.count() == 24


def test_catalog_composite_keys_unique(catalog):
    keyed = catalog.select(
        F.concat_ws("_", "kode_proyek", "minggu", "nama_file").alias("k")
    )
    assert keyed.distinct().count() == 24


def test_real_files_size_stats(files, ref):
    """BASELINE.md: 24 files, mean 46.26 KB at JPEG quality 65 (the
    stand-in's mean is computed from its files)."""
    if REAL:
        mean_kb = 46.26
    else:
        sizes = [os.path.getsize(p) / 1024 for p in glob.glob(f"{ref[1]}/**/*.jpg", recursive=True)]
        mean_kb = sum(round(s, 2) for s in sizes) / len(sizes)
    row = files.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("size_gambar_kb"), 2).alias("mean_kb"),
    ).collect()[0]
    assert row.n == 24
    assert row.mean_kb == pytest.approx(mean_kb, abs=0.01)


def test_real_files_dimensions_648x490(files):
    """M2 through the actual pandas-UDF path on real JPEG bytes: the
    stdlib SOF parse must report 648×490 for every fixture file
    (BASELINE.md; resize cap 1024 is a no-op for these)."""
    dims = files.select(image_dims(F.col("content")).alias("d")).select("d.*")
    rows = dims.collect()
    assert len(rows) == 24
    assert all((r.width, r.height) == (648, 490) for r in rows)


def test_catalog_matches_disk_tree(catalog, files):
    """Every catalog record's (normalized kode_proyek, minggu,
    nama_file) has exactly one on-disk file, and vice versa."""
    cat_keys = catalog.select(
        normalize_name(F.col("kode_proyek")).alias("kode_proyek"),
        normalize_name(F.col("minggu")).alias("minggu"),
        normalize_name(F.col("nama_file")).alias("nama_file"),
    )
    disk_keys = files.select("kode_proyek", "minggu", "nama_file")
    assert cat_keys.exceptAll(disk_keys).count() == 0
    assert disk_keys.exceptAll(cat_keys).count() == 0


def test_catalog_size_column_matches_real_files(catalog, files):
    """size_gambar_kb recorded by the reference run == round(length/1024, 2)
    of the actual bytes on disk (test.py:58-59), for all 24 records."""
    cat = catalog.select(
        normalize_name(F.col("kode_proyek")).alias("kode_proyek"),
        normalize_name(F.col("minggu")).alias("minggu"),
        F.col("nama_file"),
        F.col("size_gambar_kb").cast("double").alias("recorded_kb"),
    )
    joined = cat.join(
        files.select("kode_proyek", "minggu", "nama_file", "size_gambar_kb"),
        ["kode_proyek", "minggu", "nama_file"],
    )
    assert joined.count() == 24
    off = joined.filter(
        F.abs(F.col("recorded_kb") - F.col("size_gambar_kb")) > 0.01
    ).count()
    assert off == 0


def test_pil_resize_contract_matches_fake_arithmetic():
    """VERDICT r1 #6: when PIL IS importable, its resize must receive
    the same int()-truncated target dims the fake codec computes
    (test.py:51-53 semantics). Gated on importability; asserts the
    shared truncation arithmetic either way."""
    from developing_img_etl_spark.multimodal import image as IMG

    w, h = 2048, 1537
    scale = IMG.MAX_DIM / float(max(w, h))
    assert (int(w * scale), int(h * scale)) == (1024, 768)

    try:
        from PIL import Image  # noqa: F401
    except ImportError:
        pytest.skip("PIL not installed in this container")

    fake = IMG.make_fake_image(w, h)
    out = IMG._recompress(fake, IMG.MAX_DIM, IMG.JPEG_QUALITY)
    assert IMG._decode_dims(out) == (1024, 768)


def test_xlsx_write_back_round_trip(spark, tmp_path, ref):
    """S8 write-back parity (/root/reference/test.py:200-201 —
    `final_df.to_excel(METADATA_FILE, index=False)`): catalog → stdlib
    xlsx writer → read back via the S1 driver-side reader → equals the
    original golden workbook, including after the reference's
    append-then-rewrite cycle."""
    from developing_img_etl_spark.sinks.xlsx_writer import write_xlsx
    from developing_img_etl_spark.sources.excel import read_excel

    golden = read_excel(spark, ref[0])
    out = str(tmp_path / "foto_metadata_copy.xlsx")
    assert write_xlsx(golden, out) == 24

    def rows(df):
        return sorted(
            tuple(str(v) if v is not None else None for v in r) for r in df.collect()
        )

    back_s1 = read_excel(spark, out)
    assert back_s1.columns == golden.columns
    assert rows(back_s1) == rows(golden)

    # the reference's SAVE & MERGE cycle: append new records, rewrite
    new = golden.limit(2).withColumn(
        "nama_file", F.concat(F.col("nama_file"), F.lit("_new"))
    )
    merged = golden.unionByName(new)
    out2 = str(tmp_path / "foto_metadata_merged.xlsx")
    assert write_xlsx(merged, out2) == 26
    assert rows(read_excel(spark, out2)) == rows(merged)

    # openpyxl cross-check when available (the engine pandas uses)
    try:
        import openpyxl
    except ImportError:
        return
    wb = openpyxl.load_workbook(out)
    ws = wb.active
    grid = [[str(c.value) if c.value is not None else None for c in row]
            for row in ws.iter_rows()]
    assert grid[0] == list(golden.columns)
    assert len(grid) == 25


def test_xlsx_writer_rejects_invalid_cells(spark, tmp_path):
    """Non-finite floats become empty cells and XML-invalid control
    chars are stripped from strings — a workbook containing either is
    rejected by readers (ADVICE r5)."""
    from developing_img_etl_spark.sinks.xlsx_writer import write_xlsx
    from developing_img_etl_spark.sources.excel import read_excel

    df = spark.createDataFrame(
        [
            ("ok", 1.5),
            ("ctrl\x07char\x00s kept\ttab\nnewline", float("inf")),
            ("nan row", float("nan")),
        ],
        "s string, x double",
    )
    out = str(tmp_path / "weird.xlsx")
    assert write_xlsx(df, out) == 3

    back = read_excel(spark, out)
    got = sorted((r["s"], r["x"]) for r in back.collect())
    assert got == [
        ("ctrlchars kept\ttab\nnewline", None),
        ("nan row", None),
        ("ok", "1.5"),
    ]
