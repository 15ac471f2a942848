"""The reference's main pipeline (/root/reference/test.py:96-204),
re-expressed as one declarative Spark graph.

Reference lifecycle (SURVEY.md §3.1) → engine stages:

  read Forms export        → forms DataFrame (S1)
  per-row 8-photo loop     → unpivot_groups (§2.10)
  null filter              → F.isNotNull (P2)
  filename derive          → url_basename + normalize_name (F1-F3)
  key-set anti-join probe  → left-anti join vs catalog (J1)
  FOTO_FOLDER_MAP lookup   → broadcast dim inner join, miss=drop (J2/P4)
  file resolve + fuzzy     → operators.fuzzy.fuzzy_resolve (J3)
  compress + upload        → multimodal.image UDFs + sinks (M1-M3/S6-S7)
  record append            → unionByName catalog append (S8/O3)

Differences from the reference, by design (SURVEY.md §1.4):
  - kode_proyek IS normalized (the reference forgot, duplicating
    partition trees on disk);
  - fuzzy match is deterministic (sorted-first, not listing-order);
  - per-record status column instead of skip-and-print.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.strings import composite_key, normalize_name, raw_url, url_basename
from ..operators.fuzzy import fuzzy_resolve
from ..operators.unpivot import unpivot_groups
from ..session import local_frame

# Reference constants (test.py:21-36). The folder map is the 8-row
# dimension FOTO_FOLDER_MAP (test.py:23-32).
PHOTO_COLS = [
    "Foto Satu", "Foto Dua", "Foto Tiga", "Foto Empat",
    "Foto Lima", "Foto Enam", "Foto Tujuh", "Foto Delapan",
]
DESC_COLS = [
    "Kegiatan pada foto satu", "Kegiatan pada foto dua",
    "Kegiatan pada foto tiga", "Kegiatan pada foto empat",
    "Kegiatan pada foto lima", "Kegiatan pada foto enam",
    "Kegiatan pada foto tujuh", "Kegiatan pada foto delapan",
]
FOLDER_NAMES = [
    "Foto Pertama", "Foto Kedua", "Foto Ketiga", "Foto Keempat",
    "Foto Kelima", "Foto Keenam", "Foto Ketujuh", "Foto Kedelapan",
]
PROJECT_COL = "Kode proyek dan nama proyek"
WEEK_COL = "Minggu yang dilaporkan"

CATALOG_COLUMNS = [
    "kode_proyek", "minggu", "link_foto", "deskripsi_foto", "nama_file", "size_gambar_kb",
]


def folder_map_df(spark: SparkSession) -> DataFrame:
    """The FOTO_FOLDER_MAP dimension as a broadcastable DataFrame."""
    rows = list(zip(PHOTO_COLS, FOLDER_NAMES))
    return local_frame(spark, rows, "foto_col string, folder_name string")


def unpivot_photos(forms: DataFrame) -> DataFrame:
    """Wide Forms row → one row per non-null photo (test.py:128-137).

    Missing description defaults to '' (row.get(col, "") semantics,
    test.py:134). Output keys are normalized ONCE here (§1.4 fix)."""
    long = unpivot_groups(
        forms,
        ids=[PROJECT_COL, WEEK_COL],
        groups={"foto_url": PHOTO_COLS, "deskripsi_foto": DESC_COLS},
        position_name="foto_no",
    )
    return (
        long.filter(F.col("foto_url").isNotNull() & (F.trim("foto_url") != ""))
        .select(
            normalize_name(F.col(PROJECT_COL).cast("string")).alias("kode_proyek"),
            normalize_name(F.col(WEEK_COL).cast("string")).alias("minggu"),
            F.col("foto_no"),
            F.element_at(
                F.array(*[F.lit(c) for c in PHOTO_COLS]), F.col("foto_no")
            ).alias("foto_col"),
            F.col("foto_url"),
            F.coalesce(F.col("deskripsi_foto"), F.lit("")).alias("deskripsi_foto"),
            normalize_name(url_basename(F.col("foto_url"))).alias("nama_file"),
        )
    )


def new_photos(photos: DataFrame, catalog: DataFrame) -> DataFrame:
    """Incremental dedup: drop photos whose composite key is already in
    the catalog (test.py:100-111,143-146) — one left-anti join."""
    key = composite_key("kode_proyek", "minggu", "nama_file")
    existing = catalog.select(
        composite_key("kode_proyek", "minggu", "nama_file").alias("__key")
    )
    return (
        photos.withColumn("__key", key)
        .join(existing, "__key", "left_anti")
        .drop("__key")
    )


def attach_folder(photos: DataFrame, folder_map: DataFrame) -> DataFrame:
    """Broadcast dim join; unmapped photo columns are dropped — the
    map-miss guard (test.py:148-151)."""
    return photos.join(F.broadcast(folder_map), "foto_col", "inner")


def resolve_local_files(photos: DataFrame, files: DataFrame) -> DataFrame:
    """Exact-then-fuzzy filename resolution (test.py:156-169), J3."""
    return fuzzy_resolve(
        photos,
        files,
        row_key=["kode_proyek", "minggu", "nama_file"],
        expected_name="nama_file",
        file_name="file_name",
    )


def build_records(
    resolved: DataFrame,
    *,
    repo_base: str = "https://raw.githubusercontent.com/example/repo/main/weekly_photos",
) -> DataFrame:
    """Catalog records for successfully resolved photos (test.py:186-193).
    size_gambar_kb is attached later by the image stage (M2); here the
    record carries the resolved source file + public URL."""
    ok = resolved.filter(F.col("resolved_file").isNotNull())
    return ok.select(
        "kode_proyek",
        "minggu",
        raw_url(repo_base, "kode_proyek", "minggu", "nama_file").alias("link_foto"),
        "deskripsi_foto",
        "nama_file",
        F.lit(None).cast("double").alias("size_gambar_kb"),
        "resolved_file",
    )


def append_catalog(catalog: DataFrame, records: DataFrame) -> DataFrame:
    """Catalog append (pd.concat + overwrite-save, test.py:197-201) as a
    unionByName; the caller owns the overwrite write."""
    return catalog.unionByName(
        records.select(*CATALOG_COLUMNS), allowMissingColumns=True
    )


def run_incremental(
    forms: DataFrame,
    catalog: DataFrame,
    files: DataFrame,
    folder_map: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The full v2 pipeline graph. Returns (new_records, new_catalog)."""
    photos = unpivot_photos(forms)
    fresh = new_photos(photos, catalog)
    mapped = attach_folder(fresh, folder_map)
    resolved = resolve_local_files(mapped, files)
    records = build_records(resolved)
    return records, append_catalog(catalog, records.drop("resolved_file"))
