"""Tests of the benchmark's own parts; none starts a Spark session.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from developing_img_etl_spark.multimodal.jpeg import jpeg_encode  # noqa: E402


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_generator_is_byte_deterministic(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7)
    b = gen.generate(str(tmp_path / "b"), 7)
    assert a == b
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    gen.generate(str(tmp_path / "c"), 8)
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))


def test_fresh_week_takes_every_path(tmp_path):
    exp = gen.generate(str(tmp_path), 5)
    photos = exp.photos
    assert len(photos) == 24  # 3 reports x 8 photos
    assert sum(p.fuzzy for p in photos) == 2
    assert sum(p.source_file is None for p in photos) == 1
    assert sum(p.source_file is not None and not p.readable for p in photos) == 1
    assert len(exp.new_rows) == 22
    # every ingested photo is over the cap and comes out capped
    assert all(max(p.out_dims) == gen.MAX_DIM for p in exp.new_rows)


def test_capped_dims_truncate_like_the_reference():
    assert gen.capped_dims(1100, 825) == (1024, 768)
    assert gen.capped_dims(600, 1075) == (571, 1024)  # int(600 * 1024/1075) = 571
    assert gen.capped_dims(800, 600) == (800, 600)


def test_resolve_prefers_exact_then_smallest_containing_name():
    listing = ["A_w1_foto1 - Budi.jpg", "A_w1_foto1 - Ani.jpg", "A_w1_foto2.jpg"]
    assert gen.resolve("A_w1_foto2.jpg", listing) == "A_w1_foto2.jpg"
    assert gen.resolve("A_w1_foto1.jpg", listing) == "A_w1_foto1 - Ani.jpg"
    assert gen.resolve("A_w1_foto3.jpg", listing) is None


def _perfect_week(exp: gen.Expected):
    """The outputs a correct fresh week leaves: catalog, statuses, store."""
    store = {p.object_key: jpeg_encode(np.zeros((p.out_dims[1], p.out_dims[0], 3), np.uint8)) for p in exp.new_rows}
    catalog = [
        {
            "kode_proyek": p.kode_proyek,
            "minggu": p.minggu,
            "link_foto": gen.link_foto(p),
            "deskripsi_foto": p.deskripsi_foto,
            "nama_file": p.nama_file,
            "size_gambar_kb": oracle.size_kb(store[p.object_key]),
        }
        for p in exp.new_rows
    ]
    statuses = [(p.object_key, "uploaded") for p in exp.new_rows]
    return catalog, statuses, store


@pytest.fixture(scope="module")
def fresh(tmp_path_factory):
    exp = gen.generate(str(tmp_path_factory.mktemp("fresh")), 11)
    return exp, _perfect_week(exp)


def test_oracle_accepts_a_correct_week(fresh):
    exp, (catalog, statuses, store) = fresh
    assert oracle.check_week(exp, catalog, statuses, dict(store), replay=False) == []
    # the replay of a correct ingest: same catalog and store, no uploads
    assert oracle.check_week(exp, catalog, [], dict(store), replay=True) == []


def test_oracle_rejects_a_wrong_catalog_row(fresh):
    exp, (catalog, statuses, store) = fresh
    bad = [dict(r) for r in catalog]
    bad[0]["link_foto"] += "x"
    failures = oracle.check_week(exp, bad, statuses, dict(store), replay=False)
    assert len(failures) == 1 and "row" in failures[0]
    bad[0] = dict(catalog[0], size_gambar_kb=catalog[0]["size_gambar_kb"] + 0.01)
    assert oracle.check_week(exp, bad, statuses, dict(store), replay=False)


def test_oracle_rejects_a_row_for_an_unreadable_photo(fresh):
    exp, (catalog, statuses, store) = fresh
    corrupt = next(p for p in exp.photos if p.source_file and not p.readable)
    stray = dict(catalog[0], nama_file=corrupt.nama_file, kode_proyek=corrupt.kode_proyek, minggu=corrupt.minggu)
    failures = oracle.check_week(exp, catalog + [stray], statuses, dict(store), replay=False)
    assert failures == [f"{corrupt.object_key}: unreadable photo produced output"]


def test_oracle_rejects_an_upload_on_replay(fresh):
    exp, (catalog, _statuses, store) = fresh
    key = exp.new_rows[0].object_key
    failures = oracle.check_week(exp, catalog, [(key, "uploaded")], dict(store), replay=True)
    assert failures == [f"{key}: uploaded 1x on replay"]


def test_oracle_rejects_an_oversize_output_image(fresh):
    exp, (catalog, statuses, store) = fresh
    p = exp.new_rows[0]
    w, h = p.out_dims
    big = dict(store)
    big[p.object_key] = jpeg_encode(np.zeros((h + 8, w + 8, 3), np.uint8))
    fixed = [dict(r, size_gambar_kb=oracle.size_kb(big[p.object_key])) if r["nama_file"] == p.nama_file else r for r in catalog]
    failures = oracle.check_week(exp, fixed, statuses, big, replay=False)
    assert len(failures) == 1 and "stored dims" in failures[0]


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
