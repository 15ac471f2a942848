"""Checks one week's outputs against the generator's expectations.

The checks read what the week left on disk (the catalog table and the
upload store) plus the upload statuses it returned, never the
program's in-memory frames. A photo fails when any of its outputs
differs from what ``Expected`` says; a catalog row, upload or stored
object that belongs to no photo of the Forms export is a failure of
its own.
"""

from __future__ import annotations

import os
from collections import Counter
from decimal import ROUND_HALF_EVEN, ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from developing_img_etl_spark.multimodal.jpeg import jpeg_dims
from gen import Expected, link_foto


def read_catalog(path: str) -> list[dict]:
    if not os.path.isdir(path):
        return []
    return pq.read_table(path).to_pylist()


def read_store(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            full = os.path.join(dirpath, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, root)] = f.read()
    return out


def size_kb(data: bytes) -> float:
    """The catalog's size column: round(len/1024, 2), test.py:58-59."""
    return round(len(data) / 1024, 2)


def size_matches(value: float, data: bytes) -> bool:
    """``value`` is len/1024 rounded to 2 places. An exact tie (one
    length in 256) may round either way: the reference's Python round()
    goes to even, the SQL ROUND the repo's oracles and Spark use goes
    up. Any other value is wrong."""
    kb = Decimal(len(data)) / 1024
    return value in {float(kb.quantize(Decimal("0.01"), rounding=r)) for r in (ROUND_HALF_EVEN, ROUND_HALF_UP)}


def check_week(
    exp: Expected,
    catalog: list[dict],
    statuses: list[tuple[str, str]],
    store: dict[str, bytes],
    *,
    replay: bool,
) -> list[str]:
    """One line per failing photo or stray output; empty when the week
    did exactly what the oracle says.

    ``statuses`` are the (object_key, status) pairs the week's upload
    returned. On a replay of a week that was already ingested, the
    catalog and store must hold the same and nothing is uploaded."""
    failures = []
    rows: dict[tuple, list[dict]] = {}
    for r in catalog:
        rows.setdefault((r["kode_proyek"], r["minggu"], r["nama_file"]), []).append(r)
    uploads = Counter(k for k, _s in statuses)
    status_of = dict(statuses)

    for p in exp.photos:
        got = rows.pop(p.key, [])
        obj = store.pop(p.object_key, None)
        n_up = uploads.pop(p.object_key, 0)
        problems = []
        if len(got) > 1:
            problems.append(f"{len(got)} catalog rows")
        row = got[0] if got else None
        if p.ingested:
            want = (link_foto(p), p.deskripsi_foto)
            if row is None:
                problems.append("no catalog row")
            elif (row["link_foto"], row["deskripsi_foto"]) != want:
                problems.append(f"row {row} != {want}")
            if obj is None:
                problems.append("no stored object")
            else:
                dims = jpeg_dims(obj)
                if dims != p.out_dims:
                    problems.append(f"stored dims {dims} != {p.out_dims}")
                if row is not None and not size_matches(row["size_gambar_kb"], obj):
                    problems.append(f"size_gambar_kb {row['size_gambar_kb']} != {size_kb(obj)}")
            if replay and n_up:
                problems.append(f"uploaded {n_up}x on replay")
            if not replay and (n_up != 1 or status_of.get(p.object_key) != "uploaded"):
                problems.append(f"upload {status_of.get(p.object_key)} x{n_up}")
        elif row is not None or obj is not None or n_up:
            why = "missing" if p.source_file is None else "unreadable"
            problems.append(f"{why} photo produced output")
        if problems:
            failures.append(f"{p.object_key}: {'; '.join(problems)}")

    failures += [f"stray catalog row {k}" for k in rows]
    failures += [f"stray upload {k}" for k in uploads]
    failures += [f"stray object {k}" for k in store]
    return failures
