"""Seeded inputs and the expected outcome of one week of photo ingest.

A week's inputs are the artifacts the weekly job finds on disk:

- ``forms.xlsx``: the Forms export, one row per (project, week) report
  with up to eight photo URLs and their descriptions;
- ``staging/<folder>/<file>``: the downloaded photos, one folder per
  photo question (the FOTO_FOLDER_MAP layout).

The week starts from an empty catalog. Its size is the reference's one
recorded run (BASELINE.md): 3 project-week reports of 8 photos each.

The generator needs no Spark session: it writes the xlsx with the
package's xlsx writer parts and the photos with the package's JPEG
encoder, and records for every photo what the week must do with it.
That record (``Expected``) is the oracle the benchmark checks the
program against. Same seed, same bytes.
"""

from __future__ import annotations

import os
import zipfile
from dataclasses import dataclass
from urllib.parse import quote

import numpy as np

from developing_img_etl_spark.multimodal.jpeg import jpeg_encode
from developing_img_etl_spark.pipeline.etl import (
    DESC_COLS,
    FOLDER_NAMES,
    PHOTO_COLS,
    PROJECT_COL,
    WEEK_COL,
)
from developing_img_etl_spark.sinks import xlsx_writer

MAX_DIM = 1024  # the pipeline's resize cap (reference test.py:35)
SOURCE_QUALITY = 90  # phone-camera JPEGs, re-encoded by the week at 65
LINK_BASE = "https://raw.githubusercontent.com/example/repo/main/weekly_photos"
PROVINCES = ["JAMBI", "RIAU", "MALUKU", "BALI", "ACEH", "PAPUA", "BENGKULU", "GORONTALO"]
RESPONDENTS = ["Ani", "Budi", "Citra", "Dewi", "Eko"]
ACTIVITIES = ["pengecoran", "pemasangan rangka", "galian", "pengecatan", "inspeksi"]

# A zip member's timestamp would otherwise be the wall clock, and the
# same seed must give the same bytes.
_ZIP_TIME = (2024, 1, 1, 0, 0, 0)


# The week's shape, the same for every seed: 3 reports of 8 photos
# (BASELINE.md: 24 catalog rows from 3 project-weeks x 8 photos). Of
# the 24, some take the pipeline's other paths.
REPORTS = 3
PHOTOS_PER_REPORT = 8
FUZZY = 2  # staged only under a decorated name
MISSING = 1  # never staged
CORRUPT = 1  # staged as unreadable bytes


@dataclass(frozen=True)
class Photo:
    """One photo cell of the Forms export and what the week must do with it."""

    kode_proyek: str  # keys as the pipeline normalizes them
    minggu: str
    nama_file: str
    deskripsi_foto: str
    source_file: str | None  # staged file the resolver must pick; None = missing
    readable: bool
    out_dims: tuple[int, int] | None  # (w, h) after the 1024 cap, if readable

    @property
    def key(self) -> tuple[str, str, str]:
        return (self.kode_proyek, self.minggu, self.nama_file)

    @property
    def object_key(self) -> str:
        return "/".join(self.key)

    @property
    def ingested(self) -> bool:
        """The week turns the photo into a catalog row and an upload."""
        return self.source_file is not None and self.readable

    @property
    def fuzzy(self) -> bool:
        return self.source_file is not None and self.source_file != self.nama_file


@dataclass
class Expected:
    """The oracle for one generated week."""

    photos: list[Photo]

    @property
    def new_rows(self) -> list[Photo]:
        return [p for p in self.photos if p.ingested]


def link_foto(p: Photo) -> str:
    return "/".join([LINK_BASE, p.kode_proyek, p.minggu, p.nama_file])


def normalize(s: str) -> str:
    """The pipeline's key normalization: trim, then space -> underscore."""
    return s.strip().replace(" ", "_")


def capped_dims(w: int, h: int) -> tuple[int, int]:
    """Output size under the cap, with the reference's int(dim*scale)
    truncation (test.py:51-53)."""
    if max(w, h) <= MAX_DIM:
        return w, h
    scale = MAX_DIM / float(max(w, h))
    return max(int(w * scale), 1), max(int(h * scale), 1)


def resolve(expected_name: str, listing: list[str]) -> str | None:
    """The file the resolver must pick: the exact name, else the
    smallest staged name containing the extension-less expected name."""
    if expected_name in listing:
        return expected_name
    base = expected_name.split(".", 1)[0]
    hits = sorted(f for f in listing if base in f)
    return hits[0] if hits else None


def photo_pixels(w: int, h: int, rng: np.random.Generator) -> np.ndarray:
    """Smooth, photo-like RGB content (sizes land near a real 70 KB
    phone JPEG rather than the gradient test pattern's 700 KB). Each
    channel is a sum of two plane waves, built from outer products."""
    x, y = np.arange(w, dtype=np.float64), np.arange(h, dtype=np.float64)
    chans = []
    for _ in range(3):
        a, b, d = rng.uniform(0.002, 0.02, 3)
        phase = rng.uniform(0, 2 * np.pi)
        # sin(ax + by + phase) and cos(dx - ay), expanded per axis
        wave1 = np.outer(np.cos(b * y + phase), np.sin(a * x)) + np.outer(np.sin(b * y + phase), np.cos(a * x))
        wave2 = np.outer(np.cos(a * y), np.cos(d * x)) + np.outer(np.sin(a * y), np.sin(d * x))
        chans.append(128 + 60 * wave1 + 40 * wave2)
    return np.clip(np.stack(chans, axis=2), 0, 255).astype(np.uint8)


def _camera_dims(rng: np.random.Generator) -> tuple[int, int]:
    """A landscape shot just above the 1024 cap. The narrow range keeps
    a week's codec work about the same for every seed."""
    return int(rng.integers(1060, 1100)), int(rng.integers(570, 610))


def write_forms_xlsx(path: str, header: list[str], rows: list[list[str | None]]) -> None:
    """The Forms export: the package's xlsx writer parts (one sheet,
    inline strings) zipped with fixed member timestamps."""
    members = {
        "[Content_Types].xml": xlsx_writer._CONTENT_TYPES,
        "_rels/.rels": xlsx_writer._ROOT_RELS,
        "xl/workbook.xml": xlsx_writer._WORKBOOK.format(name="Form1"),
        "xl/_rels/workbook.xml.rels": xlsx_writer._WB_RELS,
        "xl/worksheets/sheet1.xml": xlsx_writer._sheet_xml(header, [tuple(r) for r in rows]),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in members.items():
            z.writestr(zipfile.ZipInfo(name, _ZIP_TIME), text)


def _write_file(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def generate(root: str, seed: int, reports: int = REPORTS) -> Expected:
    """Write one week's inputs under ``root`` and return the oracle."""
    rng = np.random.default_rng([seed, reports])
    codes = set()
    while len(codes) < reports:
        codes.add("".join(chr(65 + int(c)) for c in rng.integers(0, 26, 5)))
    projects = [f"{c}_PROVINSI {PROVINCES[i % len(PROVINCES)]}" for i, c in enumerate(sorted(codes))]
    week = 1
    os.makedirs(root, exist_ok=True)

    # 1. The Forms export: one report per project.
    header = [PROJECT_COL, WEEK_COL, *[c for pair in zip(PHOTO_COLS, DESC_COLS) for c in pair]]
    rows, cells = [], []  # cells: (project, slot, nama_file, desc)
    for project in projects:
        code = project.split("_", 1)[0]
        row: list[str | None] = [project, str(week)]
        for slot in range(PHOTOS_PER_REPORT):
            url = f"https://forms.example.com/files/{quote(f'{code} w{week} foto{slot + 1}.jpg')}"
            desc = f"{ACTIVITIES[int(rng.integers(len(ACTIVITIES)))]} minggu {week}"
            # an empty description cell reads back as '' in the catalog
            desc_cell = None if rng.random() < 0.1 else desc
            row += [url, desc_cell]
            cells.append((project, slot, f"{code}_w{week}_foto{slot + 1}.jpg", desc_cell or ""))
        rows.append(row)
    write_forms_xlsx(os.path.join(root, "forms.xlsx"), header, rows)

    # 2. Outcomes: pick which photos resolve fuzzily, are missing or corrupt.
    picks = rng.permutation(len(cells)).tolist()
    fuzzy = set(picks[:FUZZY])
    missing = set(picks[FUZZY : FUZZY + MISSING])
    corrupt = set(picks[FUZZY + MISSING : FUZZY + MISSING + CORRUPT])
    # the first fuzzy photo has two decorated uploads: the smaller name wins
    double = min(fuzzy)

    # 3. The staging tree: camera shots above the cap.
    def shot(w: int, h: int) -> tuple[bytes, tuple[int, int]]:
        return jpeg_encode(photo_pixels(w, h, rng), SOURCE_QUALITY), (w, h)

    staged: dict[str, tuple[str, bytes, tuple[int, int] | None]] = {}
    for i, (_project, slot, name, _desc) in enumerate(cells):
        if i in missing:
            continue
        w, h = _camera_dims(rng)
        data, dims = shot(*((h, w) if rng.random() < 0.3 else (w, h)))  # 30% portrait
        if i in corrupt:
            # bytes of no image format at all (no JPEG SOI marker)
            data, dims = b"\x00CORRUPT" + rng.bytes(2000), None
        folder = FOLDER_NAMES[slot]
        if i in fuzzy:
            # Forms appends " - <respondent>" to an uploaded file's name;
            # the double upload's later name holds a different shot
            base = name.rsplit(".", 1)[0]
            who = sorted(rng.choice(RESPONDENTS, size=2, replace=False))
            staged[f"{base} - {who[0]}.jpg"] = (folder, data, dims)
            if i == double:
                staged[f"{base} - {who[1]}.jpg"] = (folder, *shot(*_camera_dims(rng)))
        else:
            staged[name] = (folder, data, dims)
    for fname, (folder, data, _dims) in staged.items():
        _write_file(os.path.join(root, "staging", folder, fname), data)

    # 4. What the week must do with each photo.
    listing = sorted(staged)
    photos = []
    for project, _slot, name, desc in cells:
        src = resolve(name, listing)
        dims = staged[src][2] if src is not None else None
        photos.append(
            Photo(
                normalize(project), normalize(str(week)), name, desc, src,
                dims is not None, capped_dims(*dims) if dims else None,
            )
        )
    return Expected(photos)
