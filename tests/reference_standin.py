"""A deterministic, reference-shaped corpus for tests that read the
reference run's artifacts when those are not on disk.

It has the shape BASELINE.md records for the reference: a
``foto_metadata.xlsx`` catalog of 24 rows (3 project-weeks of 8
photos, shared-string text cells and numeric week and size cells) and
``compressed/<kode_proyek>/<minggu>/<nama_file>`` holding 24 baseline
4:2:0 JPEGs of 648x490 at quality 65. Expected values (sizes, the
group layout) are read from what is written, never assumed.
"""

from __future__ import annotations

import os
import zipfile
from xml.sax.saxutils import escape

from developing_img_etl_spark.sinks import xlsx_writer
from tests.jpeg_streams import encode_sampled, photo_like

HEADER = ["kode_proyek", "minggu", "link_foto", "deskripsi_foto", "nama_file", "size_gambar_kb"]
GROUPS = [("KDJMI_PROVINSI JAMBI", 7), ("RBBLI_PROVINSI RIAU", 7), ("KPMOF_PROVINSI MALUKU", 9)]
PHOTOS = 8
LINK_BASE = "https://raw.githubusercontent.com/example/repo/main/weekly_photos"

_CONTENT_TYPES = xlsx_writer._CONTENT_TYPES.replace(
    "</Types>",
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>\n</Types>',
)
_WB_RELS = xlsx_writer._WB_RELS.replace(
    "</Relationships>",
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/'
    '2006/relationships/sharedStrings" Target="sharedStrings.xml"/>\n</Relationships>',
)


def _write_catalog(path: str, rows: list[tuple]) -> None:
    """One sheet whose text cells index a sharedStrings table and whose
    numbers are numeric cells, as a spreadsheet application saves it."""
    strings: dict[str, int] = {}
    sheet = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
             '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">',
             "<sheetData>"]
    for r, vals in enumerate([tuple(HEADER)] + rows, start=1):
        cells = []
        for c, v in enumerate(vals):
            ref = f"{xlsx_writer._col_letters(c)}{r}"
            if isinstance(v, str):
                idx = strings.setdefault(v, len(strings))
                cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
            else:
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
        sheet.append(f'<row r="{r}">{"".join(cells)}</row>')
    sheet.append("</sheetData></worksheet>")
    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in strings)
    members = {
        "[Content_Types].xml": _CONTENT_TYPES,
        "_rels/.rels": xlsx_writer._ROOT_RELS,
        "xl/workbook.xml": xlsx_writer._WORKBOOK.format(name="Sheet1"),
        "xl/_rels/workbook.xml.rels": _WB_RELS,
        "xl/worksheets/sheet1.xml": "".join(sheet),
        "xl/sharedStrings.xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            f'count="{len(strings)}" uniqueCount="{len(strings)}">{sst}</sst>'
        ),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in members.items():
            z.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)), text)


def write_reference_standin(root: str) -> None:
    """Write the catalog and the photo tree under ``root``."""
    rows = []
    for g, (project, week) in enumerate(GROUPS):
        code = project.split("_", 1)[0]
        folder = os.path.join(root, "compressed", project.replace(" ", "_"), str(week))
        os.makedirs(folder)
        for i in range(PHOTOS):
            name = f"{code}_w{week}_foto{i + 1}.jpg"
            data = encode_sampled(photo_like(648, 490, seed=g * PHOTOS + i), 65, "420")
            with open(os.path.join(folder, name), "wb") as f:
                f.write(data)
            link = "/".join([LINK_BASE, project.replace(" ", "_"), str(week), name])
            rows.append((project, week, link, f"foto progres {i + 1}", name, round(len(data) / 1024, 2)))
    _write_catalog(os.path.join(root, "foto_metadata.xlsx"), rows)
