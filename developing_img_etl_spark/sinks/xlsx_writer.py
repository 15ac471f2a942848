"""Stdlib xlsx WRITER — the catalog write-back half of S8.

The reference persists its photo catalog by rewriting the xlsx file
in place (`/root/reference/test.py:200-201` — `final_df.to_excel(
METADATA_FILE, index=False)`): append new records, write the merged
frame back to the same workbook. sources/excel.py gives this engine
the READ half with a stdlib zip+XML fallback; this module is the
mirror-image WRITE half, so the full reference round-trip (xlsx →
catalog → append → xlsx) runs in containers without openpyxl.

Shape: an xlsx catalog is a small driver-local artifact by nature
(thousands of rows, not billions — the same argument as the reader),
so the right Spark shape is collect-to-driver → serialize, NOT a
distributed sink. Callers that outgrow a spreadsheet switch to the
TableFormat seam (sinks/writer.py) — this writer exists for exact
reference parity, not as a data-scale sink.

Output is minimal OOXML: one worksheet, header row = column names,
strings as inline strings (``t="inlineStr"`` — no sharedStrings table
needed), numbers as native numeric cells. The in-repo reader
(sources/excel.py stdlib parser) and openpyxl read it back
identically; tests/test_reference_parity.py
proves the golden-file round trip.
"""

from __future__ import annotations

import math
import re
import zipfile
from xml.sax.saxutils import escape

# XML 1.0 forbids control chars < 0x20 except tab/newline/CR — a cell
# containing them produces a workbook readers reject, so strip them.
_XML_INVALID = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")

from pyspark.sql import DataFrame

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="{name}" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WB_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""


def _col_letters(idx: int) -> str:
    """0 -> 'A', 54 -> 'BC' (inverse of sources/excel._col_index)."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _cell_xml(ref: str, value) -> str:
    if value is None:
        return ""
    if isinstance(value, bool):  # before int: bool is an int subclass
        return f'<c r="{ref}" t="b"><v>{int(value)}</v></c>'
    if isinstance(value, (int, float)):
        # xlsx numeric cells cannot hold inf/nan (<v>inf</v> is rejected
        # by readers) — treat non-finite as an empty cell, like None
        if isinstance(value, float) and not math.isfinite(value):
            return ""
        # integers render without a trailing .0 — the reader's numeric
        # rendering contract (sources/excel._cell_text)
        v = int(value) if isinstance(value, float) and value.is_integer() else value
        return f'<c r="{ref}"><v>{v}</v></c>'
    text = _XML_INVALID.sub("", str(value))
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(text)}</t></is></c>'


def _sheet_xml(header: list[str], rows: list[tuple]) -> str:
    parts = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">',
        "<sheetData>",
    ]
    for r, vals in enumerate([tuple(header)] + rows, start=1):
        cells = "".join(
            _cell_xml(f"{_col_letters(c)}{r}", v) for c, v in enumerate(vals)
        )
        parts.append(f'<row r="{r}">{cells}</row>')
    parts.append("</sheetData></worksheet>")
    return "".join(parts)


def write_xlsx(df: DataFrame, path: str, *, sheet_name: str = "Sheet1") -> int:
    """Serialize ``df`` to a single-sheet xlsx at ``path`` (header row
    = column names), returning the number of data rows written. The
    frame is collected to the driver — catalog-scale by contract."""
    header = list(df.columns)
    rows = [tuple(r) for r in df.collect()]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _WORKBOOK.format(name=escape(sheet_name)))
        z.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        z.writestr("xl/worksheets/sheet1.xml", _sheet_xml(header, rows))
    return len(rows)
