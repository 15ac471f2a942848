"""Excel source (SURVEY.md §2.1 S1): the Forms-export reader
(/root/reference/test.py:113) and catalog reader (test.py:100-111).

Excel files are small driver-local artifacts by nature (a Forms export
is thousands of rows, not billions) — the right Spark shape is a
driver-side parse into a ``session.local_frame`` with an explicit
schema (a JVM LocalRelation, scanned without Python tasks), NOT a
distributed source.

One parser, stdlib only (zipfile + xml.etree), good enough for the
plain tabular sheets Forms exports produce: shared strings, inline
strings, numeric cells; first row is the header. No xlsx engine is
needed, and every container renders a workbook the same way, so the
composite keys built from its cells do not depend on what is
installed (pandas+openpyxl would name a blank header `Unnamed: N`
where this parser says `colN`, and render a date cell as a timestamp
where this parser keeps the serial number).
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import local_frame

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_index(cell_ref: str | None) -> int | None:
    """'A1' -> 0, 'BC7' -> 54; None when the reference is absent or
    unparseable (the r= attribute is optional in OOXML — some writers
    omit it, and cells then fall back to positional order)."""
    if not cell_ref:
        return None
    m = re.match(r"[A-Z]+", cell_ref)
    if m is None:
        return None
    idx = 0
    for ch in m.group(0):
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _cell_text(cell: ET.Element, shared: list[str]) -> str | None:
    t = cell.get("t", "n")
    if t == "s":  # shared-string index
        v = cell.find(f"{_NS}v")
        return shared[int(v.text)] if v is not None else None
    if t == "inlineStr":
        si = cell.find(f"{_NS}is")
        return "".join(n.text or "" for n in si.iter(f"{_NS}t")) if si is not None else None
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    # numeric cell: render integers without a trailing .0 (matches the
    # reference's str(row[...]) on an int-typed column)
    txt = v.text
    if t == "n" or t == "b":
        try:
            f = float(txt)
            if f.is_integer():
                return str(int(f))
        except ValueError:
            pass
    return txt


def _load_shared_strings(z: zipfile.ZipFile) -> list[str]:
    shared: list[str] = []
    if "xl/sharedStrings.xml" in z.namelist():
        sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
        for si in sst.iter(f"{_NS}si"):
            shared.append("".join(n.text or "" for n in si.iter(f"{_NS}t")))
    return shared


def _sheet_member(z: zipfile.ZipFile, sheet_name: int | str) -> str:
    """Worksheet zip member for a sheet index or name: workbook.xml
    order == sheetN.xml order for the simple exports this targets."""
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    sheets = [s.get("name") for s in wb.iter(f"{_NS}sheet")]
    n = sheets.index(sheet_name) + 1 if isinstance(sheet_name, str) else sheet_name + 1
    return f"xl/worksheets/sheet{n}.xml"


def _parse_row(row: ET.Element, shared: list[str]) -> list[str | None]:
    cells: dict[int, str | None] = {}
    next_idx = 0  # running position for cells missing the r= ref
    for c in row.iter(f"{_NS}c"):
        idx = _col_index(c.get("r"))
        if idx is None:
            idx = next_idx
        cells[idx] = _cell_text(c, shared)
        next_idx = idx + 1
    width = max(cells) + 1 if cells else 0
    return [cells.get(i) for i in range(width)]


def _read_xlsx_stdlib(path: str, sheet_name: int | str = 0) -> tuple[list[str], list[list[str | None]]]:
    """Parse one worksheet into (header, rows) of strings."""
    with zipfile.ZipFile(path) as z:
        shared = _load_shared_strings(z)
        ws = ET.fromstring(z.read(_sheet_member(z, sheet_name)))

    grid: list[list[str | None]] = [_parse_row(row, shared) for row in ws.iter(f"{_NS}row")]
    if not grid:
        return [], []
    width = max(len(r) for r in grid)
    grid = [r + [None] * (width - len(r)) for r in grid]
    header = [h if h is not None else f"col{i}" for i, h in enumerate(grid[0])]
    return header, grid[1:]


def _check_no_duplicate_headers(header: list[str]) -> None:
    """Duplicate header names would silently resolve to the LAST
    occurrence in the positional lookup — fail loudly instead
    (ADVICE r3)."""
    dups = sorted({h for h in header if header.count(h) > 1})
    if dups:
        raise ValueError(
            f"duplicate xlsx header names {dups}: rename the columns or "
            "provide an explicit schema selecting distinct names"
        )


def read_excel(
    spark: SparkSession,
    path: str,
    *,
    schema: T.StructType | None = None,
    sheet_name: int | str = 0,
) -> DataFrame:
    header, rows = _read_xlsx_stdlib(path, sheet_name)
    _check_no_duplicate_headers(header)
    if schema is not None:
        pos = {name: i for i, name in enumerate(header)}
        missing = [f.name for f in schema.fields if f.name not in pos]
        if missing:
            raise ValueError(f"xlsx {path}: missing columns {missing}; has {header}")
        data = [tuple(r[pos[f.name]] for f in schema.fields) for r in rows]
        str_schema = T.StructType([T.StructField(f.name, T.StringType()) for f in schema.fields])
        df = local_frame(spark, data, str_schema)
        return df.select(
            *[df[f.name].cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    str_schema = T.StructType([T.StructField(h, T.StringType()) for h in header])
    return local_frame(spark, rows, str_schema)
