"""SCALE.md's generated sections are what scripts/crossf_gate.py renders
from the committed CROSS_SF.json, so the document states one set of
cross-engine numbers. No Spark session is started."""

from __future__ import annotations

import json
import os
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def crossf_gate():
    sys.path.insert(0, os.path.join(_ROOT, "scripts"))
    try:
        import crossf_gate
    finally:
        sys.path.pop(0)
    return crossf_gate


@pytest.mark.parametrize("tag", ["LEDGER", "SCALING", "CROSSSF"])
def test_scale_md_section_matches_cross_sf_json(crossf_gate, tag):
    with open(os.path.join(_ROOT, "CROSS_SF.json")) as f:
        rendered = crossf_gate.render_sections(json.load(f))[tag]
    with open(os.path.join(_ROOT, "SCALE.md")) as f:
        doc = f.read()
    begin, end = crossf_gate.begin_marker(tag), crossf_gate.end_marker(tag)
    assert doc.count(begin) == 1 and doc.count(end) == 1
    committed = doc[doc.index(begin): doc.index(end) + len(end)]
    assert committed == rendered
