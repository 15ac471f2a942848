"""Property tests for the MJPEG-in-MKV (Matroska/EBML) codec
(multimodal/mkv.py) and its routing through the av.py video surface."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from developing_img_etl_spark.multimodal.av import _CONTAINERS, _decode_video_meta, decode_video
from developing_img_etl_spark.multimodal.avi import avi_meta
from developing_img_etl_spark.multimodal.fmp4 import fmp4_meta
from developing_img_etl_spark.multimodal.jpeg import jpeg_dims, jpeg_encode, make_photo
from developing_img_etl_spark.multimodal.mkv import (
    _el,
    _esize,
    _read_vint,
    make_mkv,
    mkv_encode,
    mkv_frames,
    mkv_meta,
)
from developing_img_etl_spark.multimodal.mov import mov_meta
from developing_img_etl_spark.queries.multimodal import _VIDEO_FAMILY


# ------------------------------------------------------- EBML primitives
@given(st.integers(0, 2**49))
def test_ebml_size_varint_roundtrip(n):
    enc = _esize(n)
    val, pos = _read_vint(enc, 0, len(enc), keep_marker=False)
    assert (val, pos) == (n, len(enc))


def test_ebml_unknown_size_reads_as_minus_one():
    assert _read_vint(b"\xff", 0, 1, keep_marker=False) == (-1, 1)
    assert _read_vint(b"\x7f\xff", 0, 2, keep_marker=False) == (-1, 2)


# ------------------------------------------------------------ roundtrip
@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(8, 80),
    h=st.integers(8, 64),
    fps=st.sampled_from([12, 18, 24, 30]),
    n=st.integers(1, 6),
    seed=st.integers(0, 250),
)
def test_mkv_header_roundtrip(w, h, fps, n, seed):
    data = make_mkv(w, h, fps, n, seed)
    assert mkv_meta(data) == (w, h, fps, n)
    payloads = mkv_frames(data)
    assert payloads is not None and len(payloads) == n
    for p in payloads:
        assert jpeg_dims(p) == (w, h)  # each block payload is a complete JPEG


def test_mkv_payloads_byte_exact():
    w, h, n = 16, 12, 4
    data = make_mkv(w, h, 12, n, seed=7)
    jpegs = [jpeg_encode(make_photo(w, h, (7 + 31 * k) % 251), 65) for k in range(n)]
    assert mkv_frames(data) == jpegs  # SimpleBlock slicing is byte-exact


def test_mkv_decode_fidelity():
    data = make_mkv(48, 32, 24, 5, seed=9)
    fps, frames = decode_video(data)
    assert fps == 24 and len(frames) == 5
    for k, dec in enumerate(frames):
        expected = make_photo(48, 32, (9 + 31 * k) % 251)
        err = float(np.abs(dec.astype(np.int64) - expected.astype(np.int64)).mean())
        assert err <= 32.0, (k, err)


# ------------------------------------------------------------- guards
def test_mkv_structural_guards():
    good = make_mkv(16, 12, 12, 3, seed=1)
    # truncation anywhere in the element tree → unreadable, never a crash
    for cut in (2, 9, 40, len(good) // 2, len(good) - 3):
        assert mkv_meta(good[:cut]) is None
    assert mkv_meta(b"") is None
    assert mkv_meta(b"\x1a\x45\xdf\xa3" + b"\x00" * 30) is None
    assert mkv_meta(b"RIFF\x00\x00\x00\x00AVI ") is None


def test_mkv_rejects_non_mjpeg_codec():
    data = bytearray(make_mkv(16, 12, 12, 2, seed=3))
    i = bytes(data).find(b"V_MJPEG")
    data[i : i + 7] = b"V_VP9\x00\x00"
    assert mkv_meta(bytes(data)) is None


def test_mkv_rejects_laced_blocks():
    data = bytearray(make_mkv(16, 12, 12, 2, seed=4))
    # flip the first SimpleBlock's flags byte to EBML lacing (0x06)
    raw = bytes(data)
    c = raw.find(b"\x1f\x43\xb6\x75")  # Cluster id
    i = raw.find(b"\xa3", c)  # first SimpleBlock id inside the cluster
    _, p = _read_vint(raw, i + 1, len(raw), keep_marker=False)
    _, q = _read_vint(raw, p, len(raw), keep_marker=False)  # track vint
    data[q + 2] |= 0x06  # flags byte after the s16 rel-ts
    assert mkv_meta(bytes(data)) is None


def test_mkv_unknown_segment_size_still_parses():
    # live-stream form: Segment size = unknown (all ones); the walker
    # must treat it as extends-to-EOF (RFC 8794)
    good = make_mkv(20, 16, 18, 3, seed=11)
    seg_id = b"\x18\x53\x80\x67"
    i = good.find(seg_id)
    sz, p = _read_vint(good, i + 4, len(good), keep_marker=False)
    assert sz == len(good) - p  # sanity: writer used a known size
    width = p - (i + 4)
    patched = good[: i + 4] + b"\xff" * 1 + good[p:]
    # (1-byte unknown size replaces the original varint; element
    # boundaries after it are unchanged because unknown = to-EOF)
    assert mkv_meta(patched) == (20, 16, 18, 3)
    assert mkv_frames(patched) == mkv_frames(good)
    del width


def _build_two_cluster(w, h, fps, n1, n2, *, unknown_first_cluster):
    """Hand-assemble a two-Cluster MKV (the live-stream shape the module
    docstring claims): cluster 1 optionally carries an unknown size and
    per RFC 8794 §6.2 must terminate where the sibling Cluster begins."""
    from developing_img_etl_spark.multimodal import mkv as M

    n = n1 + n2
    jpegs = [jpeg_encode(make_photo(w, h, (5 + 31 * k) % 251), 65) for k in range(n)]

    def blocks(js, base):
        out = b""
        for k, j in enumerate(js):
            rel = ((base + k) * 1000 + fps // 2) // fps
            out += M._el(M._SIMPLE_BLOCK, b"\x81" + struct.pack(">h", rel) + b"\x80" + j)
        return out

    header = M._el(
        M._EBML,
        M._uel(b"\x42\x86", 1) + M._uel(b"\x42\xf7", 1) + M._uel(b"\x42\xf2", 4)
        + M._uel(b"\x42\xf3", 8) + M._el(b"\x42\x82", b"matroska")
        + M._uel(b"\x42\x87", 4) + M._uel(b"\x42\x85", 2),
    )
    info = M._el(
        M._INFO,
        M._uel(M._TIMESTAMP_SCALE, M._MS)
        + M._el(M._DURATION, struct.pack(">d", n * 1000 / fps)),
    )
    video = M._el(M._VIDEO, M._uel(M._PIXEL_WIDTH, w) + M._uel(M._PIXEL_HEIGHT, h))
    entry = M._el(
        M._TRACK_ENTRY,
        M._uel(M._TRACK_NUMBER, 1) + M._uel(M._TRACK_TYPE, 1)
        + M._el(M._CODEC_ID, b"V_MJPEG") + video,
    )
    tracks = M._el(M._TRACKS, entry)
    c1_payload = M._uel(M._CLUSTER_TS, 0) + blocks(jpegs[:n1], 0)
    c2_payload = M._uel(M._CLUSTER_TS, 1) + blocks(jpegs[n1:], n1)
    c1 = (
        M._CLUSTER + b"\xff" + c1_payload
        if unknown_first_cluster
        else M._el(M._CLUSTER, c1_payload)
    )
    c2 = M._el(M._CLUSTER, c2_payload)
    return header + M._el(M._SEGMENT, info + tracks + c1 + c2), jpegs


def test_mkv_unknown_cluster_size_terminates_at_sibling():
    # RFC 8794 §6.2: an unknown-size Cluster ends at the next sibling
    # Cluster ID — the later Cluster's blocks must NOT be swallowed.
    known, jpegs = _build_two_cluster(16, 12, 12, 2, 3, unknown_first_cluster=False)
    unknown, jpegs2 = _build_two_cluster(16, 12, 12, 2, 3, unknown_first_cluster=True)
    assert jpegs == jpegs2
    assert mkv_meta(known) == (16, 12, 12, 5)
    assert mkv_meta(unknown) == (16, 12, 12, 5)  # was 2 before the r11 fix
    assert mkv_frames(unknown) == jpegs


def test_mkv_unknown_size_cluster_inside_unknown_size_segment():
    # nested live-stream form: unknown Segment AND unknown first Cluster
    data, jpegs = _build_two_cluster(16, 12, 12, 2, 2, unknown_first_cluster=True)
    seg_id = b"\x18\x53\x80\x67"
    i = data.find(seg_id)
    sz, p = _read_vint(data, i + 4, len(data), keep_marker=False)
    patched = data[: i + 4] + b"\xff" + data[p:]
    assert mkv_meta(patched) == (16, 12, 12, 4)
    assert mkv_frames(patched) == jpegs


def test_mkv_unknown_size_illegal_outside_segment_cluster():
    # unknown size on Info (or any non-Segment/Cluster element) is a
    # structural violation → abstain, never a guess
    good = make_mkv(16, 12, 12, 2, seed=8)
    i = good.find(b"\x15\x49\xa9\x66")  # Info id
    assert good[i + 4] & 0x80  # sanity: 1-byte size varint
    patched = good[: i + 4] + b"\xff" + good[i + 5 :]
    assert mkv_meta(patched) is None
    assert mkv_frames(patched) is None


def test_webm_doctype_accepted():
    data = make_mkv(16, 12, 12, 2, seed=6)
    # same element length (the reader rstrips NULs), so no size fixups
    patched = data.replace(b"\x42\x82" + _esize(8) + b"matroska",
                           b"\x42\x82" + _esize(8) + b"webm\x00\x00\x00\x00", 1)
    assert patched != data
    assert mkv_meta(patched) == (16, 12, 12, 2)


_OWN_META = {
    "m20_avi_frame_sample": avi_meta,
    "m21_mov_frame_sample": mov_meta,
    "m22_fmp4_frame_sample": fmp4_meta,
    "m23_mkv_frame_sample": mkv_meta,
}


@pytest.mark.parametrize("name", list(_VIDEO_FAMILY))
def test_video_corrupt_literal_abstains(name):
    """Each m20-m23 corrupt literal opens like its container, so the
    guard it exercises is inside that container's parser, which rejects
    it; the routed metadata path then rejects it too."""
    literal = _VIDEO_FAMILY[name][3]()
    own_meta = _OWN_META[name]
    assert any(match(literal) for match, meta, _frames in _CONTAINERS if meta is own_meta)
    assert own_meta(literal) is None
    assert _decode_video_meta(literal) is None


# -------------------------------------------------------------- routing
def test_av_surface_routes_mkv():
    data = make_mkv(20, 16, 18, 3, seed=11)
    assert _decode_video_meta(data) == (20, 16, 18, 3)
    # the other families still route to their own decoders
    assert _decode_video_meta(b"FAKEVID:4:3:10:2:") == (4, 3, 10, 2)
    from developing_img_etl_spark.multimodal.mov import make_mov

    assert _decode_video_meta(make_mov(20, 16, 18, 3, seed=11)) == (20, 16, 18, 3)


def test_mkv_encode_validations():
    import pytest

    with pytest.raises(ValueError):
        mkv_encode([], 12)
    with pytest.raises(ValueError):
        mkv_encode([np.zeros((8, 8, 3), dtype=np.uint8)], 0)
    with pytest.raises(ValueError):
        mkv_encode(
            [np.zeros((8, 8, 3), dtype=np.uint8), np.zeros((9, 8, 3), dtype=np.uint8)],
            12,
        )
