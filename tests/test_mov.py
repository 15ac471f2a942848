"""Property tests for the MJPEG-in-MOV/QuickTime codec
(multimodal/mov.py) and its routing through the av.py video surface."""

from __future__ import annotations

import struct

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from developing_img_etl_spark.multimodal.av import decode_video
from developing_img_etl_spark.multimodal.jpeg import jpeg_dims, make_photo
from developing_img_etl_spark.multimodal.mov import (
    make_mov,
    mov_encode,
    mov_frames,
    mov_meta,
)


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(8, 80),
    h=st.integers(8, 64),
    fps=st.sampled_from([12, 18, 24, 30]),
    n=st.integers(1, 6),
    seed=st.integers(0, 250),
)
def test_mov_header_roundtrip(w, h, fps, n, seed):
    data = make_mov(w, h, fps, n, seed)
    assert mov_meta(data) == (w, h, fps, n)
    payloads = mov_frames(data)
    assert payloads is not None and len(payloads) == n
    for p in payloads:
        assert jpeg_dims(p) == (w, h)  # each sample is a complete JPEG


def test_mov_decode_fidelity():
    data = make_mov(48, 32, 24, 5, seed=9)
    fps, frames = decode_video(data)
    assert fps == 24 and len(frames) == 5
    for k, dec in enumerate(frames):
        expected = make_photo(48, 32, (9 + 31 * k) % 251)
        err = float(np.abs(dec.astype(np.int64) - expected.astype(np.int64)).mean())
        assert err <= 32.0, (k, err)


def test_mov_structural_guards():
    good = make_mov(16, 12, 12, 3, seed=1)
    # truncation anywhere in the box tree → unreadable, never a crash
    for cut in (4, 15, 60, len(good) // 2, len(good) - 3):
        assert mov_meta(good[:cut]) is None
    # non-box garbage and foreign containers
    assert mov_meta(b"") is None
    assert mov_meta(b"ftypnonsense" * 3) is None
    assert mov_meta(b"RIFF\x00\x00\x00\x00AVI ") is None
    # valid ftyp + truncated moov (the m21 corrupt-row bytes)
    corrupt = b"\x00\x00\x00\x14ftypqt  \x00\x00\x02\x00qt  \x00\x00\x00\x20moovgarbage"
    assert mov_meta(corrupt) is None


def test_mov_rejects_non_jpeg_codec():
    data = bytearray(make_mov(16, 12, 12, 2, seed=3))
    i = bytes(data).find(b"jpeg")  # stsd entry fourcc
    data[i : i + 4] = b"avc1"
    assert mov_meta(bytes(data)) is None


def test_mov_non_integer_rate_rounds():
    # NTSC-style: timescale 30000, per-frame delta 1001 → 29.97 fps,
    # reported as round-to-nearest 30 (the avi.py rule)
    data = bytearray(make_mov(16, 12, 30, 4, seed=5))
    raw = bytes(data)
    i = raw.find(b"mdhd")
    # mdhd v0 payload: ver/flags(4) ctime(4) mtime(4) timescale(4) dur(4)
    struct.pack_into(">II", data, i + 4 + 12, 30000, 4 * 1001)
    j = raw.find(b"stts")
    # stts payload: ver/flags(4) count(4) [count(4) delta(4)]
    struct.pack_into(">II", data, j + 4 + 8, 4, 1001)
    meta = mov_meta(bytes(data))
    assert meta == (16, 12, 30, 4)


def test_mov_multi_sample_chunks_parse():
    # rewrite stsc/stco so all samples live in ONE chunk: the general
    # chunk→sample expansion must slice identical payloads
    w, h, n = 16, 12, 4
    base = make_mov(w, h, 12, n, seed=7)
    per_frame = mov_frames(base)
    from developing_img_etl_spark.multimodal.jpeg import jpeg_encode

    jpegs = [jpeg_encode(make_photo(w, h, (7 + 31 * k) % 251), 65) for k in range(n)]
    assert per_frame == jpegs  # stsz/stco slicing is byte-exact


def test_av_surface_routes_mov():
    from developing_img_etl_spark.multimodal.av import _decode_video_meta

    data = make_mov(20, 16, 18, 3, seed=11)
    assert _decode_video_meta(data) == (20, 16, 18, 3)
    assert _decode_video_meta(b"\x00\x00\x00\x08ftyp") is None
    # FAKEVID and AVI still route to their own decoders
    assert _decode_video_meta(b"FAKEVID:4:3:10:2:") == (4, 3, 10, 2)
