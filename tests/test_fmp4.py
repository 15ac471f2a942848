"""Property tests for the MJPEG-in-fragmented-MP4 codec
(multimodal/fmp4.py) — the moof/mfhd/tfhd/tfdt/trun movie-fragment
machinery — and its routing through the av.py video surface."""

from __future__ import annotations

import struct

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from developing_img_etl_spark.multimodal.av import decode_video
from developing_img_etl_spark.multimodal.fmp4 import (
    fmp4_encode,
    fmp4_frames,
    fmp4_meta,
    make_fmp4,
)
from developing_img_etl_spark.multimodal.jpeg import jpeg_dims, make_photo
from developing_img_etl_spark.multimodal.mov import mov_meta


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(8, 80),
    h=st.integers(8, 64),
    fps=st.sampled_from([12, 18, 24, 30]),
    n=st.integers(1, 6),
    seed=st.integers(0, 250),
)
def test_fmp4_header_roundtrip(w, h, fps, n, seed):
    data = make_fmp4(w, h, fps, n, seed)
    assert fmp4_meta(data) == (w, h, fps, n)
    payloads = fmp4_frames(data)
    assert payloads is not None and len(payloads) == n
    for p in payloads:
        assert jpeg_dims(p) == (w, h)  # each trun sample is a complete JPEG
    # the monolithic walker must abstain (empty moov sample tables)
    assert mov_meta(data) is None


def test_fmp4_decode_fidelity():
    data = make_fmp4(48, 32, 24, 5, seed=9)
    fps, frames = decode_video(data)
    assert fps == 24 and len(frames) == 5
    for k, dec in enumerate(frames):
        expected = make_photo(48, 32, (9 + 31 * k) % 251)
        err = float(np.abs(dec.astype(np.int64) - expected.astype(np.int64)).mean())
        assert err <= 32.0, (k, err)


def test_fmp4_fragmentation_is_transparent():
    """Any frames_per_fragment slicing yields identical samples —
    the relocatable-segment property CMAF relies on."""
    frames = [make_photo(20, 16, (3 + 31 * k) % 251) for k in range(6)]
    per_1 = fmp4_encode(frames, 12, quality=65, frames_per_fragment=1)
    per_2 = fmp4_encode(frames, 12, quality=65, frames_per_fragment=2)
    per_all = fmp4_encode(frames, 12, quality=65, frames_per_fragment=6)
    assert fmp4_frames(per_1) == fmp4_frames(per_2) == fmp4_frames(per_all)
    assert fmp4_meta(per_1) == fmp4_meta(per_2) == fmp4_meta(per_all) == (20, 16, 12, 6)


def test_fmp4_structural_guards():
    good = make_fmp4(16, 12, 12, 3, seed=1)
    # truncation anywhere — ftyp, moov, mid-moof, mid-mdat → unreadable
    for cut in (4, 15, 60, len(good) // 2, len(good) - 3):
        assert fmp4_meta(good[:cut]) is None
    assert fmp4_meta(b"") is None
    assert fmp4_meta(b"ftypnonsense" * 3) is None
    # a monolithic MOV is NOT a fragmented MP4 (no mvex/moof)
    from developing_img_etl_spark.multimodal.mov import make_mov

    assert fmp4_meta(make_mov(16, 12, 12, 2, seed=3)) is None


def test_fmp4_rejects_non_jpeg_codec():
    data = bytearray(make_fmp4(16, 12, 12, 2, seed=3))
    i = bytes(data).find(b"jpeg")  # stsd entry fourcc
    data[i : i + 4] = b"avc1"
    assert fmp4_meta(bytes(data)) is None


def test_fmp4_explicit_base_data_offset():
    """Rewrite the first tfhd from default-base-is-moof to an explicit
    64-bit base-data-offset pointing at the same position — sample
    slices must be byte-identical (the §8.8 addressing equivalence)."""
    data = make_fmp4(16, 12, 12, 2, seed=5)
    before = fmp4_frames(data)
    i = data.find(b"moof")
    moof_start = i - 4
    j = data.find(b"tfhd", i)
    # old tfhd: ver/flags(4) track(4) def_dur(4) → 12-byte payload;
    # new tfhd: ver/flags(4) track(4) base(8) def_dur(4) → 20 bytes
    old_box_len = 8 + 12
    payload = struct.pack(
        ">B3sIQI",
        0,
        (0x000001 | 0x000008).to_bytes(3, "big"),  # base-offset + def-dur
        1,
        moof_start,
        1,
    )
    new_box = struct.pack(">I", 8 + len(payload)) + b"tfhd" + payload
    start = j - 4
    patched = bytearray(data[:start] + new_box + data[start + old_box_len :])
    # grow the enclosing moof and traf sizes by the 8 added bytes
    for btype in (b"moof", b"traf"):
        k = bytes(patched).find(btype, moof_start)
        (sz,) = struct.unpack_from(">I", patched, k - 4)
        struct.pack_into(">I", patched, k - 4, sz + 8)
    # trun data_offset is moof-size-relative: it grew by 8 too
    t = bytes(patched).find(b"trun", moof_start)
    (doff,) = struct.unpack_from(">i", patched, t + 4 + 4 + 4)
    struct.pack_into(">i", patched, t + 4 + 4 + 4, doff + 8)
    after = fmp4_frames(bytes(patched))
    assert after == before


def test_fmp4_truncated_mdat_is_unreadable():
    # the m22 corrupt-row bytes: final trun slice past EOF
    data = make_fmp4(16, 12, 12, 3, seed=7)
    assert fmp4_meta(data[:-10]) is None
    assert fmp4_frames(data[:-10]) is None


def test_av_surface_routes_fmp4():
    from developing_img_etl_spark.multimodal.av import _decode_video_meta

    data = make_fmp4(20, 16, 18, 3, seed=11)
    assert _decode_video_meta(data) == (20, 16, 18, 3)
    # monolithic MOV, AVI and FAKEVID still route to their own decoders
    from developing_img_etl_spark.multimodal.mov import make_mov

    assert _decode_video_meta(make_mov(20, 16, 18, 3, seed=11)) == (20, 16, 18, 3)
    assert _decode_video_meta(b"FAKEVID:4:3:10:2:") == (4, 3, 10, 2)
