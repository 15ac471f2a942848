"""Property tests for the MJPEG-in-AVI codec (multimodal/avi.py) and
its routing through the av.py video surface."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from developing_img_etl_spark.multimodal.av import decode_video
from developing_img_etl_spark.multimodal.avi import (
    avi_encode,
    avi_frames,
    avi_meta,
    make_avi,
)
from developing_img_etl_spark.multimodal.jpeg import jpeg_decode, jpeg_dims, make_photo


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(8, 80),
    h=st.integers(8, 64),
    fps=st.sampled_from([12, 18, 24, 30]),
    n=st.integers(1, 6),
    seed=st.integers(0, 250),
)
def test_avi_header_roundtrip(w, h, fps, n, seed):
    data = make_avi(w, h, fps, n, seed)
    assert avi_meta(data) == (w, h, fps, n)
    payloads = avi_frames(data)
    assert payloads is not None and len(payloads) == n
    for p in payloads:
        assert jpeg_dims(p) == (w, h)  # each chunk is a complete JPEG


def test_avi_decode_fidelity():
    data = make_avi(48, 32, 24, 5, seed=9)
    fps, frames = decode_video(data)
    assert fps == 24 and len(frames) == 5
    for i, dec in enumerate(frames):
        expected = make_photo(48, 32, (9 + 31 * i) % 251)
        err = np.abs(dec.astype(np.int64) - expected.astype(np.int64)).mean()
        assert err <= 32.0
        # and a WRONG frame would blow the gate (separation margin)
        wrong = make_photo(48, 32, (9 + 31 * (i + 1)) % 251)
        werr = np.abs(dec.astype(np.int64) - wrong.astype(np.int64)).mean()
        assert werr > 32.0


def test_avi_guards():
    good = make_avi(24, 16, 12, 3, seed=1)
    assert avi_meta(b"") is None
    assert avi_meta(b"RIFF\x00\x00\x00\x00WAVE") is None  # wrong RIFF form
    assert avi_meta(b"RIFF\x00\x00\x00\x00AVI corrupt-body") is None
    assert avi_meta(good[:40]) is None  # truncated inside hdrl
    assert decode_video(good[: len(good) // 3]) is None
    # a non-MJPG stream must be unreadable, not misdecoded
    bad = bytearray(good)
    i = good.find(b"MJPG")
    bad[i : i + 4] = b"H264"
    assert avi_meta(bytes(bad)) is None


def test_avi_encode_validation():
    with pytest.raises(ValueError):
        avi_encode([], 24)
    with pytest.raises(ValueError):
        avi_encode([make_photo(8, 8, 0)], 0)
    with pytest.raises(ValueError):
        avi_encode([make_photo(8, 8, 0), make_photo(16, 8, 0)], 24)


def test_video_surface_routes_avi():
    from developing_img_etl_spark.multimodal.av import _decode_video_meta

    data = make_avi(32, 24, 18, 4, seed=3)
    assert _decode_video_meta(data) == (32, 24, 18, 4)
    assert _decode_video_meta(b"RIFF\x00\x00\x00\x00AVI junk") is None
    # the fake seam still works behind it
    assert _decode_video_meta(b"FAKEVID:10:12:24:7:") == (10, 12, 24, 7)


def test_sample_frames_real_avi(spark):
    from developing_img_etl_spark.multimodal.av import sample_frames

    vids = spark.createDataFrame(
        [
            (1, bytearray(make_avi(24, 16, 12, 5, seed=4))),
            (2, bytearray(b"RIFF\x00\x00\x00\x00AVI junk")),  # zero rows
            (3, bytearray(b"FAKEVID:8:6:24:4:")),  # fake path coexists
        ],
        "video_id long, content binary",
    )
    rows = sample_frames(vids, every_n=2).collect()
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r.video_id, []).append(r)
    assert sorted(by_vid) == [1, 3]
    v1 = sorted(by_vid[1], key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in v1] == [0, 2, 4]
    for r in v1:
        # emitted frame is the raw JPEG payload: decodable, right dims
        assert jpeg_dims(bytes(r.frame)) == (24, 16)
        dec = jpeg_decode(bytes(r.frame))
        expected = make_photo(24, 16, (4 + 31 * r.frame_idx) % 251)
        assert np.abs(dec.astype(np.int64) - expected.astype(np.int64)).mean() <= 32.0
    assert [r.frame_idx for r in sorted(by_vid[3], key=lambda r: r.frame_idx)] == [0, 2]
