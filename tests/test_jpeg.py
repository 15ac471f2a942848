"""Baseline JPEG codec (multimodal/jpeg.py) — the reference's actual
corpus format (/root/reference/test.py:44-59, cv2 jpg→jpg at Q=65),
exercised for real: spec-analytic round trips, hostile-byte guards,
decode of the genuine 4:2:0 reference fixtures (or the reference-shaped
stand-in when they are not on disk), the full compress_pipeline
replayed over that photo corpus in-container, and the lane entropy
decoder held to the sequential walk on every layout it must read.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pytest

from developing_img_etl_spark.multimodal import jpeg

from developing_img_etl_spark.multimodal.jpeg import (
    jpeg_decode,
    jpeg_dims,
    jpeg_encode,
    make_photo,
    quant_tables,
)

JPG_ROOT = "/root/reference/compressed"
JPGS = sorted(glob.glob(f"{JPG_ROOT}/**/*.jpg", recursive=True))


@pytest.fixture(scope="module")
def jpg_root(request) -> str:
    """The reference's photo root, or the stand-in's when it is absent."""
    if JPGS:
        return JPG_ROOT
    return os.path.join(request.getfixturevalue("reference_standin"), "compressed")


def _first_jpg(root: str) -> bytes:
    with open(sorted(glob.glob(f"{root}/**/*.jpg", recursive=True))[0], "rb") as f:
        return f.read()


def test_uniform_block_analytic_roundtrip():
    """Uniform color: every AC coefficient is exactly 0, the DC error
    is bounded by q00/16 — decoded pixels must sit within ±2 of the
    input for every channel (spec arithmetic, no codec to compare)."""
    for v in (0, 1, 64, 128, 200, 254, 255):
        arr = np.full((24, 40, 3), v, dtype=np.uint8)
        dec = jpeg_decode(jpeg_encode(arr, 65))
        assert dec is not None and dec.shape == arr.shape
        assert int(np.abs(dec.astype(int) - int(v)).max()) <= 2, v


def test_gradient_roundtrip_bound_and_determinism():
    arr = make_photo(200, 120, seed=7)
    enc1 = jpeg_encode(arr, 65)
    enc2 = jpeg_encode(arr, 65)
    assert enc1 == enc2  # deterministic bytes
    assert jpeg_dims(enc1) == (200, 120)
    dec = jpeg_decode(enc1)
    assert dec is not None and dec.shape == (120, 200, 3)
    err = np.abs(dec.astype(int) - arr.astype(int))
    assert float(err.mean()) <= 12.0  # measured 8.07; sawtooth edges ring
    # higher quality must not be worse
    dec95 = jpeg_decode(jpeg_encode(arr, 95))
    assert float(np.abs(dec95.astype(int) - arr.astype(int)).mean()) <= float(
        err.mean()
    )


def test_odd_and_degenerate_dims():
    for w, h in ((13, 9), (1, 1), (8, 8), (17, 1), (1, 31), (65, 3)):
        a = make_photo(w, h, seed=3)
        d = jpeg_decode(jpeg_encode(a, 65))
        assert d is not None and d.shape == (h, w, 3), (w, h)


def test_quality_scaling_monotone():
    ql50, _ = quant_tables(50)
    ql90, _ = quant_tables(90)
    ql10, _ = quant_tables(10)
    assert (ql90 <= ql50).all() and (ql50 <= ql10).all()
    assert (quant_tables(100)[0] >= 1).all()


def test_hostile_bytes_guard_to_none():
    arr = make_photo(64, 48, seed=1)
    enc = jpeg_encode(arr, 65)
    assert jpeg_decode(b"") is None
    assert jpeg_decode(b"\xff\xd8-corrupt-jpeg-body") is None
    assert jpeg_decode(enc[: len(enc) // 2]) is None  # truncated scan
    junk = bytearray(enc)
    junk[30] ^= 0xFF  # smash a header byte
    res = jpeg_decode(bytes(junk))  # must not raise; None or pixels
    assert res is None or isinstance(res, np.ndarray)
    assert jpeg_dims(b"\x89PNG") is None


def test_real_420_reference_photo_decodes(jpg_root):
    """The genuine corpus: baseline SOF0, 2x2/1x1/1x1 sampling. The
    hand-rolled decoder must produce full-size plausible pixels."""
    data = _first_jpg(jpg_root)
    img = jpeg_decode(data)
    assert img is not None and img.shape == (490, 648, 3)
    # plausibility: non-constant, in-range, and self-consistent under
    # a high-quality re-encode through our own encoder (codec closure)
    assert img.std() > 10
    again = jpeg_decode(jpeg_encode(img, 95))
    assert again is not None
    assert float(np.abs(again.astype(int) - img.astype(int)).mean()) <= 4.0


def test_pil_cross_check_when_importable(jpg_root):
    """When PIL exists, our decode of a real photo must agree with
    PIL's (chroma upsampling differs — nearest vs fancy — so allow a
    small mean gap), and PIL must decode our encoder's output."""
    try:
        from PIL import Image
    except ImportError:
        pytest.skip("PIL not installed in this container")
    import io

    data = _first_jpg(jpg_root)
    ours = jpeg_decode(data)
    theirs = np.asarray(Image.open(io.BytesIO(data)).convert("RGB"))
    assert ours.shape == theirs.shape
    assert float(np.abs(ours.astype(int) - theirs.astype(int)).mean()) <= 3.0

    enc = jpeg_encode(make_photo(120, 80, seed=5), 65)
    pil_dec = np.asarray(Image.open(io.BytesIO(enc)).convert("RGB"))
    assert pil_dec.shape == (80, 120, 3)
    assert (
        float(
            np.abs(
                pil_dec.astype(int) - jpeg_decode(enc).astype(int)
            ).mean()
        )
        <= 2.0
    )


def test_reference_corpus_recompress_for_real(spark, jpg_root):
    """Replay the reference's production job (test.py:44-59) over its
    own photo corpus with the REAL codec end-to-end in-container:
    every one of the 24 jpgs decodes, recompresses at Q=65, and the
    output parses as a valid JFIF at the same dims (648×490 < 1024
    cap → resize is a no-op)."""
    from pyspark.sql import functions as F

    from developing_img_etl_spark.multimodal.image import (
        compress_pipeline,
        with_image_stats,
    )
    from developing_img_etl_spark.sources.binary import read_binary_dir

    files = read_binary_dir(spark, jpg_root)
    out = with_image_stats(compress_pipeline(files), "content_out")
    rows = out.select("status", "width", "height", F.length("content_out").alias("n")).collect()
    assert len(rows) == 24
    assert all(r.status == "ok" for r in rows)
    assert all((r.width, r.height) == (648, 490) for r in rows)
    assert all(r.n > 1000 for r in rows)


def test_grayscale_2x2_sampling_is_non_interleaved():
    """T.81 §A.2.2: an Ns=1 scan is NON-INTERLEAVED — blocks arrive in
    the component's raster order even when the frame declares 2x2
    sampling. Hand-build such a stream (the encoder only emits 4:4:4)
    and require faithful pixels, not an MCU-scrambled image."""
    import struct

    from developing_img_etl_spark.multimodal.jpeg import (
        _AC_LUMA,
        _DC_LUMA,
        _canonical_codes,
        _encode_plane_coeffs,
    )
    from tests.jpeg_streams import _BitWriter, _emit_block

    gray = ((np.arange(16)[:, None] * 7 + np.arange(32)[None, :] * 3) % 256).astype(
        np.float64
    )
    ql, _ = quant_tables(65)
    from developing_img_etl_spark.multimodal.jpeg import ZIGZAG

    ql_z = ql[ZIGZAG]
    coeffs = _encode_plane_coeffs(gray, ql_z)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes(int(v) for v in ql_z)
    out += b"\xff\xc0" + struct.pack(">H", 11) + bytes([8]) + struct.pack(">HH", 16, 32)
    out += bytes([1, 1, 0x22, 0])  # ONE component, 2x2 declared sampling
    for tc, th, (bits, vals) in ((0, 0, _DC_LUMA), (1, 0, _AC_LUMA)):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    bw = _BitWriter()
    dc = _canonical_codes(*_DC_LUMA)
    ac = _canonical_codes(*_AC_LUMA)
    pred = 0
    for i in range(coeffs.shape[0]):  # component raster order
        pred = _emit_block(coeffs[i], pred, dc, ac, bw)
    bw.flush()
    out += bw.out + b"\xff\xd9"

    dec = jpeg_decode(bytes(out))
    assert dec is not None and dec.shape == (16, 32, 3)
    assert (dec[:, :, 0] == dec[:, :, 1]).all()  # gray replicated
    err = np.abs(dec[:, :, 0].astype(int) - gray.astype(int))
    assert float(err.mean()) <= 3.0  # scrambled MCU order scores ~4.6+


def test_vectorized_entropy_coder_matches_scalar_reference():
    """The r12 vectorized entropy coder (_entropy_encode) must emit a
    BYTE-IDENTICAL stream to the per-symbol reference path
    (_entropy_encode_scalar) — same symbols, same canonical codes, same
    interleave, stuffing and flush padding — across sizes, qualities
    and content seeds (including 1x1 and non-multiple-of-8 dims)."""
    from developing_img_etl_spark.multimodal.jpeg import (
        ZIGZAG,
        _AC_CHROMA,
        _AC_LUMA,
        _DC_CHROMA,
        _DC_LUMA,
        _canonical_codes,
        _code_arrays,
        _encode_plane_coeffs,
        _entropy_encode,
    )
    from tests.jpeg_streams import _entropy_encode_scalar

    dc_l = _canonical_codes(*_DC_LUMA)
    ac_l = _canonical_codes(*_AC_LUMA)
    dc_c = _canonical_codes(*_DC_CHROMA)
    ac_c = _canonical_codes(*_AC_CHROMA)
    dicts = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    arrs = [
        (_code_arrays(dc_l, 17), _code_arrays(ac_l, 256)),
        (_code_arrays(dc_c, 17), _code_arrays(ac_c, 256)),
        (_code_arrays(dc_c, 17), _code_arrays(ac_c, 256)),
    ]
    for (w, h, seed, q) in [
        (1, 1, 0, 65), (7, 5, 2, 10), (16, 8, 1, 1), (96, 96, 7, 80),
        (129, 65, 4, 30), (200, 150, 11, 50), (64, 64, 9, 100),
    ]:
        img = make_photo(w, h, seed).astype(np.float64)
        r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        ql, qc = quant_tables(q)
        ql_z, qc_z = ql[ZIGZAG], qc[ZIGZAG]
        coeffs = [
            _encode_plane_coeffs(y, ql_z),
            _encode_plane_coeffs(cb, qc_z),
            _encode_plane_coeffs(cr, qc_z),
        ]
        assert _entropy_encode(coeffs, arrs) == _entropy_encode_scalar(
            coeffs, dicts
        ), (w, h, seed, q)


def test_split_scan_destuffs_and_cuts_at_restarts():
    """FF00 is a stuffed FF, FFD0-FFD7 cut a segment, any other marker
    or a lone trailing FF ends the scan (at that FF)."""
    scan = b"\x12\xff\x00\x34\xff\xd0\x56\xff\xd7\xff\x00\xff\xd9tail"
    assert jpeg._split_scan(scan, 0) == ([b"\x12\xff\x34", b"\x56", b"\xff"], 11)
    assert jpeg._split_scan(b"hdr\x01\xff", 3) == ([b"\x01"], 4)
    assert jpeg._split_scan(b"hdr", 3) == ([b""], 3)


def _decode_both(data: bytes):
    """Decode ``data`` with the lane decoder forced on, then with the
    walk forced on; for each, (coefficient grids, pixels, lane verdict)."""
    seen = {}
    pixels, lanes = jpeg._pixels, jpeg._lane_decode

    def grab_pixels(w, h, comps, tables, grids, hmax, vmax):
        seen["grids"] = [g.copy() for g in grids]
        return pixels(w, h, comps, tables, grids, hmax, vmax)

    def grab_lanes(scan, grid, block0):
        seen["verdict"] = lanes(scan, grid, block0)
        return seen["verdict"]

    out = []
    for force in (grab_lanes, lambda scan, grid, block0: None):
        seen.clear()
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(jpeg, "_pixels", grab_pixels)
            mp.setattr(jpeg, "_lane_decode", force)
            img = jpeg.jpeg_decode(data)
        out.append((seen.get("grids"), img, seen.get("verdict")))
    return out


@pytest.mark.parametrize(
    "sampling,restart",
    [("420", 0), ("420", 5), ("422", 0), ("422", 7), ("444", 0), ("444", 3), ("gray", 0), ("gray", 4)],
)
def test_lane_decode_matches_walk(sampling, restart):
    """Camera layouts the package encoder never writes — 4:2:0, 4:2:2,
    grayscale (declared 2x2, so non-interleaved), each with and without
    a DRI restart interval: the lanes decide on their own and give the
    walk's coefficient grids and pixels."""
    from tests.jpeg_streams import encode_sampled, photo_like

    arr = photo_like(328, 216, seed=len(sampling) * 31 + restart)
    data = encode_sampled(arr, 90, sampling, restart, gray_hv=0x22)
    (lane_grids, lane_img, verdict), (walk_grids, walk_img, _) = _decode_both(data)
    assert verdict is True
    assert lane_img is not None and lane_img.shape == (216, 328, 3)
    assert (lane_img == walk_img).all()
    assert len(lane_grids) == len(walk_grids)
    for a, b in zip(lane_grids, walk_grids):
        assert (a == b).all()


def test_lane_decode_matches_walk_on_damaged_streams():
    """Truncated and bit-flipped 4:2:0 DRI streams: the lanes decide
    on their own (True or False, not None) on every truncation and on
    most flips, and where they decide they agree with the walk: False
    where the walk finds the stream corrupt, its pixels otherwise."""
    from tests.jpeg_streams import encode_sampled, photo_like

    data = encode_sampled(photo_like(200, 120, seed=3), 80, "420", restart=6)
    body = data.index(b"\xff\xda") + 14
    rng = np.random.default_rng(11)
    cases = [data[: len(data) - k] for k in (3, 200, len(data) // 2)]
    for _ in range(12):
        flipped = bytearray(data)
        flipped[int(rng.integers(body, len(data) - 2))] ^= 1 << int(rng.integers(8))
        cases.append(bytes(flipped))
    verdicts = []
    for case in cases:
        (_, lane_img, verdict), (_, walk_img, _) = _decode_both(case)
        verdicts.append(verdict)
        assert (lane_img is None) == (walk_img is None)
        if verdict is not None:
            assert verdict == (walk_img is not None)
        if lane_img is not None:
            assert (lane_img == walk_img).all()
    assert None not in verdicts[:3]
    assert sum(v is not None for v in verdicts[3:]) >= 10
    assert False in verdicts[3:] and True in verdicts[3:]


def test_random_scan_costs_no_more_than_a_valid_one():
    """A header-valid scan of random bytes (no 0xFF, so the whole
    payload is scan) costs no more than a valid scan of the same size:
    loose bound (the host may be shared), CPU time, best of five."""
    from tests.jpeg_streams import encode_sampled, photo_like

    valid = encode_sampled(photo_like(640, 480, seed=5), 90, "420")
    sos = valid.index(b"\xff\xda")
    head = sos + 2 + int.from_bytes(valid[sos + 2 : sos + 4], "big")
    rng = np.random.default_rng(7)
    noise = valid[:head] + rng.integers(0, 255, len(valid) - head - 2, dtype=np.uint8).tobytes() + b"\xff\xd9"

    def cost(data: bytes) -> float:
        best = float("inf")
        for _ in range(5):
            t = time.process_time()
            jpeg.jpeg_decode(data)
            best = min(best, time.process_time() - t)
        return best

    assert jpeg.jpeg_decode(noise) is None
    assert cost(noise) <= 3 * cost(valid) + 0.1


@pytest.mark.parametrize("restart", [0, 3])
def test_lane_windows_carry_the_path(restart, monkeypatch):
    """A scan split over many lane windows (forced small here) decodes
    as one: each window starts from the previous one's exit, and block
    ordinals and DC predictions carry across the cut."""
    from tests.jpeg_streams import encode_sampled, photo_like

    data = encode_sampled(photo_like(328, 216, seed=9), 90, "420", restart)
    monkeypatch.setattr(jpeg, "_LANE_WINDOW", 7)
    (lane_grids, lane_img, verdict), (walk_grids, walk_img, _) = _decode_both(data)
    assert verdict is True
    assert (lane_img == walk_img).all()
    for a, b in zip(lane_grids, walk_grids):
        assert (a == b).all()


def test_lane_steps_agree_with_the_decode_lut():
    """Every peek-16 prefix gets the walk LUT's code as a step entry:
    bits taken (code and value), value bits and k advance; a prefix
    that is no code gets the corrupt entry; a DC table with a size past
    11 gets none, so its scans take the walk."""
    rng = np.random.default_rng(3)
    specs = [jpeg._DC_LUMA, jpeg._DC_CHROMA, jpeg._AC_LUMA, jpeg._AC_CHROMA, ([0] * 16, [])]
    for _ in range(200):
        bits = [int(b) for b in rng.integers(0, int(rng.choice([2, 4, 9])), 16)]
        top = 256 if rng.random() < 0.5 else 12
        specs.append((bits, [int(v) for v in rng.integers(0, top, sum(bits))]))
    for bits, vals in specs:
        lut = jpeg._decode_lut(bits, vals)
        ok = lut >= 0
        sym, ln = lut[ok] >> 5, lut[ok] & 31
        for dc in (True, False):
            steps = jpeg._lane_steps(bits, vals, dc)
            if dc and (sym > 11).any():
                assert steps is None
                continue
            if dc:
                s, adv = sym, np.ones_like(sym)
            else:
                r, s = sym >> 4, sym & 15
                adv = np.where(s > 0, r + 1, np.where(r == 15, 16, 64))
            assert (steps[~ok] == jpeg._BAD_STEP).all()
            assert ((steps[ok] & 63) == ln + s).all()
            assert (((steps[ok] >> 6) & 31) == s).all()
            assert ((steps[ok] >> 11) == adv).all()


def test_non_baseline_dc_table_takes_the_walk():
    """A DC table listing a size past baseline's 11 is left to the walk:
    the lanes decline (None) and the pixels are the walk's."""
    from tests.jpeg_streams import encode_sampled, photo_like

    data = bytearray(encode_sampled(photo_like(64, 48, seed=2), 80, "420"))
    dht = data.index(b"\xff\xc4")
    assert data[dht + 4] == 0x00  # the first table is DC 0
    nv = sum(data[dht + 5 : dht + 21])
    data[dht + 21 + nv - 1] = 12  # its longest code now means size 12
    (_, lane_img, verdict), (_, walk_img, _) = _decode_both(bytes(data))
    assert verdict is None
    assert (lane_img is None) == (walk_img is None)
    if lane_img is not None:
        assert (lane_img == walk_img).all()
