"""Test-side JPEG stream builders and the encoder's parity oracle.

The package encoder emits only interleaved 4:4:4 without restart
markers. The decoder must also read what cameras write: 4:2:0 and
4:2:2 chroma, grayscale, and DRI restart intervals. `encode_sampled`
builds those streams from the package's own transform and Annex K
tables, one symbol at a time through `_emit_block`/`_BitWriter`, the
per-symbol reference path that `_entropy_encode_scalar` also uses as
the parity oracle for the vectorized `jpeg._entropy_encode`.
"""

from __future__ import annotations

import struct

import numpy as np

from developing_img_etl_spark.multimodal.jpeg import (
    _AC_CHROMA,
    _AC_LUMA,
    _DC_CHROMA,
    _DC_LUMA,
    ZIGZAG,
    _canonical_codes,
    _encode_plane_coeffs,
    quant_tables,
)

# sampling name -> ((h, v) factors per component)
SAMPLINGS = {
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
    "gray": ((1, 1),),
}


class _BitWriter:
    __slots__ = ("out", "acc", "n")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1s


def _emit_block(zz: np.ndarray, pred: int, dc_codes, ac_codes, bw: _BitWriter) -> int:
    dc = int(zz[0])
    diff = dc - pred
    s = abs(diff).bit_length()
    bw.write(*dc_codes[s])
    if s:
        v = diff if diff > 0 else diff + (1 << s) - 1
        bw.write(v, s)
    run = 0
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*ac_codes[0xF0])
            run -= 16
        s = abs(v).bit_length()
        bw.write(*ac_codes[(run << 4) | s])
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        bw.write(*ac_codes[0x00])  # EOB
    return dc


def _entropy_encode_scalar(coeffs: list[np.ndarray], dicts) -> bytes:
    """The per-symbol reference path for a 4:4:4 scan: the vectorized
    `jpeg._entropy_encode` must produce the same bytes."""
    bw = _BitWriter()
    preds = [0, 0, 0]
    for i in range(coeffs[0].shape[0]):  # 4:4:4 → one block/component/MCU
        for ci in range(3):
            preds[ci] = _emit_block(coeffs[ci][i], preds[ci], *dicts[ci], bw)
    bw.flush()
    return bytes(bw.out)


def _ycbcr(arr: np.ndarray) -> list[np.ndarray]:
    rgb = np.asarray(arr, dtype=np.uint8).astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    return [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]


def _sample(plane: np.ndarray, rows: int, cols: int, fy: int, fx: int) -> np.ndarray:
    """Edge-pad to (rows*fy, cols*fx) and average fy x fx cells."""
    h, w = plane.shape
    p = np.pad(plane, ((0, rows * fy - h), (0, cols * fx - w)), mode="edge")
    return p.reshape(rows, fy, cols, fx).mean(axis=(1, 3))


def encode_sampled(
    arr: np.ndarray,
    quality: int = 65,
    sampling: str = "420",
    restart: int = 0,
    gray_hv: int = 0x11,
) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF with the given chroma
    sampling ("444", "422", "420", or "gray" for one Y component whose
    frame declares ``gray_hv``) and a DRI restart interval of
    ``restart`` MCUs (0 = none)."""
    h, w = arr.shape[:2]
    factors = SAMPLINGS[sampling]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    if len(factors) == 1:  # non-interleaved: one block per MCU
        mcux, mcuy = -(-w // 8), -(-h // 8)
        hmax = vmax = 1
    else:
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    ql, qc = quant_tables(quality)
    ql_z, qc_z = ql[ZIGZAG], qc[ZIGZAG]
    planes = _ycbcr(arr)[: len(factors)]
    coeffs = []
    for ci, (hi, vi) in enumerate(factors):
        if len(factors) == 1:
            hi = vi = 1
        rows, cols = mcuy * vi * 8, mcux * hi * 8
        sub = _sample(planes[ci], rows, cols, vmax // vi, hmax // hi)
        coeffs.append(_encode_plane_coeffs(sub, ql_z if ci == 0 else qc_z))

    tabs = [
        (_canonical_codes(*_DC_LUMA), _canonical_codes(*_AC_LUMA)),
        (_canonical_codes(*_DC_CHROMA), _canonical_codes(*_AC_CHROMA)),
        (_canonical_codes(*_DC_CHROMA), _canonical_codes(*_AC_CHROMA)),
    ]
    bw = _BitWriter()
    preds = [0] * len(factors)
    n_mcu = mcux * mcuy
    for mcu in range(n_mcu):
        if restart and mcu and mcu % restart == 0:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + (mcu // restart - 1) % 8])
            preds = [0] * len(factors)
        my, mx = divmod(mcu, mcux)
        for ci, (hi, vi) in enumerate(factors):
            if len(factors) == 1:
                hi = vi = 1
            for by in range(vi):
                for bx in range(hi):
                    bi = (my * vi + by) * (mcux * hi) + mx * hi + bx
                    preds[ci] = _emit_block(coeffs[ci][bi], preds[ci], *tabs[ci], bw)
    bw.flush()

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, tbl in ((0, ql_z), (1, qc_z))[: 1 if len(factors) == 1 else 2]:
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(int(v) for v in tbl)
    nc = len(factors)
    out += b"\xff\xc0" + struct.pack(">H", 8 + 3 * nc) + bytes([8]) + struct.pack(">HH", h, w)
    out += bytes([nc])
    for ci, (hi, vi) in enumerate(factors):
        hv = gray_hv if nc == 1 else (hi << 4) | vi
        out += bytes([ci + 1, hv, 0 if ci == 0 else 1])
    specs = [(0, 0, _DC_LUMA), (1, 0, _AC_LUMA)]
    if nc > 1:
        specs += [(0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA)]
    for tc, th, (bits, vals) in specs:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * nc) + bytes([nc])
    for ci in range(nc):
        out += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    out += bytes([0, 63, 0])
    out += bw.out + b"\xff\xd9"
    return bytes(out)


def photo_like(w: int, h: int, seed: int = 0) -> np.ndarray:
    """Smooth camera-like RGB content with mild noise: plane waves per
    channel, so a Q65-90 stream lands near a real photo's bits/pixel."""
    rng = np.random.default_rng(seed)
    x, y = np.arange(w, dtype=np.float64), np.arange(h, dtype=np.float64)
    chans = []
    for _ in range(3):
        a, b = rng.uniform(0.005, 0.05, 2)
        ph = rng.uniform(0, 2 * np.pi)
        wave = np.sin(a * x[None, :] + b * y[:, None] + ph) + np.cos(b * x[None, :] - a * y[:, None])
        chans.append(128 + 50 * wave + rng.normal(0, 6, (h, w)))
    return np.clip(np.stack(chans, axis=2), 0, 255).astype(np.uint8)
