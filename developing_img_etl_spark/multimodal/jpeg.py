"""Stdlib+numpy baseline JPEG codec — the reference's ACTUAL corpus
format, decode → resize → encode, with zero third-party codec
dependencies.

The reference pipeline is cv2 JPEG decode / resize / re-encode at
quality 65 (/root/reference/test.py:44-59) over baseline SOF0 4:2:0
photos (648×490, verified against the fixture corpus). The BMP (m12),
PNG (m14) and GIF (m17) codecs made raster, DEFLATE and dictionary
compression real in-container; this module completes the set with the
transform-coded format the reference actually stores: full baseline
JFIF — Huffman entropy coding, zigzag RLE, quantized 8×8 DCT, YCbCr
color, 4:2:0/4:2:2/4:4:4 sampling — implemented from the public JPEG
specification (ITU-T T.81: Annex K tables, canonical Huffman, the
IJG quality→quant-table scaling formula).

Decoder supports: baseline sequential DCT (SOF0), 8-bit precision,
1 or 3 components, sampling factors 1 or 2, restart intervals.
Progressive (SOF2), arithmetic coding, 12-bit, >2 sampling factors
return None — the caller's PIL seam (multimodal/image.py) may pick
those up where importable; nothing is ever misread.

Encoder emits: JFIF baseline, 4:4:4 (no chroma loss beyond
quantization), standard Annex K Huffman tables, quality via the IJG
scaling curve — deterministic bytes for fixed pixels, so encoded
output is stable across runs/partitions.

Entropy decoding has two paths with one answer. Every baseline scan
is cut into chunks of about 256 bits with one numpy lane each (a
shorter scan is one lane), and every step moves all lanes by one
Huffman symbol (state: bit position, MCU slot, coefficient index) with
one packed-table gather. Lanes start from a guess; runs from the exits
they leave go on until they reach a state some run recorded, after
which the decode is that run's. Huffman codes resynchronize on their
own (Weißenberger & Schmidt, ICPP 2018), so no restart markers are
needed.
The true path is then read off the recorded steps and scattered into
the coefficient grids in one vectorized pass. Only DC tables past
baseline's size limit, and paths still not joined after a few rounds,
fall back to the sequential walk, one symbol at a time over a peek-16
LUT. Both give the same coefficients, so the pixels are identical
whichever path ran. The encoder's entropy coder is vectorized too;
DCT/IDCT, color transforms, sampling and quantization are numpy over
all blocks at once. In the engine this runs inside Arrow-batched
pandas UDFs (mapInPandas), so the per-image cost parallelizes across
executors exactly like the real libjpeg path a deployment would plug
into the same seam.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# Spec constants (ITU-T T.81 public standard)
# --------------------------------------------------------------------------

# zigzag scan order: ZIGZAG[k] = natural (row-major) index of the k-th
# zigzag position
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1/K.2 base quantization tables (natural order)
_BASE_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_BASE_Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3-K.6 standard Huffman specs: (BITS[1..16], HUFFVAL)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# Decompression-bomb cap. Tighter than png.py's 90 MP because this
# decoder's PERSISTENT per-pixel footprint is larger: int32 coefficient
# grids (4 B) + float64 plane (8 B) per component ≈ 36 B/pixel for
# 4:4:4 color vs PNG's ~4 B — 24 MP bounds the decode at ~0.9 GB while
# still covering any sane photo corpus. The lane entropy decoder adds
# an 8 B/block index table (~0.4 B/pixel at 4:4:4); its per-bit arrays
# and step records live for one window of _LANE_WINDOW lanes (about
# 1 Mbit of scan, tens of MB) whatever the image size, and the IDCT
# temporaries are chunk-bounded (see _pixels).
_MAX_PIXELS = 24_000_000

# orthonormal DCT-II basis: _DCT_M[u, x] = a(u) cos((2x+1)uπ/16)
_DCT_M = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """(luma, chroma) quant tables at the IJG quality scaling."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    def _scaled(base: np.ndarray) -> np.ndarray:
        return np.clip((base * scale + 50) // 100, 1, 255)
    return _scaled(_BASE_Q_LUMA), _scaled(_BASE_Q_CHROMA)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for a canonical Huffman spec."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_lut(bits: list[int], vals: list[int]) -> np.ndarray:
    """Peek-16 decode LUT: lut[prefix16] = (symbol << 5) | code_length,
    or -1 for invalid prefixes. One table lookup per decoded symbol."""
    lut = np.full(1 << 16, -1, dtype=np.int32)
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            base = code << (16 - ln)
            lut[base : base + (1 << (16 - ln))] = (vals[k] << 5) | ln
            code += 1
            k += 1
        code <<= 1
    return lut


# --------------------------------------------------------------------------
# Header-level metadata
# --------------------------------------------------------------------------
def jpeg_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from the first SOFn marker; header-only."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            return None
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if i + 4 > n:
            return None
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                return None
            h = struct.unpack(">H", data[i + 5 : i + 7])[0]
            w = struct.unpack(">H", data[i + 7 : i + 9])[0]
            if w <= 0 or h <= 0:
                return None
            return (w, h)
        if marker == 0xDA:
            return None
        i += 2 + seg_len
    return None


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------
def _split_scan(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Destuff the entropy-coded scan from ``start``; split at RST
    markers. Returns (segments, pos_after_scan).

    Every 0xFF in the scan is read in order: FF00 is a stuffed 0xFF,
    FFD0-FFD7 a restart marker, anything else (or a trailing lone FF,
    which sees itself as its successor) ends the scan. The bytes a pair
    skips (00, D0-D7) are never 0xFF, so classifying every 0xFF
    position at once gives the byte loop's answer."""
    buf = np.frombuffer(data, dtype=np.uint8)[start:]
    ff = np.flatnonzero(buf == 0xFF)
    nxt = buf[np.minimum(ff + 1, len(buf) - 1)]
    rst = (nxt >= 0xD0) & (nxt <= 0xD7)
    stop = np.flatnonzero((nxt != 0x00) & ~rst)
    end = int(ff[stop[0]]) if len(stop) else len(buf)
    stuffed, rst = ff[(ff < end) & (nxt == 0x00)], ff[(ff < end) & rst]
    keep = np.ones(end, dtype=bool)
    keep[np.concatenate((stuffed + 1, rst, rst + 1))] = False
    # restart markers become cut points in the destuffed bytes
    cuts = np.cumsum(keep)[rst].tolist()
    body = buf[:end][keep].tobytes()
    bounds = [0, *cuts, len(body)]
    return [body[a:b] for a, b in zip(bounds[:-1], bounds[1:])], start + end


def jpeg_decode(data: bytes) -> np.ndarray | None:
    """Baseline JPEG -> (h, w, 3) uint8 RGB, or None if unsupported or
    structurally broken. Never raises on hostile bytes."""
    try:
        return _decode_inner(bytes(data))
    except Exception:  # noqa: BLE001 — per-record guard, corrupt bytes → None
        return None


def _decode_inner(data: bytes) -> np.ndarray | None:
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[list[int], list[int]]] = {}  # (BITS, HUFFVAL)
    frame = None  # (w, h, comps) with comps = [(cid, hi, vi, tq)]
    restart = 0
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            return None
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        seg = data[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT — possibly several tables per segment
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq != 0:  # 16-bit tables: out of baseline scope
                    return None
                if p + 65 > len(seg):
                    return None
                qt[tq] = np.frombuffer(
                    seg[p + 1 : p + 65], dtype=np.uint8
                ).astype(np.int64)
                p += 65
        elif marker == 0xC4:  # DHT — possibly several tables
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                if len(vals) < nv:
                    return None
                huff[(tc, th)] = (bits, vals)
                p += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # baseline / ext sequential
            prec = seg[0]
            h = struct.unpack(">H", seg[1:3])[0]
            w = struct.unpack(">H", seg[3:5])[0]
            nc = seg[5]
            if prec != 8 or nc not in (1, 3) or w <= 0 or h <= 0:
                return None
            if w * h > _MAX_PIXELS:
                return None
            comps = []
            for c in range(nc):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                hi, vi = hv >> 4, hv & 15
                if hi not in (1, 2) or vi not in (1, 2):
                    return None
                comps.append((cid, hi, vi, seg[8 + 3 * c]))
            frame = (w, h, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # progressive / arithmetic / hierarchical
        elif marker == 0xDD:  # DRI
            restart = struct.unpack(">H", seg[0:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                return None
            ns = seg[0]
            scomp = []
            for c in range(ns):
                cs = seg[1 + 2 * c]
                td, ta = seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15
                scomp.append((cs, td, ta))
            segs, _ = _split_scan(data, i + 2 + seg_len)
            return _decode_scan(frame, scomp, qt, huff, restart, segs)
        i += 2 + seg_len
    return None


def _decode_scan(frame, scomp, qt, huff, restart, segs) -> np.ndarray | None:
    w, h, comps = frame
    if len(scomp) != len(comps):
        return None
    if len(comps) == 1:
        # T.81 §A.2.2: an Ns=1 scan is NON-INTERLEAVED — the MCU is a
        # single data unit and blocks come in the component's own
        # raster order, regardless of declared sampling factors (which
        # only govern interleaving/subsampling BETWEEN components).
        # Normalizing the lone component to 1x1 makes the interleaved
        # MCU walk below degenerate to exactly that raster order.
        cid, _hi, _vi, tq = comps[0]
        comps = [(cid, 1, 1, tq)]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    tables = []
    for (cid, hi, vi, tq), (scs, td, ta) in zip(comps, scomp):
        if scs != cid or tq not in qt or (0, td) not in huff or (1, ta) not in huff:
            return None
        tables.append((huff[(0, td)], huff[(1, ta)], qt[tq]))
    # per-component coefficient grids in MCU-padded block units, views
    # of one buffer. int32: baseline coefficients fit in 16 bits; int32
    # halves the footprint of the naive int64 choice (the _MAX_PIXELS
    # budget assumes this)
    shapes = [(mcuy * vi, mcux * hi) for _cid, hi, vi, _tq in comps]
    block0 = np.cumsum([0] + [r * c for r, c in shapes])
    buf = np.zeros(int(block0[-1]) * 64, dtype=np.int32)
    grids = [
        buf[64 * b0 : 64 * b1].reshape(r, c, 64)
        for (r, c), b0, b1 in zip(shapes, block0[:-1], block0[1:])
    ]

    scan = _Scan(comps, tables, mcux, mcuy * mcux, restart or mcuy * mcux, segs)
    ok = _lane_decode(scan, buf, block0)
    if ok is None:  # a DC table past baseline, or lanes that never met:
        buf[:] = 0  # the walk decides
        ok = _walk(scan, [g.reshape(-1, 64) for g in grids])
    if not ok:
        return None
    return _pixels(w, h, comps, tables, grids, hmax, vmax)


class _Scan:
    """One scan's geometry: the MCU slots (one per data unit), the
    segments the MCUs need and how many blocks each must yield."""

    def __init__(self, comps, tables, mcux, n_mcu, per_seg, segs):
        self.tables = tables
        self.mcux = mcux
        # slot -> (component, row and column inside the MCU)
        self.slots = [
            (ci, by, bx)
            for ci, (_cid, hi, vi, _tq) in enumerate(comps)
            for by in range(vi)
            for bx in range(hi)
        ]
        self.geo = [(ci, hi, vi, mcux * hi) for ci, (_cid, hi, vi, _tq) in enumerate(comps)]
        self.n_mcu = n_mcu
        self.per_seg = per_seg
        self.segs = segs[: -(-n_mcu // per_seg)]
        self.complete = len(self.segs) * per_seg >= n_mcu


def _walk(scan: _Scan, flat: list[np.ndarray]) -> bool:
    """The sequential entropy decode: one symbol at a time over a
    peek-16 LUT, the bit reader in local variables, coefficients kept
    as (block, k, value) triplets and scattered into the grids with one
    numpy assignment per component. False on a corrupt stream."""
    mcux, n_mcu, per_seg = scan.mcux, scan.n_mcu, scan.per_seg
    specs = {id(spec): spec for t in scan.tables for spec in t[:2]}
    made = {key: _decode_lut(*spec).tolist() for key, spec in specs.items()}
    luts = [(made[id(t[0])], made[id(t[1])]) for t in scan.tables]
    # flat (bi, k, v) triplets per component
    tri_b: list[list[int]] = [[] for _ in flat]
    tri_k: list[list[int]] = [[] for _ in flat]
    tri_v: list[list[int]] = [[] for _ in flat]
    mcu = 0
    for seg in scan.segs:
        data, ld, pos, acc, nb = seg, len(seg), 0, 0, 0
        preds = [0] * len(flat)
        end = min(mcu + per_seg, n_mcu)
        while mcu < end:
            my, mx = divmod(mcu, mcux)
            for ci, hi, vi, rowblocks in scan.geo:
                dc_lut, ac_lut = luts[ci]
                tb, tk, tv = tri_b[ci], tri_k[ci], tri_v[ci]
                pred = preds[ci]
                for by in range(vi):
                    bi0 = (my * vi + by) * rowblocks + mx * hi
                    for bx in range(hi):
                        bi = bi0 + bx
                        # --- DC ---
                        if nb < 16:
                            while nb <= 24:
                                if pos < ld:
                                    acc = (acc << 8) | data[pos]
                                    pos += 1
                                else:
                                    acc = (acc << 8) | 0xFF
                                nb += 8
                        t = dc_lut[(acc >> (nb - 16)) & 0xFFFF]
                        if t < 0:
                            return False
                        nb -= t & 31
                        acc &= (1 << nb) - 1
                        s = t >> 5
                        if s:
                            if nb < s:
                                while nb <= 24:
                                    if pos < ld:
                                        acc = (acc << 8) | data[pos]
                                        pos += 1
                                    else:
                                        acc = (acc << 8) | 0xFF
                                    nb += 8
                            v = (acc >> (nb - s)) & ((1 << s) - 1)
                            nb -= s
                            acc &= (1 << nb) - 1
                            pred += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                        tb.append(bi)
                        tk.append(0)
                        tv.append(pred)
                        # --- AC ---
                        k = 1
                        while k < 64:
                            if nb < 16:
                                while nb <= 24:
                                    if pos < ld:
                                        acc = (acc << 8) | data[pos]
                                        pos += 1
                                    else:
                                        acc = (acc << 8) | 0xFF
                                    nb += 8
                            t = ac_lut[(acc >> (nb - 16)) & 0xFFFF]
                            if t < 0:
                                return False
                            nb -= t & 31
                            acc &= (1 << nb) - 1
                            rs = t >> 5
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                return False
                            if nb < s:
                                while nb <= 24:
                                    if pos < ld:
                                        acc = (acc << 8) | data[pos]
                                        pos += 1
                                    else:
                                        acc = (acc << 8) | 0xFF
                                    nb += 8
                            v = (acc >> (nb - s)) & ((1 << s) - 1)
                            nb -= s
                            acc &= (1 << nb) - 1
                            tb.append(bi)
                            tk.append(k)
                            tv.append(v if v >= (1 << (s - 1)) else v - (1 << s) + 1)
                            k += 1
                preds[ci] = pred
            mcu += 1
    if mcu < n_mcu:
        return False
    for ci, f in enumerate(flat):
        if tri_b[ci]:
            f[tri_b[ci], tri_k[ci]] = tri_v[ci]
    return True


# Lane decoder. A scan is decoded by many numpy lanes in lockstep
# instead of one Python loop: a lane's state is (bit position, MCU
# slot, coefficient index k), and one step moves every lane by one
# Huffman symbol with one packed-table gather.
_LANE_BITS = 256  # destuffed scan bits per lane
_LANE_ROUNDS = 8  # rounds of runs from open exits before the walk takes over
_LANE_REACH = 2048  # bits a run from an exit goes before the next round
_LANE_STEPS = 16  # steps between checks for lanes that are done
# bytes a lane may read past the bit it stops at: the rest of one
# check block of steps of at most 31 bits, and the 8-byte word it peeks
_SLACK = 4 * _LANE_STEPS + 8
_LANE_WINDOW = 4096  # lanes decoded together (about 1 Mbit of scan)
_PAD = 24  # 0xFF bytes after each segment: the walk's fill past its end
# A step-table entry is T | s << 6 | adv << 11: T the bits the symbol
# takes (code and value), s its value bits, adv how far it moves k (64
# ends the block). A prefix that is no code gets s = 31, which the
# assembly reports as corrupt; it still moves the lane, so stepping is
# total and deterministic.
_BAD_STEP = 16 | (31 << 6) | (64 << 11)


def _lane_steps(bits: list[int], vals: list[int], dc: bool) -> np.ndarray | None:
    """A DHT table as lane step entries by peek-16 prefix, or None for a
    DC table with sizes past baseline's 11 (such streams take the walk:
    the lanes' int64 DC sums would wrap where the walk's Python ints
    overflow the int32 grid and fail). Canonical codes cover the prefix
    space from 0 up in code order, each 1 << (16 - length) prefixes, so
    the entries are one repeat; codes past 16 bits start at or after
    1 << 16 and are dropped, as _decode_lut drops them."""
    ln = np.repeat(np.arange(1, 17), bits)
    span = 1 << (16 - ln)
    keep = np.cumsum(span) - span < 1 << 16
    ln, span = ln[keep], span[keep]
    sym = np.array(vals[: len(ln)], dtype=np.int64)
    if dc:
        if (sym > 11).any():
            return None
        s, adv = sym, 1
    else:
        r, s = sym >> 4, sym & 15
        adv = np.where(s > 0, r + 1, np.where(r == 15, 16, 64))  # coefficient, ZRL, EOB
    entry = np.append((ln + s) | (s << 6) | (adv << 11), _BAD_STEP)  # the rest is no code
    return np.repeat(entry.astype(np.int32), np.append(span, (1 << 16) - span.sum()))


def _words(chunk: bytes, n: int) -> np.ndarray:
    """The big-endian 64-bit word that starts at each of the first n
    bytes of ``chunk`` (which holds at least n + 7 bytes)."""
    out = np.empty(n, dtype=np.int64)
    for o in range(8):
        out[o::8] = np.frombuffer(chunk, dtype=">i8", count=len(range(o, n, 8)), offset=o)
    return out


def _lane_decode(scan: _Scan, grid: np.ndarray, block0) -> bool | None:
    """Entropy-decode ``scan`` into ``grid`` (every component's blocks,
    the c-th from ``block0[c]`` on) with lockstep lanes. False on a
    corrupt stream (the walk would fail too), None when the lanes cannot
    decide (the caller then runs the walk).

    Each destuffed segment is cut into chunks of about _LANE_BITS, one
    lane per chunk; the first lane of a segment starts where a block
    does, the others guess so. Lanes are decoded a window at a time
    (_lane_window), and the window's true path is scattered into the
    grids (_Assembly) before the next window starts from its exit."""
    if not scan.complete:
        return False
    bpm = len(scan.slots)
    parts: list[np.ndarray] = []
    offs: dict[int, int] = {}
    comp_off = []
    for dc, ac, _q in scan.tables:
        pair = []
        for spec, is_dc in ((dc, True), (ac, False)):
            if id(spec) not in offs:
                steps = _lane_steps(*spec, is_dc)
                if steps is None:
                    return None
                offs[id(spec)] = 65536 * len(parts)
                parts.append(steps)
            pair.append(offs[id(spec)])
        comp_off.append(pair)
    lut = np.concatenate(parts)
    st = np.arange(bpm * 64)
    slot_comp = np.array([s[0] for s in scan.slots])
    toff = np.array(comp_off, dtype=np.int32)[slot_comp[st >> 6], ((st & 63) > 0).astype(np.int64)]
    kn = (st & 63)[:, None] + np.arange(65)
    nxt = np.where(kn >= 64, (((st >> 6) + 1) % bpm * 64)[:, None], st[:, None] + np.arange(65))
    # lanes carry a state s (slot << 6 | k) as s * 65: the row of the
    # next-state table that a step's k advance (0..64) indexes into
    tabs = (lut, np.repeat(toff, 65), (nxt * 65).astype(np.int32).ravel())

    pad = b"\xff" * _PAD
    buf = pad.join(scan.segs) + b"\xff" * (_PAD + 16 + _SLACK)
    seg_len = np.array([len(s) for s in scan.segs], dtype=np.int64)
    seg_lo = 8 * (np.cumsum(seg_len + _PAD) - seg_len - _PAD)
    seg_hi = seg_lo + 8 * seg_len
    n_lanes = np.maximum(1, (seg_hi - seg_lo) // _LANE_BITS)
    lane_seg = np.repeat(np.arange(len(seg_len)), n_lanes)
    first = np.cumsum(n_lanes) - n_lanes
    lane_lo = seg_lo[lane_seg] + _LANE_BITS * (np.arange(len(lane_seg)) - first[lane_seg])
    lane_hi = np.append(lane_lo[1:], 0)
    last = first + n_lanes - 1
    lane_hi[last] = seg_hi + 64  # the walk reads the fill past a segment's end
    lane_first = np.zeros(len(lane_seg), dtype=bool)
    lane_first[first] = True

    seg_mcu0 = np.arange(len(seg_len)) * scan.per_seg
    needed = np.minimum(scan.per_seg, scan.n_mcu - seg_mcu0) * bpm
    asm = _Assembly(scan, grid, block0, seg_lo, needed)
    carry = (0, 0)
    for a in range(0, len(lane_seg), _LANE_WINDOW):
        b = min(a + _LANE_WINDOW, len(lane_seg))
        base = int(lane_lo[a]) & ~7
        n = ((int(lane_hi[b - 1]) + 7) >> 3) - (base >> 3) + _SLACK
        words = _words(buf[base >> 3 : (base >> 3) + n + 8], n)
        path = _lane_window(
            tabs, words, lane_lo[a:b] - base, lane_hi[a:b] - base,
            lane_first[a:b], (carry[0] - base, carry[1]),
        )
        if path is None:
            return None
        pos, steps, exit_p, exit_st = path
        carry = (exit_p + base, exit_st)
        ok = asm.add(pos, steps, words, base, np.arange(lane_seg[a], lane_seg[b - 1] + 1))
        if not ok:
            return False
    return asm.done()


def _lane_window(tabs, words, lo, hi, first, carry):
    """Decode one window of lanes. Returns the bit position and
    ``state << 18 | step entry`` of every symbol on the true path, in
    stream order, and the state at which the path leaves the window;
    None if the path is not joined up after _LANE_ROUNDS rounds.

    Round 0 runs every lane over its own chunk from its guess. Each
    later round starts a run at every exit that no run has recorded
    yet; such a run goes on past chunk ends until it reaches a state
    some run recorded (from there on the decode is that run's), its
    segment's end, or _LANE_REACH bits (then the next round goes on
    from there). The true path is read off by following these links
    from the first lane of each segment."""
    lut, toff, nxt = tabs
    n = len(words)
    peek = np.empty((n, 8), dtype=np.uint16)
    for o in range(8):
        peek[:, o] = (words >> (48 - o)) & 0xFFFF
    peek = peek.ravel()
    # (run << 16) | (state + 1) recorded at a bit: one array, so a bit
    # two runs pass in one round keeps one run's state and link together
    mark = np.zeros(8 * n, dtype=np.int64)
    # where each lane's segment ends inside the window
    last = np.append(np.flatnonzero(first[1:]), len(lo) - 1)
    cap = np.repeat(hi[last], np.diff(np.append(-1, last))).astype(np.int32)
    start = lo.astype(np.int32)
    entry_p, entry_st = start.copy(), np.zeros(len(lo), dtype=np.int32)
    if not first[0]:
        entry_p[0], entry_st[0] = carry
    limit = hi.astype(np.int32)
    stop_p, stop_st, link = [], [], []  # link: hit run, -1 segment end, -2 open
    succ = []  # the run started at an open exit, or -1
    recs = []
    n_runs = 0
    for rnd in range(_LANE_ROUNDS + 1):
        base = n_runs
        n_runs += len(entry_p)
        out_p = np.empty(len(entry_p), dtype=np.int32)
        out_st = np.empty(len(entry_p), dtype=np.int32)
        out_link = np.full(len(entry_p), -1, dtype=np.int32)
        p, st, end = entry_p, entry_st, limit
        run = np.arange(len(entry_p), dtype=np.int32)
        rows_r, rows_p, rows_s, rows_t = [], [], [], []
        while run.size:
            # row i: every lane's bit position, state and step entry
            # before its i-th step; the last rows are where they go on
            bp = np.empty((_LANE_STEPS + 1, run.size), dtype=np.int32)
            bs = np.empty_like(bp)
            bt = np.empty_like(bp[1:])
            bp[0], bs[0] = p, st
            for i in range(_LANE_STEPS):
                t = lut.take(toff[bs[i]] + peek[bp[i]], out=bt[i])
                np.add(bp[i], t & 63, out=bp[i + 1])
                nxt.take(bs[i] + (t >> 11), out=bs[i + 1])
            p, st, bp, bs = bp[-1], bs[-1], bp[:-1], bs[:-1]
            stop = bp >= end
            if rnd:
                hit = ((mark[bp] & 0xFFFF) == bs + 1) & ~stop
                stop |= hit
            done = stop.any(0)
            d = np.flatnonzero(done)
            f = stop.argmax(0)[d]
            out_p[run[d]] = bp[f, d]
            out_st[run[d]] = bs[f, d]
            if rnd:
                h = hit[f, d]
                out_link[run[d[h]]] = mark[bp[f[h], d[h]]] >> 16
            rows_r.append(np.broadcast_to(run, bp.shape).ravel())
            rows_p.append(bp.ravel())
            rows_s.append(bs.ravel())
            rows_t.append(bt.ravel())
            keep = ~done
            run, p, st, end = run[keep], p[keep], st[keep], end[keep]
        rr, rp = np.concatenate(rows_r), np.concatenate(rows_p)
        inrun = rp < out_p[rr]
        rr, rp = rr[inrun] + base, rp[inrun]
        rs, rt = np.concatenate(rows_s)[inrun], np.concatenate(rows_t)[inrun]
        mark[rp] = (rr.astype(np.int64) << 16) | (rs + 1)
        recs.append((rr, rp, rs // 65, rt))
        # an exit short of its segment's end is open: the next round
        # starts a run there
        open_ = (out_link == -1) & (out_p < cap)
        out_link[open_] = -2
        stop_p.append(out_p)
        stop_st.append(out_st)
        link.append(out_link)
        nxt_ids = np.full(len(out_p), -1, dtype=np.int32)
        if rnd < _LANE_ROUNDS:
            nxt_ids[open_] = np.arange(n_runs, n_runs + int(open_.sum()))
        succ.append(nxt_ids)
        entry_p, entry_st, cap = out_p[open_], out_st[open_], cap[open_]
        if not entry_p.size or rnd == _LANE_ROUNDS:
            break
        limit = np.minimum(entry_p + _LANE_REACH, cap).astype(np.int32)
    stop_p, stop_st, link, succ = (np.concatenate(a).tolist() for a in (stop_p, stop_st, link, succ))
    # Follow the links: a hit goes on with the run it hit, from the hit
    # position; an open exit with the run started there.
    run_lo = np.full(n_runs, 8 * n, dtype=np.int64)
    run_hi = np.zeros(n_runs, dtype=np.int64)
    out = (0, 0)
    for r in ([] if first[0] else [0]) + np.flatnonzero(first).tolist():
        at = int(start[r]) if first[r] else int(carry[0])
        while True:
            run_lo[r], run_hi[r] = at, stop_p[r]
            j = link[r]
            if j == -1:
                out = (stop_p[r], stop_st[r])
                break
            at = stop_p[r]
            r = j if j >= 0 else succ[r]
            if r < 0:
                return None
    packed = np.full(8 * n, -1, dtype=np.int32)
    for rr, rp, rs, rt in recs:
        on = (rp >= run_lo[rr]) & (rp < run_hi[rr])
        packed[rp[on]] = (rs[on] << 18) | rt[on]
    pos = np.flatnonzero(packed >= 0)
    return pos, packed[pos], out[0], out[1]


class _Assembly:
    """Turns the true path's steps into coefficients, window by window:
    block ordinals and DC predictions carry across windows per segment."""

    def __init__(self, scan: _Scan, grid: np.ndarray, block0, seg_lo, needed):
        self.grid = grid.reshape(-1)  # every component's grid, one buffer
        bpm = len(scan.slots)
        self.bpm = bpm
        self.comp = np.array([s[0] for s in scan.slots])
        # block[mcu * bpm + slot]: that block's index in the buffer
        my, mx = np.divmod(np.arange(scan.n_mcu), scan.mcux)
        self.block = np.empty(scan.n_mcu * bpm, dtype=np.int64)
        for slot, (ci, by, bx) in enumerate(scan.slots):
            _ci, hi, vi, rb = scan.geo[ci]
            self.block[slot::bpm] = block0[ci] + (my * vi + by) * rb + mx * hi + bx
        self.seg_lo = seg_lo
        self.needed = needed
        self.first = np.arange(len(needed)) * scan.per_seg * bpm  # o of a segment's first block
        self.blocks = np.zeros(len(needed), dtype=np.int64)
        self.preds = np.zeros((len(needed), len(scan.geo)), dtype=np.int64)

    def add(self, pos, steps, words, base, segs) -> bool:
        """Scatter one window's path (segments ``segs`` in it); False if
        it is corrupt before its segment has all its blocks."""
        if not pos.size:
            return True
        heads = np.searchsorted(pos, self.seg_lo[segs] - base)
        spans = np.diff(np.append(heads, len(pos)))
        seg = np.repeat(segs, spans)
        st, t = (steps >> 18).astype(np.int64), (steps & 0x3FFFF).astype(np.int64)
        k = st & 63
        s, adv = (t >> 6) & 31, t >> 11
        kn = k + adv
        ends = kn >= 64
        before = np.cumsum(ends) - ends
        ordinal = before - np.repeat(np.append(before, 0)[heads] - self.blocks[segs], spans)
        live = ordinal < self.needed[seg]
        if (live & ((s == 31) | ((s > 0) & (kn > 64)))).any():
            return False
        self.blocks += np.bincount(seg[live & ends], minlength=len(self.blocks))
        if not live.all():
            pos, seg, k, st, t, s, adv, ordinal = (
                a[live] for a in (pos, seg, k, st, t, s, adv, ordinal)
            )
        v = (words[pos >> 3] >> (64 - (pos & 7) - (t & 63))) & ((1 << s) - 1)
        v = np.where(v < (1 << s) >> 1, v - (1 << s) + 1, v)
        block = self.block[self.first[seg] + ordinal]
        dc = k == 0
        comp = self.comp[st >> 6]
        for ci in range(self.preds.shape[1]):
            m = np.flatnonzero(dc & (comp == ci))
            if not m.size:
                continue
            d, sg = v[m], seg[m]
            head = np.searchsorted(sg, segs)
            span = np.diff(np.append(head, len(sg)))
            acc = np.cumsum(d)
            start = np.append(acc - d, 0)[head] - self.preds[segs, ci]
            v[m] = acc - np.repeat(start, span)
            tail = head + span - 1
            self.preds[segs[span > 0], ci] = v[m][tail[span > 0]]
        m = np.flatnonzero(dc | (s > 0))
        self.grid[block[m] * 64 + (k + adv - 1)[m]] = v[m]
        return True

    def done(self) -> bool | None:
        """True once every segment yielded its blocks; None if a path ran
        out of fill first (the walk then decides)."""
        return True if (self.blocks == self.needed).all() else None


# natural (row-major) index j of a block holds zigzag position _UNZIG[j]
_UNZIG = np.argsort(ZIGZAG)


def _pixels(w, h, comps, tables, grids, hmax, vmax) -> np.ndarray:
    """Coefficient grids -> (h, w, 3) uint8 RGB."""
    planes = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        q = tables[ci][2][_UNZIG].astype(np.float64)
        grid = grids[ci]
        by, bx, _ = grid.shape
        n_blk = by * bx
        # dequantize + de-zigzag as one gather and multiply (the
        # products are exact in float64), then the IDCT, in bounded
        # CHUNKS: the float64 temporaries are ~24 B/pixel, so chunking
        # keeps the transient peak at ~8 MB regardless of image size
        # (the _MAX_PIXELS cap then only has to budget the persistent
        # int32 grid + float64 plane, ~12 B/pixel/component).
        pix = np.empty((n_blk, 8, 8), dtype=np.float64)
        zz = grid.reshape(n_blk, 64)
        for lo in range(0, n_blk, 4096):
            hi_ = min(lo + 4096, n_blk)
            blocks = (np.take(zz[lo:hi_], _UNZIG, axis=1) * q).reshape(-1, 8, 8)
            pix[lo:hi_] = _batched_8x8(blocks, _DCT_M.T, _DCT_M) + 128.0
        plane = (
            pix.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        # crop to the component's own resolution, then upsample
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        plane = plane[:ch, :cw]
        if hi != hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        if vi != vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = np.clip(planes[0], 0, 255)
        return np.repeat(y[:, :, None], 3, axis=2).astype(np.uint8)
    y, cb, cr = planes
    cb = cb - 128.0
    cr = cr - 128.0
    # r = y + 1.402 cr', g = y - 0.344136 cb' - 0.714136 cr',
    # b = y + 1.772 cb' (same float expressions, written in place into
    # one planar buffer), clipped in place, cast per channel into RGB
    rgb = np.empty((3, h, w), dtype=np.float64)
    r, g, b = rgb
    np.add(y, np.multiply(cr, 1.402, out=r), out=r)
    np.subtract(y, np.multiply(cb, 0.344136, out=g), out=g)
    np.subtract(g, np.multiply(cr, 0.714136, out=cr), out=g)
    np.add(y, np.multiply(cb, 1.772, out=b), out=b)
    np.maximum(rgb, 0, out=rgb)
    np.minimum(rgb, 255, out=rgb)
    out = np.empty((h, w, 3), dtype=np.uint8)
    for c in range(3):
        out[:, :, c] = rgb[c]
    return out


# --------------------------------------------------------------------------
# Encoder (4:4:4 baseline JFIF)
# --------------------------------------------------------------------------
def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(h, w) float plane → (n_blocks, 8, 8), edge-padded to 8-multiples."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    return (
        padded.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _batched_8x8(blocks: np.ndarray, left: np.ndarray, right: np.ndarray) -> np.ndarray:
    """left @ B @ right for every 8x8 block, as two flat (n*8, 8) GEMMs
    instead of a naive einsum contraction (~10x on large planes; the
    per-coefficient dot products are the same 8-term sums, only their
    association order differs — all consumers gate on thresholded
    fidelity, never on exact float identity)."""
    n = blocks.shape[0]
    c = (blocks.reshape(n * 8, 8) @ right).reshape(n, 8, 8)
    d = (c.transpose(0, 2, 1).reshape(n * 8, 8) @ left.T).reshape(n, 8, 8)
    return d.transpose(0, 2, 1)


def _encode_plane_coeffs(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Level-shift, forward DCT, quantize, zigzag: (n, 64) int coeffs."""
    blocks = _blocks_of(plane.astype(np.float64) - 128.0)
    freq = _batched_8x8(blocks, _DCT_M, _DCT_M.T)
    nat = freq.reshape(-1, 64)
    qnat = np.take(nat, ZIGZAG, axis=1)  # to zigzag order first, q is kept in zigzag
    return np.round(qnat / q[None, :]).astype(np.int64)


def _code_arrays(codes: dict[int, tuple[int, int]], size: int) -> tuple[np.ndarray, np.ndarray]:
    """Dict symbol -> (code, len) as two dense lookup arrays; absent
    symbols get length 0 (checked at emit time: ValueError)."""
    c = np.zeros(size, dtype=np.int64)
    ln = np.zeros(size, dtype=np.int64)
    for sym, (code, length) in codes.items():
        c[sym] = code
        ln[sym] = length
    return c, ln


def _bit_length(v: np.ndarray) -> np.ndarray:
    """Vectorized int bit_length for |v| < 2^52: frexp's exponent is
    exactly floor(log2(v)) + 1 for v > 0 and 0 for v == 0 (values this
    small are exact in float64, so no boundary rounding)."""
    return np.frexp(np.abs(v).astype(np.float64))[1].astype(np.int64)


def _entropy_encode(coeffs: list[np.ndarray], tabs) -> bytes:
    """Vectorized baseline entropy coder: the symbol stream, canonical
    codes, MCU interleave, stuffing and 1-padding of a per-symbol bit
    writer — byte-identical to one (tests/jpeg_streams.py keeps that
    writer as the parity oracle), ~5x faster than it.

    Every Huffman item (codeword or appended value bits) becomes one
    (code, nbits) pair with a (block, component, within-block) sort
    key; one lexsort recovers exact stream order and a bit-position
    scatter + packbits renders the stream."""
    all_codes: list[np.ndarray] = []
    all_lens: list[np.ndarray] = []
    all_blk: list[np.ndarray] = []
    all_comp: list[np.ndarray] = []
    all_key: list[np.ndarray] = []

    def _push(ci: int, blk: np.ndarray, key: np.ndarray, code: np.ndarray, ln: np.ndarray) -> None:
        all_codes.append(code)
        all_lens.append(ln)
        all_blk.append(blk)
        all_comp.append(np.full(len(blk), ci, dtype=np.int64))
        all_key.append(key)

    for ci, Z in enumerate(coeffs):
        n = Z.shape[0]
        (dc_c, dc_l), (ac_c, ac_l) = tabs[ci]
        # --- DC: diff vs previous block of the SAME component ---
        dc = Z[:, 0].astype(np.int64)
        diff = np.diff(dc, prepend=np.int64(0))
        s = _bit_length(diff)
        if int(s.max(initial=0)) >= len(dc_l) or (dc_l[s] == 0).any():
            raise ValueError("jpeg_encode: DC magnitude outside table")
        blks = np.arange(n, dtype=np.int64)
        _push(ci, blks, np.zeros(n, dtype=np.int64), dc_c[s], dc_l[s])
        has = s > 0
        v = np.where(diff > 0, diff, diff + np.left_shift(np.int64(1), s) - 1)
        _push(ci, blks[has], np.ones(int(has.sum()), dtype=np.int64), v[has], s[has])
        # --- AC: run-length over k = 1..last, ZRL for runs > 15 ---
        acs = Z[:, 1:]
        nzb, nzk0 = np.nonzero(acs)
        if len(nzb):
            k = nzk0.astype(np.int64) + 1
            prev = np.concatenate(([np.int64(0)], k[:-1]))
            same = np.concatenate(([False], nzb[1:] == nzb[:-1]))
            run = k - np.where(same, prev, 0) - 1
            zrl, rem = run // 16, run % 16
            av = acs[nzb, nzk0].astype(np.int64)
            sa = _bit_length(av)
            sym = (rem << 4) | sa
            if (ac_l[sym] == 0).any():
                raise ValueError("jpeg_encode: AC symbol outside table")
            # ZRL codes: j-th of a run sits just before its symbol
            zt = int(zrl.sum())
            if zt:
                zi = np.repeat(np.arange(len(zrl)), zrl)
                j = np.arange(zt, dtype=np.int64) - np.repeat(
                    np.concatenate(([0], np.cumsum(zrl)[:-1])), zrl
                )
                _push(ci, nzb[zi].astype(np.int64), k[zi] * 64 + j,
                      np.full(zt, ac_c[0xF0]), np.full(zt, ac_l[0xF0]))
            _push(ci, nzb.astype(np.int64), k * 64 + 16, ac_c[sym], ac_l[sym])
            va = np.where(av > 0, av, av + np.left_shift(np.int64(1), sa) - 1)
            _push(ci, nzb.astype(np.int64), k * 64 + 17, va, sa)
            last = np.zeros(n, dtype=np.int64)
            last[nzb] = k  # ascending k per block: final write is the max
        else:
            last = np.zeros(n, dtype=np.int64)
        eob = np.nonzero(last < 63)[0].astype(np.int64)
        _push(ci, eob, np.full(len(eob), 64 * 64, dtype=np.int64),
              np.full(len(eob), ac_c[0x00]), np.full(len(eob), ac_l[0x00]))

    codes = np.concatenate(all_codes)
    lens = np.concatenate(all_lens)
    order = np.lexsort(
        (np.concatenate(all_key), np.concatenate(all_comp), np.concatenate(all_blk))
    )
    codes, lens = codes[order], lens[order]

    ends = np.cumsum(lens)
    starts = ends - lens
    total = int(ends[-1]) if len(ends) else 0
    pad = (-total) % 8
    bits = np.zeros(total + pad, dtype=np.uint8)
    for bp in range(int(lens.max(initial=0))):
        sel = lens > bp
        bits[ends[sel] - 1 - bp] = (codes[sel] >> bp) & 1
    bits[total:] = 1  # flush pads with 1s
    by = np.packbits(bits)
    ff = np.nonzero(by == 0xFF)[0]
    if len(ff):
        by = np.insert(by, ff + 1, 0)  # byte stuffing
    return by.tobytes()


def jpeg_encode(arr: np.ndarray, quality: int = 65) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF bytes (4:4:4, Annex K
    Huffman, IJG quality scaling). Deterministic for fixed input."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, _ = arr.shape
    if h < 1 or w < 1 or h > 65535 or w > 65535:
        raise ValueError("jpeg_encode: dims out of range")
    ql, qc = quant_tables(quality)
    # zigzag-ordered tables are what DQT stores and what the
    # quantizer divides by (coeffs are zigzagged before quantization)
    ql_z, qc_z = ql[ZIGZAG], qc[ZIGZAG]

    rgb = arr.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    coeffs = [
        _encode_plane_coeffs(y, ql_z),
        _encode_plane_coeffs(cb, qc_z),
        _encode_plane_coeffs(cr, qc_z),
    ]

    dc_l = _canonical_codes(*_DC_LUMA)
    ac_l = _canonical_codes(*_AC_LUMA)
    dc_c = _canonical_codes(*_DC_CHROMA)
    ac_c = _canonical_codes(*_AC_CHROMA)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, tbl in ((0, ql_z), (1, qc_z)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(
            int(v) for v in tbl
        )
    out += b"\xff\xc0" + struct.pack(">H", 17) + bytes([8])
    out += struct.pack(">HH", h, w) + bytes([3])
    out += bytes([1, 0x11, 0])  # Y: 1x1, qt 0
    out += bytes([2, 0x11, 1])  # Cb
    out += bytes([3, 0x11, 1])  # Cr
    for tc, th, (bits, vals) in (
        (0, 0, _DC_LUMA),
        (1, 0, _AC_LUMA),
        (0, 1, _DC_CHROMA),
        (1, 1, _AC_CHROMA),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">H", 12) + bytes([3])
    out += bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])

    dc_la = _code_arrays(dc_l, 17)
    ac_la = _code_arrays(ac_l, 256)
    dc_ca = _code_arrays(dc_c, 17)
    ac_ca = _code_arrays(ac_c, 256)
    tabs = [(dc_la, ac_la), (dc_ca, ac_ca), (dc_ca, ac_ca)]
    out += _entropy_encode(coeffs, tabs)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# How far one seed step moves make_photo's R, G and B channels (mod
# 256): the photo of seed + d is the seed's photo shifted by d * SEED_STEP.
SEED_STEP = (29, 11, 1)


def make_photo(width: int, height: int, seed: int = 0) -> np.ndarray:
    """Deterministic gradient test pixels — the same per-channel
    arithmetic the PNG/BMP corpora use (oracle-replayable)."""
    xs = np.arange(width, dtype=np.int64)[None, :]
    ys = np.arange(height, dtype=np.int64)[:, None]
    sr, sg, sb = SEED_STEP
    r = (seed * sr + xs + ys) % 256
    g = (seed * sg + xs * 3 + ys * 5) % 256
    b = (seed * sb + xs * 7 + ys * 13) % 256
    return np.stack(
        [np.broadcast_to(c, (height, width)) for c in (r, g, b)], axis=2
    ).astype(np.uint8)
