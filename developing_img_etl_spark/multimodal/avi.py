"""Stdlib MJPEG-in-AVI video codec — the video analogue of wav.py:
a REAL container format decoded and encoded in-container with zero
dependencies, composing the two codecs the repo already proves out:
the RIFF chunk walk (wav.py) for the container and the baseline JFIF
codec (jpeg.py) for the per-frame payload. av.py routes RIFF 'AVI '
bytes here; unreadable ones come out null (the M3 guard), never a
wrong answer.

Layout notes (RIFF/AVI spec, public):

  RIFF <size> 'AVI '
    LIST <size> 'hdrl'
      'avih' 56   — µs/frame, maxbytes/s, padding, flags, TOTAL FRAMES,
                    initial frames, n streams, bufsize, WIDTH, HEIGHT,
                    4 reserved dwords
      LIST <size> 'strl'
        'strh' 56 — fccType 'vids', handler 'MJPG', ..., dwScale,
                    dwRate (fps = rate/scale), ..., length (frames)
        'strf' 40 — BITMAPINFOHEADER, biCompression 'MJPG'
    LIST <size> 'movi'
      '00dc' <size> <one complete baseline JPEG>   (odd sizes pad)
      ...
    'idx1' 16·n — (ckid, flags, offset, size) per frame

The decoder walks top-level chunks exactly like wav.py (odd payloads
pad to even), requires a 'vids'/'MJPG' stream, and treats any
structural violation — truncated chunk, missing avih/strh/movi,
non-MJPG compression, a frame chunk that is not a decodable JPEG when
pixels are requested — as unreadable. Frame payloads are COMPLETE
JPEG files, so frame sampling can emit the raw '00dc' bytes and the
existing image surface (dims parse, decode, compress) composes with
sampled frames untouched — the video path IS the image path after
sampling, now on real bytes.

Reference parity: the reference's media loop is decode → transform →
re-encode on cv2 JPEG images (/root/reference/test.py:44-59); MJPEG is
that exact per-frame computation inside a video container.
"""

from __future__ import annotations

import struct

import numpy as np

_AVIH_FLAG_HASINDEX = 0x00000010


def _chunk(cid: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) & 1 else b""
    return cid + struct.pack("<I", len(payload)) + payload + pad


def _list(four_cc: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", four_cc + payload)


def avi_encode(frames: list[np.ndarray], fps: int, quality: int = 80) -> bytes:
    """(h, w, 3) uint8 frames (all same shape) → MJPEG AVI bytes."""
    from .jpeg import jpeg_encode

    if not frames:
        raise ValueError("avi_encode needs at least one frame")
    if fps <= 0:
        raise ValueError(f"fps must be positive, got {fps}")
    h, w = frames[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in frames):
        raise ValueError("avi_encode: all frames must share one shape")
    jpegs = [jpeg_encode(f, quality) for f in frames]
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        0,
        0,
        _AVIH_FLAG_HASINDEX,
        len(frames),  # dwTotalFrames
        0,
        1,  # dwStreams
        max(len(j) for j in jpegs),
        w,
        h,
        0,
        0,
        0,
        0,
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIIi4h",
            0,  # flags
            0,
            0,  # priority, language
            0,  # initial frames
            1,  # dwScale
            fps,  # dwRate → fps = rate/scale
            0,  # start
            len(frames),  # length in frames
            max(len(j) for j in jpegs),
            0,  # quality (driver-defined)
            0,  # sample size (varies per frame)
            0,
            0,
            w,
            h,  # rcFrame
        )
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = _list(
        b"hdrl", _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf))
    )
    movi_chunks = []
    idx_entries = []
    offset = 4  # offsets in idx1 count from the start of the 'movi' fourcc payload
    for j in jpegs:
        movi_chunks.append(_chunk(b"00dc", j))
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, offset, len(j)))
        offset += 8 + len(j) + (len(j) & 1)
    movi = _list(b"movi", b"".join(movi_chunks))
    idx1 = _chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _walk(data: bytes, pos: int, end: int):
    """Yield (cid, body_start, size) for chunks in data[pos:end]."""
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            return  # truncated: caller sees fewer chunks and guards
        yield cid, body, size
        pos = body + size + (size & 1)


def avi_meta(data: bytes) -> tuple[int, int, int, int] | None:
    """(width, height, fps, n_frames) from headers only; None if the
    bytes are not a single-video-stream MJPEG AVI."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        return None
    w = h = n = None
    fps = None
    strf_ok = False
    for cid, body, size in _walk(data, 12, len(data)):
        if cid != b"LIST" or data[body : body + 4] != b"hdrl":
            continue
        for c2, b2, s2 in _walk(data, body + 4, body + size):
            if c2 == b"avih" and s2 >= 40:
                vals = struct.unpack_from("<10I", data, b2)
                n, w, h = vals[4], vals[8], vals[9]
            elif c2 == b"LIST" and data[b2 : b2 + 4] == b"strl":
                for c3, b3, s3 in _walk(data, b2 + 4, b2 + s2):
                    if c3 == b"strh" and s3 >= 48:
                        if data[b3 : b3 + 4] != b"vids" or data[b3 + 4 : b3 + 8] != b"MJPG":
                            return None  # not an MJPEG video stream
                        scale, rate = struct.unpack_from("<II", data, b3 + 20)
                        if scale <= 0 or rate <= 0:
                            return None
                        # reported fps is integral by contract; non-
                        # integer rates (NTSC 30000/1001 = 29.97) round
                        # to nearest instead of being rejected (ADVICE
                        # r8) — the frame payloads are unaffected
                        fps = (rate + scale // 2) // scale
                    elif c3 == b"strf" and s3 >= 40:
                        if data[b3 + 16 : b3 + 20] != b"MJPG":
                            return None
                        strf_ok = True
        break
    # a valid MJPG strf must accompany strh (ADVICE r8): strh alone no
    # longer gates acceptance, so a missing/short format chunk rejects
    if not w or not h or n is None or fps is None or not strf_ok:
        return None
    return int(w), int(h), int(fps), int(n)


def avi_frames(data: bytes) -> list[bytes] | None:
    """The raw per-frame JPEG payloads ('00dc' chunks) in stream order;
    None if the container is unreadable. Payload decode is the
    caller's choice (jpeg.py) — sampling never decodes skipped
    frames."""
    if avi_meta(data) is None:
        return None
    out: list[bytes] = []
    for cid, body, size in _walk(data, 12, len(data)):
        if cid == b"LIST" and data[body : body + 4] == b"movi":
            for c2, b2, s2 in _walk(data, body + 4, body + size):
                if c2 in (b"00dc", b"00db"):
                    out.append(data[b2 : b2 + s2])
            return out
    return None


def make_avi(width: int, height: int, fps: int, n_frames: int, seed: int = 0) -> bytes:
    """Deterministic test corpus: n_frames of jpeg.make_photo with a
    per-frame seed drift, Q80 MJPEG — same generator family as m18 so
    the fidelity bound there applies per frame here."""
    from .jpeg import make_photo

    frames = [make_photo(width, height, (seed + 31 * i) % 251) for i in range(n_frames)]
    return avi_encode(frames, fps)
