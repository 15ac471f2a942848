"""Stdlib MJPEG-in-fragmented-MP4 codec — the third REAL video
container after avi.py (RIFF) and mov.py (monolithic box tree), and
the most common real-world streaming layout (DASH/HLS segments, CMAF).
Zero dependencies: the container is the same hand-walked box tree as
mov.py (whose _walk/_find/_video_stbl are reused verbatim — fMP4 IS
ISO-BMFF, the descendant of the QuickTime structure mov.py parses);
what's new is the MOVIE-FRAGMENT machinery the monolithic walker
can't see:

  ftyp                       — brand 'mp42'
  moov
    mvhd / trak(... stbl)    — stsd carries codec+dims as before, but
                               the stts/stsc/stsz/stco sample tables
                               are EMPTY (zero entries): in a
                               fragmented movie the samples live in
                               the fragments, not the moov
    mvex
      trex                   — per-track defaults: sample description
                               index, duration (ticks), size, flags
  [ moof                     — one per fragment
      mfhd                   — fragment sequence number
      traf
        tfhd                 — track id + optional overrides of the
                               trex defaults; base-data-offset /
                               default-base-is-moof addressing flags
        tfdt                 — base media decode time (v0 32 / v1 64)
        trun                 — sample count, optional data_offset
                               (relative to the base), optional
                               per-sample duration/size/flags/cts
    mdat ]                   — that fragment's concatenated JPEGs
  ...

Addressing rules implemented (ISO/IEC 14496-12 §8.8):
  - tfhd 0x000001 base-data-offset-present → explicit 64-bit base
  - tfhd 0x020000 default-base-is-moof → base = first byte of moof
  - neither → base defaults to the enclosing moof's first byte (the
    spec's default for the first traf, which is the only traf here)
  - trun 0x000001 data-offset-present → signed offset from the base;
    absent → samples start right where the previous trun ended (for
    the first trun: at the base)
  - per-sample sizes: trun 0x000200, else tfhd 0x000010 default, else
    trex default; durations likewise via 0x000100 / 0x000008 / trex.

The decoder requires one 'vide' track whose stsd codec is 'jpeg',
EMPTY moov sample tables, an mvex/trex, and at least one moof; any
structural violation — truncated box, trun slice past EOF, zero
ticks — is unreadable (None), never a wrong answer. Sample payloads
are COMPLETE baseline JPEGs, so sampled frames feed the existing
image surface untouched, exactly like AVI '00dc' chunks and MOV
stsz/stco slices.

Reference parity: the reference's media loop is decode → transform →
re-encode on cv2 JPEG images (/root/reference/test.py:44-59);
MJPEG-in-fMP4 is that per-frame computation in the streaming-segment
container a 100 TB video corpus actually arrives in.
"""

from __future__ import annotations

import struct

import numpy as np

from .mov import _box, _find, _full, _video_stbl, _walk

# tfhd flag bits (ISO 14496-12 §8.8.7)
_TFHD_BASE_OFFSET = 0x000001
_TFHD_SAMPLE_DESC = 0x000002
_TFHD_DEF_DURATION = 0x000008
_TFHD_DEF_SIZE = 0x000010
_TFHD_DEF_FLAGS = 0x000020
_TFHD_BASE_IS_MOOF = 0x020000
# trun flag bits (§8.8.8)
_TRUN_DATA_OFFSET = 0x000001
_TRUN_FIRST_FLAGS = 0x000004
_TRUN_DURATION = 0x000100
_TRUN_SIZE = 0x000200
_TRUN_FLAGS = 0x000400
_TRUN_CTS = 0x000800

_LANG_UND = 0x55C4


def _moov_fragmented(w: int, h: int, fps: int) -> bytes:
    """moov for a fragmented movie: stsd with dims/codec, EMPTY sample
    tables, mvex/trex defaults (duration = 1 tick at timescale fps)."""
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIIII", 0, 0, fps, 0, 0x00010000)  # duration 0: fragmented
        + struct.pack(">H", 0x0100) + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2),
    )
    tkhd = _full(
        b"tkhd", 0, 3,
        struct.pack(">IIIII", 0, 0, 1, 0, 0)
        + b"\x00" * 12 + struct.pack(">HH", 0, 0)
        + struct.pack(">H", 0) + b"\x00\x00"
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),
    )
    mdhd = _full(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, fps, 0, _LANG_UND, 0))
    hdlr = _full(b"hdlr", 0, 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00")
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dinf = _box(b"dinf", _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")))
    desc = (
        struct.pack(">I", 86) + b"jpeg" + b"\x00" * 6 + struct.pack(">H", 1)
        + struct.pack(">HH", 0, 0) + b"\x00" * 4
        + struct.pack(">II", 512, 512)
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + struct.pack(">I", 0) + struct.pack(">H", 1)
        + bytes([4]) + b"jpeg" + b"\x00" * 27
        + struct.pack(">Hh", 24, -1)
    )
    stbl = _box(
        b"stbl",
        _full(b"stsd", 0, 0, struct.pack(">I", 1) + desc)
        + _full(b"stts", 0, 0, struct.pack(">I", 0))
        + _full(b"stsc", 0, 0, struct.pack(">I", 0))
        + _full(b"stsz", 0, 0, struct.pack(">II", 0, 0))
        + _full(b"stco", 0, 0, struct.pack(">I", 0)),
    )
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    trex = _full(
        b"trex", 0, 0,
        struct.pack(">IIIII", 1, 1, 1, 0, 0),  # track 1, desc 1, dur 1 tick
    )
    mvex = _box(b"mvex", trex)
    return _box(b"moov", mvhd + trak + mvex)


def fmp4_encode(
    frames: list[np.ndarray],
    fps: int,
    quality: int = 80,
    frames_per_fragment: int = 2,
) -> bytes:
    """(h, w, 3) uint8 frames (all same shape) → fragmented-MP4 bytes
    with ceil(n / frames_per_fragment) moof+mdat pairs."""
    from .jpeg import jpeg_encode

    if not frames:
        raise ValueError("fmp4_encode needs at least one frame")
    if fps <= 0:
        raise ValueError(f"fps must be positive, got {fps}")
    if frames_per_fragment <= 0:
        raise ValueError("frames_per_fragment must be positive")
    h, w = frames[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in frames):
        raise ValueError("fmp4_encode: all frames must share one shape")
    jpegs = [jpeg_encode(f, quality) for f in frames]

    ftyp = _box(b"ftyp", b"mp42" + struct.pack(">I", 0) + b"mp42iso5")
    out = [ftyp, _moov_fragmented(w, h, fps)]
    seq, decode_time = 1, 0
    for i in range(0, len(jpegs), frames_per_fragment):
        chunk = jpegs[i : i + frames_per_fragment]
        mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", seq))
        # tfhd: default-base-is-moof; per-fragment addressing is pure
        # trun data_offset arithmetic — no absolute file offsets, so
        # fragments are relocatable (the property CMAF segments rely on)
        tfhd = _full(
            b"tfhd", 0, _TFHD_BASE_IS_MOOF | _TFHD_DEF_DURATION,
            struct.pack(">II", 1, 1),  # track 1, default duration 1 tick
        )
        tfdt = _full(b"tfdt", 1, 0, struct.pack(">Q", decode_time))
        trun_payload = struct.pack(">Ii", len(chunk), 0)  # count + offset patched
        trun_payload += b"".join(struct.pack(">I", len(j)) for j in chunk)
        trun = _full(b"trun", 0, _TRUN_DATA_OFFSET | _TRUN_SIZE, trun_payload)
        traf = _box(b"traf", tfhd + tfdt + trun)
        moof = _box(b"moof", mfhd + traf)
        # data_offset (relative to moof start) = |moof| + mdat header
        off = len(moof) + 8
        trun_fixed = _full(
            b"trun", 0, _TRUN_DATA_OFFSET | _TRUN_SIZE,
            struct.pack(">Ii", len(chunk), off)
            + b"".join(struct.pack(">I", len(j)) for j in chunk),
        )
        traf = _box(b"traf", tfhd + tfdt + trun_fixed)
        moof = _box(b"moof", mfhd + traf)
        out.append(moof)
        out.append(_box(b"mdat", b"".join(chunk)))
        seq += 1
        decode_time += len(chunk)
    return b"".join(out)


def make_fmp4(w: int, h: int, fps: int, n_frames: int, seed: int) -> bytes:
    """Deterministic fMP4 corpus generator (make_avi/make_mov contract:
    frame k is make_photo(w, h, (seed + 31*k) % 251))."""
    from .jpeg import make_photo

    frames = [make_photo(w, h, (seed + 31 * k) % 251) for k in range(n_frames)]
    return fmp4_encode(frames, fps, quality=65)


# ---------------------------------------------------------------------------
# decoding
# ---------------------------------------------------------------------------
def _trex(data: bytes) -> dict | None:
    """track 1's trex defaults out of moov/mvex, or None."""
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        return None
    mvex = _find(data, *moov, b"mvex")
    if mvex is None:
        return None
    for t, b, e in _walk(data, *mvex):
        if t == b"trex" and e - b >= 4 + 20:
            tid, _desc, dur, size, flags = struct.unpack_from(">IIIII", data, b + 4)
            return {"track_id": tid, "def_dur": dur, "def_size": size}
    return None


def _fragments(data: bytes, trex: dict) -> list[tuple[int, int]] | None:
    """Every sample as an absolute (offset, size) file slice, in moof
    order, honoring the tfhd/trun addressing rules; None on any
    structural violation."""
    samples: list[tuple[int, int]] = []
    saw_moof = False
    for t, b, e in _walk(data, 0, len(data)):
        if t != b"moof":
            continue
        saw_moof = True
        moof_start = b - 8  # base for default-base-is-moof addressing
        for tt, tb, te in _walk(data, b, e):
            if tt != b"traf":
                continue
            if te - tb < 0:
                return None
            tfhd = _find(data, tb, te, b"tfhd")
            if tfhd is None or tfhd[1] - tfhd[0] < 8:
                return None
            tf_flags = int.from_bytes(data[tfhd[0] + 1 : tfhd[0] + 4], "big")
            pos = tfhd[0] + 8
            if tf_flags & _TFHD_BASE_OFFSET:
                if pos + 8 > tfhd[1]:
                    return None
                (base,) = struct.unpack_from(">Q", data, pos)
                pos += 8
            else:
                # default-base-is-moof, and ALSO the spec default for
                # the first (only) traf when neither flag is set
                base = moof_start
            if tf_flags & _TFHD_SAMPLE_DESC:
                pos += 4
            def_dur = trex["def_dur"]
            if tf_flags & _TFHD_DEF_DURATION:
                if pos + 4 > tfhd[1]:
                    return None
                (def_dur,) = struct.unpack_from(">I", data, pos)
                pos += 4
            def_size = trex["def_size"]
            if tf_flags & _TFHD_DEF_SIZE:
                if pos + 4 > tfhd[1]:
                    return None
                (def_size,) = struct.unpack_from(">I", data, pos)
                pos += 4
            cursor = None  # None → first trun defaults to the base
            for ut, ub, ue in _walk(data, tb, te):
                if ut != b"trun":
                    continue
                if ue - ub < 8:
                    return None
                tr_flags = int.from_bytes(data[ub + 1 : ub + 4], "big")
                (count,) = struct.unpack_from(">I", data, ub + 4)
                p = ub + 8
                if tr_flags & _TRUN_DATA_OFFSET:
                    if p + 4 > ue:
                        return None
                    (doff,) = struct.unpack_from(">i", data, p)
                    p += 4
                    cursor = base + doff
                elif cursor is None:
                    cursor = base
                if tr_flags & _TRUN_FIRST_FLAGS:
                    p += 4
                per = 0
                per += 4 if tr_flags & _TRUN_DURATION else 0
                per += 4 if tr_flags & _TRUN_SIZE else 0
                per += 4 if tr_flags & _TRUN_FLAGS else 0
                per += 4 if tr_flags & _TRUN_CTS else 0
                if p + per * count > ue:
                    return None
                for i in range(count):
                    q = p + per * i
                    if tr_flags & _TRUN_DURATION:
                        q += 4
                    if tr_flags & _TRUN_SIZE:
                        (size,) = struct.unpack_from(">I", data, q)
                    else:
                        size = def_size
                    if size <= 0 or cursor + size > len(data):
                        return None
                    samples.append((cursor, size))
                    cursor += size
                _ = def_dur  # durations feed fps via tick totals below
    if not saw_moof or not samples:
        return None
    return samples


def _total_ticks(data: bytes, trex: dict) -> int | None:
    """Sum of sample durations across every trun (trun per-sample
    duration, else tfhd default, else trex default)."""
    ticks = 0
    for t, b, e in _walk(data, 0, len(data)):
        if t != b"moof":
            continue
        for tt, tb, te in _walk(data, b, e):
            if tt != b"traf":
                continue
            tfhd = _find(data, tb, te, b"tfhd")
            if tfhd is None:
                return None
            tf_flags = int.from_bytes(data[tfhd[0] + 1 : tfhd[0] + 4], "big")
            pos = tfhd[0] + 8
            if tf_flags & _TFHD_BASE_OFFSET:
                pos += 8
            if tf_flags & _TFHD_SAMPLE_DESC:
                pos += 4
            def_dur = trex["def_dur"]
            if tf_flags & _TFHD_DEF_DURATION:
                if pos + 4 > tfhd[1]:
                    return None
                (def_dur,) = struct.unpack_from(">I", data, pos)
            for ut, ub, ue in _walk(data, tb, te):
                if ut != b"trun":
                    continue
                tr_flags = int.from_bytes(data[ub + 1 : ub + 4], "big")
                (count,) = struct.unpack_from(">I", data, ub + 4)
                p = ub + 8
                if tr_flags & _TRUN_DATA_OFFSET:
                    p += 4
                if tr_flags & _TRUN_FIRST_FLAGS:
                    p += 4
                per = sum(
                    4
                    for bit in (_TRUN_DURATION, _TRUN_SIZE, _TRUN_FLAGS, _TRUN_CTS)
                    if tr_flags & bit
                )
                if tr_flags & _TRUN_DURATION:
                    if p + per * count > ue:
                        return None
                    ticks += sum(
                        struct.unpack_from(">I", data, p + per * i)[0]
                        for i in range(count)
                    )
                else:
                    ticks += def_dur * count
    return ticks


def fmp4_meta(data: bytes) -> tuple[int, int, int, int] | None:
    """(width, height, fps, n_frames) from the box tree only; None if
    the bytes are not a single-video-track MJPEG fragmented MP4."""
    data = bytes(data)
    if len(data) < 16 or data[4:8] != b"ftyp":
        return None
    found = _video_stbl(data)
    if found is None:
        return None
    tab, (timescale, _dur) = found
    if tab["codec"] != b"jpeg" or timescale <= 0:
        return None
    if tab["n"] != 0 or tab["stco"]:
        return None  # moov carries samples → monolithic: mov.py's job
    trex = _trex(data)
    if trex is None or trex["track_id"] != 1:
        return None
    samples = _fragments(data, trex)
    if samples is None:
        return None
    ticks = _total_ticks(data, trex)
    if not ticks:
        return None
    n = len(samples)
    fps = (timescale * n + ticks // 2) // ticks
    if fps <= 0:
        return None
    return int(tab["w"]), int(tab["h"]), int(fps), n


def fmp4_frames(data: bytes) -> list[bytes] | None:
    """The raw per-frame JPEG payloads in fragment order; None if the
    container is unreadable."""
    data = bytes(data)
    if fmp4_meta(data) is None:
        return None
    trex = _trex(data)
    assert trex is not None
    samples = _fragments(data, trex)
    assert samples is not None
    return [data[o : o + s] for o, s in samples]
