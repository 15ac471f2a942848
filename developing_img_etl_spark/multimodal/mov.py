"""Stdlib MJPEG-in-MOV (QuickTime) video codec — the second REAL video
container after avi.py, covering the box-tree container family
(QuickTime/MP4) the way avi.py covers RIFF. Zero dependencies: the
container is a hand-walked box tree and the per-frame payload is the
repo's own baseline JPEG codec (jpeg.py). Real .mov bytes decode for
real; av.py routes them here by their first box type.

Layout notes (Apple QuickTime File Format spec, public; MP4 is the
ISO-BMFF descendant of this structure):

  ftyp                      — brand 'qt  '
  mdat                      — concatenated complete baseline JPEGs
  moov
    mvhd                    — movie timescale/duration
    trak
      tkhd                  — track id, 16.16 fixed width/height
      mdia
        mdhd                — MEDIA timescale (ticks/s) + duration
        hdlr                — component subtype 'vide'
        minf
          vmhd / dinf(dref)
          stbl
            stsd            — 1 entry, fourcc 'jpeg' (QuickTime MJPEG)
            stts            — sample durations (ticks)
            stsc            — chunk → samples-per-chunk runs
            stsz            — per-sample byte sizes
            stco            — absolute chunk file offsets

Boxes are [size:4 BE][type:4][payload]; size==1 switches to a 64-bit
extended size, size==0 means to-EOF (both parsed; the encoder emits
plain 32-bit sizes). The decoder requires one 'vide' track whose stsd
codec is 'jpeg' and treats any structural violation — truncated box,
missing table, non-jpeg codec, offsets past EOF — as unreadable.
Frame payloads are COMPLETE JPEG files (stsz/stco slices), so sampled
frames feed the existing image surface untouched, exactly like AVI's
'00dc' payloads.

Reference parity: the reference's media loop is decode → transform →
re-encode on cv2 JPEG images (/root/reference/test.py:44-59); MJPEG in
a QuickTime container is that per-frame computation in the second
dominant container family.
"""

from __future__ import annotations

import struct

import numpy as np

_LANG_UND = 0x55C4  # packed ISO-639 'und'
# top-level QuickTime/ISO-BMFF box types that can legally open a file
BOX_HEADS = (b"ftyp", b"moov", b"mdat", b"wide", b"skip", b"free")


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + payload)


def mov_encode(frames: list[np.ndarray], fps: int, quality: int = 80) -> bytes:
    """(h, w, 3) uint8 frames (all same shape) → MJPEG-in-MOV bytes."""
    from .jpeg import jpeg_encode

    if not frames:
        raise ValueError("mov_encode needs at least one frame")
    if fps <= 0:
        raise ValueError(f"fps must be positive, got {fps}")
    h, w = frames[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in frames):
        raise ValueError("mov_encode: all frames must share one shape")
    jpegs = [jpeg_encode(f, quality) for f in frames]
    n = len(jpegs)

    ftyp = _box(b"ftyp", b"qt  " + struct.pack(">I", 0x200) + b"qt  ")
    # mdat directly after ftyp: absolute chunk offsets are known up front
    offsets, pos = [], len(ftyp) + 8
    for j in jpegs:
        offsets.append(pos)
        pos += len(j)
    mdat = _box(b"mdat", b"".join(jpegs))

    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIIII", 0, 0, fps, n, 0x00010000)  # times, timescale, duration, rate
        + struct.pack(">H", 0x0100) + b"\x00" * 10       # volume + reserved
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2),           # previews + next track id
    )
    tkhd = _full(
        b"tkhd", 0, 3,
        struct.pack(">IIIII", 0, 0, 1, 0, n)             # times, track id, reserved, duration
        + b"\x00" * 12 + struct.pack(">HH", 0, 0)        # reserved, layer, alt group
        + struct.pack(">H", 0) + b"\x00\x00"             # volume, reserved
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),          # 16.16 fixed dims
    )
    mdhd = _full(
        b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, fps, n, _LANG_UND, 0)
    )
    hdlr = _full(b"hdlr", 0, 0, b"mhlr" + b"vide" + b"\x00" * 12 + b"\x00")
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)

    # video sample description entry: 16-byte sample-entry header +
    # 70-byte video description (QTFF "Video Sample Description")
    desc = (
        struct.pack(">I", 86) + b"jpeg" + b"\x00" * 6 + struct.pack(">H", 1)
        + struct.pack(">HH", 0, 0) + b"\x00" * 4        # version/revision/vendor
        + struct.pack(">II", 512, 512)                  # temporal/spatial quality
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)    # 72 dpi
        + struct.pack(">I", 0) + struct.pack(">H", 1)   # data size, frames/sample
        + bytes([4]) + b"jpeg" + b"\x00" * 27           # pascal compressor name
        + struct.pack(">Hh", 24, -1)                    # depth, color table id
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + desc)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, 1))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, 1, 1))
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n) + b"".join(struct.pack(">I", len(j)) for j in jpegs),
    )
    stco = _full(
        b"stco", 0, 0,
        struct.pack(">I", n) + b"".join(struct.pack(">I", o) for o in offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def make_mov(w: int, h: int, fps: int, n_frames: int, seed: int) -> bytes:
    """Deterministic MJPEG-MOV corpus generator (make_avi's contract:
    frame k is make_photo(w, h, (seed + 31*k) % 251))."""
    from .jpeg import make_photo

    frames = [make_photo(w, h, (seed + 31 * k) % 251) for k in range(n_frames)]
    return mov_encode(frames, fps, quality=65)


# ---------------------------------------------------------------------------
# decoding
# ---------------------------------------------------------------------------
def _walk(data: bytes, pos: int, end: int):
    """Yield (box_type, payload_start, payload_end) handling 32-bit,
    64-bit-extended, and to-EOF sizes; stops at any truncation."""
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if body + 8 > end:
                return
            (size,) = struct.unpack_from(">Q", data, body)
            body += 8
            box_end = pos + size
        elif size == 0:
            box_end = end
        else:
            box_end = pos + size
        if size != 0 and (size < 8 or box_end > end):
            return  # truncated / nonsensical: caller sees fewer boxes
        yield btype, body, box_end
        pos = box_end


def _find(data: bytes, pos: int, end: int, btype: bytes) -> tuple[int, int] | None:
    for t, b, e in _walk(data, pos, end):
        if t == btype:
            return b, e
    return None


def _tables(data: bytes, stbl: tuple[int, int]) -> dict | None:
    """Parse stsd/stts/stsc/stsz/stco out of an stbl payload."""
    out: dict = {}
    b, e = stbl
    for t, pb, pe in _walk(data, b, e):
        body = data[pb:pe]
        if len(body) < 8:
            return None
        if t == b"stsd":
            cnt = struct.unpack_from(">I", body, 4)[0]
            if cnt < 1 or len(body) < 8 + 16 + 70:
                return None
            fourcc = body[12:16]
            wd, ht = struct.unpack_from(">HH", body, 8 + 16 + 16)
            out["codec"], out["w"], out["h"] = fourcc, wd, ht
        elif t == b"stts":
            cnt = struct.unpack_from(">I", body, 4)[0]
            if len(body) < 8 + 8 * cnt:
                return None
            ent = [struct.unpack_from(">II", body, 8 + 8 * i) for i in range(cnt)]
            out["stts"] = ent
        elif t == b"stsc":
            cnt = struct.unpack_from(">I", body, 4)[0]
            if len(body) < 8 + 12 * cnt:
                return None
            out["stsc"] = [
                struct.unpack_from(">III", body, 8 + 12 * i) for i in range(cnt)
            ]
        elif t == b"stsz":
            fixed, cnt = struct.unpack_from(">II", body, 4)
            if fixed:
                out["sizes"] = None
                out["fixed_size"], out["n"] = fixed, cnt
            else:
                if len(body) < 12 + 4 * cnt:
                    return None
                out["sizes"] = [
                    struct.unpack_from(">I", body, 12 + 4 * i)[0] for i in range(cnt)
                ]
                out["n"] = cnt
        elif t == b"stco":
            cnt = struct.unpack_from(">I", body, 4)[0]
            if len(body) < 8 + 4 * cnt:
                return None
            out["stco"] = [
                struct.unpack_from(">I", body, 8 + 4 * i)[0] for i in range(cnt)
            ]
    if not {"codec", "stts", "stsc", "n", "stco"} <= set(out):
        return None
    return out


def _video_stbl(data: bytes) -> tuple[dict, tuple[int, int]] | None:
    """Locate the 'vide' track's stbl tables + mdhd (timescale, dur)."""
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        return None
    for t, b, e in _walk(data, *moov):
        if t != b"trak":
            continue
        mdia = _find(data, b, e, b"mdia")
        if mdia is None:
            continue
        hdlr = _find(data, *mdia, b"hdlr")
        if hdlr is None or data[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        mdhd = _find(data, *mdia, b"mdhd")
        minf = _find(data, *mdia, b"minf")
        if mdhd is None or minf is None:
            return None
        stbl = _find(data, *minf, b"stbl")
        if stbl is None:
            return None
        tab = _tables(data, stbl)
        if tab is None:
            return None
        version = data[mdhd[0]]
        if version == 0:
            timescale, duration = struct.unpack_from(">II", data, mdhd[0] + 12)
        elif version == 1:
            timescale = struct.unpack_from(">I", data, mdhd[0] + 20)[0]
            duration = struct.unpack_from(">Q", data, mdhd[0] + 24)[0]
        else:
            return None
        return tab, (timescale, duration)
    return None


def mov_meta(data: bytes) -> tuple[int, int, int, int] | None:
    """(width, height, fps, n_frames) from the box tree only; None if
    the bytes are not a single-video-track MJPEG ('jpeg') MOV."""
    data = bytes(data)
    if len(data) < 16:
        return None
    if data[4:8] not in BOX_HEADS:
        return None
    found = _video_stbl(data)
    if found is None:
        return None
    tab, (timescale, _dur) = found
    if tab["codec"] != b"jpeg" or timescale <= 0:
        return None
    n = tab["n"]
    total_ticks = sum(c * d for c, d in tab["stts"])
    if n <= 0 or total_ticks <= 0:
        return None
    # integral-fps contract (the avi.py rule): non-integer rates round
    # to nearest; ticks are exact in the tables either way
    fps = (timescale * n + total_ticks // 2) // total_ticks
    if fps <= 0:
        return None
    return int(tab["w"]), int(tab["h"]), int(fps), int(n)


def mov_frames(data: bytes) -> list[bytes] | None:
    """The raw per-frame JPEG payloads in sample order via
    stsc/stsz/stco; None if the container is unreadable."""
    data = bytes(data)
    if mov_meta(data) is None:
        return None
    found = _video_stbl(data)
    assert found is not None
    tab, _ = found
    n, stco, stsc = tab["n"], tab["stco"], tab["stsc"]
    sizes = tab["sizes"] if tab.get("sizes") is not None else [tab["fixed_size"]] * n
    if len(sizes) != n or not stsc:
        return None
    # expand stsc runs: entry (first_chunk, samples_per_chunk, _desc)
    # applies to chunks first_chunk..next_first_chunk-1 (1-based)
    out: list[bytes] = []
    si = 0
    for ci, off in enumerate(stco, start=1):
        spc = 0
        for first, per, _d in stsc:
            if first <= ci:
                spc = per
            else:
                break
        pos = off
        for _ in range(spc):
            if si >= n:
                break
            end = pos + sizes[si]
            if end > len(data):
                return None  # offset table points past EOF
            out.append(data[pos:end])
            pos = end
            si += 1
    if si != n:
        return None
    return out
