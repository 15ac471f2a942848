"""Stdlib MJPEG-in-MKV (Matroska/EBML) video codec — the third REAL
video container family after RIFF (avi.py) and the ISO-BMFF box tree
(mov.py/fmp4.py): the tag-length-value EBML family (Matroska/WebM).
Zero dependencies: the container is a hand-walked EBML element tree
(IETF RFC 8794 + the public Matroska spec) and per-frame payloads are
the repo's own baseline JPEG codec (jpeg.py). With this, all three
dominant container families decode for real; remaining formats
(mp3/flac audio) stay behind the av.py decoder seam and return null
(the M3 guard), never a wrong answer.

Layout notes (matroska.org element registry; IDs written as found in
the file, i.e. WITH the length marker bit):

  EBML 0x1A45DFA3            — DocType 'matroska'
  Segment 0x18538067
    Info 0x1549A966          — TimestampScale 0x2AD7B1 (ns/tick,
                               default 1_000_000 = ms ticks),
                               Duration 0x4489 (float, ticks)
    Tracks 0x1654AE6B
      TrackEntry 0xAE        — TrackNumber 0xD7, TrackType 0x83 (=1
                               video), CodecID 0x86 ('V_MJPEG'),
                               Video 0xE0 { PixelWidth 0xB0,
                               PixelHeight 0xBA }
    Cluster 0x1F43B675       — Timestamp 0xE7 (ticks), then
      SimpleBlock 0xA3       — [track vint][rel-ts s16 BE][flags u8]
                               [frame bytes] (no lacing)

EBML varints: an ID keeps its marker bit; a SIZE drops it. A size of
all ones at its width means "unknown" — legal for Segment/Cluster in
live streams; per RFC 8794 §6.2 such an element ends at the first
position holding an element ID that is NOT one of its children (e.g.
an unknown-size Cluster ends where the next sibling Cluster begins),
or at the parent's end. Unknown size on any element other than
Segment/Cluster is a structural violation. The reader skips unknown
elements by size (EBML's forward-compat rule), requires one video
track with CodecID V_MJPEG, and treats any structural violation —
truncated element, block past EOF, missing Info/Tracks, illegal
unknown size — as unreadable (null), never a wrong answer.

fps contract (the avi.py/mov.py integral-fps rule): the writer stamps
Duration = n_frames * 1000 / fps in ms ticks; the reader recovers
fps = round(n * 1000 / duration_ticks) — exact for every integral
rate, independent of per-block timestamp rounding.

Reference parity: the reference's media loop is decode → transform →
re-encode on cv2 JPEG images (/root/reference/test.py:44-59); MJPEG in
Matroska is that per-frame computation in the third container family.
"""

from __future__ import annotations

import struct

import numpy as np

_EBML = b"\x1a\x45\xdf\xa3"
_SEGMENT = b"\x18\x53\x80\x67"
_INFO = b"\x15\x49\xa9\x66"
_TIMESTAMP_SCALE = b"\x2a\xd7\xb1"
_DURATION = b"\x44\x89"
_TRACKS = b"\x16\x54\xae\x6b"
_TRACK_ENTRY = b"\xae"
_TRACK_NUMBER = b"\xd7"
_TRACK_TYPE = b"\x83"
_CODEC_ID = b"\x86"
_VIDEO = b"\xe0"
_PIXEL_WIDTH = b"\xb0"
_PIXEL_HEIGHT = b"\xba"
_CLUSTER = b"\x1f\x43\xb6\x75"
_CLUSTER_TS = b"\xe7"
_SIMPLE_BLOCK = b"\xa3"

_MS = 1_000_000  # default TimestampScale: 1 tick = 1 ms

# Element-ID vocabularies for RFC 8794 §6.2 unknown-size termination:
# an unknown-size element ends at the first element ID that is not one
# of its children. IDs per the public matroska.org element registry.
_SEGMENT_CHILDREN = frozenset(
    {
        b"\x11\x4d\x9b\x74",  # SeekHead
        _INFO,
        _TRACKS,
        _CLUSTER,
        b"\x1c\x53\xbb\x6b",  # Cues
        b"\x19\x41\xa4\x69",  # Attachments
        b"\x10\x43\xa7\x70",  # Chapters
        b"\x12\x54\xc3\x67",  # Tags
        b"\xec",              # Void
    }
)
_CLUSTER_CHILDREN = frozenset(
    {
        _CLUSTER_TS,
        _SIMPLE_BLOCK,
        b"\xa0",      # BlockGroup
        b"\xa7",      # Position
        b"\xab",      # PrevSize
        b"\x58\x54",  # SilentTracks
        b"\xec",      # Void
    }
)


class _Malformed(Exception):
    """Structural violation that must abstain (public API returns None),
    never silently undercount frames or mis-derive fps."""


# ---------------------------------------------------------------------------
# EBML primitives
# ---------------------------------------------------------------------------
def _esize(n: int) -> bytes:
    """Encode a SIZE varint at minimal width (marker bit dropped from
    the value space; all-ones reserved for 'unknown', hence the -1)."""
    for width in range(1, 9):
        if n < (1 << (7 * width)) - 1:
            v = n | (1 << (7 * width))
            return v.to_bytes(width + 1, "big")[1:] if width < 8 else (
                bytes([1]) + n.to_bytes(8, "big")[1:]
            )
    raise ValueError("EBML size too large")


def _el(eid: bytes, payload: bytes) -> bytes:
    return eid + _esize(len(payload)) + payload


def _uint_bytes(v: int) -> bytes:
    out = v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")
    return out


def _uel(eid: bytes, v: int) -> bytes:
    return _el(eid, _uint_bytes(v))


def _read_vint(data: bytes, pos: int, end: int, *, keep_marker: bool):
    """(value, new_pos) or None on truncation. Unknown sizes (all data
    bits set) return value -1 when the marker is dropped."""
    if pos >= end:
        return None
    first = data[pos]
    if first == 0:
        return None  # >8-byte varint: outside Matroska's ID/size range
    width = 9 - first.bit_length()  # leading zeros + 1
    if pos + width > end:
        return None
    raw = int.from_bytes(data[pos : pos + width], "big")
    if keep_marker:
        return raw, pos + width
    val = raw - (1 << (7 * width))
    if val == (1 << (7 * width)) - 1:
        return -1, pos + width  # unknown size
    return val, pos + width


def _unknown_end(data: bytes, body: int, end: int, children: frozenset) -> int:
    """Payload end of an unknown-size element starting at `body`: the
    first position holding an element ID outside `children` (RFC 8794
    §6.2), else the parent's end if every child parses to it. Scans at
    element boundaries only — never inside payloads. Raises _Malformed
    on truncation or an illegally-nested unknown size, because guessing
    an end would undercount frames (a wrong answer, not an abstain)."""
    pos = body
    while pos < end:
        rid = _read_vint(data, pos, end, keep_marker=True)
        if rid is None:
            raise _Malformed
        raw_id, p = rid
        eid = raw_id.to_bytes(p - pos, "big")
        if eid not in children:
            return pos  # first non-child ID terminates the element
        rsz = _read_vint(data, p, end, keep_marker=False)
        if rsz is None:
            raise _Malformed
        size, child_body = rsz
        if size == -1:
            # nested unknown size: only Cluster-in-Segment is legal
            if eid == _CLUSTER:
                pos = _unknown_end(data, child_body, end, _CLUSTER_CHILDREN)
                continue
            raise _Malformed
        if child_body + size > end:
            raise _Malformed
        pos = child_body + size
    return end  # last element of its parent: RFC-legal extends-to-end


def _walk(data: bytes, pos: int, end: int):
    """Yield (element_id_bytes, payload_start, payload_end). Unknown
    sizes are resolved per RFC 8794 §6.2 (legal only on Segment and
    Cluster; see _unknown_end — raises _Malformed otherwise). Stops at
    any truncation of a known-size element (an enclosing size bound
    makes the caller abstain)."""
    while pos < end:
        rid = _read_vint(data, pos, end, keep_marker=True)
        if rid is None:
            return
        raw_id, p = rid
        id_width = p - pos
        eid = raw_id.to_bytes(id_width, "big")
        rsz = _read_vint(data, p, end, keep_marker=False)
        if rsz is None:
            return
        size, body = rsz
        if size == -1:
            if eid == _SEGMENT:
                payload_end = _unknown_end(data, body, end, _SEGMENT_CHILDREN)
            elif eid == _CLUSTER:
                payload_end = _unknown_end(data, body, end, _CLUSTER_CHILDREN)
            else:
                raise _Malformed  # unknown size illegal elsewhere
        else:
            payload_end = body + size
        if payload_end > end:
            return  # truncated element: caller sees fewer elements
        yield eid, body, payload_end
        pos = payload_end


def _find(data: bytes, pos: int, end: int, eid: bytes):
    for t, b, e in _walk(data, pos, end):
        if t == eid:
            return b, e
    return None


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------
def mkv_encode(frames: list[np.ndarray], fps: int, quality: int = 80) -> bytes:
    """(h, w, 3) uint8 frames (all same shape) → MJPEG-in-MKV bytes."""
    from .jpeg import jpeg_encode

    if not frames:
        raise ValueError("mkv_encode needs at least one frame")
    if fps <= 0:
        raise ValueError(f"fps must be positive, got {fps}")
    h, w = frames[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in frames):
        raise ValueError("mkv_encode: all frames must share one shape")
    jpegs = [jpeg_encode(f, quality) for f in frames]
    n = len(jpegs)

    header = _el(
        _EBML,
        _uel(b"\x42\x86", 1)              # EBMLVersion
        + _uel(b"\x42\xf7", 1)            # EBMLReadVersion
        + _uel(b"\x42\xf2", 4)            # EBMLMaxIDLength
        + _uel(b"\x42\xf3", 8)            # EBMLMaxSizeLength
        + _el(b"\x42\x82", b"matroska")   # DocType
        + _uel(b"\x42\x87", 4)            # DocTypeVersion
        + _uel(b"\x42\x85", 2),           # DocTypeReadVersion
    )
    dur_ticks = n * 1000 / fps  # ms ticks; float element by spec
    info = _el(
        _INFO,
        _uel(_TIMESTAMP_SCALE, _MS)
        + _el(_DURATION, struct.pack(">d", dur_ticks)),
    )
    video = _el(_VIDEO, _uel(_PIXEL_WIDTH, w) + _uel(_PIXEL_HEIGHT, h))
    entry = _el(
        _TRACK_ENTRY,
        _uel(_TRACK_NUMBER, 1)
        + _uel(_TRACK_TYPE, 1)            # 1 = video
        + _el(_CODEC_ID, b"V_MJPEG")
        + video,
    )
    tracks = _el(_TRACKS, entry)
    blocks = b""
    for k, j in enumerate(jpegs):
        rel_ts = (k * 1000 + fps // 2) // fps  # ms, fits s16 for short clips
        blk = b"\x81" + struct.pack(">h", rel_ts) + b"\x80" + j
        blocks += _el(_SIMPLE_BLOCK, blk)
    cluster = _el(_CLUSTER, _uel(_CLUSTER_TS, 0) + blocks)
    segment = _el(_SEGMENT, info + tracks + cluster)
    return header + segment


def make_mkv(w: int, h: int, fps: int, n_frames: int, seed: int) -> bytes:
    """Deterministic MJPEG-MKV corpus generator (make_avi/make_mov's
    contract: frame k is make_photo(w, h, (seed + 31*k) % 251))."""
    from .jpeg import make_photo

    frames = [make_photo(w, h, (seed + 31 * k) % 251) for k in range(n_frames)]
    return mkv_encode(frames, fps, quality=65)


# ---------------------------------------------------------------------------
# decoding
# ---------------------------------------------------------------------------
def _video_track(data: bytes, seg: tuple[int, int]):
    """(track_number, w, h) of the first V_MJPEG video track, else None."""
    tracks = _find(data, *seg, _TRACKS)
    if tracks is None:
        return None
    for t, b, e in _walk(data, *tracks):
        if t != _TRACK_ENTRY:
            continue
        num = ttype = codec = w = h = None
        for ct, cb, ce in _walk(data, b, e):
            body = data[cb:ce]
            if ct == _TRACK_NUMBER:
                num = int.from_bytes(body, "big")
            elif ct == _TRACK_TYPE:
                ttype = int.from_bytes(body, "big")
            elif ct == _CODEC_ID:
                codec = body.rstrip(b"\x00")
            elif ct == _VIDEO:
                pw = _find(data, cb, ce, _PIXEL_WIDTH)
                ph = _find(data, cb, ce, _PIXEL_HEIGHT)
                if pw:
                    w = int.from_bytes(data[pw[0] : pw[1]], "big")
                if ph:
                    h = int.from_bytes(data[ph[0] : ph[1]], "big")
        if ttype == 1 and codec == b"V_MJPEG" and num and w and h:
            return num, w, h
    return None


def _segment(data: bytes):
    """Validate the EBML header (DocType matroska/webm) and return the
    Segment payload bounds, else None."""
    head = _find(data, 0, len(data), _EBML)
    if head is None:
        return None
    doctype = _find(data, *head, b"\x42\x82")
    if doctype is None or data[doctype[0] : doctype[1]].rstrip(b"\x00") not in (
        b"matroska",
        b"webm",
    ):
        return None
    return _find(data, head[1], len(data), _SEGMENT)


def _blocks(data: bytes, seg: tuple[int, int], track: int):
    """Frame payloads of `track` from every Cluster's SimpleBlocks, in
    file order; None on any malformed block."""
    out: list[bytes] = []
    for t, b, e in _walk(data, *seg):
        if t != _CLUSTER:
            continue
        for ct, cb, ce in _walk(data, b, e):
            if ct != _SIMPLE_BLOCK:
                continue
            tn = _read_vint(data, cb, ce, keep_marker=False)
            if tn is None or tn[0] == -1:
                return None
            tnum, p = tn
            if p + 3 > ce:
                return None  # truncated block header
            if data[p + 2] & 0x06:
                return None  # laced block: outside the V_MJPEG profile
            if tnum != track:
                continue
            out.append(data[p + 3 : ce])  # skip rel-ts s16 + flags u8
    return out


def _parse(data: bytes) -> tuple[int, int, int, list[bytes]] | None:
    """Single internal walk shared by mkv_meta and mkv_frames:
    (width, height, fps, payloads), else None. Each public call parses
    the element tree exactly once."""
    data = bytes(data)
    if len(data) < 8 or data[:4] != _EBML:
        return None
    try:
        seg = _segment(data)
        if seg is None:
            return None
        vt = _video_track(data, seg)
        if vt is None:
            return None
        track, w, h = vt
        payloads = _blocks(data, seg, track)
        if not payloads:
            return None
        info = _find(data, *seg, _INFO)
        if info is None:
            return None
        dur = _find(data, *info, _DURATION)
        if dur is None:
            return None
        raw = data[dur[0] : dur[1]]
    except _Malformed:
        return None
    if len(raw) == 8:
        dur_ticks = struct.unpack(">d", raw)[0]
    elif len(raw) == 4:
        dur_ticks = struct.unpack(">f", raw)[0]
    else:
        return None
    if not dur_ticks > 0:
        return None
    n = len(payloads)
    # integral-fps contract (the avi.py/mov.py rule)
    fps = round(n * 1000 / dur_ticks)
    if fps <= 0:
        return None
    return int(w), int(h), int(fps), payloads


def mkv_meta(data: bytes) -> tuple[int, int, int, int] | None:
    """(width, height, fps, n_frames) from the element tree only; None
    if the bytes are not a single-video-track V_MJPEG Matroska file."""
    parsed = _parse(data)
    if parsed is None:
        return None
    w, h, fps, payloads = parsed
    return w, h, fps, len(payloads)


def mkv_frames(data: bytes) -> list[bytes] | None:
    """The raw per-frame JPEG payloads in block order; None if the
    container is unreadable."""
    parsed = _parse(data)
    return None if parsed is None else parsed[3]
