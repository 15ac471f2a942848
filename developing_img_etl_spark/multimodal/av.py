"""Audio/video multimodal operators (training-data mandate: treat
audio/video as opaque binary columns with typed metadata; decode /
feature-extract / frame-sample as pandas UDFs).

Codec strategy mirrors image.py: real formats are routed ahead of the
fake seams. Audio has one, RIFF/WAV 16-bit PCM (wav.py). Video has one
table row per real MJPEG container (`_CONTAINERS`: match, meta,
frames): RIFF AVI (avi.py), the ISO-BMFF box tree as monolithic
MOV/QuickTime (mov.py) and fragmented MP4 (fmp4.py), and EBML Matroska
(mkv.py). The deterministic fake formats —
`FAKEAUD:{rate}:{n_samples}:` and `FAKEVID:{w}:{h}:{fps}:{n_frames}:`
headers — carry the plumbing contract (BinaryType columns, Arrow batch
shape, null-on-unreadable guard, the mapInPandas row-explosion for
frame sampling, typed metadata structs) for queries whose oracle
replays the whole pipeline in SQL. Bytes no parser reads return null
(the M3 guard), never a wrong answer.

Frame sampling emits frames as FAKEIMG bytes on the fake path and as
the raw per-frame JPEG payloads of a real container, so the image UDF
surface (image_dims, compress_image, jpeg decode) composes directly
with sampled frames — the video path IS the image path after
sampling.

Scale: all metadata/feature extraction is map-side (no shuffle touches
the binary payload); frame sampling multiplies rows map-side before
any shuffle, and downstream grouping keys are (id, frame_idx) longs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import avi, fmp4, mkv, mov
from .image import make_fake_image
from .jpeg import jpeg_decode

_AUD_MAGIC = b"FAKEAUD:"
_VID_MAGIC = b"FAKEVID:"
# the EBML header magic every Matroska/WebM file opens with
_MKV_MAGIC = b"\x1a\x45\xdf\xa3"


def make_fake_audio(sample_rate: int, n_samples: int, seed: bytes = b"a") -> bytes:
    payload = (seed * (n_samples // max(len(seed), 1) + 1))[:n_samples]
    return b"FAKEAUD:%d:%d:" % (sample_rate, n_samples) + payload


def make_fake_video(width: int, height: int, fps: int, n_frames: int) -> bytes:
    return b"FAKEVID:%d:%d:%d:%d:" % (width, height, fps, n_frames)


def _decode_audio_meta(data: bytes | None) -> tuple[int, int] | None:
    """(sample_rate, n_samples) or None if unreadable (M3 guard)."""
    if data is None:
        return None
    data = bytes(data)
    if data[:4] == b"RIFF":  # real container format: RIFF/WAV PCM (wav.py)
        from .wav import wav_meta

        return wav_meta(data)
    if not data.startswith(_AUD_MAGIC):
        return None  # seam for further real decoders: soundfile.info would go here
    try:
        parts = data.split(b":", 3)
        return int(parts[1]), int(parts[2])
    except Exception:  # noqa: BLE001
        return None


# One row per real container: (match, meta, frames), tried in order. A
# container's frames come from the parser that produced its metadata.
# MOV and fragmented MP4 share the ISO-BMFF box walk: mov_meta abstains
# on a sample-table-less moov, so the fragmented parser only reads what
# the monolithic one abstains on.
_CONTAINERS = (
    (lambda d: d[:4] == b"RIFF" and d[8:12] == b"AVI ", avi.avi_meta, avi.avi_frames),
    (lambda d: d[4:8] in mov.BOX_HEADS, mov.mov_meta, mov.mov_frames),
    (lambda d: d[4:8] in mov.BOX_HEADS, fmp4.fmp4_meta, fmp4.fmp4_frames),
    (lambda d: d[:4] == _MKV_MAGIC, mkv.mkv_meta, mkv.mkv_frames),
)


def _container(data: bytes):
    """(row, (width, height, fps, n_frames)) of the first `_CONTAINERS`
    row that reads `data`, or None."""
    for row in _CONTAINERS:
        if row[0](data):
            meta = row[1](data)
            if meta is not None:
                return row, meta
    return None


def _fake_video_meta(data: bytes) -> tuple[int, int, int, int] | None:
    if not data.startswith(_VID_MAGIC):
        return None  # seam for further real decoders: av.open would go here
    try:
        parts = data.split(b":", 5)
        return int(parts[1]), int(parts[2]), int(parts[3]), int(parts[4])
    except Exception:  # noqa: BLE001
        return None


def _decode_video_meta(data: bytes | None) -> tuple[int, int, int, int] | None:
    """(width, height, fps, n_frames) or None if unreadable."""
    if data is None:
        return None
    data = bytes(data)
    found = _container(data)
    return found[1] if found is not None else _fake_video_meta(data)


def decode_video(data: bytes) -> tuple[int, list[np.ndarray]] | None:
    """Real container bytes → (fps, decoded RGB frames); None if no
    container reads them or any frame fails the JPEG decode."""
    data = bytes(data)
    found = _container(data)
    if found is None:
        return None
    (_match, _meta, frames_of), (_w, _h, fps, _n) = found
    payloads = frames_of(data)
    if payloads is None:
        return None
    frames = []
    for p in payloads:
        arr = jpeg_decode(p)
        if arr is None:
            return None
        frames.append(arr)
    return fps, frames


@pandas_udf(
    T.StructType(
        [
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("duration_s", T.DoubleType()),
        ]
    )
)
def audio_metadata(content: pd.Series) -> pd.DataFrame:
    """Typed audio metadata; nulls for unreadable inputs."""
    meta = content.map(_decode_audio_meta)
    return pd.DataFrame(
        {
            "sample_rate": meta.map(lambda m: m[0] if m else None),
            "n_samples": meta.map(lambda m: m[1] if m else None),
            "duration_s": meta.map(lambda m: round(m[1] / m[0], 6) if m else None),
        }
    )


@pandas_udf(T.ArrayType(T.DoubleType()))
def audio_frame_energy(content: pd.Series) -> pd.Series:
    """Per-frame mean byte energy (1024-sample frames) — the
    feature-extract step as a vectorized UDF. Deterministic on the fake
    format; a real decoder would PCM-decode then window identically."""

    def energy(data):
        meta = _decode_audio_meta(data)
        if meta is None:
            return None
        payload = bytes(data).split(b":", 3)[3]
        frames = [payload[i : i + 1024] for i in range(0, len(payload), 1024)]
        return [round(sum(f) / max(len(f), 1), 6) for f in frames]

    return content.map(energy)


@pandas_udf(
    T.StructType(
        [
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("fps", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
        ]
    )
)
def video_metadata(content: pd.Series) -> pd.DataFrame:
    meta = content.map(_decode_video_meta)
    return pd.DataFrame(
        {
            "width": meta.map(lambda m: m[0] if m else None),
            "height": meta.map(lambda m: m[1] if m else None),
            "fps": meta.map(lambda m: m[2] if m else None),
            "n_frames": meta.map(lambda m: m[3] if m else None),
        }
    )


def sample_frames(
    videos: DataFrame,
    *,
    id_col: str = "video_id",
    content_col: str = "content",
    every_n: int = 2,
) -> DataFrame:
    """Frame sampling as mapInPandas row explosion: one input video row
    → one output row per sampled frame, map-side (no shuffle touches
    frame bytes). Output frames are the container's JPEG payloads (or
    FAKEIMG binaries for FAKEVID), so image UDFs compose downstream.
    Unreadable videos yield zero rows (M3 guard)."""
    out_schema = T.StructType(
        [
            T.StructField("video_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def explode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid, data in zip(pdf[id_col], pdf[content_col]):
                if data is None:
                    continue
                raw = bytes(data)
                found = _container(raw)
                if found is not None:
                    # real MJPEG container (AVI '00dc' chunks / MOV
                    # stsz+stco samples / fMP4 trun samples / MKV
                    # SimpleBlocks): each payload is a complete JPEG, so
                    # the sampled frame IS the payload — no re-encode,
                    # and skipped frames are never decoded
                    (_match, _meta, frames_of), (w, h, _fps, n) = found
                    payloads = frames_of(raw)
                    if payloads is None:
                        continue
                    for idx in range(0, min(n, len(payloads)), every_n):
                        rows.append((vid, idx, w, h, payloads[idx]))
                    continue
                meta = _fake_video_meta(raw)
                if meta is None:
                    continue
                w, h, _fps, n = meta
                for idx in range(0, n, every_n):
                    rows.append(
                        (vid, idx, w, h, make_fake_image(w, h, seed=b"%d:%d" % (vid, idx)))
                    )
            yield pd.DataFrame(
                rows, columns=["video_id", "frame_idx", "width", "height", "frame"]
            )

    return videos.mapInPandas(explode_frames, out_schema)
