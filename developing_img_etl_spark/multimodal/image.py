"""Image operators M1-M3 (SURVEY.md §2.8): compress, metadata,
unreadable-guard — the reference's core custom compute
(/root/reference/test.py:44-59) as vectorized pandas UDFs.

Codecs, one table row per natively coded format (`_CODECS`: magic,
header dims, decode, encode), all stdlib + numpy, so every container
runs the same real decode → nearest-neighbor downscale → re-encode:
  - BMP (24-bit uncompressed, bmp.py): raster, lossless;
  - PNG (8-bit gray/RGB/RGBA, non-interlaced, png.py): DEFLATE,
    lossless;
  - GIF (single-image, non-interlaced, gif.py): LZW, lossless at ≤256
    colors (nn_resize only gathers existing pixels, so the palette
    never grows);
  - JPEG (baseline JFIF, jpeg.py): the reference's actual format,
    DCT transform coding, re-encoded at `quality`.
Quality applies to JPEG only. Metadata (M2) reads the row's header,
no pixel decode. Two cases sit outside the table:
  - a shape the native decoder rejects (palette/16-bit/interlaced PNG,
    animated GIF, progressive JPEG, ...) and any other format go to
    PIL where it is importable (re-encoded as JPEG), else unreadable;
  - FAKEIMG (`FAKEIMG:{w}:{h}:` header + payload): a synthetic format
    whose "codec" is integer arithmetic, so the DuckDB oracle can
    replay the whole pipeline in SQL (m1, m2, m7).
The Spark-side plumbing — BinaryType columns, Arrow batch shape,
null-on-unreadable semantics, aspect-preserving resize arithmetic,
quality knob — is the same for every format.

Scale rules (SURVEY.md §4.2): the codec is the expensive step of a
week, so `compress_pipeline` runs it exactly once per input row, after
any join, on every core of the session:
  - Once, and after the join: a downstream `status == 'ok'` filter
    reads the codec's output. With a deterministic UDF Catalyst pushes
    that filter below the join, onto the file scan, and then evaluates
    the codec there AND again after the join (46 evaluations for 22 new
    photos in the weekly benchmark). The pipeline therefore evaluates a
    private nondeterministic copy of `compress_image`: Catalyst never
    pushes a filter through a Project holding a nondeterministic
    expression, so the filter stays above the codec. The public
    `compress_image` stays deterministic.
  - On every core: the rows reaching the codec are typically a small
    join output that AQE coalesces into one partition, so the decode
    and encode of every photo ran in one Python task. A round-robin
    `repartition(defaultParallelism)` just before the UDF spreads
    them; AQE never coalesces a repartition with an explicit count.
    Rows that already leave such a repartition are not moved again.
Payloads move in that round-robin exchange but are never a shuffle
key, and Arrow batches are kept small
(spark.sql.execution.arrow.maxRecordsPerBatch=1024 in session.py)
because rows carry ~50-100 KB payloads (reference corpus stats).
"""

from __future__ import annotations

import io

import pandas as pd

from ..functions.strings import size_kb
from . import bmp, gif, jpeg, png
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

try:  # reads what no `_CODECS` row reads, where installed
    from PIL import Image
except ImportError:
    Image = None

MAX_DIM = 1024  # MAX_WIDTH, test.py:35
JPEG_QUALITY = 65  # QUALITY, test.py:36

_FAKE_MAGIC = b"FAKEIMG:"


def make_fake_image(width: int, height: int, seed: bytes = b"x") -> bytes:
    """Deterministic synthetic image: header + pseudo-pixel payload whose
    length tracks w*h (so recompression visibly shrinks it)."""
    payload = (seed * ((width * height) // max(len(seed), 1) + 1))[: width * height]
    return b"FAKEIMG:%d:%d:" % (width, height) + payload


# (magic, header_dims, decode, encode(pixels, quality)) per native format
_CODECS = (
    (b"BM", bmp.bmp_dims, bmp.bmp_decode, lambda arr, _q: bmp.bmp_encode(arr)),
    (b"\x89PNG", png.png_dims, png.png_decode, lambda arr, _q: png.png_encode(arr)),
    (b"GIF8", gif.gif_dims, gif.gif_decode, lambda arr, _q: gif.gif_encode(arr)),
    (b"\xff\xd8", jpeg.jpeg_dims, jpeg.jpeg_decode, jpeg.jpeg_encode),
)


def _codec(data: bytes):
    """The `_CODECS` row whose magic opens `data`, or None."""
    return next((row for row in _CODECS if data.startswith(row[0])), None)


def _decode_dims(data: bytes | None) -> tuple[int, int] | None:
    """(width, height), or None if unreadable (test.py:45-48 guard)."""
    if data is None:
        return None
    data = bytes(data)
    if data.startswith(_FAKE_MAGIC):
        try:
            parts = data.split(b":", 3)
            return int(parts[1]), int(parts[2])
        except Exception:  # noqa: BLE001
            return None
    row = _codec(data)
    dims = row[1](data) if row is not None else None
    if dims is not None or Image is None:
        return dims
    try:
        with Image.open(io.BytesIO(data)) as im:
            return im.size
    except Exception:  # noqa: BLE001
        return None


def _recompress(data: bytes | None, max_dim: int, quality: int) -> bytes | None:
    """Aspect-preserving downscale to max_dim + re-encode (test.py:44-59).
    Images already under the cap are re-encoded only (resize no-op)."""
    dims = _decode_dims(data)
    if dims is None:
        return None
    data = bytes(data)
    w, h = dims
    if max(w, h) > max_dim:
        scale = max_dim / float(max(w, h))
        # reference: int(dim * scale) truncation (test.py:52-53); clamp
        # to 1px so extreme aspect ratios (> cap:1) stay a valid image
        w, h = max(int(w * scale), 1), max(int(h * scale), 1)
    if data.startswith(_FAKE_MAGIC):
        # fake "encode": payload shrinks to w*h * quality%
        body_len = int(w * h * (quality / 100.0))
        payload = data.split(b":", 3)[3][:body_len]
        return b"FAKEIMG:%d:%d:" % (w, h) + payload
    row = _codec(data)
    arr = row[2](data) if row is not None else None
    if arr is not None:
        if (w, h) != (arr.shape[1], arr.shape[0]):
            arr = bmp.nn_resize(arr, w, h)
        return row[3](arr, quality)
    if Image is None:
        return None
    try:
        with Image.open(io.BytesIO(data)) as im:
            out = io.BytesIO()
            im.resize((w, h)).convert("RGB").save(out, "JPEG", quality=quality)
            return out.getvalue()
    except Exception:  # noqa: BLE001 — per-record guard, never fail the job
        return None


# --------------------------------------------------------------------------
# pandas UDFs — the Spark surface
# --------------------------------------------------------------------------
@pandas_udf(T.BinaryType())
def compress_image(content: pd.Series) -> pd.Series:
    """M1: decode → resize-if-needed → re-encode. Null = unreadable (M3)."""
    return content.map(lambda b: _recompress(b, MAX_DIM, JPEG_QUALITY))


# compress_pipeline's copy of the same function, marked nondeterministic
# as an optimizer barrier (see the module docstring). A copy, because
# asNondeterministic() mutates the UDF it is called on.
_compress_once = pandas_udf(compress_image.func, T.BinaryType()).asNondeterministic()


@pandas_udf(
    T.StructType(
        [T.StructField("width", T.IntegerType()), T.StructField("height", T.IntegerType())]
    )
)
def image_dims(content: pd.Series) -> pd.DataFrame:
    """M2: width/height extraction; nulls for unreadable inputs."""
    dims = content.map(_decode_dims)
    return pd.DataFrame(
        {
            "width": dims.map(lambda d: d[0] if d else None),
            "height": dims.map(lambda d: d[1] if d else None),
        }
    )


def with_image_stats(df, content_col: str = "content"):
    """Attach dims + size-KB + readable flag to a binary-image frame.
    size_gambar_kb is `size_kb` of the payload length — computed
    JVM-side, no Python round-trip."""
    c = F.col(content_col)
    return (
        df.withColumn("__dims", image_dims(c))
        .withColumn("width", F.col("__dims.width"))
        .withColumn("height", F.col("__dims.height"))
        .withColumn("size_gambar_kb", size_kb(F.length(c)))
        .withColumn("readable", F.col("width").isNotNull())
        .drop("__dims")
    )


def _spread(df):
    """df round-robin over defaultParallelism partitions. A df whose rows
    already leave such a repartition through row-local Projects and
    Filters is returned as is: a second exchange would only move the
    payloads again."""
    n = df.sparkSession.sparkContext.defaultParallelism
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() in ("Project", "Filter"):
        node = node.child()
    if node.nodeName() == "Repartition" and node.shuffle() and node.numPartitions() >= n:
        return df
    return df.repartition(n)


def compress_pipeline(df, content_col: str = "content"):
    """M1+M3 composed: recompress, keep per-record status instead of
    failing the job (v2 skip-and-continue semantics, test.py:179-183).

    The codec runs once per row of `df`, however the result is filtered
    downstream: the UDF is nondeterministic, so a filter on `status`
    cannot be pushed below it into `df`'s joins and scans. The rows are
    spread round-robin over `defaultParallelism` partitions first
    (unless they already are), so the codec uses every core even when
    `df` arrives in one partition.
    The spread moves the payloads once; they are never a shuffle key.
    Output bytes equal `compress_image`'s."""
    out = _spread(df).withColumn("content_out", _compress_once(F.col(content_col)))
    return out.withColumn(
        "status",
        F.when(F.col("content_out").isNotNull(), F.lit("ok")).otherwise(F.lit("unreadable")),
    )
