"""Image operators M1-M3 (SURVEY.md §2.8): compress, metadata,
unreadable-guard — the reference's core custom compute
(/root/reference/test.py:44-59) as vectorized pandas UDFs.

Codec strategy, four tiers:
  1. BMP (24-bit uncompressed): the stdlib+numpy codec in bmp.py —
     a REAL raster decode → nearest-neighbor downscale → re-encode
     that runs in any container, always routed here for determinism
     (BMP is lossless, so quality is a no-op on this branch);
  2. PNG (8-bit gray/RGB/RGBA, non-interlaced): the stdlib zlib codec
     in png.py — a real *compressed* format through the same pixel
     pipeline, also container-independent and deterministic (PNG out
     is lossless; quality is a no-op). Exotic PNGs (palette, 16-bit,
     interlaced) fall through to PIL where importable;
  3. GIF (single-image, non-interlaced): the stdlib LZW codec in
     gif.py — dictionary coding, the third compression family; GIF out
     is lossless at ≤256 colors (nn_resize only gathers existing
     pixels, so the palette never grows). Animations/interlace fall
     through to PIL where importable;
  4. PIL/cv2 when importable: JPEG/etc. full decode+re-encode;
  5. FAKEIMG (`FAKEIMG:{w}:{h}:` header + payload): the synthetic
     seam for formats whose codec is absent — plus stdlib JPEG-SOF
     header parsing so real files still get real metadata.
The Spark-side plumbing — BinaryType columns, Arrow batch shape,
null-on-unreadable semantics, aspect-preserving resize arithmetic,
quality knob — is identical across tiers, which is what the engine
actually owns.

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

from . import bmp, gif, jpeg, png
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

MAX_DIM = 1024  # MAX_WIDTH, test.py:35
JPEG_QUALITY = 65  # QUALITY, test.py:36

_FAKE_MAGIC = b"FAKEIMG:"


# --------------------------------------------------------------------------
# codec seam — real codec if available, deterministic fake otherwise
# --------------------------------------------------------------------------
def _try_real_codec():
    try:
        from PIL import Image  # noqa: F401

        return "pil"
    except Exception:  # noqa: BLE001
        try:
            import cv2  # noqa: F401

            return "cv2"
        except Exception:  # noqa: BLE001
            return None


_CODEC = _try_real_codec()


def make_fake_image(width: int, height: int, seed: bytes = b"x") -> bytes:
    """Deterministic synthetic image: header + pseudo-pixel payload whose
    length tracks w*h (so recompression visibly shrinks it)."""
    payload = (seed * ((width * height) // max(len(seed), 1) + 1))[: width * height]
    return b"FAKEIMG:%d:%d:" % (width, height) + payload


def _jpeg_dims(data: bytes) -> tuple[int, int] | None:
    """Stdlib JPEG dimension parse (ITU T.81 §B.2.2 SOF walk).
    Delegates to the codec's single marker walker — one implementation,
    stricter than the pre-m18 copy (stops at SOS instead of walking
    into entropy bytes, rejects zero dims). Headers only; no pixel
    decode, so real JPEGs get real metadata (M2) even in codec-less
    containers."""
    return jpeg.jpeg_dims(data)


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
    if data.startswith(b"BM"):
        return bmp.bmp_dims(data)
    if data.startswith(b"\x89PNG"):
        return png.png_dims(data)  # IHDR parse — exact for every PNG shape
    if data.startswith(b"GIF8"):
        return gif.gif_dims(data)  # logical-screen-descriptor parse
    if _CODEC == "pil":
        from PIL import Image

        try:
            with Image.open(io.BytesIO(data)) as im:
                return im.size
        except Exception:  # noqa: BLE001
            return None
    # codec-less: header-level metadata for the remaining common formats
    return _jpeg_dims(data)


def _recompress(data: bytes | None, max_dim: int, quality: int) -> bytes | None:
    """Aspect-preserving downscale to max_dim + re-encode (test.py:44-59).
    Images already under the cap are re-encoded only (resize no-op)."""
    dims = _decode_dims(data)
    if dims is None:
        return None
    w, h = dims
    if max(w, h) > max_dim:
        scale = max_dim / float(max(w, h))
        # reference: int(dim * scale) truncation (test.py:52-53); clamp
        # to 1px so extreme aspect ratios (> cap:1) stay a valid image
        w, h = max(int(w * scale), 1), max(int(h * scale), 1)
    if data.startswith(_FAKE_MAGIC):
        # fake "encode": payload shrinks to w*h * quality%
        body_len = int(w * h * (quality / 100.0))
        payload = bytes(data).split(b":", 3)[3][:body_len]
        return b"FAKEIMG:%d:%d:" % (w, h) + payload
    if data.startswith(b"BM"):
        # real raster path: decode → nearest-neighbor downscale →
        # re-encode. BMP out (lossless); quality does not apply.
        arr = bmp.bmp_decode(bytes(data))
        if arr is None:
            return None
        if (w, h) != (arr.shape[1], arr.shape[0]):
            arr = bmp.nn_resize(arr, w, h)
        return bmp.bmp_encode(arr)
    if data.startswith(b"\x89PNG"):
        # real compressed path: inflate+unfilter → downscale →
        # refilter+deflate. PNG out (lossless); quality does not apply.
        # Unsupported PNG shapes fall through to PIL when importable.
        arr = png.png_decode(bytes(data))
        if arr is not None:
            if (w, h) != (arr.shape[1], arr.shape[0]):
                arr = bmp.nn_resize(arr, w, h)
            return png.png_encode(arr)
    if data.startswith(b"GIF8"):
        # real dictionary-coded path: LZW decode → downscale → LZW
        # re-encode. GIF out (lossless at ≤256 colors — nn_resize only
        # gathers existing pixels, so the palette never grows); quality
        # does not apply. Interlaced/animated GIFs fall through to PIL.
        arr = gif.gif_decode(bytes(data))
        if arr is not None:
            if (w, h) != (arr.shape[1], arr.shape[0]):
                arr = bmp.nn_resize(arr, w, h)
            return gif.gif_encode(arr)
    if data.startswith(b"\xff\xd8"):
        # the reference's ACTUAL format (test.py:44-59 cv2 jpg->jpg):
        # real transform-coded path — Huffman+DCT decode -> downscale ->
        # re-encode at `quality` through the baseline JFIF codec.
        # Progressive/exotic shapes fall through to PIL when importable.
        arr = jpeg.jpeg_decode(bytes(data))
        if arr is not None:
            if (w, h) != (arr.shape[1], arr.shape[0]):
                arr = bmp.nn_resize(arr, w, h)
            return jpeg.jpeg_encode(arr, quality)
    if _CODEC == "pil":
        from PIL import Image

        try:
            with Image.open(io.BytesIO(data)) as im:
                im = im.resize((w, h))
                out = io.BytesIO()
                im.convert("RGB").save(out, "JPEG", quality=quality)
                return out.getvalue()
        except Exception:  # noqa: BLE001 — per-record guard, never fail the job
            return None
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
    size_gambar_kb = round(length/1024, 2) (test.py:58-59) — computed
    JVM-side, no Python round-trip."""
    c = F.col(content_col)
    return (
        df.withColumn("__dims", image_dims(c))
        .withColumn("width", F.col("__dims.width"))
        .withColumn("height", F.col("__dims.height"))
        .withColumn("size_gambar_kb", F.round(F.length(c) / 1024.0, 2))
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
