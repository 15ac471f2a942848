"""Multimodal + near-dup query entries (SURVEY.md §2.8 M1-M7).

Image queries synthesize deterministic FAKEIMG binary columns from the
`part` table JVM-side (no image fixtures in the testdata), push them
through the REAL pandas-UDF surface (multimodal/image.py), and — because
the fake codec's arithmetic is integer-exact — the DuckDB oracle can
mirror the whole decode→resize→encode pipeline in SQL. The plumbing
being verified (Arrow batches, BinaryType columns, null-guard, resize
truncation arithmetic) is exactly what the engine owns; only the pixel
codec itself is swapped at the seam.

MinHash/SimHash/LSH queries are approximate or Spark-hash-specific →
rows-only here, recall-checked against exact ground truth in tests/.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..catalog import load
from ..multimodal import avi, bmp, fmp4, gif, jpeg, mkv, mov, phash, png, wav
from ..multimodal.image import compress_pipeline, with_image_stats
from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..operators.dedup import _widen
from ._pin import pin_for_sort


def _generator(name: str, make):
    """Binary pandas UDF `name`: one `make(*int args)` payload per row,
    null where the first argument is null. The pixel, audio and video
    corpora widen before it runs (the generators are the Python work),
    and compress_pipeline keeps that spread instead of adding its own."""

    def gen(*cols: pd.Series) -> pd.Series:
        return pd.Series(
            [None if pd.isna(a[0]) else make(*map(int, a)) for a in zip(*cols)],
            dtype=object,
        )

    gen.__name__ = name
    return pandas_udf(gen, T.BinaryType())


def _digest(name: str, decode, digest=png.pixel_checksum):
    """Long pandas UDF `name`: `digest` of each payload's decoded pixels,
    null where `decode` rejects the payload."""

    def one(b):
        if b is None:
            return None
        arr = decode(bytes(b))
        return None if arr is None else digest(arr)

    def dig(content: pd.Series) -> pd.Series:
        return content.map(one)

    dig.__name__ = name
    return pandas_udf(dig, T.LongType())


# --------------------------------------------------------------------------
# Synthetic image corpus: deterministic dims from part attributes; every
# 97th part is corrupt (M3 guard); parts with p_size > 48 exceed the
# 1024 cap (M1 resize path). Payload bounded to 4 KB.
# --------------------------------------------------------------------------


def _fake_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Not widened: the payload is built JVM-side, m1's codec runs in
    # compress_pipeline, which spreads its own input, and m2/m7's
    # header-only image_dims ran faster without the exchange in a paired
    # probe.
    part = load(spark, sf_dir, "part")
    w = F.when(F.col("p_size") > 48, 1200 + F.col("p_size")).otherwise(32 + F.col("p_size"))
    h = (w * 3 / 4).cast("int")
    payload_len = F.least(w * h, F.lit(4096))
    content = F.concat(
        F.lit("FAKEIMG:"),
        w.cast("string"),
        F.lit(":"),
        h.cast("string"),
        F.lit(":"),
        F.repeat(F.lit("x"), payload_len),
    ).cast("binary")
    corrupt = F.col("p_partkey") % 97 == 0
    return part.select(
        "p_partkey",
        F.when(corrupt, F.lit("GARBAGE").cast("binary")).otherwise(content).alias("content"),
    )


_FAKE_SQL_BASE = """
  SELECT p_partkey,
         CASE WHEN p_partkey % 97 = 0 THEN NULL
              WHEN p_size > 48 THEN 1200 + p_size
              ELSE 32 + p_size END AS w,
         -- floor before CAST: DuckDB int-casts ROUND, Spark/Python truncate
         CAST(floor(CASE WHEN p_partkey % 97 = 0 THEN NULL
              WHEN p_size > 48 THEN (1200 + p_size) * 3 / 4.0
              ELSE (32 + p_size) * 3 / 4.0 END) AS INT) AS h
  FROM part
"""

# Output dims of the paper's transform (image._recompress) over a `dims`
# CTE: aspect-preserving downscale to the 1024 cap, int(dim * scale)
# truncation clamped to 1 px. For positive values CAST(floor(x) AS INT)
# == Python int() truncation.
_SQL_RESIZED = """
  SELECT *,
         CASE WHEN greatest(w, h) > 1024
              THEN greatest(CAST(floor(w * (1024.0 / greatest(w, h))) AS INT), 1)
              ELSE w END AS w2,
         CASE WHEN greatest(w, h) > 1024
              THEN greatest(CAST(floor(h * (1024.0 / greatest(w, h))) AS INT), 1)
              ELSE h END AS h2
  FROM dims
"""


# --------------------------------------------------------------------------
# M2/M3 — metadata extraction + unreadable guard through the pandas UDF.
# --------------------------------------------------------------------------
def m2_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = _fake_images(spark, sf_dir)
    stats = with_image_stats(imgs)
    return pin_for_sort(
        stats.select(
            "p_partkey",
            "width",
            "height",
            F.col("size_gambar_kb"),
            "readable",
        )
    ).orderBy("p_partkey")


M2_SQL = f"""
WITH dims AS ({_FAKE_SQL_BASE})
SELECT p_partkey,
       w AS width,
       h AS height,
       ROUND(CASE WHEN w IS NULL THEN length('GARBAGE')
                  ELSE length('FAKEIMG:' || w || ':' || h || ':') + least(w * h, 4096)
             END / 1024.0, 2) AS size_gambar_kb,
       w IS NOT NULL AS readable
FROM dims
ORDER BY p_partkey
"""


# --------------------------------------------------------------------------
# M1 — compress: resize-if-over-cap arithmetic + re-encode through the
# pandas UDF; per-record status (v2 skip-and-continue).
# --------------------------------------------------------------------------
def m1_image_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = _fake_images(spark, sf_dir)
    out = compress_pipeline(imgs)
    return pin_for_sort(
        out.select(
            "p_partkey",
            "status",
            F.length("content_out").cast("long").alias("out_bytes"),
        )
    ).orderBy("p_partkey")


# The int(w*h*0.65) body mirrors exactly like the dims: positive values →
# CAST AS INT == Python int() truncation. FAKEIMG dims are at least
# 32×24, so the 1 px clamp of `resized` never applies here.
M1_SQL = f"""
WITH dims AS ({_FAKE_SQL_BASE}),
resized AS ({_SQL_RESIZED})
SELECT p_partkey,
       CASE WHEN w IS NULL THEN 'unreadable' ELSE 'ok' END AS status,
       CASE WHEN w IS NULL THEN NULL
            ELSE CAST(length('FAKEIMG:' || w2 || ':' || h2 || ':')
                 + least(CAST(floor(w2 * h2 * 0.65) AS INT), least(w * h, 4096)) AS BIGINT)
       END AS out_bytes
FROM resized
ORDER BY p_partkey
"""


# --------------------------------------------------------------------------
# M7 — multimodal binding: binary + text + embedding columns in one
# frame, joined on key; aggregates per readability flag.
# --------------------------------------------------------------------------
def m7_multimodal_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = with_image_stats(_fake_images(spark, sf_dir))
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    bound = (
        imgs.join(docs, imgs.p_partkey == docs.doc_id)
        .join(emb, docs.doc_id == emb.vec_id)
        .select("doc_id", "readable", "lang", F.size("embedding").alias("dim"), "n_chars")
    )
    return (
        bound.groupBy("readable", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
            F.max("dim").alias("max_dim"),
        )
        .orderBy("readable", "lang")
    )


M7_SQL = f"""
WITH dims AS ({_FAKE_SQL_BASE})
SELECT d.w IS NOT NULL AS readable, doc.lang,
       COUNT(*) AS n,
       CAST(SUM(doc.n_chars) AS BIGINT) AS sum_chars,
       CAST(MAX(len(e.embedding)) AS INT) AS max_dim
FROM dims d
JOIN documents doc ON d.p_partkey = doc.doc_id
JOIN embeddings e ON doc.doc_id = e.vec_id
GROUP BY 1, 2
ORDER BY readable, lang
"""


# --------------------------------------------------------------------------
# M5/M4 extensions — approximate dedup/ANN paths (rows-only; recall
# tests in tests/test_approx_ops.py pin them to exact ground truth).
# --------------------------------------------------------------------------
def m4_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    doubled = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
        )
    )
    return DD.minhash_near_dups(doubled, threshold=0.5).orderBy("id_a", "id_b")


def m5_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    doubled = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
        )
    )
    return DD.simhash_dup_groups(doubled).orderBy("simhash", "doc_id")


def m6_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return SIM.rp_lsh_topk(emb, probes, k=5).orderBy("probe_id", F.desc("sim"), "vec_id")


def m9_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means inverted-list) ANN tier — recall-checked vs brute
    force in tests, rows-only here (approximate by design)."""
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return SIM.ivf_topk(emb, probes, k=5).orderBy("probe_id", F.desc("sim"), "vec_id")


def m15_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC ANN tier (operators/pq.py) — 32×
    compressed code scan + exact rerank; recall-checked vs brute force
    in tests, rows-only here (approximate by design, like m6/m9)."""
    from ..operators import pq as PQ

    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return PQ.pq_topk(emb, probes, k=5).orderBy("probe_id", F.desc("sim"), "vec_id")


def m8_numpy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas/numpy exact path — must equal q13 (same oracle).

    NOTE: building this query runs a bounded Spark job (collecting the
    10 probe rows to the driver) — the numpy tier broadcasts the probe
    MATRIX into the UDF closure by design, so probe collection is part
    of plan construction, not execution. Callers who need a fully lazy
    build should use q13 (Catalyst) or m6/m9 (LSH/IVF) instead."""
    emb = load(spark, sf_dir, "embeddings")
    probes_pd = emb.filter(F.col("vec_id") < 10).select("vec_id", "embedding").toPandas()
    out = SIM.numpy_topk(emb, probes_pd, k=5)
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), "vec_id")
    return out.select(
        "probe_id", "vec_id", "sim", F.row_number().over(w).cast("long").alias("rk")
    ).orderBy("probe_id", "rk")


def m13_arrow_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m8 on mapInArrow (flat-buffer reshape, no pandas hop) — third
    exact tier, same Q13 oracle: Catalyst (q13), mapInPandas (m8), and
    mapInArrow (here) must agree bit-for-bit. Same bounded
    plan-construction NOTE as m8 (probe collection)."""
    emb = load(spark, sf_dir, "embeddings")
    probes_pd = emb.filter(F.col("vec_id") < 10).select("vec_id", "embedding").toPandas()
    out = SIM.arrow_topk(emb, probes_pd, k=5)
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), "vec_id")
    return out.select(
        "probe_id", "vec_id", "sim", F.row_number().over(w).cast("long").alias("rk")
    ).orderBy("probe_id", "rk")


QUERIES = {
    "m1_image_compress": m1_image_compress,
    "m2_image_metadata": m2_image_metadata,
    "m7_multimodal_bind": m7_multimodal_bind,
    "m4_minhash_near_dups": m4_minhash_near_dups,
    "m5_simhash_groups": m5_simhash_groups,
    "m6_ann_lsh_topk": m6_ann_lsh_topk,
    "m8_numpy_topk": m8_numpy_topk,
    "m9_ann_ivf_topk": m9_ann_ivf_topk,
    "m13_arrow_topk": m13_arrow_topk,
    "m15_ann_pq_topk": m15_ann_pq_topk,
}

from .similarity import Q13_SQL  # noqa: E402  (m8/m13 are exact — same oracle)

ORACLES = {
    "m1_image_compress": M1_SQL,
    "m2_image_metadata": M2_SQL,
    "m7_multimodal_bind": M7_SQL,
    "m8_numpy_topk": Q13_SQL,
    "m13_arrow_topk": Q13_SQL,
    # m4/m5/m6: approximate or Spark-hash-specific → rows-only
}


# --------------------------------------------------------------------------
# M10/M11 — audio/video plumbing (multimodal/av.py) through the REAL
# pandas-UDF / mapInPandas surface, oracle-mirrored arithmetic: fake
# binaries are synthesized from `documents` attributes JVM-side, parsed
# back by the UDFs, so DuckDB can compute the same metadata directly.
# --------------------------------------------------------------------------
def _fake_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    rate = (8000 * (1 + F.col("doc_id") % 3)).cast("int")
    n_samples = (1000 + (F.col("doc_id") % 50) * 100).cast("long")
    content = F.concat(
        F.lit("FAKEAUD:"),
        rate.cast("string"),
        F.lit(":"),
        n_samples.cast("string"),
        F.lit(":"),
        F.repeat(F.lit("a"), F.least(n_samples, F.lit(4096)).cast("int")),
    ).cast("binary")
    corrupt = F.col("doc_id") % 89 == 0
    return docs.select(
        "doc_id",
        F.when(corrupt, F.lit("NOISE").cast("binary")).otherwise(content).alias("content"),
    )


def m10_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.av import audio_metadata

    audio = _fake_audio(spark, sf_dir)
    meta = audio.select("doc_id", audio_metadata(F.col("content")).alias("m"))
    return pin_for_sort(
        meta.select(
            "doc_id",
            F.col("m.sample_rate").alias("sample_rate"),
            F.col("m.n_samples").alias("n_samples"),
            F.col("m.duration_s").alias("duration_s"),
        ).filter(F.col("sample_rate").isNotNull())  # M3 guard drops corrupt
    ).orderBy("doc_id")


M10_SQL = """
SELECT doc_id,
       CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
       CAST(1000 + (doc_id % 50) * 100 AS BIGINT) AS n_samples,
       ROUND((1000 + (doc_id % 50) * 100) / (8000.0 * (1 + doc_id % 3)), 6) AS duration_s
FROM documents
WHERE doc_id % 89 <> 0
ORDER BY doc_id
"""


def _fake_videos(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_frames = (3 + F.col("doc_id") % 5).cast("int")
    content = F.concat(
        F.lit("FAKEVID:64:48:24:"),
        n_frames.cast("string"),
        F.lit(":"),
    ).cast("binary")
    corrupt = F.col("doc_id") % 89 == 0
    return docs.select(
        F.col("doc_id").alias("video_id"),
        F.when(corrupt, F.lit("NOISE").cast("binary")).otherwise(content).alias("content"),
    )


def m11_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (every 2nd frame) + image-UDF composition: the
    sampled FAKEIMG frame bytes flow through image_dims, proving the
    video path IS the image path after sampling."""
    from ..multimodal.av import sample_frames
    from ..multimodal.image import image_dims

    vids = _fake_videos(spark, sf_dir)
    frames = sample_frames(vids, id_col="video_id", every_n=2)
    dims = frames.select(
        "video_id", "frame_idx", image_dims(F.col("frame")).alias("d")
    )
    return pin_for_sort(
        dims.select(
            "video_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.col("d.width").alias("frame_w"),
            F.col("d.height").alias("frame_h"),
        )
    ).orderBy("video_id", "frame_idx")


M11_SQL = """
SELECT doc_id AS video_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       64 AS frame_w,
       48 AS frame_h
FROM documents, UNNEST(range(0, 3 + doc_id % 5, 2)) AS t(frame_idx)
WHERE doc_id % 89 <> 0
ORDER BY video_id, frame_idx
"""


QUERIES["m10_audio_metadata"] = m10_audio_metadata
QUERIES["m11_video_frame_sample"] = m11_video_frame_sample
ORACLES["m10_audio_metadata"] = M10_SQL
ORACLES["m11_video_frame_sample"] = M11_SQL


# --------------------------------------------------------------------------
# M16 — the REAL audio path (multimodal/wav.py): generate actual
# RIFF/WAV 16-bit PCM per document row, run decode → nearest-neighbor
# resample to a quarter rate → lossless re-encode → decode again, and
# emit integer-exact features of the final signal. Every sample is a
# pure function of (seed, i) and the resample gather is pure integer
# division ((j*n)//dst_n), so the oracle replays generate → resample →
# feature arithmetic entirely in SQL — any corrupted/moved/dropped byte
# through encode→decode→resample→encode→decode mismatches. Corpus is
# every 5th document so the oracle's per-sample UNNEST stays bounded
# (~250 k rows at sf0.1). Corrupt rows carry a RIFF magic with a
# truncated body — the guard exercised INSIDE the real chunk walker,
# not at a magic-byte shortcut.
# --------------------------------------------------------------------------
_gen_wav = _generator("_gen_wav", wav.make_wav)


@pandas_udf(T.BinaryType())
def _wav_resample_quarter(content: pd.Series) -> pd.Series:
    def go(b):
        if b is None:
            return None
        decoded = wav.wav_decode(bytes(b))
        if decoded is None:
            return None
        rate, channels, samples = decoded
        if channels != 1:
            return None
        return wav.wav_encode(rate, wav.resample_nearest(samples, max(len(samples) // 4, 1)))

    return content.map(go)


@pandas_udf(
    T.StructType(
        [
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_out", T.LongType()),
            T.StructField("sum_abs", T.LongType()),
            T.StructField("peak", T.IntegerType()),
            T.StructField("checksum", T.LongType()),
        ]
    )
)
def _wav_features(content: pd.Series) -> pd.DataFrame:
    rows = []
    for b in content:
        decoded = wav.wav_decode(bytes(b)) if b is not None else None
        if decoded is None or len(decoded[2]) == 0:
            rows.append((None, None, None, None, None))
            continue
        rate, _channels, samples = decoded
        v = samples.astype(np.int64)
        pos = np.arange(1, len(v) + 1, dtype=np.int64)
        rows.append(
            (
                rate,
                len(v),
                int(np.abs(v).sum()),
                int(np.abs(v).max()),
                int(((v + 1024) * pos).sum()),
            )
        )
    return pd.DataFrame(
        rows, columns=["sample_rate", "n_out", "sum_abs", "peak", "checksum"]
    )


def m16_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _widen(load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0))
    corrupt = F.col("doc_id") % 89 == 0
    rate = (8000 * (1 + F.col("doc_id") % 3)).cast("int")
    n = (500 + (F.col("doc_id") % 40) * 25).cast("int")
    seed = F.pmod(F.col("doc_id"), F.lit(251)).cast("int")
    wavs = docs.select(
        "doc_id",
        F.when(corrupt, F.lit(b"RIFFjunk")).otherwise(_gen_wav(rate, n, seed)).alias("content"),
    )
    out = wavs.select("doc_id", _wav_resample_quarter(F.col("content")).alias("content_out"))
    feats = out.select(
        "doc_id",
        F.length("content_out").cast("long").alias("out_bytes"),
        _wav_features(F.col("content_out")).alias("f"),
    )
    return pin_for_sort(
        feats.select(
            "doc_id",
            F.when(F.col("f.sample_rate").isNull(), F.lit("unreadable"))
            .otherwise(F.lit("ok"))
            .alias("status"),
            F.col("f.sample_rate").alias("sample_rate"),
            F.col("f.n_out").alias("n_out"),
            "out_bytes",
            F.col("f.sum_abs").alias("sum_abs"),
            F.col("f.peak").alias("peak"),
            F.col("f.checksum").alias("checksum"),
        )
    ).orderBy("doc_id")


M16_SQL = """
WITH base AS (
  SELECT doc_id,
         doc_id % 251 AS seed,
         CAST(8000 * (1 + doc_id % 3) AS INT) AS rate,
         500 + (doc_id % 40) * 25 AS n
  FROM documents
  WHERE doc_id % 5 = 0
),
ok AS (
  SELECT *, n // 4 AS dst_n FROM base WHERE doc_id % 89 <> 0
),
px AS (
  SELECT doc_id,
         CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
         CAST(MAX(ABS(v)) AS INT) AS peak,
         CAST(SUM((v + 1024) * (j + 1)) AS BIGINT) AS checksum
  FROM (
    SELECT doc_id, j,
           -- sample value at the integer-gather source index (j*n)//dst_n
           ((seed * 31 + ((j * n) // dst_n) * 17) % 2048) - 1024 AS v
    FROM ok, UNNEST(range(0, ok.dst_n)) AS t(j)
  )
  GROUP BY doc_id
)
SELECT b.doc_id AS doc_id,
       CASE WHEN b.doc_id % 89 = 0 THEN 'unreadable' ELSE 'ok' END AS status,
       CASE WHEN b.doc_id % 89 = 0 THEN NULL ELSE b.rate END AS sample_rate,
       CAST(CASE WHEN b.doc_id % 89 = 0 THEN NULL ELSE b.n // 4 END AS BIGINT) AS n_out,
       CAST(CASE WHEN b.doc_id % 89 = 0 THEN NULL
                 ELSE 44 + 2 * (b.n // 4) END AS BIGINT) AS out_bytes,
       px.sum_abs, px.peak, px.checksum
FROM base b LEFT JOIN px ON b.doc_id = px.doc_id
ORDER BY b.doc_id
"""

QUERIES["m16_wav_resample"] = m16_wav_resample
ORACLES["m16_wav_resample"] = M16_SQL


# --------------------------------------------------------------------------
# M12/M14/M17/M18 — the REAL still-image codecs through the paper's one
# transform (decode → aspect-preserving nearest-neighbor downscale to the
# 1024 cap → re-encode, test.py:44-59), one query per compression family,
# all through m1's compress_pipeline surface, where pixels really move:
#   m12 BMP (multimodal/bmp.py, raster, no compression);
#   m14 PNG (png.py, inflate/unfilter and refilter/deflate);
#   m17 GIF (gif.py, palette-indexed GIF89a, LZW dictionary coding);
#   m18 JPEG (jpeg.py, the reference's ACTUAL corpus format through a
#       real baseline JFIF codec: Huffman entropy decode, quantized 8×8
#       DCT, YCbCr, quality 65 re-encode; transform coding).
# Each row's generator UDF writes a real image from (w, h, seed =
# p_partkey % 251); over-cap rows are kept short (h=8) so the corpus
# stays KB-sized. Every 97th part carries the query's corrupt literal and
# must come out 'unreadable'; each literal opens like its codec, so the
# guard it hits is INSIDE that codec's parser, not a magic-byte shortcut
# (table below). The oracle predicts status and output dims exactly (the
# shared `resized` CTE); the last column is the codec's own verdict:
#   m12: the output byte size, pure arithmetic for BMP (54 + 4-byte-padded
#       row stride × h);
#   m14, m17: DEFLATE and LZW output sizes are not arithmetic, so the
#       query emits a position-weighted checksum of the DECODED OUTPUT
#       pixels, which the oracle replays in SQL from the generator's
#       pixel formula through the nn_resize gather (min(floor(dst *
#       src/dst), src-1), the reference's truncation style): any
#       corrupted/moved/dropped byte anywhere in generate → encode →
#       decode → resize → encode → decode mismatches. A PNG pixel is a
#       gradient of (x, y, seed); a GIF pixel is palette slot c = (x*7 +
#       y*13 + seed) % 64 with RGB = ((c*3+11)%256, (c*5+1)%256,
#       (c*7+3)%256);
#   m18: JPEG is lossy, so decoded pixels are NOT SQL arithmetic; the
#       query certifies the dims contract (parsed from the emitted JFIF
#       header) and the FIDELITY GATE of `_matches_photo`. Its bound sits
#       far below the ~85 a mismatched image scores but above codec noise
#       (measured worst 17.0 across the corpus shapes for generate@Q80 →
#       decode → resize → re-encode@Q65 → decode; the sawtooth gradient
#       is ringing-adversarial). A wrong DCT, quant table, Huffman code,
#       color transform or resize gather all blow the gate. The decoded
#       pixel arithmetic itself is pinned by pytest (uniform-block
#       analytic round-trip, real 4:2:0 reference-photo decode, PIL-gated
#       cross-check).
# Every 10th part: the pixel corpus exercises each codec fully at a tenth
# of the per-row Python cost, and keeps the m14/m17 per-pixel oracles
# bounded (~1.5 M pixels at sf0.1). m18 reads every 20th: the JPEG
# chain runs FIVE codec passes per image, and half the corpus keeps the
# declared query inside the driver's per-query budget with identical
# coverage. Each corpus is widened before its generator, the query's
# per-row Python work, runs (see _generator).
# --------------------------------------------------------------------------
_JPEG_GEN_QUALITY = 80
_JPEG_FIDELITY_BOUND = 32.0
# Neighbour seeds shift the photo's channels by only jpeg.SEED_STEP per
# step, so make_photo(w, h, seed ± 1) scores 14-25 against the seed's
# own decode: under the bound. The gate also asks that the own seed be
# the strict argmin over seed-3..seed+3 (smallest margin measured on the
# m18 stills and m20-m23 frames at sf0.1: 9.67); it builds the seven
# photos from one make_photo by those shifts (uint8 addition wraps mod
# 256).
_NEIGHBOUR_SEEDS = (-3, -2, -1, 1, 2, 3)
_SEED_SHIFTS = (np.outer((0, *_NEIGHBOUR_SEEDS), jpeg.SEED_STEP) % 256).astype(np.uint8)


def _matches_photo(payload: bytes, w: int, h: int, seed: int) -> bool:
    """The fidelity gate of m18 and m20-m23: `payload` decodes as JPEG,
    its mean |decoded − make_photo(w, h, seed)| is at most
    _JPEG_FIDELITY_BOUND and strictly below its error against every
    neighbour seed's photo. The photo is nearest-neighbor resized to the
    decoded dims first where they differ (m18's downscaled rows)."""
    dec = jpeg.jpeg_decode(payload)
    if dec is None:
        return False
    own = jpeg.make_photo(w, h, seed)
    if dec.shape[:2] != own.shape[:2]:
        own = bmp.nn_resize(own, dec.shape[1], dec.shape[0])
    photos = own[None] + _SEED_SHIFTS[:, None, None, :]
    err = (np.maximum(dec, photos) - np.minimum(dec, photos)).mean(axis=(1, 2, 3))
    return bool(err[0] <= _JPEG_FIDELITY_BOUND and (err[0] < err[1:]).all())


@pandas_udf(T.BooleanType())
def _jpeg_fidelity_ok(
    content: pd.Series, w: pd.Series, h: pd.Series, seed: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            None if b is None or pd.isna(ow) else _matches_photo(bytes(b), int(ow), int(oh), int(s))
            for b, ow, oh, s in zip(content, w, h, seed)
        ],
        dtype=object,
    )


def _sql_pixel_checksum(r: str, g: str, b: str) -> str:
    """Oracle twin of png.pixel_checksum over one `resized` row: the sum
    over output pixels i = y2·w2 + x2 of R·(3i+1) + G·(3i+2) + B·(3i+3).
    r, g and b are channel formulas of the row's seed and the
    nn-gathered source pixel, written with {sx} and {sy} placeholders.
    NULL for a corrupt row. A list lambda, because DuckDB ran the same
    sum as a correlated subquery 50x slower at sf0.1."""
    # the nn_resize gather, min(floor(dst*src/dst), src-1)
    sx = "least(CAST(floor(i % w2 * (w * 1.0 / w2)) AS BIGINT), w - 1)"
    sy = "least(CAST(floor(i // w2 * (h * 1.0 / h2)) AS BIGINT), h - 1)"
    r, g, b = (c.format(sx=sx, sy=sy) for c in (r, g, b))
    return f"""list_sum(list_transform(range(0, w2 * h2), i ->
           ({r}) * (i * 3 + 1) + ({g}) * (i * 3 + 2) + ({b}) * (i * 3 + 3)
       )) AS pixel_checksum"""


_png_pixel_checksum = _digest("_png_pixel_checksum", png.png_decode)
_gif_pixel_checksum = _digest("_gif_pixel_checksum", gif.gif_decode)
_GIF_SLOT = "({sx} * 7 + {sy} * 13 + seed) % 64"

# query name: (part stride, width modulus, height modulus or None for a
# fixed 12, generator UDF, corrupt literal, verdict column, verdict SQL
# over `resized`). The literal and the column are built with the query.
_IMAGE_FAMILY = {
    "m12_bmp_compress": (
        10, 64, None, _generator("_gen_bmp", bmp.make_bmp),
        # BM magic on 9 bytes: the 54-byte header guard of the BMP parser
        lambda: b"BMcorrupt",
        lambda: F.length("content_out").cast("long").alias("out_bytes"),
        """-- exact BMP size: 14+40 header + stride(w)*h, stride padded to 4
       CASE WHEN w IS NULL THEN NULL
            ELSE CAST(54 + (CAST(floor((w2 * 3 + 3) / 4.0) AS INT) * 4) * h2 AS BIGINT)
       END AS out_bytes""",
    ),
    "m14_png_compress": (
        10, 48, 16, _generator("_gen_png", png.make_png),
        # PNG magic whose 8-byte signature breaks after it: the PNG
        # parser's signature/IHDR guard
        lambda: b"\x89PNG-corrupt",
        lambda: _png_pixel_checksum(F.col("content_out")).alias("pixel_checksum"),
        _sql_pixel_checksum(
            "(seed * 29 + {sx} + {sy}) % 256",
            "(seed * 11 + {sx} * 3 + {sy} * 5) % 256",
            "(seed + {sx} * 7 + {sy} * 13) % 256",
        ),
    ),
    "m17_gif_compress": (
        10, 40, 20, _generator("_gen_gif", gif.make_gif),
        # a valid GIF header and screen descriptor whose body ends before
        # any image descriptor: the guard inside the block walker
        lambda: b"GIF89acorrupt",
        lambda: _gif_pixel_checksum(F.col("content_out")).alias("pixel_checksum"),
        _sql_pixel_checksum(
            f"({_GIF_SLOT} * 3 + 11) % 256",
            f"({_GIF_SLOT} * 5 + 1) % 256",
            f"({_GIF_SLOT} * 7 + 3) % 256",
        ),
    ),
    "m18_jpeg_compress": (
        20, 48, 16,
        _generator(
            "_gen_jpeg",
            lambda w, h, seed: jpeg.jpeg_encode(jpeg.make_photo(w, h, seed), _JPEG_GEN_QUALITY),
        ),
        # SOI followed by a byte that opens no marker: the guard inside
        # the JPEG marker walker
        lambda: b"\xff\xd8-corrupt-jpeg-body",
        lambda: _jpeg_fidelity_ok(
            F.col("content_out"), F.col("orig_w"), F.col("orig_h"), F.col("seed")
        ).alias("fidelity_ok"),
        "CASE WHEN w IS NULL THEN NULL ELSE TRUE END AS fidelity_ok",
    ),
}


def _image_corpus(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    stride, w_mod, h_mod, gen, corrupt_literal = _IMAGE_FAMILY[name][:5]
    part = _widen(load(spark, sf_dir, "part").filter(F.col("p_partkey") % stride == 0))
    corrupt = F.col("p_partkey") % 97 == 0
    size = F.col("p_size")
    w = F.when(size > 48, 1200 + size).otherwise(16 + F.pmod(size, F.lit(w_mod)))
    h = F.when(size > 48, F.lit(8)).otherwise(
        F.lit(12) if h_mod is None else 12 + F.pmod(size, F.lit(h_mod))
    )
    seed = F.pmod(F.col("p_partkey"), F.lit(251))
    return part.select(
        "p_partkey",
        F.when(corrupt, F.lit(None).cast("int")).otherwise(w).alias("orig_w"),
        F.when(corrupt, F.lit(None).cast("int")).otherwise(h).alias("orig_h"),
        seed.alias("seed"),
        F.when(corrupt, F.lit(corrupt_literal())).otherwise(gen(w, h, seed)).alias("content"),
    )


def _image_compress(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    verdict = _IMAGE_FAMILY[name][5]
    out = compress_pipeline(_image_corpus(spark, sf_dir, name))
    stats = with_image_stats(out, "content_out")
    return pin_for_sort(
        stats.select("p_partkey", "status", "width", "height", verdict())
    ).orderBy("p_partkey")


_IMAGE_SQL = """
WITH dims AS (
  SELECT p_partkey,
         p_partkey % 251 AS seed,
         CASE WHEN p_partkey % 97 = 0 THEN NULL
              WHEN p_size > 48 THEN 1200 + p_size
              ELSE 16 + (p_size % {w_mod}) END AS w,
         CASE WHEN p_partkey % 97 = 0 THEN NULL
              WHEN p_size > 48 THEN 8
              ELSE {h_else} END AS h
  FROM part
  WHERE p_partkey % {stride} = 0
),
resized AS ({resized})
SELECT p_partkey,
       CASE WHEN w IS NULL THEN 'unreadable' ELSE 'ok' END AS status,
       w2 AS width,
       h2 AS height,
       {verdict}
FROM resized
ORDER BY p_partkey
"""

for _name, (_stride, _w_mod, _h_mod, _gen, _corrupt, _col, _sql) in _IMAGE_FAMILY.items():
    QUERIES[_name] = functools.partial(_image_compress, name=_name)
    ORACLES[_name] = _IMAGE_SQL.format(
        stride=_stride,
        w_mod=_w_mod,
        h_else=12 if _h_mod is None else f"12 + (p_size % {_h_mod})",
        resized=_SQL_RESIZED,
        verdict=_sql,
    )


# --------------------------------------------------------------------------
# M19 — perceptual-hash image dedup (multimodal/phash.py): the IMAGE
# member of the near-dup family (MinHash/SimHash/Jaccard/cosine are
# all text/embedding-side). Corpus: structurally distinct textured
# images, one third of which also appear RE-ENCODED at a much lower
# JPEG quality — different bytes (exact dedup q14a would keep both),
# same picture. DCT pHash collapses them: luminance → 32×32 → 2-D
# DCT → 8×8 corner sign structure → 63-bit fingerprint; measured
# same-image re-encode distance ≤ 8 bits vs ≥ 18 for structurally
# different images. Pair generation follows the SimHash discipline:
# 8 bands × 8 bits, band-equality join (never all-pairs — band misses
# measured 0/120 for true pairs), exact Hamming ≤ 10 verification via
# codegen bit_count(xor). phash is computed MAP-SIDE before any
# shuffle, so image bytes never move (the M-family plan rule).
# Approximate by nature → rows-only; tests/test_image_udfs.py pins
# recall/precision against the constructed ground truth.
# --------------------------------------------------------------------------
_PHASH_HAMMING = 10
_PHASH_BANDS = 8


_gen_textured_jpeg = _generator(
    "_gen_textured_jpeg",
    lambda w, h, seed, quality: jpeg.jpeg_encode(phash.make_textured(w, h, seed), quality),
)
_phash_udf = _digest("_phash_udf", jpeg.jpeg_decode, phash.phash64)


def _phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _widen(load(spark, sf_dir, "part").filter(F.col("p_partkey") % 20 == 0))
    w = 24 + F.pmod(F.col("p_size"), F.lit(40)) * 2
    h = 20 + F.pmod(F.col("p_size"), F.lit(24)) * 2
    seed = F.pmod(F.col("p_partkey"), F.lit(251))
    base = part.select(
        F.col("p_partkey").alias("img_id"),
        F.lit("o").alias("variant"),
        _gen_textured_jpeg(w, h, seed, F.lit(80)).alias("content"),
    )
    copies = (
        part.filter(F.col("p_partkey") % 3 == 0)
        .select(
            F.col("p_partkey").alias("img_id"),
            F.lit("c").alias("variant"),
            _gen_textured_jpeg(w, h, seed, F.lit(35)).alias("content"),
        )
    )
    return base.unionByName(copies)


def m19_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = _phash_corpus(spark, sf_dir)
    hashed = imgs.select(
        "img_id", "variant", _phash_udf(F.col("content")).alias("ph")
    ).localCheckpoint(eager=True)  # phash map-side once; bytes never shuffle
    banded = hashed.select(
        "img_id",
        "variant",
        "ph",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bi"),
                        F.shiftright("ph", i * 8).bitwiseAND(F.lit(255)).alias("bv"),
                    )
                    for i in range(_PHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("img_id", "variant", "ph", F.col("band.bi").alias("bi"), F.col("band.bv").alias("bv"))
    a = banded.select(
        F.col("img_id").alias("id_a"), F.col("variant").alias("var_a"),
        F.col("ph").alias("ph_a"), "bi", "bv",
    )
    b = banded.select(
        F.col("img_id").alias("id_b"), F.col("variant").alias("var_b"),
        F.col("ph").alias("ph_b"), "bi", "bv",
    )
    cand = (
        a.join(b, ["bi", "bv"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            | ((F.col("id_a") == F.col("id_b")) & (F.col("var_a") < F.col("var_b")))
        )
        .select("id_a", "var_a", "ph_a", "id_b", "var_b", "ph_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
        )
        .filter(F.col("hamming") <= _PHASH_HAMMING)
        .select("id_a", "var_a", "id_b", "var_b", "hamming")
        .orderBy("id_a", "var_a", "id_b", "var_b")
    )


QUERIES["m19_phash_dedup"] = m19_phash_dedup
# approximate (DCT thresholding) → rows-only; recall/precision pytest


# --------------------------------------------------------------------------
# M20-M23 — REAL video frame sampling, one query per MJPEG container
# layout, all routed through the SAME sample_frames surface m11 drives
# over FAKEVID:
#   m20 AVI (multimodal/avi.py — the RIFF walk of wav.py composed with
#       the baseline JPEG codec of jpeg.py);
#   m21 MOV/QuickTime (mov.py — the hand-walked ftyp/mdat/moov box tree
#       with stsd/stts/stsc/stsz/stco sample tables; MP4 is the ISO-BMFF
#       descendant of this structure);
#   m22 fragmented MP4 (fmp4.py — the moof/mfhd/tfhd/tfdt/trun movie
#       fragments over the same box walk; VERDICT r9 #6). This is the
#       layout streaming corpora actually arrive in (DASH/HLS/CMAF
#       segments): the moov's sample tables are EMPTY and every sample
#       is addressed by per-fragment trun entries relative to a tfhd
#       base;
#   m23 MKV (mkv.py — the EBML/Matroska tag-length-value element tree,
#       the third container *family* after RIFF and ISO-BMFF).
# JPEG is lossy, so decoded pixels are not SQL arithmetic; the m18
# discipline applies: the oracle checks what IS exact — container
# metadata (w/h/fps/n_frames from the container headers), the
# sampled-index set (every_n = 2 → indices 0,2,4,..., count ceil(n/2),
# sum k(k-1)), the per-frame dimension contract (JPEG SOF of each
# emitted payload == container dims), and m18's FIDELITY GATE per frame
# (`_matches_photo` against the frame's own photo; measured max 8.0 on
# this corpus, a mismatched frame scores ~85). Pixel arithmetic
# itself is pinned by the container and jpeg pytest. The four makers
# share make_avi's seed contract, so one frame-check UDF serves all.
# Corrupt rows surface as 'unreadable' with zero sampled frames, never
# a wrong answer; each container's literal exercises a guard INSIDE
# its parser, not a magic-byte shortcut (table below). The queries read
# disjoint part slices (p_partkey % 25) with distinct corrupt stripes.
# Scale shape: generation, frame explosion, dim parse, and the
# fidelity decode are ALL map-side (frame bytes never shuffle); the
# only shuffles carry (video_id, small longs/bools).
# --------------------------------------------------------------------------
@pandas_udf(
    T.StructType(
        [
            T.StructField("dims_ok", T.BooleanType()),
            T.StructField("fidelity_ok", T.BooleanType()),
        ]
    )
)
def _avi_frame_checks(
    frame: pd.Series, w: pd.Series, h: pd.Series, vid: pd.Series, idx: pd.Series
) -> pd.DataFrame:
    rows = []
    for b, ow, oh, v, i in zip(frame, w, h, vid, idx):
        payload, ow, oh = bytes(b), int(ow), int(oh)
        # the corpus seed is derived from the id (make_avi contract)
        seed = (int(v) % 251 + 31 * int(i)) % 251
        rows.append((jpeg.jpeg_dims(payload) == (ow, oh), _matches_photo(payload, ow, oh, seed)))
    return pd.DataFrame(rows, columns=["dims_ok", "fidelity_ok"])


# query name: (part slice, corrupt stripe, generator UDF, corrupt
# literal). The literals are built when the query is, not at import.
_VIDEO_FAMILY = {
    "m20_avi_frame_sample": (
        0, 97, _generator("_gen_avi", avi.make_avi),
        # RIFF header whose AVI body is garbage: the chunk walker's guard
        lambda: b"RIFF\x00\x00\x00\x00AVI corrupt-body",
    ),
    "m21_mov_frame_sample": (
        7, 89, _generator("_gen_mov", mov.make_mov),
        # valid ftyp box + truncated garbage moov: exercises the box
        # walker's structural guards, not just the magic check
        lambda: b"\x00\x00\x00\x14ftypqt  \x00\x00\x02\x00qt  \x00\x00\x00\x20moovgarbage",
    ),
    "m22_fmp4_frame_sample": (
        11, 83, _generator("_gen_fmp4", fmp4.make_fmp4),
        # a REAL fmp4 truncated mid-mdat: ftyp/moov/mvex all parse, the
        # last trun's sample slice points past EOF — the deepest
        # unreadable path in fmp4._fragments
        lambda: fmp4.make_fmp4(16, 12, 12, 3, seed=7)[:-10],
    ),
    "m23_mkv_frame_sample": (
        14, 79, _generator("_gen_mkv", mkv.make_mkv),
        # a REAL mkv truncated mid-cluster: the Segment's declared size
        # points past EOF, so the EBML walker's size-bound guard abstains
        lambda: mkv.make_mkv(16, 12, 12, 3, seed=5)[:-40],
    ),
}


def _video_corpus(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    part_slice, stripe, gen, corrupt_literal = _VIDEO_FAMILY[name]
    # every 25th part: each video is n_frames full JPEG encode+decode
    # passes — the per-row cost of m18 multiplied by the frame count
    part = _widen(load(spark, sf_dir, "part").filter(F.col("p_partkey") % 25 == part_slice))
    corrupt = F.col("p_partkey") % stripe == 0
    w = (16 + F.pmod(F.col("p_size"), F.lit(12)) * 4).cast("int")
    h = (12 + F.pmod(F.col("p_size"), F.lit(8)) * 4).cast("int")
    fps = (12 + F.pmod(F.col("p_size"), F.lit(3)) * 6).cast("int")
    n = (3 + F.pmod(F.col("p_size"), F.lit(6))).cast("int")
    seed = F.pmod(F.col("p_partkey"), F.lit(251)).cast("int")
    return part.select(
        F.col("p_partkey").alias("video_id"),
        F.when(corrupt, F.lit(corrupt_literal()))
        .otherwise(gen(w, h, fps, n, seed))
        .alias("content"),
    )


def _video_frame_sample(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..multimodal.av import sample_frames, video_metadata

    # Generation is the query's dominant cost (every frame is a full
    # JPEG encode in the generator); meta and frames both branch off
    # `vids`, and without a pin the optimizer re-expands the scan+gen
    # subtree into BOTH branches — the corpus was synthesized twice per
    # run (plan-audited: two ArrowEvalPython gen nodes over two scans).
    # The lazy localCheckpoint materializes it once and shares blocks.
    vids = _video_corpus(spark, sf_dir, name).localCheckpoint(eager=False)
    meta = vids.select("video_id", video_metadata(F.col("content")).alias("m"))
    frames = sample_frames(vids, id_col="video_id", every_n=2)
    checked = frames.select(
        "video_id",
        "frame_idx",
        _avi_frame_checks(
            F.col("frame"), F.col("width"), F.col("height"),
            F.col("video_id"), F.col("frame_idx"),
        ).alias("c"),
    )
    per_vid = checked.groupBy("video_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("frame_idx").cast("long").alias("idx_sum"),
        F.min("c.dims_ok").alias("dims_ok"),
        F.min("c.fidelity_ok").alias("fidelity_ok"),
    )
    return (
        meta.join(per_vid, "video_id", "left")
        .select(
            F.col("video_id").alias("p_partkey"),
            F.when(F.col("m.width").isNull(), F.lit("unreadable"))
            .otherwise(F.lit("ok"))
            .alias("status"),
            F.col("m.width").alias("width"),
            F.col("m.height").alias("height"),
            F.col("m.fps").alias("fps"),
            F.col("m.n_frames").alias("n_frames"),
            "n_sampled",
            "idx_sum",
            "dims_ok",
            "fidelity_ok",
        )
        .transform(pin_for_sort)
        .orderBy("p_partkey")
    )


_VIDEO_SQL = """
WITH base AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % {stripe} = 0 THEN NULL
              ELSE CAST(16 + (p_size % 12) * 4 AS INT) END AS w,
         CASE WHEN p_partkey % {stripe} = 0 THEN NULL
              ELSE CAST(12 + (p_size % 8) * 4 AS INT) END AS h,
         CAST(12 + (p_size % 3) * 6 AS INT) AS fps,
         CAST(3 + p_size % 6 AS INT) AS n
  FROM part
  WHERE p_partkey % 25 = {part_slice}
)
SELECT p_partkey,
       CASE WHEN w IS NULL THEN 'unreadable' ELSE 'ok' END AS status,
       w AS width,
       h AS height,
       CASE WHEN w IS NULL THEN NULL ELSE fps END AS fps,
       CASE WHEN w IS NULL THEN NULL ELSE n END AS n_frames,
       -- every_n = 2 samples indices 0,2,4,...: count = ceil(n/2) = k
       CAST(CASE WHEN w IS NULL THEN NULL ELSE (n + 1) // 2 END AS BIGINT)
         AS n_sampled,
       -- sum of 0+2+...+2(k-1) = k*(k-1)
       CAST(CASE WHEN w IS NULL THEN NULL
                 ELSE ((n + 1) // 2) * ((n + 1) // 2 - 1) END AS BIGINT)
         AS idx_sum,
       CASE WHEN w IS NULL THEN NULL ELSE TRUE END AS dims_ok,
       CASE WHEN w IS NULL THEN NULL ELSE TRUE END AS fidelity_ok
FROM base
ORDER BY p_partkey
"""

for _name, (_slice, _stripe, _gen, _corrupt) in _VIDEO_FAMILY.items():
    QUERIES[_name] = functools.partial(_video_frame_sample, name=_name)
    ORACLES[_name] = _VIDEO_SQL.format(stripe=_stripe, part_slice=_slice)
