"""Property tests for the image UDF surface (SURVEY.md §5.2 item 3):
max-dim cap, aspect preservation, unreadable→null-not-exception,
size bookkeeping — through the real pandas-UDF/Arrow path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from developing_img_etl_spark.multimodal import image as IMG


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, IMG.make_fake_image(648, 490)),     # under cap → resize no-op
        (2, IMG.make_fake_image(2048, 1536)),   # over cap → downscale
        (3, IMG.make_fake_image(1024, 1024)),   # exactly at cap → no-op
        (4, IMG.make_fake_image(4000, 100)),    # extreme aspect
        (5, b"\xff\xd8corrupt-not-an-image"),   # unreadable
        (6, None),                              # null input
    ]
    return spark.createDataFrame(rows, "id long, content binary")


def test_dims_and_guard(corpus):
    stats = IMG.with_image_stats(corpus).orderBy("id").collect()
    assert (stats[0].width, stats[0].height) == (648, 490)
    assert (stats[1].width, stats[1].height) == (2048, 1536)
    assert stats[4].width is None and not stats[4].readable
    assert stats[5].width is None and not stats[5].readable


def test_compress_properties(corpus):
    out = IMG.compress_pipeline(corpus)
    stats = IMG.with_image_stats(out, "content_out").orderBy("id").collect()
    by_id = {r.id: r for r in stats}
    # cap respected
    for i in (1, 2, 3, 4):
        assert max(by_id[i].width, by_id[i].height) <= IMG.MAX_DIM
    # no-op for already-small images
    assert (by_id[1].width, by_id[1].height) == (648, 490)
    # aspect preserved within truncation (±1px per SURVEY §5.2)
    assert by_id[2].width == 1024 and abs(by_id[2].height - 768) <= 1
    assert by_id[4].width == 1024 and by_id[4].height == 25
    # unreadable/null → status column, not exception (v2 semantics)
    assert by_id[5].status == "unreadable" and by_id[5].content_out is None
    assert by_id[6].status == "unreadable"
    # recompression shrinks payload (quality 65)
    assert by_id[1].size_gambar_kb < 648 * 490 / 1024


def test_size_kb_matches_length(corpus):
    stats = IMG.with_image_stats(corpus).filter(F.col("content").isNotNull())
    bad = stats.filter(
        F.abs(F.col("size_gambar_kb") - F.round(F.length("content") / 1024.0, 2)) > 1e-9
    )
    assert bad.count() == 0


# --------------------------------------------------------------------------
# BMP: the stdlib REAL raster path (multimodal/bmp.py)
# --------------------------------------------------------------------------
import numpy as np

from developing_img_etl_spark.multimodal import bmp


def test_bmp_roundtrip_bit_exact():
    arr = bmp.bmp_decode(bmp.make_bmp(37, 21, seed=3))  # odd width → row padding
    assert arr.shape == (21, 37, 3)
    assert np.array_equal(bmp.bmp_decode(bmp.bmp_encode(arr)), arr)


def test_bmp_encoded_size_formula():
    for w, h in [(1, 1), (37, 21), (640, 480), (1023, 7)]:
        assert len(bmp.make_bmp(w, h)) == bmp.bmp_encoded_size(w, h)


def test_bmp_decode_rejects_garbage():
    assert bmp.bmp_decode(b"BMtruncated") is None
    assert bmp.bmp_decode(b"not a bmp at all") is None
    # 8-bit BMPs (palette) are out of scope → None, not garbage pixels
    data = bytearray(bmp.make_bmp(4, 4))
    data[28] = 8  # biBitCount
    assert bmp.bmp_decode(bytes(data)) is None


def test_bmp_top_down_negative_height():
    import struct

    arr = bmp.bmp_decode(bmp.make_bmp(5, 4, seed=9))
    data = bytearray(bmp.bmp_encode(arr))
    h = struct.unpack_from("<i", data, 22)[0]
    struct.pack_into("<i", data, 22, -h)  # flag as top-down...
    pixel_off = struct.unpack_from("<I", data, 10)[0]
    stride = (5 * 3 + 3) & ~3
    rows = [bytes(data[pixel_off + i * stride : pixel_off + (i + 1) * stride]) for i in range(4)]
    data[pixel_off:] = b"".join(reversed(rows))  # ...and un-flip the rows
    assert np.array_equal(bmp.bmp_decode(bytes(data)), arr)


def test_nn_resize_semantics():
    arr = bmp.bmp_decode(bmp.make_bmp(8, 8))
    small = bmp.nn_resize(arr, 4, 2)
    assert small.shape == (2, 4, 3)
    # source index = floor(dst * src/dst): rows 0,4; cols 0,2,4,6
    assert np.array_equal(small, arr[[0, 4]][:, [0, 2, 4, 6]])


def test_recompress_real_pixels_end_to_end(spark):
    """M1 on REAL raster data: decode → nn-downscale → re-encode, with
    the same int(dim*scale) truncation as the reference, through the
    pandas-UDF path."""
    rows = [
        (1, bmp.make_bmp(2048, 1536, seed=1)),  # over cap → 1024×768
        (2, bmp.make_bmp(648, 490, seed=2)),    # under cap → no-op resize
        (3, bmp.make_bmp(4000, 100, seed=3)),   # extreme aspect → 1024×25
        (4, b"BMcorrupt"),                       # unreadable BMP → null
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    out = IMG.compress_pipeline(df)
    got = {r.id: r for r in IMG.with_image_stats(out, "content_out").collect()}
    assert (got[1].width, got[1].height) == (1024, 768)
    assert (got[2].width, got[2].height) == (648, 490)
    assert (got[3].width, got[3].height) == (1024, 25)
    assert got[4].status == "unreadable" and got[4].content_out is None
    # output is itself a decodable BMP whose pixels equal the local
    # decode→resize of the input (the UDF adds no nondeterminism)
    local = bmp.nn_resize(bmp.bmp_decode(rows[0][1]), 1024, 768)
    assert np.array_equal(bmp.bmp_decode(bytes(got[1].content_out)), local)
    # under-cap image: lossless re-encode → bit-identical bytes
    assert bytes(got[2].content_out) == rows[1][1]


def test_bmp_pil_cross_check():
    """When PIL is importable it must agree with the stdlib codec on
    dims and raw pixels (PIL reads BMP natively)."""
    try:
        from PIL import Image
    except ImportError:
        import pytest as _pytest

        _pytest.skip("PIL not installed in this container")
    import io

    data = bmp.make_bmp(33, 17, seed=5)
    with Image.open(io.BytesIO(data)) as im:
        assert im.size == (33, 17)
        rgb = np.asarray(im.convert("RGB"))
    ours = bmp.bmp_decode(data)[:, :, ::-1]  # BGR → RGB
    assert np.array_equal(rgb, ours)


# --------------------------------------------------------------------------
# PNG: the stdlib COMPRESSED raster path (multimodal/png.py)
# --------------------------------------------------------------------------
from developing_img_etl_spark.multimodal import png


def _png_with_filter(arr, ftype):
    """Reference forward-filter encoder (RFC 2083 §6) used to exercise
    the decoder's unfilter paths — the production encoder only emits
    filter 0."""
    import struct
    import zlib

    h, w = arr.shape[:2]
    bpp = 3
    rows = arr.reshape(h, w * 3).astype(np.int64)
    out = bytearray()
    prev = np.zeros(w * 3, np.int64)
    for y in range(h):
        cur = rows[y]
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = cur.copy()
            filt[bpp:] = (cur[bpp:] - cur[:-bpp]) % 256
        elif ftype == 2:
            filt = (cur - prev) % 256
        elif ftype == 3:
            filt = np.empty(w * 3, np.int64)
            for x in range(w * 3):
                left = cur[x - bpp] if x >= bpp else 0
                filt[x] = (cur[x] - ((left + prev[x]) >> 1)) % 256
        else:
            filt = np.empty(w * 3, np.int64)
            for x in range(w * 3):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[x] = (cur[x] - pr) % 256
        out.append(ftype)
        out += bytes(filt.astype(np.uint8))
        prev = cur

    def chunk(t, p):
        return (
            len(p).to_bytes(4, "big") + t + p
            + (zlib.crc32(t + p) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_bit_exact():
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, (21, 37, 3), dtype=np.uint8)  # odd width
    assert np.array_equal(png.png_decode(png.png_encode(arr)), arr)
    assert png.png_dims(png.png_encode(arr)) == (37, 21)


def test_png_all_filters_decode():
    rng = np.random.default_rng(13)
    arr = rng.integers(0, 256, (9, 14, 3), dtype=np.uint8)
    for f in range(5):
        got = png.png_decode(_png_with_filter(arr, f))
        assert got is not None and np.array_equal(got, arr), f"filter {f}"


def test_png_rejects_garbage_and_corruption():
    assert png.png_decode(b"\x89PNG-corrupt") is None
    assert png.png_decode(b"not a png") is None
    data = bytearray(png.make_png(8, 8, seed=2))
    assert png.png_decode(bytes(data)) is not None
    data[len(data) // 2] ^= 0xFF  # flip an IDAT byte → CRC mismatch
    assert png.png_decode(bytes(data)) is None
    # truncated mid-chunk
    assert png.png_decode(bytes(png.make_png(8, 8))[:30]) is None


def test_png_gray_and_rgba_normalize():
    import struct
    import zlib

    rng = np.random.default_rng(17)
    rgb = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)

    def encode_ct(px, ct):
        h, w, ch = px.shape
        body = np.zeros((h, 1 + w * ch), np.uint8)
        body[:, 1:] = px.reshape(h, w * ch)

        def chunk(t, p):
            return (
                len(p).to_bytes(4, "big") + t + p
                + (zlib.crc32(t + p) & 0xFFFFFFFF).to_bytes(4, "big")
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(body.tobytes()))
            + chunk(b"IEND", b"")
        )

    gray = rgb[:, :, 0:1]
    assert np.array_equal(png.png_decode(encode_ct(gray, 0)), np.repeat(gray, 3, axis=2))
    rgba = np.concatenate([rgb, np.full((6, 5, 1), 7, np.uint8)], axis=2)
    assert np.array_equal(png.png_decode(encode_ct(rgba, 6)), rgb)


def test_png_recompress_end_to_end(spark):
    """M1 through the compressed format: inflate → nn-downscale →
    deflate via the pandas-UDF path, deterministic and decodable."""
    rows = [
        (1, png.make_png(2048, 1536, seed=1)),  # over cap → 1024×768
        (2, png.make_png(100, 60, seed=2)),     # under cap → lossless re-encode
        (3, b"\x89PNG-corrupt"),                 # unreadable → null
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    out = IMG.compress_pipeline(df)
    got = {r.id: r for r in IMG.with_image_stats(out, "content_out").collect()}
    assert (got[1].width, got[1].height) == (1024, 768)
    assert (got[2].width, got[2].height) == (100, 60)
    assert got[3].status == "unreadable" and got[3].content_out is None
    local = bmp.nn_resize(png.png_decode(rows[0][1]), 1024, 768)
    assert np.array_equal(png.png_decode(bytes(got[1].content_out)), local)
    # under-cap: same pixels, and byte-identical (same encoder settings)
    assert bytes(got[2].content_out) == rows[1][1]


def test_png_pixel_checksum_sensitivity():
    arr = png.png_decode(png.make_png(16, 9, seed=4))
    base = png.pixel_checksum(arr)
    moved = arr.copy()
    moved[0, 0, 0], moved[0, 1, 0] = moved[0, 1, 0], moved[0, 0, 0]
    if not np.array_equal(moved, arr):  # gradient may coincide
        assert png.pixel_checksum(moved) != base
    bumped = arr.copy()
    bumped[3, 3, 1] = (int(bumped[3, 3, 1]) + 1) % 256
    assert png.pixel_checksum(bumped) != base


def test_png_pil_cross_check():
    """When PIL is importable it must agree with the stdlib codec bit
    for bit in both directions (PIL reads/writes PNG natively)."""
    try:
        from PIL import Image
    except ImportError:
        import pytest as _pytest

        _pytest.skip("PIL not installed in this container")
    import io

    data = png.make_png(33, 17, seed=5)
    with Image.open(io.BytesIO(data)) as im:
        assert im.size == (33, 17)
        theirs = np.asarray(im.convert("RGB"))
    assert np.array_equal(theirs, png.png_decode(data))
    # and our decoder must read PIL's own (filtered) output
    buf = io.BytesIO()
    Image.fromarray(theirs).save(buf, "PNG")
    assert np.array_equal(png.png_decode(buf.getvalue()), theirs)


# --------------------------------------------------------------------------
# audio/video plumbing (multimodal/av.py)
# --------------------------------------------------------------------------
def test_audio_metadata_and_guard(spark):
    from developing_img_etl_spark.multimodal.av import audio_metadata, make_fake_audio

    rows = [
        (1, make_fake_audio(16000, 32000)),
        (2, None),
        (3, b"not audio"),
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    out = {r.id: r for r in df.select("id", audio_metadata("content").alias("m")).select("id", "m.*").collect()}
    assert (out[1].sample_rate, out[1].n_samples, out[1].duration_s) == (16000, 32000, 2.0)
    assert out[2].sample_rate is None and out[3].sample_rate is None


def test_audio_frame_energy_shape(spark):
    from developing_img_etl_spark.multimodal.av import audio_frame_energy, make_fake_audio

    df = spark.createDataFrame(
        [(1, make_fake_audio(8000, 3000, seed=b"q"))], "id long, content binary"
    )
    e = df.select(audio_frame_energy("content").alias("e")).collect()[0].e
    # 3000-byte payload -> 3 frames of 1024/1024/952; constant seed byte
    assert len(e) == 3
    assert all(v == float(ord("q")) for v in e)


def test_video_frame_sampling_composes_with_image_udfs(spark):
    from developing_img_etl_spark.multimodal.av import make_fake_video, sample_frames
    from developing_img_etl_spark.multimodal.image import image_dims

    rows = [(1, make_fake_video(64, 48, 24, 5)), (2, b"junk"), (3, None)]
    vids = spark.createDataFrame(rows, "video_id long, content binary")
    frames = sample_frames(vids, every_n=2)
    got = frames.select("video_id", "frame_idx", image_dims("frame").alias("d")).collect()
    # video 1: frames 0,2,4; corrupt/null videos contribute zero rows
    assert sorted((r.video_id, r.frame_idx) for r in got) == [(1, 0), (1, 2), (1, 4)]
    assert all((r.d.width, r.d.height) == (64, 48) for r in got)


# --------------------------------------------------------------------------
# GIF codec (multimodal/gif.py) — LZW + palette, the third compression
# family through the pixel pipeline.
# --------------------------------------------------------------------------
def test_gif_lzw_roundtrip():
    import numpy as np

    from developing_img_etl_spark.multimodal.gif import _lzw_decode, _lzw_encode

    rng = np.random.RandomState(0)
    for data in [
        b"",
        b"\x00",
        bytes(range(64)) * 200,  # dictionary growth across code widths
        bytes(rng.randint(0, 64, 100_000, dtype=np.uint8)),  # forces 4096 reset
        bytes(rng.randint(0, 4, 5_000, dtype=np.uint8)),
    ]:
        assert bytes(_lzw_decode(6, _lzw_encode(6, data))) == data
    assert bytes(_lzw_decode(2, _lzw_encode(2, bytes([0, 1, 2, 3] * 500)))) == bytes(
        [0, 1, 2, 3] * 500
    )


def test_gif_roundtrip_bit_exact_palette_sizes():
    import numpy as np

    from developing_img_etl_spark.multimodal.gif import gif_decode, gif_dims, gif_encode

    rng = np.random.RandomState(1)
    for w, h, nc in [(1, 1, 2), (7, 5, 16), (64, 48, 64), (200, 3, 256), (33, 33, 255)]:
        pal = rng.randint(0, 256, (nc, 3), dtype=np.uint8)
        arr = pal[rng.randint(0, nc, (h, w))]
        data = gif_encode(arr)
        assert gif_dims(data) == (w, h)
        assert np.array_equal(gif_decode(data), arr)


def test_gif_encode_rejects_true_color():
    import numpy as np
    import pytest

    from developing_img_etl_spark.multimodal.gif import gif_encode

    # a 32x32 gradient with >256 distinct colors must refuse, not quantize
    y, x = np.mgrid[0:32, 0:32]
    arr = np.stack([x * 8 % 256, y * 8 % 256, (x + y) % 256], axis=2).astype(np.uint8)
    with pytest.raises(ValueError):
        gif_encode(arr)


def test_gif_guards():
    from developing_img_etl_spark.multimodal.gif import gif_decode, gif_dims, make_gif

    good = make_gif(20, 10, seed=3)
    assert gif_decode(b"GIF89acorrupt") is None  # m17's corrupt seed
    assert gif_decode(good[:30]) is None  # truncated mid-color-table
    assert gif_decode(good[:-5]) is None  # truncated data sub-blocks
    assert gif_decode(b"NOPE") is None and gif_dims(b"NOPE") is None
    # interlace flag set -> unreadable by contract (PIL territory).
    # Image descriptor sits right after the global color table:
    # 13-byte header/LSD + 3 * 2^(gct_bits+1).
    ba = bytearray(good)
    pos = 13 + 3 * (2 << (ba[10] & 0x07))
    assert ba[pos] == 0x2C
    ba[pos + 9] |= 0x40
    assert gif_decode(bytes(ba)) is None


def test_gif_make_formula_matches_oracle_arithmetic():
    import numpy as np

    from developing_img_etl_spark.multimodal.gif import gif_decode, make_gif

    w, h, seed = 32, 24, 5
    arr = gif_decode(make_gif(w, h, seed=seed))
    c = (np.arange(w)[None, :] * 7 + np.arange(h)[:, None] * 13 + seed) % 64
    exp = np.stack([(c * 3 + 11) % 256, (c * 5 + 1) % 256, (c * 7 + 3) % 256], axis=2)
    assert np.array_equal(arr, exp)


def test_gif_recompress_end_to_end(spark):
    """Real LZW pixels through the compress UDF: an over-cap GIF lands
    at the reference's truncation dims and decodes to the nn-gathered
    pixels of the source."""
    import numpy as np

    from developing_img_etl_spark.multimodal import bmp as bmp_mod
    from developing_img_etl_spark.multimodal.gif import gif_decode, make_gif
    from developing_img_etl_spark.multimodal.image import compress_pipeline

    src = make_gif(1500, 8, seed=9)
    df = spark.createDataFrame([(1, bytearray(src))], "id long, content binary")
    out = compress_pipeline(df).select("status", "content_out").collect()[0]
    assert out.status == "ok"
    arr = gif_decode(bytes(out.content_out))
    assert arr.shape == (max(int(8 * (1024 / 1500.0)), 1), 1024, 3)
    expected = bmp_mod.nn_resize(gif_decode(src), 1024, max(int(8 * (1024 / 1500.0)), 1))
    assert np.array_equal(arr, expected)


def test_gif_pil_cross_check():
    """When PIL is importable it must agree with the stdlib codec on
    dims and pixels in both directions (PIL reads/writes GIF natively)."""
    try:
        from PIL import Image
    except Exception:
        import pytest as _pytest

        _pytest.skip("PIL not installed in this container")
    import io

    import numpy as np

    from developing_img_etl_spark.multimodal.gif import gif_decode, gif_encode, make_gif

    data = make_gif(40, 30, seed=2)
    with Image.open(io.BytesIO(data)) as im:
        assert im.size == (40, 30)
        pil_arr = np.asarray(im.convert("RGB"))
    assert np.array_equal(pil_arr, gif_decode(data))
    # PIL-written GIF read by our decoder
    buf = io.BytesIO()
    with Image.open(io.BytesIO(data)) as im:
        im.save(buf, "GIF")
    ours = gif_decode(buf.getvalue())
    if ours is not None:  # PIL may interlace/animate; only compare when in scope
        assert np.array_equal(ours, pil_arr)


def test_gif_review_hardening():
    """Round-4 review findings: junk-with-magic yields no dims, and
    sub-rectangle / animated / transparent GIFs guard to None instead
    of decoding to wrong or truncated pixels."""
    import struct

    import numpy as np

    from developing_img_etl_spark.multimodal.gif import gif_decode, gif_dims, make_gif

    # junk after a valid magic must not read its tail as dimensions
    assert gif_dims(b"GIF89acorrupt") is None

    good = make_gif(8, 8, seed=1)
    pal_end = 13 + 3 * (2 << (good[10] & 0x07))
    desc = bytearray(good)

    # sub-rectangle frame: shrink the descriptor to 4x4 at (2,2)
    struct.pack_into("<HHHH", desc, pal_end + 1, 2, 2, 4, 4)
    assert gif_decode(bytes(desc)) is None

    # animated: a second image descriptor after the first frame
    frame = good[pal_end:-1]  # descriptor..data, no trailer
    assert gif_decode(good[:-1] + frame + b"\x3b") is None

    # NETSCAPE application extension (animation loop) before the frame
    app = b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    assert gif_decode(good[:pal_end] + app + good[pal_end:]) is None

    # graphic control extension with the transparency flag set
    gce_t = b"\x21\xf9\x04\x01\x00\x00\x00\x00"
    assert gif_decode(good[:pal_end] + gce_t + good[pal_end:]) is None
    # ... and with it clear, the image still decodes
    gce_o = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    arr = gif_decode(good[:pal_end] + gce_o + good[pal_end:])
    assert arr is not None and np.array_equal(arr, gif_decode(good))


def test_weighted_topk_null_weight_does_not_win(spark):
    """Review finding: NULL weights must coalesce to 1 draw, not produce
    NULL rank keys that sort first and hijack the sample."""
    from pyspark.sql import functions as F

    from developing_img_etl_spark.operators.sampling import weighted_topk_sample

    rows = [(i, None if i < 50 else 8) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w int")
    picked = weighted_topk_sample(df, "id", "w", 50, seed=5)
    ids = [r.id for r in picked.select("id").collect()]
    assert len(ids) == 50
    # with 8 draws vs 1, weight-8 rows dominate; null rows must behave
    # like weight-1, not occupy the whole sample
    assert sum(1 for i in ids if i < 50) < 25
    # and equal treatment: null weight ranks exactly like weight 1
    one = weighted_topk_sample(
        df.select("id", F.lit(1).alias("w")), "id", "w", 50, seed=5
    )
    nul = weighted_topk_sample(
        df.select("id", F.lit(None).cast("int").alias("w")), "id", "w", 50, seed=5
    )
    assert sorted(r.id for r in one.collect()) == sorted(r.id for r in nul.collect())


def test_phash_separation_and_robustness():
    """pHash contract on a controlled corpus: re-encoded copies stay
    within the Hamming threshold, structurally distinct images stay
    outside it, identical pixels hash identically."""
    import numpy as np

    from developing_img_etl_spark.multimodal.jpeg import jpeg_decode, jpeg_encode
    from developing_img_etl_spark.multimodal.phash import (
        hamming64,
        make_textured,
        phash64,
    )

    # seeds 0..29 span 30 DISTINCT structure classes (fx = s%5, fy = (s//5)%7)
    hashes = {}
    for s in range(30):
        img = make_textured(64, 48, s)
        h80 = phash64(jpeg_decode(jpeg_encode(img, 80)))
        h35 = phash64(jpeg_decode(jpeg_encode(img, 35)))
        assert hamming64(h80, h35) <= 10, s  # heavy re-encode: same picture
        hashes[s] = h80
    cross = [
        hamming64(hashes[a], hashes[b])
        for a in range(30)
        for b in range(a + 1, 30)
    ]
    assert min(cross) > 10  # distinct structures never collide
    # identical pixels → identical hash regardless of container
    img = make_textured(40, 32, 7)
    assert phash64(img) == phash64(img.copy())
    assert isinstance(phash64(np.zeros((5, 5), dtype=np.uint8)), int)


def test_m19_phash_dedup_ground_truth(spark, sf_dir):
    """Declared-query recall against the constructed ground truth:
    every low-quality re-encode must pair with its original (allowing
    a small miss rate for tiny images), and every cross-id pair must
    be a genuine corpus duplicate — same generator params (the
    seed/size collision the corpus really contains) or same structure
    class."""
    import duckdb

    from developing_img_etl_spark.queries.multimodal import m19_phash_dedup

    rows = m19_phash_dedup(spark, sf_dir).collect()
    truth = {
        r[0]: (r[1], r[2], r[3])
        for r in duckdb.sql(
            f"""SELECT p_partkey, 24 + (p_size % 40) * 2,
                       20 + (p_size % 24) * 2, p_partkey % 251
                FROM '{sf_dir}/part.parquet' WHERE p_partkey % 20 = 0"""
        ).fetchall()
    }
    n_copies = sum(1 for pk in truth if pk % 3 == 0)
    found_copy = sum(
        1 for r in rows if r.id_a == r.id_b and {r.var_a, r.var_b} == {"o", "c"}
    )
    assert found_copy >= max(int(0.9 * n_copies), 1)
    for r in rows:
        if r.id_a != r.id_b:
            wa, ha, sa = truth[r.id_a]
            wb, hb, sb = truth[r.id_b]
            cls = lambda s: (s % 5, (s // 5) % 7)  # noqa: E731
            assert (wa, ha, sa) == (wb, hb, sb) or cls(sa) == cls(sb), r


# --------------------------------------------------------------------------
# compress_pipeline's plan: the codec runs once per joined row, after the
# join, spread over the session's cores
# --------------------------------------------------------------------------
def _plan_nodes(spark, df, name):
    """The nodes called `name` in df's executed plan, through adaptive
    query stages (the plan as run, so SQL metrics are filled in)."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    found, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == name:
            found.append(node)
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            todo.extend(conv.asJava(node.children()))
    return found


@pytest.fixture(scope="module")
def joined_photos(spark):
    """Records joined to staged binary rows, the weekly pipeline's
    shape: 2 x parallelism + 1 photos (the last one corrupt) plus staged
    files no record names. Both sides sit in one partition, as the
    week's small join does after AQE coalescing."""
    n = 2 * spark.sparkContext.defaultParallelism + 1
    payloads = [bmp.make_bmp(1100 + i, 6, seed=i) for i in range(n - 1)] + [b"BMcorrupt"]
    records = spark.createDataFrame(
        [(i, f"p{i}.bmp") for i in range(n)], "id long, file string"
    ).coalesce(1)
    staged = spark.createDataFrame(
        [(f"p{i}.bmp", p) for i, p in enumerate(payloads)]
        + [(f"other{i}.bmp", bmp.make_bmp(40, 4, seed=i)) for i in range(5)],
        "file string, content binary",
    ).coalesce(1)
    return records.join(staged, "file")


def test_compress_pipeline_codec_once_after_join(spark, joined_photos):
    n = joined_photos.count()
    ok = (
        IMG.compress_pipeline(joined_photos)
        .filter(F.col("status") == "ok")
        .withColumn("pid", F.spark_partition_id())
    )
    rows = ok.collect()
    # the status filter stays above the codec: one evaluation per joined
    # row, none on the staged scan
    evals = _plan_nodes(spark, ok, "ArrowEvalPython")
    assert len(evals) == 1
    assert evals[0].metrics().apply("pythonNumRowsReceived").value() == n
    # spread over the cores, even though the join ran in one partition
    parallelism = spark.sparkContext.defaultParallelism
    assert len({r.pid for r in rows}) == min(parallelism, len(rows))
    # the barrier copy encodes exactly what the public UDF does
    public = joined_photos.select("id", IMG.compress_image("content").alias("out")).collect()
    assert {r.id: bytes(r.content_out) for r in rows} == {
        r.id: bytes(r.out) for r in public if r.out is not None
    }
    assert len(rows) == n - 1
    # and the public UDF is still deterministic
    assert IMG.compress_image._unwrapped.deterministic


def test_compress_pipeline_keeps_an_existing_spread(spark):
    """Rows that already leave a repartition over the cores are not
    exchanged a second time."""
    n = spark.sparkContext.defaultParallelism
    df = spark.createDataFrame(
        [(i, bmp.make_bmp(20, 4, seed=i)) for i in range(8)], "id long, content binary"
    )
    out = IMG.compress_pipeline(df.repartition(n).select("id", "content"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1
    assert {r.status for r in out.collect()} == {"ok"}


def test_compress_pipeline_keeps_unreadable_rows(joined_photos):
    statuses = {r.id: r.status for r in IMG.compress_pipeline(joined_photos).collect()}
    n = len(statuses)
    assert statuses[n - 1] == "unreadable"
    assert all(s == "ok" for i, s in statuses.items() if i != n - 1)


# ------------------------------------------------ the m12-m18 image family
from developing_img_etl_spark.multimodal import gif, jpeg  # noqa: E402
from developing_img_etl_spark.queries import multimodal as MM  # noqa: E402

_OWN_DECODE = {
    "m12_bmp_compress": bmp.bmp_decode,
    "m14_png_compress": png.png_decode,
    "m17_gif_compress": gif.gif_decode,
    "m18_jpeg_compress": jpeg.jpeg_decode,
}


@pytest.mark.parametrize("name", list(MM._IMAGE_FAMILY))
def test_image_corrupt_literal_abstains(name):
    """Each m12-m18 corrupt literal opens like its codec, so it selects
    that codec's `_CODECS` row; the row's decoder rejects it, and the
    compress path makes it unreadable (a null payload)."""
    literal = MM._IMAGE_FAMILY[name][4]()
    row = IMG._codec(literal)
    assert row is not None and row[2] is _OWN_DECODE[name]
    assert row[2](literal) is None
    assert IMG._recompress(literal, IMG.MAX_DIM, IMG.JPEG_QUALITY) is None


def test_fidelity_gate_matches_own_photo_only():
    """m18's gate, shared with the m20-m23 frame checks: an over-cap
    still (Q80, downscaled and re-encoded at Q65) and a video frame (one
    Q80 encode) each pass against their own photo and fail against
    another corpus photo; a payload that does not decode fails."""
    from developing_img_etl_spark.multimodal.avi import avi_frames, make_avi

    w, h, seed = 1250, 8, 40
    still = IMG._recompress(
        jpeg.jpeg_encode(jpeg.make_photo(w, h, seed), MM._JPEG_GEN_QUALITY),
        IMG.MAX_DIM,
        IMG.JPEG_QUALITY,
    )
    assert jpeg.jpeg_dims(still) == (1024, 6)
    vid, idx, fw, fh = 7, 2, 28, 20
    frame = avi_frames(make_avi(fw, fh, 12, 3, seed=vid))[idx]
    frame_seed = (vid + 31 * idx) % 251
    for payload, pw, ph, s in ((still, w, h, seed), (frame, fw, fh, frame_seed)):
        assert MM._matches_photo(payload, pw, ph, s)
        assert not MM._matches_photo(payload, pw, ph, (s + 125) % 251)
    assert not MM._matches_photo(b"\xff\xd8-corrupt-jpeg-body", w, h, seed)


def test_fidelity_gate_rejects_neighbour_seed():
    """A neighbour seed's photo differs from the seed's own by less
    than the error bound, so the bound alone let a seed+1 payload pass;
    the gate must name the own seed only."""
    w, h, seed = 1250, 8, 40
    still = IMG._recompress(
        jpeg.jpeg_encode(jpeg.make_photo(w, h, seed + 1), MM._JPEG_GEN_QUALITY),
        IMG.MAX_DIM,
        IMG.JPEG_QUALITY,
    )
    assert MM._matches_photo(still, w, h, seed + 1)
    assert not MM._matches_photo(still, w, h, seed)
    # the gate's seven photos: the seed's own, shifted per seed step
    photo = jpeg.make_photo(w, h, seed)
    assert all(
        np.array_equal(photo + shift, jpeg.make_photo(w, h, seed + d))
        for d, shift in zip((0, *MM._NEIGHBOUR_SEEDS), MM._SEED_SHIFTS)
    )
