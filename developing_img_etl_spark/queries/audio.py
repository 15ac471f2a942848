"""M24 — REAL audio container metadata #2: MPEG-1 Layer III (MP3)
frame-chain walk (multimodal/mp3.py), the second audio container
family beside RIFF/WAVE (m16).

Same m20-m23 container discipline: a deterministic REAL byte corpus is
generated map-side from a disjoint ``part`` slice (% 25 == 19; m20/21/
22/23 hold 0/7/11/14), parsed back by the real walker, and every
emitted field — rate/bitrate from the header tables, frame count,
integer duration, the ID3v2 skip, and the exact stream byte count
including the per-frame padding bits — is oracle-reproduced
arithmetically in DuckDB. Corrupt stripe (% 73) is a REAL mp3
truncated mid-frame: the walker's frame-length bound guard must
abstain (status 'unreadable'), never undercount.

Scale shape (100 TB): generation and parse are one map-side
pandas-UDF pass each over the slice — binary never shuffles; the
result is row-per-file metadata (the schema a real ingest would stage
before any audio decode fan-out).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..catalog import load
from ..operators.dedup import _widen
from ._pin import pin_for_sort


@pandas_udf(T.BinaryType())
def _gen_mp3(
    sr_idx: pd.Series,
    br_idx: pd.Series,
    n_frames: pd.Series,
    seed: pd.Series,
    id3_size: pd.Series,
) -> pd.Series:
    from ..multimodal.mp3 import make_mp3

    return pd.Series(
        [
            None
            if pd.isna(a)
            else make_mp3(
                int(a), int(b), int(n), int(s),
                with_id3=int(t) > 0, id3_size=int(t),
            )
            for a, b, n, s, t in zip(sr_idx, br_idx, n_frames, seed, id3_size)
        ],
        dtype=object,
    )


@pandas_udf(
    T.StructType(
        [
            T.StructField("sample_rate", T.LongType()),
            T.StructField("bitrate_kbps", T.LongType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("has_id3", T.BooleanType()),
            T.StructField("stream_bytes", T.LongType()),
        ]
    )
)
def _mp3_meta(content: pd.Series) -> pd.DataFrame:
    from ..multimodal.mp3 import mp3_meta

    meta = content.map(lambda b: mp3_meta(bytes(b)) if b is not None else None)
    return pd.DataFrame(
        {
            "sample_rate": meta.map(lambda m: m[0] if m else None),
            "bitrate_kbps": meta.map(lambda m: m[1] if m else None),
            "n_frames": meta.map(lambda m: m[2] if m else None),
            "duration_ms": meta.map(lambda m: m[3] if m else None),
            "has_id3": meta.map(lambda m: m[4] if m else None),
            "stream_bytes": meta.map(lambda m: m[5] if m else None),
        }
    )


# MPEG-1 Layer III table indices for the parameter grid: bitrates
# 64/96/128/192 kbps sit at header indices 5/7/9/11; sample rates
# 44100/48000/32000 at indices 0/1/2 (multimodal/mp3.py tables).
_BR_IDX = (5, 7, 9, 11)


def _mp3_corrupt_literal() -> bytes:
    """A REAL mp3 truncated mid-frame: the last frame's declared
    length lands past EOF, so the walker's bound guard abstains."""
    from ..multimodal.mp3 import make_mp3

    whole = make_mp3(0, 9, 4, seed=5)
    return whole[: len(whole) - 25]


def _mp3_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _widen(load(spark, sf_dir, "part").filter(F.col("p_partkey") % 25 == 19))
    corrupt = F.col("p_partkey") % 73 == 0
    sr_idx = F.pmod(F.col("p_size"), F.lit(3)).cast("int")
    br_idx = (
        F.element_at(
            F.array(*[F.lit(i) for i in _BR_IDX]),
            (F.pmod(F.col("p_size"), F.lit(4)) + 1).cast("int"),
        )
    ).cast("int")
    n = (5 + F.pmod(F.col("p_size"), F.lit(9))).cast("int")
    seed = F.pmod(F.col("p_partkey"), F.lit(251)).cast("int")
    # odd p_size rows carry an ID3v2 tag the walker must skip
    id3 = (
        F.when(F.pmod(F.col("p_size"), F.lit(2)) == 1,
               40 + F.pmod(F.col("p_size"), F.lit(5)) * 7)
        .otherwise(F.lit(0))
    ).cast("int")
    return part.select(
        F.col("p_partkey").alias("audio_id"),
        F.when(corrupt, F.lit(_mp3_corrupt_literal()))
        .otherwise(_gen_mp3(sr_idx, br_idx, n, seed, id3))
        .alias("content"),
    )


def m24_mp3_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    audio = _mp3_corpus(spark, sf_dir)
    meta = audio.select("audio_id", _mp3_meta(F.col("content")).alias("m"))
    return pin_for_sort(
        meta.select(
            F.col("audio_id").alias("p_partkey"),
            F.when(F.col("m.sample_rate").isNull(), F.lit("unreadable"))
            .otherwise(F.lit("ok"))
            .alias("status"),
            F.col("m.sample_rate").alias("sample_rate"),
            F.col("m.bitrate_kbps").alias("bitrate_kbps"),
            F.col("m.n_frames").alias("n_frames"),
            F.col("m.duration_ms").alias("duration_ms"),
            F.col("m.has_id3").alias("has_id3"),
            F.col("m.stream_bytes").alias("stream_bytes"),
        )
    ).orderBy("p_partkey")


# the oracle re-derives every walked field from the generation
# arithmetic: rate/bitrate table lookups, integer duration, and the
# exact stream byte count = n * floor(144*br/sr) + n_padded, where the
# per-frame padding bit is (frame_idx + seed) % 2 so n_padded depends
# only on the seed's parity.
M24_SQL = """
WITH base AS (
  SELECT p_partkey,
         p_partkey % 73 = 0 AS corrupt,
         CASE p_size % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                         ELSE 32000 END AS sr,
         CASE p_size % 4 WHEN 0 THEN 64 WHEN 1 THEN 96 WHEN 2 THEN 128
                         ELSE 192 END AS br,
         5 + p_size % 9 AS n,
         p_partkey % 251 AS seed,
         p_size % 2 = 1 AS has_id3
  FROM part
  WHERE p_partkey % 25 = 19
)
SELECT p_partkey,
       CASE WHEN corrupt THEN 'unreadable' ELSE 'ok' END AS status,
       CAST(CASE WHEN corrupt THEN NULL ELSE sr END AS BIGINT) AS sample_rate,
       CAST(CASE WHEN corrupt THEN NULL ELSE br END AS BIGINT) AS bitrate_kbps,
       CAST(CASE WHEN corrupt THEN NULL ELSE n END AS BIGINT) AS n_frames,
       CAST(CASE WHEN corrupt THEN NULL
                 ELSE n * 1152 * 1000 // sr END AS BIGINT) AS duration_ms,
       CASE WHEN corrupt THEN NULL ELSE has_id3 END AS has_id3,
       CAST(CASE WHEN corrupt THEN NULL
                 ELSE n * (144 * br * 1000 // sr)
                      + CASE WHEN seed % 2 = 0 THEN n // 2
                             ELSE (n + 1) // 2 END
            END AS BIGINT) AS stream_bytes
FROM base
ORDER BY p_partkey
"""

QUERIES = {"m24_mp3_metadata": m24_mp3_metadata}
ORACLES = {"m24_mp3_metadata": M24_SQL}
