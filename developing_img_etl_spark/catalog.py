"""Testdata catalog: explicit schemas + loaders.

SURVEY.md §1.3: the reference uses implicit/positional schemas
(hard-coded column-name string literals, `/root/reference/test.py:129-130`);
the engine uses explicit StructType everywhere — a scan whose parquet
footer disagrees with the declared schema should fail loudly at plan
time, not silently at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Map the raw on-disk events ``ts`` to session-tz TIMESTAMP.

    events.parquet stores ts as TIMESTAMP(NANOS). Spark <4.1 can only
    read that through the legacy INT64 conf (we then truncate nanos to
    micros — the same truncation DuckDB applies); Spark 4.1+ ignores
    the conf and reads it natively as TIMESTAMP_NTZ, already
    micro-truncated. Either raw form normalizes to one TIMESTAMP
    column (session tz is pinned to UTC in session.py, so the NTZ cast
    is instant-preserving)."""
    from pyspark.sql import functions as F

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_RAW_TS_TYPE_CACHE: dict[tuple[str, str], T.DataType] = {}


def raw_events_ts_type(spark: SparkSession, sf_dir: str) -> T.DataType:
    """The type Spark reads events.ts as BEFORE normalization — what a
    readStream schema must declare (LongType on <4.1, TIMESTAMP_NTZ on
    4.1+).

    SIDE EFFECT (ADVICE r3): sets spark.sql.legacy.parquet.nanosAsLong
    on the session — required for the probe itself on <4.1, and the
    session always wants it on anyway (load() sets the same conf for
    every events read). The probed type is cached per (session, sf_dir)
    so repeated stream constructions don't re-read the footer."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _RAW_TS_TYPE_CACHE.get(key)
    if cached is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        cached = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
        _RAW_TS_TYPE_CACHE[key] = cached
    return cached


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; validates the footer schema matches."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    expected = {f.name for f in TABLES[name].fields}
    actual = set(df.columns)
    if expected != actual:
        raise ValueError(f"{name}: schema drift — expected {sorted(expected)}, got {sorted(actual)}")
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL surface."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
