"""Canonical schemas + test-table loaders.

The reference stores one logical table: an (N, dim) float32 matrix plus a
per-row metadata dict (reference: vervectordb/__init__.py:228-231). Our
canonical Spark schema hoists the hot metadata fields into typed columns and
keeps the open bag as a map (SURVEY.md §1.2):

    vectors(vec_id, embedding ARRAY<FLOAT>, metadata MAP<STRING,STRING>,
            text, category, cluster_id, pq_code ARRAY<TINYINT>)

Test fixtures (TESTDATA.md) are TPC-H-ish parquet tables plus `embeddings`
(the vector store analogue) and `documents` (the text-corpus analogue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Canonical vector-store schema (SURVEY.md §1.2). `embedding` elements are
# non-null float32; dim is enforced at ingest (reference dim check:
# vervectordb/__init__.py:243-245).
VECTORS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.StringType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("cluster_id", T.IntegerType(), True),
        T.StructField("pq_code", T.ArrayType(T.ByteType(), False), True),
    ]
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan → vectorized columnar reader;
    filters/projections placed on the result are pushed into the scan."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events fixture, normalizing `ts` to epoch-nanos int64 —
    the parity-safe representation: all window/bucket/gap arithmetic stays
    exact 64-bit integer math on both engines (epoch-ns ≈ 1.7e18 exceeds
    double's 2^53 exact range, so NEVER divide it as double; use `div`).

    Fixture generations differ: parquet TIMESTAMP(NANOS) reads as int64
    directly via `nanosAsLong` (Spark's vectorized reader rejects NANOS
    otherwise); TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
    TIMESTAMP_NTZ and is converted via unix_micros under a pinned UTC
    session zone (ntz→ltz is zone-sensitive; UTC makes it the identity the
    DuckDB oracle's epoch_us(ts) computes)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType
    if not isinstance(ts_type, T.LongType):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return df
