"""Table loading for the driver's synthetic parquet tables.

Tables (one parquet per table under an sf dir, see /root/repo/TESTDATA.md):
    region nation customer supplier part orders lineitem events
    documents embeddings
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# the confs that change the schema Spark infers from a Parquet footer
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# inferred schema per (file version, inference confs): a pure memo, since
# the key determines the value
_INFERRED_SCHEMAS: dict[tuple, T.StructType] = {}


def read_parquet_file(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing the schema Spark inferred for
    an unchanged single file.  Inference runs a Spark job (about 50 ms in a
    warm session); a read with the schema given runs none.  A file is
    unchanged while its real path, inode, size and mtime are; a different
    value of any Parquet inference conf infers again.  Directories keep
    plain inference."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (
        os.path.realpath(path),
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        tuple(spark.conf.get(c) for c in _PARQUET_INFERENCE_CONFS),
    )
    schema = _INFERRED_SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _INFERRED_SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), unreadable by Spark
        # without this legacy conf; runtime-settable, so self-defend here —
        # the session may be driver-provided without our session defaults
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet_file(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is parquet TIMESTAMP(NANOS): with nanosAsLong it arrives as a
    # raw long of ns-since-epoch — convert to a microsecond timestamp. Must
    # be integer division (`div`): epoch-ns (~1.7e18) exceeds 2^53, so a
    # float divide rounds the low microsecond bits on ~1.5% of rows.
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Newer testdata writes ts as plain parquet TIMESTAMP(MICROS) without
    # isAdjustedToUTC, which Spark 4 reads as TIMESTAMP_NTZ. Event-time
    # operators (watermarks) require TIMESTAMP; the NTZ→LTZ cast interprets
    # the wall clock in the session timezone and date_format renders it back
    # in the same zone, so formatted output round-trips identically to
    # DuckDB's naive TIMESTAMP regardless of what the session zone is.
    if name == "events" and isinstance(
        df.schema["ts"].dataType, T.TimestampNTZType
    ):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so spark.sql() can reference it."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
