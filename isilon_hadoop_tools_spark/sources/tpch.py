"""Scans over the driver's TPC-H-ish parquet testdata.

Maps the reference's pushdown-capable scan surface
(``onefs.py:1343-1359``: caller-supplied projection ``key`` and
predicate ``filter_`` applied during iteration) onto Spark parquet
scans, where Catalyst performs column pruning and predicate pushdown
into the file format for free.
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-TZ microsecond timestamp,
    whatever physical type the parquet stored.

    The testdata has shipped ``ts`` as both ``TIMESTAMP(NANOS)`` (read
    as a nanos long under ``nanosAsLong``) and plain ``timestamp[us]``
    (read as TIMESTAMP_NTZ), so branch on the *loaded* schema instead
    of assuming one:

    - ``LongType`` → nanos epoch; integer ``div`` (not ``/``: double
      division of an ns epoch loses ulp precision and lands one µs
      off) then ``timestamp_micros`` — the same µs truncation DuckDB
      applies, so oracle comparisons line up.
    - ``TimestampNTZType`` → cast to session-TZ timestamp (session TZ
      is pinned to UTC, so the wall-clock value is unchanged and
      matches DuckDB's naive read).
    - already ``TimestampType`` → pass through.
    """
    t = df.schema["ts"].dataType
    if isinstance(t, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(t, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Parquet scan of one testdata table (lazy; pushdown-capable)."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    # The caller may hand us a vanilla session (the driver harness
    # does); pin the one conf oracle comparability depends on.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # harmless when ts is already a timestamp; required for nanos files
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return normalize_events_ts(df)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
