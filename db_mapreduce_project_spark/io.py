"""Fixture table loaders (TESTDATA.md / FIXTURES.md).

One parquet file per table per scale factor.  `spark.read.parquet`
is the engine's FileSourceScan: Catalyst pushes filters and prunes
columns into the scan automatically, replacing the reference's
read-everything `file_splite` (maprdeuce.cpp:134-179).
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

# Dimension tables small enough to broadcast at ANY scale factor
# (region: 5 rows, nation: 25 rows at every SF).
BROADCAST_DIMS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table.  Sets UTC timezone on the session for
    deterministic timestamp handling (idempotent).

    `events.ts` has shipped under several parquet encodings across
    fixture generations; normalize ALL of them to a session-tz
    TIMESTAMP (session tz is pinned UTC) so every downstream
    operator — epoch arithmetic, `withWatermark`, window RANGE
    frames — sees one type with values identical to the DuckDB
    oracle's naive timestamps:

    - TIMESTAMP(NANOS): Spark cannot read it natively; read as raw
      nanos (spark.sql.legacy.parquet.nanosAsLong) and truncate to
      microseconds — the same truncation DuckDB applies on read.
    - timestamp[us] no-tz → Spark 4 TIMESTAMP_NTZ: cast to
      TIMESTAMP under the UTC session tz (a no-op on the stored
      micros, but unlocks `withWatermark` and epoch casts, which
      both reject NTZ)."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer div keeps full precision (ns values exceed
            # double's 2^53 mantissa — never divide as float)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so spark.sql()
    queries can reference them by name (mirrors the driver's DuckDB
    view registration)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
