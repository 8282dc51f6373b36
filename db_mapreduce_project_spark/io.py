"""Fixture table loaders (TESTDATA.md / FIXTURES.md).

One parquet file per table per scale factor.  `spark.read.parquet`
is the engine's FileSourceScan: Catalyst pushes filters and prunes
columns into the scan automatically, replacing the reference's
read-everything `file_splite` (maprdeuce.cpp:134-179).

Like `file_splite`, a read runs no separate schema pass.  Given no
schema, `spark.read.parquet` infers one with a Spark job
(`mergeSchemasInParallel`) while the query is still being built;
:func:`parquet_schema` instead reads the footer on the driver with
pyarrow and maps it to the StructType Spark would infer.  It maps an
allow-list of encodings only and falls back to Spark's inference for
anything else (INT96, decimal, dictionary-typed or nested columns,
Spark-written files, non-local, missing or empty paths).
"""

from __future__ import annotations

import json
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

# Parquet leaf encodings (physical type, logical type) that Spark reads
# as the plain type of pyarrow's view of the column, keyed to that view.
_PLAIN_LEAVES = {
    ("BOOLEAN", "NONE"): "bool",
    ("INT32", "NONE"): "int32",
    ("INT64", "NONE"): "int64",
    ("FLOAT", "NONE"): "float",
    ("DOUBLE", "NONE"): "double",
    ("BYTE_ARRAY", "STRING"): "string",
}
# Spark-written files carry their Spark schema, which inference prefers.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema `spark.read.parquet(path)` infers, without its job.

    Reads the footer of the file Spark's inference would read (`path`
    itself, or the first visible file of a flat directory) on the
    driver and maps it under the session's
    `spark.sql.legacy.parquet.nanosAsLong` and
    `spark.sql.parquet.inferTimestampNTZ.enabled`; every field is
    nullable, as in Spark's inferred schema.  Where any column falls
    outside the allow-list, or the path is not a local parquet file or
    flat directory, returns Spark's own inference (which also raises
    Spark's errors for missing or unreadable paths)."""
    schema = _footer_schema(spark, path)
    return spark.read.parquet(path).schema if schema is None else schema


def _footer_file(path: str) -> str | None:
    """The one file whose footer Spark's inference reads for `path`
    (mergeSchema off, no summary files): the path itself, or the first
    data file by name in a directory.  None for non-local paths, empty
    directories, and directories holding subdirectories or `_` files
    (partitions, summaries, a streaming sink's `_spark_metadata`)."""
    if "://" in path:
        return None
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    entries = sorted(
        (e for e in os.scandir(path) if not e.name.startswith(".")),
        key=lambda e: e.name,
    )
    if not entries or any(
        e.name.startswith("_") or not e.is_file() for e in entries
    ):
        return None
    return entries[0].path


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """Spark's inferred schema from one parquet footer, or None where a
    column's encoding is outside the allow-list."""
    footer = _footer_file(path)
    if footer is None:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    try:
        meta = pq.read_metadata(footer)
    except (OSError, ValueError):
        return None
    if _SPARK_ROW_METADATA in (meta.metadata or {}):
        return None
    conf = spark.conf.get
    nanos_as_long = conf("spark.sql.legacy.parquet.nanosAsLong").lower() == "true"
    infer_ntz = conf("spark.sql.parquet.inferTimestampNTZ.enabled").lower() == "true"

    def leaf(col, arrow_type) -> T.DataType | None:
        kind = (col.physical_type, col.logical_type.type)
        if _PLAIN_LEAVES.get(kind) == str(arrow_type):
            return from_arrow_type(arrow_type)
        if kind != ("INT64", "TIMESTAMP"):
            return None
        ts = json.loads(col.logical_type.to_json())
        if ts["timeUnit"] == "nanoseconds" and nanos_as_long:
            return T.LongType()
        if ts["timeUnit"] != "microseconds":
            return None
        if infer_ntz and not ts["isAdjustedToUTC"]:
            return T.TimestampNTZType()
        return T.TimestampType()

    # every allowed column is one leaf: a primitive, or a standard
    # three-level list (`name.list.element`) of a primitive
    columns = [meta.schema.column(i) for i in range(len(meta.schema))]
    fields = list(meta.schema.to_arrow_schema())
    if len(columns) != len(fields):
        return None
    out = []
    for col, field in zip(columns, fields):
        if col.max_repetition_level == 0 and col.path == field.name:
            dtype = leaf(col, field.type)
        elif (
            col.max_repetition_level == 1
            and col.path.rsplit(".", 1)[0] == f"{field.name}.list"
            and isinstance(field.type, pa.ListType)
        ):
            element = leaf(col, field.type.value_type)
            dtype = None if element is None else T.ArrayType(element, True)
        else:
            return None
        if dtype is None:
            return None
        out.append(T.StructField(field.name, dtype, True))
    return T.StructType(out)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table.  Sets UTC timezone on the session for
    deterministic timestamp handling (idempotent).

    The schema comes from the file's footer (:func:`parquet_schema`),
    so building a query over fixture tables runs no Spark job; an
    encoding outside its allow-list falls back to Spark's inference.

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
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer div keeps full precision (ns values exceed
            # double's 2^53 mantissa — never divide as float)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so spark.sql()
    queries can reference them by name (mirrors the driver's DuckDB
    view registration)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
