"""Readers.  Explicit-schema reads (no inference jobs at scale);
parquet is the primary columnar source — filters/column pruning
push into the scan (verify with plans.inspect.pushed_filters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC: Spark's second built-in columnar format — same pushdown
    and pruning properties as parquet (vectorized reader on by
    default)."""
    return spark.read.orc(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """Schema-required CSV read — never schema-infer at scale (an
    inference pass reads the data twice)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", sep)
        .csv(path)
    )


def read_json(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """Schema-required JSON-lines read."""
    return spark.read.schema(schema).json(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text -> DataFrame[value: string] — the
    reference's input model (maprdeuce.cpp:134-179); input splits
    replace its 100k-line block files."""
    return spark.read.text(path)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: mergeSchema unions the schemas of all
    footers under `path`, so directories written by successive
    pipeline versions (new columns appended over time) read as one
    frame — older files yield NULL for columns they predate.  At
    scale the footer merge is a metadata operation; leave
    mergeSchema OFF (Spark's default) for single-version datasets
    to skip it."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_json_permissive(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """JSON-lines read that CAPTURES malformed records instead of
    silently nulling them (default PERMISSIVE drops the evidence):
    rows that fail the schema land in `_corrupt_record` with every
    data column NULL, so the load job can split good rows from a
    quarantine stream in one pass — the ingest-hygiene shape for
    feeds you don't control.  (DROPMALFORMED silently loses data
    and FAILFAST kills the job on one bad row; both are wrong
    defaults for a 100 TB feed.)"""
    if isinstance(schema, str):
        s: StructType | str = schema
        if "_corrupt_record" not in schema:
            s = schema + ", _corrupt_record string"
    else:
        # Build a NEW StructType (StructType.add mutates in place —
        # don't surprise the caller) with the capture column appended
        # unless the caller already declared it.
        if any(f.name == "_corrupt_record" for f in schema.fields):
            s = schema
        else:
            s = StructType(
                schema.fields + [StructField("_corrupt_record", StringType())]
            )
    return (
        spark.read.schema(s)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
