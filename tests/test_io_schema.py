"""Footer-read parquet schemas (io.parquet_schema) against Spark's own
inference: a mapped schema must equal what `spark.read.parquet(p)`
infers under the same session confs, and any encoding outside the
allow-list must fall back to that inference."""

import datetime
import decimal
import glob
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from db_mapreduce_project_spark import io
from db_mapreduce_project_spark.io import TABLES, load_table, parquet_schema
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIRS = sorted(
    glob.glob(os.path.join(os.path.dirname(SF_SMOKE), "sf*"))
    + glob.glob(os.path.join(REPO, "perfbench", "fixtures", "sf*"))
)
NANOS = "spark.sql.legacy.parquet.nanosAsLong"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
T0 = datetime.datetime(2024, 1, 1, 12, 0, 0, 123456)


@pytest.fixture(params=["true", "false"])
def nanos_as_long(spark, request):
    before = spark.conf.get(NANOS)
    spark.conf.set(NANOS, request.param)
    yield request.param == "true"
    spark.conf.set(NANOS, before)


@pytest.fixture(params=["true", "false"])
def infer_ntz(spark, request):
    before = spark.conf.get(NTZ)
    spark.conf.set(NTZ, request.param)
    yield
    spark.conf.set(NTZ, before)


def _dir_id(sf: str) -> str:
    return f"{os.path.basename(os.path.dirname(sf))}-{os.path.basename(sf)}"


@pytest.mark.parametrize("sf", FIXTURE_DIRS, ids=_dir_id)
def test_fixture_footer_schema_equals_inference(spark, sf, nanos_as_long):
    for name in TABLES:
        path = os.path.join(sf, f"{name}.parquet")
        mapped = io._footer_schema(spark, path)
        assert mapped is not None, path  # every fixture column is allow-listed
        assert mapped == spark.read.parquet(path).schema, path


# (table, write_table kwargs, mapped from the footer?)
ENCODINGS = {
    "ts_nanos": (
        pa.table({"ts": pa.array([T0], pa.timestamp("ns"))}),
        {"version": "2.6"},
        "nanos",
    ),
    "ts_micros_naive": (pa.table({"ts": pa.array([T0], pa.timestamp("us"))}), {}, True),
    "ts_micros_utc": (
        pa.table({"ts": pa.array([T0], pa.timestamp("us", tz="UTC"))}),
        {},
        True,
    ),
    # parquet has no seconds unit: written as TIMESTAMP(MILLIS)
    "ts_seconds": (pa.table({"ts": pa.array([T0], pa.timestamp("s"))}), {}, False),
    # INT96 reads in pyarrow as timestamp[ns], but Spark infers timestamp
    "int96": (
        pa.table({"ts": pa.array([T0], pa.timestamp("ns"))}),
        {"use_deprecated_int96_timestamps": True},
        False,
    ),
    "dictionary": (
        pa.table({"s": pa.array(["a", "b", "a"]).dictionary_encode()}),
        {},
        False,
    ),
    "decimal": (
        pa.table({"x": pa.array([decimal.Decimal("1.23")], pa.decimal128(10, 2))}),
        {},
        False,
    ),
    "list_float": (
        pa.table({"v": pa.array([[1.0, None]], pa.list_(pa.float32()))}),
        {},
        True,
    ),
}


@pytest.mark.parametrize("encoding", sorted(ENCODINGS))
def test_encoding_maps_or_falls_back(
    spark, tmp_path, encoding, nanos_as_long, infer_ntz
):
    table, kwargs, mapped = ENCODINGS[encoding]
    path = str(tmp_path / f"{encoding}.parquet")
    pq.write_table(table, path, **kwargs)
    if mapped == "nanos":
        mapped = nanos_as_long
    footer = io._footer_schema(spark, path)
    assert (footer is not None) == mapped
    try:
        inferred = spark.read.parquet(path).schema
    except AnalysisException:
        # TIMESTAMP(NANOS) without nanosAsLong: the fallback raises too
        with pytest.raises(AnalysisException):
            parquet_schema(spark, path)
        return
    assert parquet_schema(spark, path) == inferred
    if footer is not None:
        assert footer == inferred


def test_flat_directory_reads_first_file_footer(spark, tmp_path):
    """A staged stream source: the fixture symlinked into a directory
    next to a zero-row sentinel, as streaming/jobs.py stages it."""
    fixture = os.path.join(SF_SMOKE, "events.parquet")
    os.symlink(fixture, tmp_path / "events.parquet")
    pq.write_table(
        pq.read_schema(fixture).empty_table(), tmp_path / "zz_flush.parquet"
    )
    stage = str(tmp_path)
    mapped = io._footer_schema(spark, stage)
    assert mapped is not None
    assert mapped == spark.read.parquet(stage).schema


def test_directories_spark_lists_differently_fall_back(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    assert io._footer_schema(spark, str(empty)) is None
    with pytest.raises(AnalysisException):
        parquet_schema(spark, str(empty))
    marked = tmp_path / "marked"
    marked.mkdir()
    shutil.copy(os.path.join(SF_SMOKE, "region.parquet"), marked / "part-0.parquet")
    (marked / "_SUCCESS").touch()
    assert io._footer_schema(spark, str(marked)) is None
    assert parquet_schema(spark, str(marked)) == spark.read.parquet(str(marked)).schema


def test_spark_written_file_falls_back(spark, tmp_path):
    out = str(tmp_path / "out")
    load_table(spark, SF_SMOKE, "region").coalesce(1).write.parquet(out)
    (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
    assert io._footer_schema(spark, part) is None
    assert parquet_schema(spark, part) == spark.read.parquet(part).schema


def test_load_table_nanos_events_match_inference(spark, tmp_path, monkeypatch):
    """TIMESTAMP(NANOS) `events.ts`: the footer path and Spark's
    inference give the same rows after load_table's ts normalization."""
    src = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    ts = pc.cast(src["ts"], pa.timestamp("ns"))
    table = src.set_column(src.schema.get_field_index("ts"), "ts", ts)
    pq.write_table(table, tmp_path / "events.parquet", version="2.6")
    sf = str(tmp_path)
    df = load_table(spark, sf, "events")  # sets nanosAsLong
    mapped = io._footer_schema(spark, str(tmp_path / "events.parquet"))
    assert mapped is not None and mapped["ts"].dataType == T.LongType()
    monkeypatch.setattr(io, "_footer_schema", lambda spark, path: None)
    ref = load_table(spark, sf, "events")
    assert df.schema == ref.schema
    assert df.schema["ts"].dataType == T.TimestampType()
    assert df.count() == table.num_rows > 0
    assert df.exceptAll(ref).count() == 0
    assert ref.exceptAll(df).count() == 0


def test_missing_table_raises_analysis_exception(spark, tmp_path):
    with pytest.raises(AnalysisException) as err:
        load_table(spark, str(tmp_path / "nowhere"), "region")
    assert err.value.getCondition() == "PATH_NOT_FOUND"
