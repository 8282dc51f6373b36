"""Golden test of the reference tokenizer contract (SURVEY.md §1.3,
FIXTURES.md §A): replicates the hazards of the reference's smoke
corpus (/root/reference/input_file/input.txt — punctuation, digit
citations, apostrophes, case folding, hyphens, multi-space gaps,
trailing spaces) and asserts exact (word, cnt) output, ascending
ASCII order, and the distinct-key count the reference prints
(maprdeuce.cpp:1403-1427)."""

import pytest
from pyspark.sql import functions as F

from db_mapreduce_project_spark.functions.text import normalize_word, words

# One line per hazard class from the reference corpus.
HAZARD_LINES = [
    "MapReduce is a framework.",          # punctuation + case
    "don't don't DON'T",                  # apostrophes
    "cited [1] twice [2]",                # digit citations -> dropped
    "data-intensive  cluster,  works",    # hyphen + multi-space
    "trailing space ",                    # trailing space -> empty token
    "Tab\there glues",                    # tab is NOT a delimiter: stripped, glues token
    "",                                   # empty line
]

# Hand-derived expectation under the contract:
# split on ' ' only; keep [a-zA-Z]; lowercase; drop empties.
EXPECTED = {
    "mapreduce": 1,
    "is": 1,
    "a": 1,
    "framework": 1,
    "dont": 3,
    "cited": 1,
    "twice": 1,
    "dataintensive": 1,
    "cluster": 1,
    "works": 1,
    "trailing": 1,
    "space": 1,
    "tabhere": 1,  # "Tab\there" -> tab stripped -> "tabhere"
    "glues": 1,
}


def test_golden_wordcount(spark):
    df = spark.createDataFrame([(s,) for s in HAZARD_LINES], ["text"])
    out = (
        words(df, "text")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy("word")
        .collect()
    )
    got = {r["word"]: r["cnt"] for r in out}
    assert got == EXPECTED
    # output order is ascending byte-wise (reference's sorted sink)
    ws = [r["word"] for r in out]
    assert ws == sorted(ws)
    # distinct-key count ("고유키 개수")
    assert len(out) == len(EXPECTED)


def test_empty_input_emits_zero_rows(spark):
    """DOCUMENTED DEVIATION from the reference: on empty input the
    reference's reduce still emits one '"" 0' line
    (maprdeuce.cpp:318 — the accumulator flushes its initial state).
    The rebuild deliberately emits ZERO rows (an empty aggregation
    has no groups).  This test pins that choice so it never changes
    silently."""
    empty = spark.createDataFrame([], "text string")
    out = (
        words(empty, "text")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    assert out == []
    # whitespace-only input reduces to zero rows too (tokens
    # normalize to '' and are filtered, not counted as a key)
    blank = spark.createDataFrame([("",), ("   ",)], ["text"])
    out2 = (
        words(blank, "text")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    assert out2 == []


# Invalid and non-ASCII UTF-8 read straight from a file: a stray
# continuation byte, a truncated 3-byte sequence and an encoded
# surrogate.  The contract is byte-level (the reference's
# removePunctuation): every byte outside [a-zA-Z] is deleted.
INVALID_UTF8 = b"ab\xffcd ef\nCaf\xc3\xa9 x\xe2\x82\n\xed\xa0\x80z Q\n"
INVALID_UTF8_WORDS = {"abcd": 1, "caf": 1, "ef": 1, "q": 1, "x": 1, "z": 1}


def _counts(df):
    out = words(df, "value").groupBy("word").agg(F.count("*").alias("cnt"))
    return {r["word"]: r["cnt"] for r in out.collect()}


@pytest.fixture(params=[None, "2"], ids=["default_batch", "batch2"])
def arrow_batch(spark, request):
    """Runs a test at the default Arrow batch size and at 2 rows per
    batch, which puts a batch boundary inside every multi-line input:
    the result must not depend on where the boundaries fall."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if request.param:
        spark.conf.set(key, request.param)
    yield
    spark.conf.set(key, old)


def test_invalid_utf8_is_deleted_bytewise(spark, tmp_path, arrow_batch):
    path = tmp_path / "invalid_utf8.txt"
    path.write_bytes(INVALID_UTF8)
    assert _counts(spark.read.text(str(path))) == INVALID_UTF8_WORDS


def test_null_line_yields_no_tokens(spark, arrow_batch):
    lines = HAZARD_LINES + [None, "Null above"]
    df = spark.createDataFrame([(s,) for s in lines], "value string")
    assert _counts(df.repartition(1)) == dict(EXPECTED, null=1, above=1)


def test_normalize_word_edge_cases(spark):
    cases = [
        ("Don't", "dont"),
        ("[1]", ""),
        ("ABC123xyz", "abcxyz"),
        ("ünïcödé", "ncd"),  # non-ASCII letters deleted, ASCII kept
        ("", ""),
    ]
    df = spark.createDataFrame(cases, ["raw", "expected"])
    bad = df.where(normalize_word("raw") != F.col("expected")).count()
    assert bad == 0
