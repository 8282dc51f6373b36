"""The flagship query: the ENTIRE reference program as one
DataFrame expression (SURVEY.md §3).

Reference pipeline (maprdeuce.cpp:623-748):
  split (134-179) -> map (232-255) -> per-block sort (262-286)
  -> [combiner 706-711] -> external merge (334-426) -> reduce
  (288-331) -> sorted "word count" text sink (322-329) + distinct
  key count (1403-1427).

Spark collapses split/sort/combine/merge into engine internals:
FileSourceScan input splits, partial+final HashAggregate (the
combiner is automatic map-side aggregation), and sort-based shuffle
for the final order.  At 100 TB this plan is: scan (column-pruned to
`text` only) -> partial agg per input partition -> shuffle on word
(cardinality = vocabulary, small) -> final agg -> range-partitioned
sort.  The shuffle volume is distinct-words-per-partition, not
token count — exactly the reference's combiner insight, for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalize_word, tokenize_line, words
from ..io import load_table
from ..registry import register

# DuckDB equivalent of the §1.3 tokenizer contract.  'g' flag makes
# regexp_replace global, matching Spark's default-global behavior.
_TOKENS_SQL = """
    SELECT lower(regexp_replace(t.tok, '[^a-zA-Z]', '', 'g')) AS word
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
"""


def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word -> occurrence count over documents.text, sorted by word
    ascending (the reference's observable output contract)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        words(docs, "text")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy("word")
    )


WORDCOUNT_ORACLE = f"""
SELECT word, count(*) AS cnt
FROM ({_TOKENS_SQL})
WHERE word <> ''
GROUP BY word
ORDER BY word
"""


def wordcount_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's unique-key count ("고유키 개수",
    maprdeuce.cpp:1424) as countDistinct over normalized tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return words(docs, "text").agg(
        F.countDistinct("word").alias("distinct_words"),
        F.count("*").alias("total_tokens"),
    )


WORDCOUNT_DISTINCT_ORACLE = f"""
SELECT count(DISTINCT word) AS distinct_words, count(*) AS total_tokens
FROM ({_TOKENS_SQL})
WHERE word <> ''
"""


def wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 words by count (TakeOrderedAndProject — the limit
    pushes into a per-partition top-k then a single-reduce merge; no
    global sort materialization at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        words(docs, "text")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(20)
    )


WORDCOUNT_TOPK_ORACLE = f"""
SELECT word, count(*) AS cnt
FROM ({_TOKENS_SQL})
WHERE word <> ''
GROUP BY word
ORDER BY cnt DESC, word ASC
LIMIT 20
"""


def wordcount_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token stats — the reference's pipeline with the
    document id retained through the flatMap (posexplode-style);
    exercises explode-with-key + two-level aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(tokenize_line("text")).alias("raw"))
        .select("doc_id", normalize_word("raw").alias("word"))
        .where(F.col("word") != "")
    )
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("word").alias("n_distinct"),
        )
        .orderBy("doc_id")
    )


WORDCOUNT_PER_DOC_ORACLE = """
SELECT doc_id, count(*) AS n_tokens, count(DISTINCT word) AS n_distinct
FROM (
    SELECT doc_id,
           lower(regexp_replace(unnest(string_split(text, ' ')),
                                '[^a-zA-Z]', '', 'g')) AS word
    FROM documents
) t
WHERE word <> ''
GROUP BY doc_id
ORDER BY doc_id
"""


register("wordcount", wordcount, WORDCOUNT_ORACLE)
register("wordcount_distinct", wordcount_distinct, WORDCOUNT_DISTINCT_ORACLE)
register("wordcount_topk", wordcount_topk, WORDCOUNT_TOPK_ORACLE)
register("wordcount_per_doc", wordcount_per_doc, WORDCOUNT_PER_DOC_ORACLE)
