"""Dataset profiling + in-flight quality metrics — the
observability layer a 100 TB training-data pipeline runs before and
during every job.

`profile_documents` is the ahead-of-time profile: one grouped pass
over the corpus producing per-(lang, source) volume, null, length,
and duplication statistics.  One shuffle on the (tiny-cardinality)
group key; every metric is an algebraic aggregate, so the partial/
final split keeps map-side combine effective no matter the corpus
size.

`observed_write` is the in-flight variant: `Observation` metrics
piggyback on whatever action the job already runs — row counts and
null tallies cost zero extra passes (they fold into the same
whole-stage-codegen pipeline), which is the only affordable way to
count quality at 100 TB.  The reference's one observability hook
(printWordCounts' unique-key count, maprdeuce.cpp:1403-1427) is a
driver-side re-read of the result file; this is its engine-side
generalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.stable import duck_qavg, duck_qint, qavg, qint
from ..functions.text import normalize_word, tokenize_line
from ..io import load_table
from ..registry import register


def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus profile: doc volume, empty/short
    counts, char-length stats, and exact-duplicate volume (docs
    minus distinct texts) — the pre-training sanity scan."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.length(F.trim("text")) == 0, 1).otherwise(0)
            ).alias("n_empty"),
            F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0)).alias(
                "n_short"
            ),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            qavg("n_chars", 2).alias("avg_chars"),
            (
                F.count(F.lit(1)) - F.count_distinct(F.col("text"))
            ).alias("n_exact_dups"),
        )
        .orderBy("lang", "source")
    )


PROFILE_DOCUMENTS_ORACLE = f"""
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       {duck_qavg('CAST(n_chars AS DOUBLE)', 2)} AS avg_chars,
       count(*) - count(DISTINCT text) AS n_exact_dups
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


def observed_write(df: DataFrame, name: str, metrics: dict[str, F.Column]):
    """Attach Observation metrics to `df`, materialize it with the
    no-op sink, and return the collected metrics dict.  The metrics
    ride the job's own pass — no second scan."""
    obs = Observation(name)
    out = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    out.write.format("noop").mode("overwrite").save()
    return obs.get


def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (dbt-test / Deequ style): one
    row per named constraint with its violation count.  Checks span
    referential integrity (orphan FK anti-joins), domain ranges,
    null contracts, and key uniqueness.

    Scale shape: every check is a COUNT over a filter or anti-join —
    each collapses to a 1-row partial per partition before the union
    of single rows; the FK checks are equi-joins that AQE plans as
    broadcast when the PK side is small.  Nothing here materializes
    violating rows (a production audit would add a capped sample
    sink per failed check)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    e = load_table(spark, sf_dir, "events")

    def count1(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_violations"),
        )

    checks = [
        count1(
            "lineitem_orphan_orderkey",
            l.join(o, l.l_orderkey == o.o_orderkey, "left_anti"),
        ),
        count1(
            "orders_orphan_custkey",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
        ),
        count1("lineitem_nonpositive_qty", l.where(F.col("l_quantity") <= 0)),
        count1(
            "lineitem_discount_range",
            l.where((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)),
        ),
        count1("orders_null_priority", o.where(F.col("o_orderpriority").isNull())),
        count1(
            "part_duplicate_pkey",
            p.groupBy("p_partkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1),
        ),
        count1(
            "events_ts_out_of_range",
            e.where(
                (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2030-01-01").cast("timestamp"))
            ),
        ),
    ]
    out = checks[0]
    for chk in checks[1:]:
        out = out.unionAll(chk)
    return out.orderBy("check_name")


DQ_CONSTRAINT_CHECKS_ORACLE = """
SELECT * FROM (
  SELECT 'lineitem_orphan_orderkey' AS check_name, count(*) AS n_violations
  FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'orders_orphan_custkey', count(*)
  FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'lineitem_nonpositive_qty', count(*)
  FROM lineitem WHERE l_quantity <= 0
  UNION ALL
  SELECT 'lineitem_discount_range', count(*)
  FROM lineitem WHERE l_discount < 0 OR l_discount > 0.5
  UNION ALL
  SELECT 'orders_null_priority', count(*)
  FROM orders WHERE o_orderpriority IS NULL
  UNION ALL
  SELECT 'part_duplicate_pkey', count(*) FROM (
    SELECT p_partkey FROM part GROUP BY p_partkey HAVING count(*) > 1
  ) t
  UNION ALL
  SELECT 'events_ts_out_of_range', count(*)
  FROM events
  WHERE ts < TIMESTAMP '2020-01-01' OR ts >= TIMESTAMP '2030-01-01'
) checks
ORDER BY check_name
"""


register("profile_documents", profile_documents, PROFILE_DOCUMENTS_ORACLE)
register("dq_constraint_checks", dq_constraint_checks, DQ_CONSTRAINT_CHECKS_ORACLE)


CHISQ_SCALE = 6  # quantize chi-square terms to 1e-6 before summing


def drift_chisq_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit: Pearson chi-square statistic of each
    source's word distribution against the whole-corpus distribution
    — the per-shard drift monitor a pipeline runs to catch a
    misbehaving ingest source (schema-on-read rot, language drift,
    template spam).

    term(w) = (obs_w - exp_w)^2 / exp_w with exp_w = corpus_w *
    n_source / n_total.  Exact integer counts feed per-row IEEE
    arithmetic (deterministic in both engines); each term quantizes
    to 1e-6 BEFORE the per-source sum, so the statistic is
    order-independent (stable.py discipline).  Plan: one token
    count keyed by (source, word), a corpus count keyed by word
    (broadcast back — vocabulary-sized), per-source totals broadcast
    as a second tiny dim; the corpus scans once."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("source", F.explode(tokenize_line("text")).alias("raw"))
        .select("source", normalize_word("raw").alias("word"))
        .where(F.col("word") != "")
    )
    obs = toks.groupBy("source", "word").agg(F.count("*").alias("obs"))
    corpus = obs.groupBy("word").agg(F.sum("obs").alias("corpus_w"))
    src_tot = obs.groupBy("source").agg(F.sum("obs").alias("n_source"))
    total = corpus.agg(F.sum("corpus_w").alias("n_total"))
    exp = (
        obs.join(F.broadcast(corpus), "word")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "exp",
            F.col("corpus_w") * F.col("n_source") / F.col("n_total"),
        )
    )
    term = (F.col("obs") - F.col("exp")) ** 2 / F.col("exp")
    return (
        exp.select("source", qint(term, CHISQ_SCALE).alias("qterm"))
        .groupBy("source")
        .agg(
            (F.sum("qterm") / F.lit(float(10**CHISQ_SCALE))).alias("chisq"),
            F.count("*").alias("n_words"),
        )
        .orderBy("source")
    )


_CHISQ_TERM = "power(obs - exp, 2) / exp"
DRIFT_CHISQ_BY_SOURCE_ORACLE = f"""
WITH toks AS (
  SELECT source,
         lower(regexp_replace(unnest(string_split(text, ' ')),
                              '[^a-zA-Z]', '', 'g')) AS word
  FROM documents
),
obs AS (
  SELECT source, word, count(*) AS obs FROM toks WHERE word <> ''
  GROUP BY source, word
),
corpus AS (SELECT word, CAST(sum(obs) AS BIGINT) AS corpus_w FROM obs GROUP BY word),
src_tot AS (SELECT source, CAST(sum(obs) AS BIGINT) AS n_source FROM obs GROUP BY source),
total AS (SELECT CAST(sum(corpus_w) AS BIGINT) AS n_total FROM corpus),
terms AS (
  SELECT o.source,
         {duck_qint("power(o.obs - (c.corpus_w * s.n_source / CAST(t.n_total AS DOUBLE)), 2) / (c.corpus_w * s.n_source / CAST(t.n_total AS DOUBLE))", 6)} AS qterm
  FROM obs o
  JOIN corpus c ON o.word = c.word
  JOIN src_tot s ON o.source = s.source, total t
)
SELECT source,
       (CAST(sum(qterm) AS BIGINT) / 1000000.0) AS chisq,
       count(*) AS n_words
FROM terms
GROUP BY source
ORDER BY source
"""

register(
    "drift_chisq_by_source", drift_chisq_by_source, DRIFT_CHISQ_BY_SOURCE_ORACLE
)
