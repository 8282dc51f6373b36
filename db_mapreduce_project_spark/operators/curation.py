"""Corpus CURATION operators — the quality/governance passes a
training-data pipeline runs between raw ingest and assembly:

- `doc_ngram_repetition`: Gopher-style intra-document repetition
  signal (fraction of word-bigram occurrences that are repeats;
  Rae et al. 2021 "Scaling Language Models" App. A uses exactly
  this family of duplicate-n-gram fractions as quality filters);
- `boilerplate_ngrams`: cross-document boilerplate detection
  (n-grams shared by many distinct documents — the CCNet/C4-style
  pre-pass that finds headers/footers worth stripping);
- `split_assignment`: deterministic train/valid/test assignment by
  portable content-independent hash of the document id (stable
  under corpus growth: a doc never changes split when new docs
  arrive, unlike modulo-on-row-number schemes);
- `timeseries_gapfill`: per-user hourly spine densification with
  forward fill (LOCF) — the feature-engineering step that turns
  irregular event streams into fixed-frequency model inputs;
- `anonymize_customers`: pseudonymization pass — hash the direct
  identifier, generalize the quasi-identifier (balance bucketed)
  so rows stay joinable but not re-identifiable;
- `embedding_quantize_int8`: per-dimension min/max int8
  quantization of the embedding corpus (the compression step
  before an ANN index ships to serving).

Scale notes (100 TB):
- repetition + boilerplate are two-level aggregations with map-side
  partial combine; no joins, no distinct-shuffle (count-distinct is
  the second level of the same groupBy cascade);
- split assignment is a pure map (hash + comparison) feeding a tiny
  aggregate — embarrassingly parallel;
- gap-fill densifies AFTER aggregating to (user, hour) — the spine
  explode runs on the aggregate (bounded: users x hours), never on
  the raw event stream, and the forward fill is a partitioned
  running window, no global sort;
- quantization computes the 64-row dim-stats aggregate, folds it to
  ONE broadcast row, and re-scans the corpus map-side — the corpus
  itself is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    FP_MOD,
    FP_WORD_BASE,
    duck_charhash,
    spark_charhash,
)
from ..functions.hashing_arrow import bigram_bucket_counts_arrow
from ..functions.stable import duck_qint, qint
from ..io import load_table
from ..registry import register

# repetition flag threshold: >20% duplicate bigram occurrences
REPETITION_FLAG_BP = 2000
# boilerplate: trigram must appear in >= this many distinct docs
BOILERPLATE_MIN_DOCS = 5
# split fractions (basis points of the 100-bucket hash ring)
SPLIT_TRAIN_LT = 80
SPLIT_VALID_LT = 90
# gap-fill user subsample (keeps driver-side compare bounded)
GAPFILL_USER_MOD = 10
INT8_LEVELS = 255


def _ngrams(text_col: str, n: int):
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+", -1)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))


def doc_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language summary of the duplicate-bigram fraction.

    Per doc: dup_bp = floor((total - distinct) * 10000 / total)
    basis points of bigram occurrences that are repeats — pure
    integer arithmetic, so cross-engine exact.  Language rollup:
    doc count, integer-average dup_bp, max, and how many docs
    exceed the Gopher-style flag threshold.

    The per-document score runs as a mapInPandas batch kernel
    (hash-set distinct per doc in Python): it is a PER-DOCUMENT
    property, so it never leaves the row — the kernel emits one
    (lang, dup_bp) row per doc, the corpus is never shuffled, and
    only the 5-row language rollup exchanges.  The Python boundary
    is Arrow-batched, never row-at-a-time.  (A Catalyst form over
    arrays_zip + array_distinct took 1.52 s against this kernel's
    0.65 s at sf0.1, `local[4]`, and tied it at sf0.01.)  Both
    registered names, doc_ngram_repetition and
    doc_ngram_repetition_arrow, run this function.

    Tokenization contract replicated exactly: trim = ASCII-space
    strip (Spark/DuckDB `trim` removes 0x20 only), split on Java
    `\\s`-class runs, bigram pairs dropped only when BOTH halves are
    empty, integer basis-point floor division.  The oracle joins
    each pair into one string — same counts, because `\\s+`-split
    words contain no spaces."""
    import re

    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("lang", "text")
    ws = re.compile("[ \t\n\x0b\f\r]+")

    def score(batches):
        for pdf in batches:
            langs: list = []
            bps: list = []
            for lang, text in zip(pdf["lang"], pdf["text"]):
                if text is None:
                    continue
                toks = ws.split(text.strip(" ").lower())
                if len(toks) < 2:
                    continue
                pairs = [
                    (toks[i], toks[i + 1])
                    for i in range(len(toks) - 1)
                    if toks[i] != "" or toks[i + 1] != ""
                ]
                total = len(pairs)
                if total == 0:
                    continue
                langs.append(lang)
                bps.append((total - len(set(pairs))) * 10000 // total)
            yield pd.DataFrame({"lang": langs, "dup_bp": bps})

    return (
        d.mapInPandas(score, "lang string, dup_bp bigint")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("dup_bp") / F.count("*")).alias("avg_dup_bp"),
            F.max("dup_bp").alias("max_dup_bp"),
            F.sum(
                F.when(F.col("dup_bp") > REPETITION_FLAG_BP, 1).otherwise(0)
            ).alias("n_flagged"),
        )
        .orderBy("lang")
    )


DOC_NGRAM_REPETITION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, lang,
         list_filter(list_transform(generate_series(1, len(w) - 1),
                     i -> concat_ws(' ', w[i], w[i+1])), g -> g <> '') AS gs
  FROM toks
),
per_doc AS (
  SELECT lang,
         CAST(floor(CAST((len(gs) - len(list_distinct(gs))) * 10000 AS BIGINT)
              / CAST(len(gs) AS BIGINT)) AS BIGINT) AS dup_bp
  FROM grams WHERE len(gs) > 0
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(dup_bp) AS BIGINT) / count(*) AS avg_dup_bp,
       max(dup_bp) AS max_dup_bp,
       CAST(sum(CASE WHEN dup_bp > {REPETITION_FLAG_BP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


LM_PPM = 1_000_000  # fixed-point scale for conditional probabilities
LM_WORST_K = 5  # lowest-scoring docs reported per language


def doc_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring WITHOUT an external model: the
    corpus's own per-language bigram counts are the LM, and each
    document's score is the mean fixed-point conditional probability
    of its bigrams, score = mean_ppm(p(b|a)) with
    p(b|a) = (c(lang,a,b) * 1e6) DIV c(lang,a).  Documents whose
    word transitions are unusual for their language score low — the
    perplexity-style quality filter of CCNet (Wenzek et al. 2020)
    with the n-gram LM trained in-corpus, in one job, and (because
    every probability is an integer ratio of exact counts) fully
    value-hash oracle-checkable, which a float log-perplexity would
    not be (libm log differs across engines).  Output: the
    LM_WORST_K lowest-scoring docs per language — the drop list.

    Scale shape: the bigram stream aggregates ONCE with map-side
    combine into the (lang,a,b) model; the (lang,a) context totals
    are a second-level rollup OF THE MODEL (cnt_a = sum_b cnt_ab —
    identical integers, vocab^2-bounded input instead of the full
    corpus), so the text is tokenized twice (model pass + scoring
    pass), not three times.  Model and contexts then pre-join into
    one vocab^2-bounded probability table, so the big per-instance
    stream passes through ONE equi-join (AQE handles hot function
    words) before folding per doc in one groupBy — never shuffled
    as text, and never shuffled twice."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+", -1)
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.filter(
            F.arrays_zip(
                F.slice(toks, 1, n - 1).alias("a"),
                F.slice(toks, 2, n - 1).alias("b"),
            ),
            lambda p: ~((p["a"] == "") & (p["b"] == "")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    doc_bigrams = d.select(
        "doc_id", "lang", F.explode(pairs).alias("p")
    ).select("doc_id", "lang", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    model = doc_bigrams.groupBy("lang", "a", "b").agg(
        F.count("*").alias("cnt_ab")
    )
    # Context totals roll up from the model (sum_b cnt_ab == direct
    # count of (lang, a) instances — every instance contributes one
    # (lang,a,b) row), avoiding a third tokenize+explode of the
    # corpus; the pre-joined probability table is vocab^2-bounded.
    contexts = model.groupBy("lang", "a").agg(
        F.sum("cnt_ab").alias("cnt_a")
    )
    probs = model.join(contexts, ["lang", "a"]).select(
        "lang",
        "a",
        "b",
        F.expr(f"(cnt_ab * {LM_PPM}) DIV cnt_a").alias("p_ppm"),
    )
    scored = (
        doc_bigrams.join(probs, ["lang", "a", "b"])
        .groupBy("lang", "doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr("CAST(sum(p_ppm) DIV count(*) AS BIGINT)").alias(
                "score_ppm"
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score_ppm").asc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= LM_WORST_K)
        .select("lang", "doc_id", "n_bigrams", "score_ppm", "rk")
        .orderBy("lang", "rk")
    )


DOC_LM_QUALITY_SCORE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
),
doc_bigrams AS (
  SELECT doc_id, lang, a, b FROM (
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, len(w) - 1),
                  i -> struct_pack(a := w[i], b := w[i+1]))) AS p
    FROM toks
  ) t
  CROSS JOIN LATERAL (SELECT p.a AS a, p.b AS b) s
  WHERE NOT (a = '' AND b = '')
),
model AS (
  SELECT lang, a, b, count(*) AS cnt_ab FROM doc_bigrams GROUP BY 1, 2, 3
),
contexts AS (
  SELECT lang, a, count(*) AS cnt_a FROM doc_bigrams GROUP BY 1, 2
),
scored AS (
  SELECT g.lang, g.doc_id,
         count(*) AS n_bigrams,
         CAST(CAST(sum((m.cnt_ab * {LM_PPM}) // c.cnt_a) AS BIGINT)
              // count(*) AS BIGINT) AS score_ppm
  FROM doc_bigrams g
  JOIN model m USING (lang, a, b)
  JOIN contexts c USING (lang, a)
  GROUP BY g.lang, g.doc_id
)
SELECT lang, doc_id, n_bigrams, score_ppm, rk FROM (
  SELECT lang, doc_id, n_bigrams, score_ppm,
         CAST(row_number() OVER (PARTITION BY lang
              ORDER BY score_ppm ASC, doc_id ASC) AS INTEGER) AS rk
  FROM scored
) t
WHERE rk <= {LM_WORST_K}
ORDER BY lang, rk
"""


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word trigrams appearing in >= BOILERPLATE_MIN_DOCS distinct
    documents, with document frequency and total occurrences — the
    candidate boilerplate list a C4-style cleaner would strip.

    The distinct-doc count is the second level of a two-level
    groupBy cascade ((trigram, doc) then (trigram)) — map-side
    combine at both levels, never a COUNT(DISTINCT) expansion over
    the exploded corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+", -1)
    idx = F.when(
        F.size(toks) >= 3, F.sequence(F.lit(0), F.size(toks) - 3)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)))
    per_doc = (
        d.select("doc_id", F.explode(grams).alias("trigram"))
        .where(F.col("trigram") != "")
        .groupBy("trigram", "doc_id")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per_doc.groupBy("trigram")
        .agg(F.count("*").alias("n_docs"), F.sum("cnt").alias("n_occ"))
        .where(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
        .orderBy(F.col("n_docs").desc(), F.col("trigram"))
    )


BOILERPLATE_NGRAMS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS trigram
  FROM toks
),
per_doc AS (
  SELECT trigram, doc_id, count(*) AS cnt
  FROM grams WHERE trigram <> '' GROUP BY 1, 2
)
SELECT trigram, count(*) AS n_docs, CAST(sum(cnt) AS BIGINT) AS n_occ
FROM per_doc
GROUP BY trigram
HAVING count(*) >= {BOILERPLATE_MIN_DOCS}
ORDER BY n_docs DESC, trigram
"""


def split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split: bucket = portable
    charhash of 'doc_id:split' mod 100; train < 80, valid < 90,
    else test.  Content-independent and stable under corpus growth.
    Pure map + tiny aggregate — embarrassingly parallel at any
    scale."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        spark_charhash(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
        F.lit(100),
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket < SPLIT_VALID_LT, "valid")
        .otherwise("test")
    )
    return (
        d.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("lang", "split")
    )


_SPLIT_HASH = duck_charhash("(CAST(doc_id AS VARCHAR) || ':split')")
SPLIT_ASSIGNMENT_ORACLE = f"""
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN ({_SPLIT_HASH}) % 100 < {SPLIT_TRAIN_LT} THEN 'train'
              WHEN ({_SPLIT_HASH}) % 100 < {SPLIT_VALID_LT} THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM assigned
GROUP BY lang, split
ORDER BY lang, split
"""


def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly spine densification with forward fill (LOCF) for a
    deterministic user subsample (user_id % GAPFILL_USER_MOD == 0).

    Events aggregate to (user, hour) exact quantized sums FIRST;
    the hour spine (sequence from each user's first to last active
    hour) explodes over that bounded aggregate, left-joins the
    observations, and carries the last observation forward with a
    partitioned running window.  The first spine hour is observed
    by construction (it comes from min(hour)), so the fill is never
    NULL.
    """
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id") % GAPFILL_USER_MOD == 0
    )
    obs = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.sum(qint("value", 3)).alias("hour_q"))
    spine = (
        obs.groupBy("user_id")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hr"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(obs, ["user_id", "hr"], "left")
        .select(
            "user_id",
            F.col("hr").cast("timestamp").alias("hr"),
            F.last("hour_q", ignorenulls=True).over(w).alias("filled_q"),
            F.col("hour_q").isNull().alias("is_gap"),
        )
        .orderBy("user_id", "hr")
    )


TIMESERIES_GAPFILL_ORACLE = f"""
WITH obs AS (
  SELECT user_id, date_trunc('hour', ts) AS hr,
         CAST(sum({duck_qint('value', 3)}) AS BIGINT) AS hour_q
  FROM events
  WHERE user_id % {GAPFILL_USER_MOD} = 0
  GROUP BY 1, 2
),
spine AS (
  SELECT user_id,
         unnest(generate_series(min(hr), max(hr), INTERVAL 1 HOUR)) AS hr
  FROM obs
  GROUP BY user_id
)
SELECT s.user_id,
       CAST(s.hr AS TIMESTAMP) AS hr,
       last_value(o.hour_q IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_q,
       o.hour_q IS NULL AS is_gap
FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.hr = o.hr
ORDER BY s.user_id, s.hr
"""


def anonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization pass: direct identifier (name) replaced by a
    portable keyed hash, quasi-identifier (account balance)
    generalized to a 500-unit bucket; segment and nation survive
    for analytics.  Pure map — no shuffle at all (the orderBy is
    presentation-only; a production writer would drop it)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.pmod(
            spark_charhash(F.concat(F.lit("pepper:"), F.col("c_name"))),
            F.lit(FP_MOD),
        ).alias("name_h"),
        (F.floor(F.col("c_acctbal") / 500) * 500).cast("bigint").alias(
            "acctbal_bucket"
        ),
        "c_mktsegment",
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
    ).orderBy("c_custkey")


_NAME_HASH = duck_charhash("('pepper:' || c_name)")
ANONYMIZE_CUSTOMERS_ORACLE = f"""
SELECT c_custkey,
       ({_NAME_HASH}) % {FP_MOD} AS name_h,
       CAST(floor(c_acctbal / 500) * 500 AS BIGINT) AS acctbal_bucket,
       c_mktsegment,
       CAST(c_nationkey AS BIGINT) AS c_nationkey
FROM customer
ORDER BY c_custkey
"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min/max int8 quantization of the embedding
    corpus: code_i = floor((v_i - min_i) / (max_i - min_i) * 255).

    Plan shape: posexplode -> 64-row dim-stats aggregate -> folded
    into ONE row of two flat double arrays (per-dim mins and
    nullif'd ranges — the struct array is flattened broadcast-side
    so the per-row lambda does two plain-array element_at lookups
    instead of three array-of-struct probes, and the nullif runs
    once per dim instead of once per row*dim) -> broadcast cross
    join back -> per-row transform with index.  The corpus is
    scanned twice but shuffled zero times (the only exchange moves
    the 64-row stats).  IEEE evaluation order (v - mn) / rng * 255
    is preserved exactly, so the DuckDB oracle is unchanged.
    Output keeps the codes as a portable polynomial fold (bigint)
    so the row stays hashable; `code_0` is retained as a
    spot-checkable sample dimension.
    """
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        F.posexplode(F.col("embedding")).alias("dim", "v")
    ).select("dim", F.col("v").cast("double").alias("v"))
    dims = flat.groupBy("dim").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    dm = dims.agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "mn", "mx"))
        ).alias("dm")
    ).select(
        F.transform("dm", lambda s: s["mn"]).alias("mins"),
        F.transform(
            "dm", lambda s: F.nullif(s["mx"] - s["mn"], F.lit(0.0))
        ).alias("rngs"),
    )
    code = lambda v, i: F.floor(  # noqa: E731
        (v.cast("double") - F.element_at(F.col("mins"), i + 1))
        / F.element_at(F.col("rngs"), i + 1)
        * F.lit(float(INT8_LEVELS))
    ).cast("bigint")
    codes = F.transform(F.col("embedding"), code)
    qhash = F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * FP_WORD_BASE + F.coalesce(c, F.lit(0))) % FP_MOD,
    )
    return (
        e.crossJoin(F.broadcast(dm))
        .select(
            "vec_id",
            qhash.alias("codes_h"),
            F.element_at(codes, 1).alias("code_0"),
            F.size("embedding").alias("n_dims"),
        )
        .orderBy("vec_id")
    )


EMBEDDING_QUANTIZE_INT8_ORACLE = f"""
WITH flat AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
dims AS (
  SELECT dim, min(v) AS mn, max(v) AS mx FROM flat GROUP BY dim
),
coded AS (
  SELECT f.vec_id, f.dim,
         CAST(floor((f.v - d.mn) / nullif(d.mx - d.mn, 0.0)
              * {float(INT8_LEVELS)}) AS BIGINT) AS code
  FROM flat f JOIN dims d USING (dim)
)
SELECT vec_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT), list(coalesce(code, 0) ORDER BY dim)),
         (acc, c) -> (acc * {FP_WORD_BASE} + c) % {FP_MOD}) AS codes_h,
       first(code ORDER BY dim) AS code_0,
       CAST(count(*) AS INTEGER) AS n_dims
FROM coded
GROUP BY vec_id
ORDER BY vec_id
"""


DECONTAM_NGRAM = 4
DECONTAM_MIN_SHARED = 3


def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing
    >= DECONTAM_MIN_SHARED distinct word 4-grams with the benchmark
    partition (source = 'src0' plays the held-out benchmark role) —
    the n-gram-overlap test-set-contamination check every serious
    LLM data pipeline runs (cf. GPT-3 appendix C / PaLM app. C
    13-gram decontamination; 4-gram here because the fixture docs
    are short).

    Scale shape: the benchmark shingle set is tiny relative to the
    corpus, so it aggregates once and BROADCASTS; the training
    corpus explodes map-side into the broadcast hash join, and only
    the matching (doc, shingle) hits — a vanishing fraction —
    shuffle for the per-doc distinct count.  The corpus itself is
    never exchanged.
    """
    d = load_table(spark, sf_dir, "documents")
    grams = F.explode(_ngrams("text", DECONTAM_NGRAM)).alias("shingle")
    bench = (
        d.where(F.col("source") == "src0")
        .select(grams)
        .where(F.col("shingle") != "")
        .distinct()
    )
    train = (
        d.where(F.col("source") != "src0")
        .select("doc_id", grams)
        .where(F.col("shingle") != "")
    )
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("shingle")).alias("n_shared"))
        .where(F.col("n_shared") >= DECONTAM_MIN_SHARED)
        .orderBy("doc_id")
    )


_DECONTAM_GRAMS = (
    "list_transform(generate_series(1, len(w) - "
    f"{DECONTAM_NGRAM - 1}), i -> concat_ws(' '"
    + "".join(f", w[i+{k}]" for k in range(DECONTAM_NGRAM)).replace(
        "w[i+0]", "w[i]"
    )
    + "))"
)
DECONTAMINATE_OVERLAP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, source, unnest({_DECONTAM_GRAMS}) AS shingle
  FROM toks
),
bench AS (
  SELECT DISTINCT shingle FROM grams WHERE source = 'src0' AND shingle <> ''
),
train AS (
  SELECT doc_id, shingle FROM grams WHERE source <> 'src0' AND shingle <> ''
)
SELECT doc_id, count(DISTINCT t.shingle) AS n_shared
FROM train t JOIN bench b ON t.shingle = b.shingle
GROUP BY doc_id
HAVING count(DISTINCT t.shingle) >= {DECONTAM_MIN_SHARED}
ORDER BY doc_id
"""


def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE composable DataFrame
    expression — the flagship demonstration that every stage chains
    declaratively and Catalyst optimizes across stage boundaries:

      1. quality filter: keep docs inside the per-lang p5..p95
         length band (broadcast thresholds);
      2. exact dedup: keep the lowest doc_id per identical text
         (latest-wins window);
      3. decontamination: drop docs sharing >= 3 word 4-grams with
         the benchmark partition (broadcast benchmark set,
         left-anti join on the flagged list);
      4. deterministic split assignment (portable hash);
      5. shard summary: docs / whitespace tokens / chars per
         (split, lang).

    Scale: stages 1-4 are broadcasts, windows, and anti-joins over
    progressively smaller data; no stage materializes an
    intermediate — one job, Catalyst fuses adjacent maps and prunes
    unused columns through all five stages.
    """
    d = load_table(spark, sf_dir, "documents")
    train = d.where(F.col("source") != "src0")

    stats = train.groupBy("lang").agg(
        F.percentile("n_chars", 0.05).alias("p5"),
        F.percentile("n_chars", 0.95).alias("p95"),
    )
    banded = train.join(F.broadcast(stats), "lang").where(
        (F.col("n_chars") >= F.col("p5")) & (F.col("n_chars") <= F.col("p95"))
    )

    from pyspark.sql import Window

    w = Window.partitionBy("text").orderBy("doc_id")
    deduped = (
        banded.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "p5", "p95")
    )

    grams = F.explode(_ngrams("text", DECONTAM_NGRAM)).alias("shingle")
    bench = (
        d.where(F.col("source") == "src0")
        .select(grams)
        .where(F.col("shingle") != "")
        .distinct()
    )
    flagged = (
        deduped.select("doc_id", grams)
        .where(F.col("shingle") != "")
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared"))
        .where(F.col("n_shared") >= DECONTAM_MIN_SHARED)
        .select("doc_id")
    )
    clean = deduped.join(flagged, "doc_id", "left_anti")

    bucket = F.pmod(
        spark_charhash(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
        F.lit(100),
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket < SPLIT_VALID_LT, "valid")
        .otherwise("test")
    )
    toks = F.split(F.trim("text"), r"\s+", -1)
    n_tok = F.when(F.length(F.trim("text")) == 0, 0).otherwise(F.size(toks))
    return (
        clean.select(
            "lang", split.alias("split"), n_tok.alias("n_tok"), "n_chars"
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("split", "lang")
    )


PIPELINE_END_TO_END_ORACLE = f"""
WITH train AS (
  SELECT * FROM documents WHERE source <> 'src0'
),
stats AS (
  SELECT lang, quantile_cont(n_chars, 0.05) AS p5,
         quantile_cont(n_chars, 0.95) AS p95
  FROM train GROUP BY lang
),
banded AS (
  SELECT t.* FROM train t JOIN stats s ON t.lang = s.lang
  WHERE t.n_chars >= s.p5 AND t.n_chars <= s.p95
),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM banded
  ) WHERE rn = 1
),
bench AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest({_DECONTAM_GRAMS}) AS shingle
    FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') AS w
          FROM documents WHERE source = 'src0')
  ) WHERE shingle <> ''
),
flagged AS (
  SELECT doc_id FROM (
    SELECT g.doc_id, count(DISTINCT g.shingle) AS n_shared
    FROM (
      SELECT doc_id, unnest({_DECONTAM_GRAMS}) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
            FROM deduped)
    ) g JOIN bench b ON g.shingle = b.shingle
    WHERE g.shingle <> ''
    GROUP BY g.doc_id
  ) WHERE n_shared >= {DECONTAM_MIN_SHARED}
),
clean AS (
  SELECT d.* FROM deduped d ANTI JOIN flagged f ON d.doc_id = f.doc_id
),
assigned AS (
  SELECT lang,
         CASE WHEN ({_SPLIT_HASH}) % 100 < {SPLIT_TRAIN_LT} THEN 'train'
              WHEN ({_SPLIT_HASH}) % 100 < {SPLIT_VALID_LT} THEN 'valid'
              ELSE 'test' END AS split,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok,
         n_chars
  FROM clean
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM assigned
GROUP BY split, lang
ORDER BY split, lang
"""


register("doc_ngram_repetition", doc_ngram_repetition, DOC_NGRAM_REPETITION_ORACLE)
register(
    "doc_ngram_repetition_arrow",
    doc_ngram_repetition,
    DOC_NGRAM_REPETITION_ORACLE,
)
register(
    "decontaminate_overlap", decontaminate_overlap, DECONTAMINATE_OVERLAP_ORACLE
)
register("pipeline_end_to_end", pipeline_end_to_end, PIPELINE_END_TO_END_ORACLE)


MAD_K = 3  # flag docs outside median +/- K * MAD


def mad_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length-outlier detection: flag documents
    outside median ± 3·MAD (median absolute deviation) — the
    estimator quantile/stddev filters degrade into when the corpus
    has heavy-tailed junk, since median and MAD have a 50%
    breakdown point vs 0% for the mean.

    Two grouped exact-median passes (lang cardinality is tiny, so
    each is a cheap shuffle) with the 5-row threshold relation
    broadcast back onto the scan; the corpus is read twice but
    never shuffled.  Medians of bigint n_chars are exact in both
    engines (the even-count midpoint average is a deterministic
    double of two ints)."""
    d = load_table(spark, sf_dir, "documents")
    med = d.groupBy("lang").agg(F.median("n_chars").alias("med"))
    mad = (
        d.join(F.broadcast(med), "lang")
        .select("lang", F.abs(F.col("n_chars") - F.col("med")).alias("dev"))
        .groupBy("lang")
        .agg(F.median("dev").alias("mad"))
    )
    thr = med.join(mad, "lang")
    return (
        d.join(F.broadcast(thr), "lang")
        .select(
            "lang",
            (
                F.abs(F.col("n_chars") - F.col("med"))
                > F.lit(MAD_K) * F.col("mad")
            ).alias("is_outlier"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).alias(
                "n_outliers"
            ),
        )
        .orderBy("lang")
    )


MAD_OUTLIER_FILTER_ORACLE = f"""
WITH med AS (
  SELECT lang, median(n_chars) AS med FROM documents GROUP BY lang
),
mad AS (
  SELECT d.lang, median(abs(d.n_chars - m.med)) AS mad
  FROM documents d JOIN med m ON d.lang = m.lang
  GROUP BY d.lang
),
thr AS (
  SELECT m.lang, m.med, a.mad FROM med m JOIN mad a ON m.lang = a.lang
)
SELECT d.lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN abs(d.n_chars - t.med) > {MAD_K} * t.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM documents d JOIN thr t ON d.lang = t.lang
GROUP BY d.lang
ORDER BY d.lang
"""

register("mad_outlier_filter", mad_outlier_filter, MAD_OUTLIER_FILTER_ORACLE)
register(
    "doc_lm_quality_score", doc_lm_quality_score, DOC_LM_QUALITY_SCORE_ORACLE
)
register("boilerplate_ngrams", boilerplate_ngrams, BOILERPLATE_NGRAMS_ORACLE)
register("split_assignment", split_assignment, SPLIT_ASSIGNMENT_ORACLE)
register("timeseries_gapfill", timeseries_gapfill, TIMESERIES_GAPFILL_ORACLE)
register("anonymize_customers", anonymize_customers, ANONYMIZE_CUSTOMERS_ORACLE)
register(
    "embedding_quantize_int8",
    embedding_quantize_int8,
    EMBEDDING_QUANTIZE_INT8_ORACLE,
)


MIX_RING = 1_000_000  # hash-ring resolution for mix downsampling


def corpus_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing pass: deterministically downsample every language
    to (approximately) the smallest language's document count, so
    the corpus mix is balanced — the per-source/per-language
    rebalancing step of training-data assembly.

    keep(doc) iff  hash_ring(doc_id) * n_lang < min_lang * RING —
    exact integer arithmetic on a content-independent hash ring, so
    membership is stable under corpus growth and identical in both
    engines.  Plan: tiny per-lang count aggregate broadcasts back
    onto the scan (plus a 1-row global min) — the corpus itself is
    never shuffled; the output is the per-lang audit (before/kept).
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_before"))
    min_n = counts.agg(F.min("n_before").alias("min_n"))
    bucket = F.pmod(
        spark_charhash(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
        F.lit(MIX_RING),
    )
    keep = bucket * F.col("n_before") < F.col("min_n") * MIX_RING
    return (
        d.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(min_n))
        .groupBy("lang")
        .agg(
            F.max("n_before").alias("n_before"),
            F.sum(keep.cast("bigint")).alias("n_kept"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
        )
        .orderBy("lang")
    )


_MIX_HASH = duck_charhash("(CAST(doc_id AS VARCHAR) || ':mix')")
CORPUS_MIX_REBALANCE_ORACLE = f"""
WITH c AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
m AS (SELECT min(n_before) AS min_n FROM c),
d AS (
  SELECT doc.lang, doc.n_chars, c.n_before, m.min_n,
         ({_MIX_HASH}) % {MIX_RING} AS bucket
  FROM documents doc JOIN c ON doc.lang = c.lang, m
)
SELECT lang, max(n_before) AS n_before,
       CAST(sum(CASE WHEN bucket * n_before < min_n * {MIX_RING} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN bucket * n_before < min_n * {MIX_RING} THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM d
GROUP BY lang
ORDER BY lang
"""

register(
    "corpus_mix_rebalance", corpus_mix_rebalance, CORPUS_MIX_REBALANCE_ORACLE
)


TEMP_RING = 1_000_000  # hash-ring resolution for temperature mixing


def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based (alpha = 0.5) language mixing — the
    multilingual sampling rule of mBERT / XLM-R (Conneau et al.,
    "Unsupervised cross-lingual representation learning at scale",
    ACL 2020): sample language i with probability proportional to
    n_i^alpha, flattening the head (here English at ~2.7x the other
    languages) without discarding the tail the way min-rebalancing
    does.

    keep(doc) iff hash_ring(doc_id) < floor(N / (S * sqrt(n_i)) *
    RING), where S = sum_j sqrt(n_j) — i.e. keep-rate r_i = min(1,
    N * p_i / n_i) with p_i = sqrt(n_i)/S.  Every float step is
    deterministic cross-engine: sqrt is IEEE-exactly-rounded, and S
    folds left-to-right over the lang-sorted counts (never a
    shuffle-order float sum).  Plan: tiny per-lang aggregate + 1-row
    totals broadcast back onto the scan; the corpus is never
    shuffled.  Output is the per-lang audit (before / ring
    threshold / kept)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_before"))
    tot = counts.agg(
        F.sum("n_before").alias("n_total"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lang", "n_before"))),
                lambda s: F.sqrt(s["n_before"].cast("double")),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("s_sqrt"),
    )
    thr = F.least(
        F.lit(TEMP_RING).cast("bigint"),
        F.floor(
            F.col("n_total")
            / (F.col("s_sqrt") * F.sqrt(F.col("n_before").cast("double")))
            * F.lit(float(TEMP_RING))
        ).cast("bigint"),
    )
    bucket = F.pmod(
        spark_charhash(
            F.concat(F.col("doc_id").cast("string"), F.lit(":temp"))
        ),
        F.lit(TEMP_RING),
    )
    keep = bucket < thr
    return (
        d.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(tot))
        .groupBy("lang")
        .agg(
            F.max("n_before").alias("n_before"),
            F.max(thr).alias("keep_ring"),
            F.sum(keep.cast("bigint")).alias("n_kept"),
        )
        .orderBy("lang")
    )


_TEMP_HASH = duck_charhash("(CAST(doc_id AS VARCHAR) || ':temp')")
CORPUS_MIX_TEMPERATURE_ORACLE = f"""
WITH c AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
t AS (
  SELECT CAST(sum(n_before) AS BIGINT) AS n_total,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list(n_before ORDER BY lang),
                            x -> sqrt(CAST(x AS DOUBLE)))),
           (acc, v) -> acc + v) AS s_sqrt
  FROM c
),
d AS (
  SELECT doc.lang, c.n_before,
         least(CAST({TEMP_RING} AS BIGINT),
               CAST(floor(t.n_total
                    / (t.s_sqrt * sqrt(CAST(c.n_before AS DOUBLE)))
                    * {TEMP_RING}.0) AS BIGINT)) AS thr,
         ({_TEMP_HASH}) % {TEMP_RING} AS bucket
  FROM documents doc JOIN c ON doc.lang = c.lang, t
)
SELECT lang, max(n_before) AS n_before,
       max(thr) AS keep_ring,
       CAST(sum(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM d
GROUP BY lang
ORDER BY lang
"""

register(
    "corpus_mix_temperature",
    corpus_mix_temperature,
    CORPUS_MIX_TEMPERATURE_ORACLE,
)


# ---------------------------------------------------------------------------
# PII redaction — the scrubbing pass a pre-training pipeline runs
# before anonymize_customers' pseudonymization: structured
# identifiers (emails, phone numbers) matched by pattern and
# replaced with typed placeholder tokens, with per-row match counts
# kept as the audit trail.  Reference parity: the reference has no
# redaction; this extends its normalize step (SURVEY.md §2.1 #3 —
# also a regex rewrite of the value stream) to the compliance shape
# every published corpus pipeline (C4, The Pile, RefinedWeb) runs.
#
# The fixture corpus is synthetic word-soup with no real PII, so the
# operator builds a deterministic contact-note relation from the
# customer table first (phone/email presence varies by custkey
# residue — some rows carry both, some one, some none) and redacts
# that; the regexes and the note construction are mirrored exactly
# in the oracle, so matches are guaranteed non-trivial at every SF.
#
# Scale shape: pure per-row Catalyst regexp expressions — no
# shuffle, no UDF; at 100 TB the redaction fuses with the scan the
# same way normalize does.  Patterns are kept to the syntax subset
# Java regex and RE2 agree on (no backrefs, no lookaround).

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def _pii_notes(c: DataFrame) -> DataFrame:
    """Deterministic contact-note relation: custkey residues decide
    which identifiers appear, so every SF has a mix of clean rows,
    phone-only, email-only, and both."""
    k = F.col("c_custkey")
    phone = F.concat_ws(
        "-",
        (k % 90 + 10).cast("string"),
        (k % 900 + 100).cast("string"),
        (k * 7 % 900 + 100).cast("string"),
        (k % 9000 + 1000).cast("string"),
    )
    email = F.concat(
        F.lit("c"),
        k.cast("string"),
        F.lit("@ex"),
        (k % 7).cast("string"),
        F.lit(".org"),
    )
    note = F.concat(
        F.col("c_name"),
        F.when(k % 2 == 0, F.concat(F.lit(" ph "), phone)).otherwise(F.lit("")),
        F.when(k % 3 == 0, F.concat(F.lit(" mail "), email)).otherwise(
            F.lit("")
        ),
        F.lit(" seg "),
        F.col("c_mktsegment"),
    )
    return c.select("c_custkey", note.alias("note"))


def redact_pii_from(notes: DataFrame) -> DataFrame:
    """Redact emails then phones from a (c_custkey, note) relation;
    email first so the phone pattern can never split an address's
    digit runs."""
    n_email = F.regexp_count(F.col("note"), F.lit(PII_EMAIL_RE)).cast("long")
    # Materialize the email-redacted intermediate ONCE (a withColumn
    # stage, mirroring the oracle's pass1 CTE): Catalyst does not
    # reliably CSE regexp_replace across projection expressions, so
    # deriving both `redacted` and `n_phones` from inline copies
    # would run the email regex twice per row.
    pass1 = notes.withColumn(
        "after_email", F.regexp_replace("note", PII_EMAIL_RE, "[EMAIL]")
    )
    return (
        pass1.select(
            "c_custkey",
            n_email.alias("n_emails"),
            F.regexp_count(F.col("after_email"), F.lit(PII_PHONE_RE))
            .cast("long")
            .alias("n_phones"),
            F.regexp_replace("after_email", PII_PHONE_RE, "[PHONE]").alias(
                "redacted"
            ),
        )
        .orderBy("c_custkey")
    )


def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form: build the deterministic note relation over
    customers, redact, and report counts + redacted text."""
    return redact_pii_from(_pii_notes(load_table(spark, sf_dir, "customer")))


_PII_NOTE_SQL = """
  c_name
  || CASE WHEN c_custkey % 2 = 0
          THEN ' ph ' || CAST(c_custkey % 90 + 10 AS VARCHAR)
               || '-' || CAST(c_custkey % 900 + 100 AS VARCHAR)
               || '-' || CAST(c_custkey * 7 % 900 + 100 AS VARCHAR)
               || '-' || CAST(c_custkey % 9000 + 1000 AS VARCHAR)
          ELSE '' END
  || CASE WHEN c_custkey % 3 = 0
          THEN ' mail c' || CAST(c_custkey AS VARCHAR)
               || '@ex' || CAST(c_custkey % 7 AS VARCHAR) || '.org'
          ELSE '' END
  || ' seg ' || c_mktsegment
"""

TEXT_REDACT_PII_ORACLE = f"""
WITH notes AS (
  SELECT c_custkey, ({_PII_NOTE_SQL}) AS note FROM customer
),
pass1 AS (
  SELECT c_custkey,
         CAST(len(regexp_extract_all(note, '{PII_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
         regexp_replace(note, '{PII_EMAIL_RE}', '[EMAIL]', 'g') AS after_email
  FROM notes
)
SELECT c_custkey, n_emails,
       CAST(len(regexp_extract_all(after_email, '{PII_PHONE_RE}')) AS BIGINT)
           AS n_phones,
       regexp_replace(after_email, '{PII_PHONE_RE}', '[PHONE]', 'g')
           AS redacted
FROM pass1
ORDER BY c_custkey
"""

register("text_redact_pii", text_redact_pii, TEXT_REDACT_PII_ORACLE)


# ---------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al.,
# NeurIPS 2023): score every raw document by the log importance
# ratio of a target distribution to the raw distribution, both
# modeled as bag-of-hashed-bigrams with add-one smoothing:
#
#   w(doc) = sum over bigram occurrences g of
#            ln((ct[b(g)]+1)/(Nt+B)) - ln((cs[b(g)]+1)/(Ns+B))
#
# where ct/cs are hashed-bucket counts in the target / raw corpus.
# This is the standard pre-training data-selection method (used for
# the DSIR-filtered Pile); the target here is the corpus' English
# slice (CCNet-style "select raw docs that look like the trusted
# distribution").  Reference parity: the reference's only scoring
# primitive is word count (SURVEY.md §2.1 #8); this is that
# counting machinery grown into distribution matching.
#
# Determinism: bucket counts are exact ints; each per-bucket log
# ratio quantizes to micro-units BEFORE the per-doc sum (the BM25 /
# stable.py discipline), so the only float boundary is ln() on
# identical rationals.  Buckets come from the portable charhash, so
# DuckDB reproduces the stream bit-for-bit.
#
# Scale shape (100 TB): the bucket-weight table is <= DSIR_BUCKETS
# rows regardless of corpus size (two map-side-combining groupBys
# fold the corpus into it) and BROADCASTS to the scoring join; the
# only corpus-sized shuffle is the final per-doc sum.  Docs with
# fewer than 2 tokens have no bigrams and drop out by contract.

DSIR_BUCKETS = 4096
DSIR_SCALE = 1_000_000
DSIR_TARGET_LANG = "en"


def _bigram_buckets(d: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) — one row per bigram occurrence,
    bucket = portable charhash of 'w1 w2' mod DSIR_BUCKETS."""
    ws = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+", -1), lambda w: w != ""
    )
    bigrams = F.filter(
        F.zip_with(
            ws,
            F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        lambda g: g.contains(" "),
    )
    return (
        d.select("doc_id", "lang", F.explode(bigrams).alias("bigram"))
        .select(
            "doc_id",
            "lang",
            (spark_charhash(F.col("bigram")) % DSIR_BUCKETS).alias("bucket"),
        )
    )


def dsir_importance_weights_from(d: DataFrame) -> DataFrame:
    """Per-doc DSIR log importance weight of a (doc_id, text, lang)
    relation against its own `lang = DSIR_TARGET_LANG` slice."""
    # ONE corpus pass total (round 13; was 2 — counts + scoring
    # join): the bigram stream rolls up to per-(doc, bucket)
    # multiplicities `k`, and BOTH distributions' bucket counts and
    # the per-doc scores are exact integer rollups of that table
    # (sum(k), sum(qw * k)).  Round 14: the rollup itself is the
    # vectorized Arrow kernel (guide §4.2) — the per-bigram charhash
    # fold AND the groupBy(doc, lang, bucket) exchange both collapse
    # into one Python stage (per-doc rollup is exact because each doc
    # is one input row); values differentially tested against the
    # Catalyst _bigram_buckets fold.  The rollup is cached: it is the
    # only relation the two consumers below share, and it is
    # metadata-scale next to the instance stream.
    per_db = bigram_bucket_counts_arrow(
        d, "doc_id", "lang", "text", DSIR_BUCKETS
    ).cache()
    counts = per_db.groupBy("bucket").agg(
        F.sum("k").alias("c_s"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("k")).otherwise(
                F.lit(0)
            )
        ).alias("c_t"),
    )
    tot = counts.agg(
        F.sum("c_s").alias("n_s"), F.sum("c_t").alias("n_t")
    )
    weights = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            (
                F.log(
                    (F.col("c_t") + 1.0)
                    / (F.col("n_t") + F.lit(float(DSIR_BUCKETS)))
                )
                - F.log(
                    (F.col("c_s") + 1.0)
                    / (F.col("n_s") + F.lit(float(DSIR_BUCKETS)))
                )
            )
            * F.lit(float(DSIR_SCALE))
            + F.lit(0.5)
        ).alias("qw"),
    )
    scored = (
        per_db.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        # integer-exact equivalents of the per-instance folds:
        # count(*) == sum(k), sum(qw) == sum(qw * k)
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(F.col("qw") * F.col("k")).alias("sq"),
        )
    )
    return (
        scored.select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            (F.col("sq").cast("double") / DSIR_SCALE).alias("dsir_weight"),
            (F.col("sq") > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


def curate_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form over the documents fixture."""
    return dsir_importance_weights_from(load_table(spark, sf_dir, "documents"))


def dsir_cte_sql(src: str) -> str:
    """DuckDB CTE fragment mirroring
    :func:`dsir_importance_weights_from` over `src(doc_id, text,
    lang)`; ends in `dsir_doc(doc_id, n_bigrams, sq)`.  Shared by
    the standalone oracle and the composed c4 pipeline oracle."""
    return f"""dsir_toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS ws
  FROM {src}
),
dsir_bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i + 1])) AS bigram
  FROM dsir_toks WHERE len(ws) >= 2
),
dsir_bk AS (
  SELECT doc_id, lang,
         {duck_charhash('bigram')} % {DSIR_BUCKETS} AS bucket
  FROM dsir_bg
),
dsir_cs AS (SELECT bucket, count(*) AS c_s FROM dsir_bk GROUP BY bucket),
dsir_ct AS (
  SELECT bucket, count(*) AS c_t FROM dsir_bk
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
),
dsir_tot AS (
  SELECT count(*) AS n_s,
         count(*) FILTER (lang = '{DSIR_TARGET_LANG}') AS n_t
  FROM dsir_bk
),
dsir_w AS (
  SELECT cs.bucket,
         CAST(floor(
           (ln((coalesce(ct.c_t, 0) + 1.0) / (tot.n_t + {DSIR_BUCKETS}.0))
            - ln((cs.c_s + 1.0) / (tot.n_s + {DSIR_BUCKETS}.0)))
           * {DSIR_SCALE}.0 + 0.5) AS BIGINT) AS qw
  FROM dsir_cs cs LEFT JOIN dsir_ct ct ON ct.bucket = cs.bucket
  CROSS JOIN dsir_tot tot
),
dsir_doc AS (
  SELECT b.doc_id, count(*) AS n_bigrams, CAST(sum(w.qw) AS BIGINT) AS sq
  FROM dsir_bk b JOIN dsir_w w ON w.bucket = b.bucket
  GROUP BY b.doc_id
)"""


CURATE_DSIR_ORACLE = f"""
WITH {dsir_cte_sql('documents')}
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(sq AS DOUBLE) / {DSIR_SCALE} AS dsir_weight,
       sq > 0 AS keep
FROM dsir_doc
ORDER BY doc_id
"""

register("curate_dsir_weights", curate_dsir_weights, CURATE_DSIR_ORACLE)


# ---------------------------------------------------------------------------
# C4-style cross-document line dedup (Raffel et al. 2020, §2.2:
# "we discard all but one of any three-sentence span occurring more
# than once in the data set") — the corpus-global keep-first span
# dedup every web-scale pipeline runs, distinct from the DOC-level
# near-dup family: the unit of suppression is the span, and the
# surviving document is REWRITTEN without its duplicated spans.
#
# The fixture corpus is single-line word soup, so the span relation
# is constructed deterministically: each doc splits into 8-word
# segments, then every doc appends a global boilerplate footer and
# a per-source footer (the newsletter/attribution lines C4's rule
# exists to kill).  The construction is mirrored in the oracle, so
# suppression is non-trivial at every SF: the global footer
# survives in exactly ONE document corpus-wide, the source footers
# in one document per source.
#
# Keep-first semantics: an occurrence survives iff its span is
# unique OR it is the corpus-minimal occurrence, ordered by
# ord = doc_id * 1e6 + seg_idx (total order; idx < 1e6 by
# contract).  min(ord) and count(*) are both map-side-combining
# aggregates over the span key — no window over hot keys, so a
# boilerplate span appearing in 10% of a 100 TB corpus costs one
# combiner cell, not one reducer partition (the skew lesson from
# SKEWSTRESS).  Reassembly is one groupBy(doc) of kept spans.

LINE_SEG_W = 8
LINE_ORD_BASE = 1_000_000
LINE_FOOTER_GLOBAL = "subscribe to our newsletter for updates"


def _doc_segments(d: DataFrame) -> DataFrame:
    """(doc_id, idx, seg): 8-word segments of each doc, then the
    global footer and the per-source footer appended."""
    ws = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+", -1), lambda w: w != ""
    )
    n_seg = F.ceil(F.size(ws) / F.lit(LINE_SEG_W)).cast("int")
    # Guard n_seg == 0 (empty / whitespace-only doc): sequence(0, -1)
    # would DESCEND in Spark (default step -1) and emit two empty
    # segments, while the oracle's range(0, 0) emits none.
    segs = F.when(
        n_seg > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(
                F.slice(ws, i * LINE_SEG_W + 1, LINE_SEG_W), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_footers = F.concat(
        segs,
        F.array(
            F.lit(LINE_FOOTER_GLOBAL),
            F.concat(F.lit("brought to you by "), F.col("source")),
        ),
    )
    return d.select("doc_id", F.posexplode(with_footers).alias("idx", "seg"))


def line_dedup_from(segments: DataFrame) -> DataFrame:
    """Corpus-global keep-first span dedup of a (doc_id, idx, seg)
    relation; returns per-doc suppression stats + rewritten text."""
    occ = segments.withColumn(
        "ord", F.col("doc_id") * LINE_ORD_BASE + F.col("idx")
    )
    keymin = occ.groupBy("seg").agg(
        F.count("*").alias("cnt"), F.min("ord").alias("min_ord")
    )
    marked = occ.join(keymin, "seg").withColumn(
        "kept", (F.col("cnt") == 1) | (F.col("ord") == F.col("min_ord"))
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_segs"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct("idx", "seg"))
                    )
                ),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("new_text"),
    )
    return per_doc.orderBy("doc_id")


def curate_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form over the constructed span relation."""
    return line_dedup_from(
        _doc_segments(load_table(spark, sf_dir, "documents"))
    )


def line_dedup_cte_sql(src: str) -> str:
    """DuckDB CTE fragment mirroring the constructed-span line
    dedup over `src(doc_id, text, source)`; ends in
    `ld_marked(doc_id, idx, seg, kept)`."""
    return f"""ld_toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS ws
  FROM {src}
),
ld_segs AS (
  SELECT doc_id,
         list_concat(
           list_transform(
             range(0, CAST(ceil(len(ws) / {LINE_SEG_W}.0) AS BIGINT)),
             i -> array_to_string(
                    ws[i * {LINE_SEG_W} + 1 : i * {LINE_SEG_W} + {LINE_SEG_W}],
                    ' ')),
           ['{LINE_FOOTER_GLOBAL}', 'brought to you by ' || source]
         ) AS sl
  FROM ld_toks
),
ld_occ0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(sl) + 1),
           i -> struct_pack(idx := i - 1, seg := sl[i]))) AS o
  FROM ld_segs
),
ld_occ AS (
  SELECT doc_id, o.idx AS idx, o.seg AS seg,
         doc_id * {LINE_ORD_BASE} + o.idx AS ord
  FROM ld_occ0
),
ld_keymin AS (
  SELECT seg, count(*) AS cnt, min(ord) AS min_ord
  FROM ld_occ GROUP BY seg
),
ld_marked AS (
  SELECT o.doc_id, o.idx, o.seg,
         (k.cnt = 1 OR o.ord = k.min_ord) AS kept
  FROM ld_occ o JOIN ld_keymin k ON k.seg = o.seg
)"""


LINE_DEDUP_FINAL_SQL = """
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       coalesce(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY idx),
                '') AS new_text
FROM ld_marked
GROUP BY doc_id
"""

CURATE_LINE_DEDUP_ORACLE = f"""
WITH {line_dedup_cte_sql('documents')}
{LINE_DEDUP_FINAL_SQL}
ORDER BY doc_id
"""

register("curate_line_dedup", curate_line_dedup, CURATE_LINE_DEDUP_ORACLE)


# ---------------------------------------------------------------------------
# The composed C4-style curation pipeline — the whole round-7
# LLM-data chain fused into ONE job under ONE oracle: Gopher
# quality gates (numeric battery, stopword rule dropped per the
# CCNet/RefinedWeb multilingual convention) AND the duplicate-line
# repetition gate select survivors; survivors' spans dedup
# corpus-globally (keep-first) and each doc is REWRITTEN; the
# rewritten corpus is DSIR-scored against its own English slice to
# produce the final selection flag.  Every stage is the SAME code
# as its standalone query (gopher_rules_from / rep_lines_from /
# line_dedup_from / dsir_importance_weights_from, and the oracle
# composes the SAME CTE fragments), so pipeline and parts cannot
# drift — the pipeline_end_to_end discipline applied to the
# training-data path.
#
# Scale shape: the union of its stages' shapes — scan-fused gates,
# two combinable span aggregates + one doc regroup, broadcast
# bucket weights + one doc sum.  Docs failing a gate or (by DSIR
# contract) holding < 2 tokens after rewrite drop out.

def c4_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_pipeline_from(load_table(spark, sf_dir, "documents"))


def c4_pipeline_from(d: DataFrame) -> DataFrame:
    """The composed curation chain over any (doc_id, text, lang)
    relation: quality gates (Gopher structural rules + repeated-
    line caps) -> C4 line-level dedup rewrite -> DSIR importance
    selection.  Extracted from the registered sf-dir form so the
    1M-doc pipeline ladder (scripts/pipeline_ladder_scale.py,
    round-11 VERDICT #5) exercises the IDENTICAL composition the
    oracle certifies at fixture scale."""
    from .text_analysis import gopher_rules_from, rep_lines_from

    g = gopher_rules_from(d, require_stops=False).where("keep").select(
        "doc_id"
    )
    r = rep_lines_from(d).where("keep").select("doc_id")
    survivors = d.join(g, "doc_id").join(r, "doc_id")
    # the rewritten relation is doc-count-sized (one row per
    # survivor) but its lineage is the whole gate+dedup chain; the
    # DSIR stage reads it twice (bucket counts, scoring join) and
    # the final join a third time — localCheckpoint materializes it
    # once so the corpus scans upstream run once, not three times
    rewritten = line_dedup_from(_doc_segments(survivors)).localCheckpoint()
    # lang comes from the bare table scan, not `survivors`, so the
    # gate subplan is not re-run just to recover a column (rewritten
    # already restricts to survivor doc_ids)
    redocs = rewritten.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id", F.col("new_text").alias("text"), "lang"
    )
    w = dsir_importance_weights_from(redocs)
    return (
        rewritten.join(w, "doc_id")
        .select(
            "doc_id",
            "n_segs",
            "n_removed",
            "n_bigrams",
            "dsir_weight",
            F.col("keep").alias("selected"),
        )
        .orderBy("doc_id")
    )


C4_PIPELINE_ORACLE = f"""
WITH {{gopher_ctes}},
{{rep_ctes}},
survivors AS (
  SELECT d.doc_id, d.text, d.lang, d.source
  FROM documents d
  JOIN gq ON gq.doc_id = d.doc_id AND gq.keep
  JOIN rq ON rq.doc_id = d.doc_id AND rq.keep
),
{{line_ctes}},
rewritten AS ({LINE_DEDUP_FINAL_SQL}),
redocs AS (
  SELECT r.doc_id, r.new_text AS text, s.lang
  FROM rewritten r JOIN survivors s ON s.doc_id = r.doc_id
),
{{dsir_ctes}}
SELECT r.doc_id, r.n_segs, r.n_removed,
       CAST(dd.n_bigrams AS BIGINT) AS n_bigrams,
       CAST(dd.sq AS DOUBLE) / {DSIR_SCALE} AS dsir_weight,
       dd.sq > 0 AS selected
FROM rewritten r JOIN dsir_doc dd ON dd.doc_id = r.doc_id
ORDER BY r.doc_id
"""


def _c4_pipeline_oracle_sql() -> str:
    from .text_analysis import gopher_cte_sql, rep_cte_sql

    return C4_PIPELINE_ORACLE.format(
        gopher_ctes=gopher_cte_sql("documents", require_stops=False),
        rep_ctes=rep_cte_sql("documents"),
        line_ctes=line_dedup_cte_sql("survivors"),
        dsir_ctes=dsir_cte_sql("redocs"),
    )


register(
    "c4_pipeline_end_to_end", c4_pipeline_end_to_end, _c4_pipeline_oracle_sql()
)
