"""Text analysis operators for training-data pipelines: language-ID
heuristic, quality scoring, token counting, document fingerprinting
(SURVEY.md §2.2 north-star rows; the reference's only text analysis
is word count).

All pure Catalyst expressions — regexp + higher-order functions,
zero UDFs, so the whole stage is one codegen'd map over the corpus:
at 100 TB this pipelines with the parquet scan, no shuffle at all
(the only shuffle below is the final orderBy for stable output,
which the driver's comparison doesn't even need).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import duck_word_fingerprint
from ..functions.text import (
    BPE_ISH_RE,
    EN_STOPWORDS,
    punct_ratio,
    stopword_ratio,
    token_count_bpe_ish,
    token_count_ws,
)
from ..io import load_table
from ..registry import register

_STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword count +
    char length sanity vs the n_chars metadata column."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.length("text").alias("len_chars"),
            "n_chars",
            token_count_ws("text").alias("ws_tokens"),
            token_count_bpe_ish("text").alias("bpe_tokens"),
        )
        .orderBy("doc_id")
    )


TEXT_TOKEN_STATS_ORACLE = f"""
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS len_chars,
       n_chars,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS INTEGER)
           AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_ISH_RE}')) AS INTEGER)
           AS bpe_tokens
FROM documents
ORDER BY doc_id
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: char length, mean token length, punctuation
    ratio, stopword ratio, and a composite keep/drop flag — the
    standard pre-training corpus filter shape."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = token_count_ws("text")
    mean_tok_len = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace("text", r"\s+", "")).cast("double")
        / n_tok.cast("double")
    )
    sw = stopword_ratio("text")
    pr = punct_ratio("text")
    keep = (
        (F.col("len_chars") >= 100)
        & (F.col("punct_ratio") <= 0.2)
        & (F.col("stop_ratio") >= 0.01)
    )
    return (
        d.select(
            "doc_id",
            F.length("text").alias("len_chars"),
            mean_tok_len.alias("mean_tok_len"),
            pr.alias("punct_ratio"),
            sw.alias("stop_ratio"),
        )
        .withColumn("keep", keep)
        .orderBy("doc_id")
    )


TEXT_QUALITY_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         CAST(length(text) AS INTEGER) AS len_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok,
         length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
         length(text) AS n_all,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       x -> list_contains({_STOPLIST_SQL}, x))) END AS n_stop
  FROM documents
)
SELECT doc_id, len_chars,
       CASE WHEN n_tok = 0 THEN 0.0
            ELSE CAST(n_nonspace AS DOUBLE) / n_tok END AS mean_tok_len,
       CASE WHEN n_all = 0 THEN 0.0
            ELSE CAST(n_punct AS DOUBLE) / n_all END AS punct_ratio,
       CASE WHEN n_tok = 0 THEN 0.0
            ELSE CAST(n_stop AS DOUBLE) / n_tok END AS stop_ratio,
       (len_chars >= 100
        AND CASE WHEN n_all = 0 THEN 0.0
                 ELSE CAST(n_punct AS DOUBLE) / n_all END <= 0.2
        AND CASE WHEN n_tok = 0 THEN 0.0
                 ELSE CAST(n_stop AS DOUBLE) / n_tok END >= 0.01) AS keep
FROM base
ORDER BY doc_id
"""


def text_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English stopword density.  (The
    fixture corpus is English word-soup under assorted lang tags, so
    the heuristic flags nearly everything 'en' — the operator shape
    is what matters: pure-expression per-doc scoring.)"""
    d = load_table(spark, sf_dir, "documents")
    sw = stopword_ratio("text")
    return (
        d.select(
            "doc_id",
            "lang",
            sw.alias("en_score"),
        )
        .withColumn(
            "pred_lang",
            F.when(F.col("en_score") >= 0.05, "en").otherwise("other"),
        )
        .withColumn("agrees", F.col("pred_lang") == F.col("lang"))
        .orderBy("doc_id")
    )


TEXT_LANG_GUESS_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang,
         CASE WHEN length(trim(text)) = 0 THEN 0.0
              ELSE CAST(len(list_filter(
                       string_split_regex(lower(trim(text)), '\\s+'),
                       x -> list_contains({_STOPLIST_SQL}, x))) AS DOUBLE)
                   / len(string_split_regex(trim(text), '\\s+')) END
             AS en_score
  FROM documents
)
SELECT doc_id, lang, en_score,
       CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang,
       (CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END) = lang AS agrees
FROM base
ORDER BY doc_id
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (polynomial
    mod 1e9+7 over normalized words) — content-defined identity for
    dedup joins; pure integer arithmetic, bit-exact across engines."""
    from ..functions.hashing_arrow import word_fingerprint_arrow

    d = load_table(spark, sf_dir, "documents")
    # round 14: the per-char/per-word polynomial fold runs in the
    # Arrow kernel (guide §4.2) — value-identical to
    # spark_word_fingerprint over the same filtered token array
    # (differentially tested in tests/test_portable_hash.py)
    return word_fingerprint_arrow(d, "doc_id", "text").orderBy("doc_id")


_DUCK_WORDS = (
    "list_filter(list_transform("
    "string_split_regex(lower(trim(text)), '\\s+'), "
    "w -> regexp_replace(w, '[^a-z]', '', 'g')), w -> w <> '')"
)

TEXT_FINGERPRINT_ORACLE = f"""
SELECT doc_id, {duck_word_fingerprint(_DUCK_WORDS)} AS fp
FROM documents
ORDER BY doc_id
"""


register("text_token_stats", text_token_stats, TEXT_TOKEN_STATS_ORACLE)
register("text_quality", text_quality, TEXT_QUALITY_ORACLE)
register("text_lang_guess", text_lang_guess, TEXT_LANG_GUESS_ORACLE)
register("text_fingerprint", text_fingerprint, TEXT_FINGERPRINT_ORACLE)


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by TF-IDF.

    tf = term count / doc token count; idf = ln((N+1)/(df+1)).
    All shuffles key on doc_id or term (never a cross product);
    the corpus size N joins in as a broadcast single-row aggregate.
    Ranking uses the score QUANTIZED at 1e-9 with a term tiebreak so
    both engines order identically (a final-ulp ln() divergence
    cannot flip a rank unless two scores differ by < 1e-9, in which
    case the term tiebreak decides both sides the same way).
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("cnt"))
    dlen = tf.groupBy("doc_id").agg(F.sum("cnt").alias("dlen"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    nd = d.agg(F.count("*").alias("n_docs"))
    score = (F.col("cnt") / F.col("dlen")) * F.log(
        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
    )
    qscore = F.floor(score * 1e9 + 0.5)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("qs").desc(), F.col("term").asc()
    )
    return (
        tf.join(dlen, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn("qs", qscore)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "doc_id",
            "term",
            (F.col("qs") / 1e9).alias("tfidf"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("doc_id", "rk")
    )


TEXT_TFIDF_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS cnt
  FROM tok WHERE term <> ''
  GROUP BY doc_id, term
),
dlen AS (SELECT doc_id, sum(cnt) AS dlen FROM tf GROUP BY doc_id),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         floor((CAST(cnt AS DOUBLE) / dlen)
               * ln((n_docs + 1.0) / (df + 1.0)) * 1e9 + 0.5) AS qs
  FROM tf
  JOIN dlen USING (doc_id)
  JOIN dfreq USING (term)
  CROSS JOIN nd
)
SELECT doc_id, term, qs / 1e9 AS tfidf, rk FROM (
  SELECT doc_id, term, qs,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY qs DESC, term ASC) AS INTEGER) AS rk
  FROM scored
) t
WHERE rk <= 3
ORDER BY doc_id, rk
"""

register("text_tfidf_top_terms", text_tfidf_top_terms, TEXT_TFIDF_ORACLE)


PMI_MIN_COUNT = 5
PMI_TOP_K = 20


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information over the
    whole corpus: lift = p(w1 w2) / (p(w1) p(w2)) — ranked on the
    raw lift ratio rather than its log (same ordering, and pure
    IEEE division of exact integer counts is bit-reproducible
    cross-engine, where libm log need not be).

    Scale shape: bigram and unigram counts are two independent
    partial-agg cascades over one corpus scan each; the unigram
    vocabulary is broadcast onto the bigram counts twice (w1, w2
    roles), scalar totals ride a 1-row broadcast; the final top-k
    is a TakeOrdered over the vocabulary-sized counts relation,
    never the corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+", -1)
    words = d.select(F.explode(toks).alias("w")).where(F.col("w") != "")
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.sum("c").alias("n_uni"))

    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(0), F.size(toks) - 2)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)))
    big = (
        d.select(F.explode(grams).alias("bigram"))
        .where(F.col("bigram") != "")
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    n_big = big.agg(F.sum("c_ab").alias("n_big"))

    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    split_w = F.split(F.col("bigram"), " ")
    lift = (
        F.col("c_ab").cast("double")
        * F.col("n_uni")
        / F.col("c_a")
        * F.col("n_uni")
        / F.col("c_b")
        / F.col("n_big")
    )
    return (
        big.withColumn("w1", split_w[0])
        .withColumn("w2", split_w[1])
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select("bigram", "c_ab", "c_a", "c_b", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), F.col("bigram"))
        .limit(PMI_TOP_K)
    )


TEXT_PMI_ORACLE = f"""
WITH toks AS (
  SELECT string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
),
words AS (
  SELECT unnest(w) AS w FROM toks
),
uni AS (
  SELECT w, count(*) AS c FROM words WHERE w <> '' GROUP BY w
),
n_uni AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
grams AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
         i -> concat_ws(' ', w[i], w[i+1]))) AS bigram
  FROM toks
),
big AS (
  SELECT bigram, count(*) AS c_ab FROM grams WHERE bigram <> ''
  GROUP BY bigram HAVING count(*) >= {PMI_MIN_COUNT}
),
n_big AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_big FROM big)
SELECT bigram, c_ab, c_a, c_b,
       CAST(c_ab AS DOUBLE) * n_uni / c_a * n_uni / c_b / n_big AS lift
FROM (
  SELECT b.bigram, b.c_ab,
         string_split(b.bigram, ' ')[1] AS w1,
         string_split(b.bigram, ' ')[2] AS w2
  FROM big b
) s
JOIN uni ua ON s.w1 = ua.w
JOIN uni ub ON s.w2 = ub.w
CROSS JOIN n_uni CROSS JOIN n_big
CROSS JOIN LATERAL (SELECT ua.c AS c_a, ub.c AS c_b) x
ORDER BY lift DESC, bigram
LIMIT {PMI_TOP_K}
"""

register("text_pmi_collocations", text_pmi_collocations, TEXT_PMI_ORACLE)


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A1.1)
# — the standard rule battery a pre-training corpus filter runs
# before any model-based scoring.  Reference parity: the reference
# engine's only quality signal is word count (SURVEY.md §2.1 #8);
# this is that signal grown into the published production filter.
#
# Scale shape: pure per-doc Catalyst expressions over one corpus
# scan — no shuffle at all except the stable-output orderBy; at
# 100 TB this fuses with the parquet scan exactly like text_quality.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_REQ_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_REQ_STOPS = 2

_REQ_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in GOPHER_REQ_STOPS) + "]"


def gopher_rules_from(d: DataFrame, require_stops: bool = True) -> DataFrame:
    """Per-document Gopher rule metrics + composite keep flag over a
    (doc_id, text) relation.

    Every metric is an integer count or a ratio of integer counts
    (double division of exact ints — deterministic cross-engine);
    words are whitespace tokens, lines are LF-split segments, and
    the symbol alphabet is {'#', '...', '…'} per the paper.
    `require_stops=False` drops the English-stopword rule — the
    CCNet/RefinedWeb convention for multilingual corpora (the
    composed c4 pipeline uses it; the registered battery keeps the
    full Gopher rule set).
    """
    words = F.filter(
        F.split(F.trim("text"), r"\s+", -1), lambda w: w != ""
    )
    lines = F.split("text", "\n", -1)
    n_words = F.size(words).cast("long")
    n_lines = F.size(lines).cast("long")
    n_alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    n_symbols = F.regexp_count(
        F.col("text"), F.lit(r"#|\.\.\.|…")
    ).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
        )
    ).cast("long")
    n_ellipsis = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    ).cast("long")
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", "")).cast("long")
    n_req = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(w) for w in GOPHER_REQ_STOPS]),
        )
    ).cast("long")
    mean_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
        n_nonspace.cast("double") / n_words.cast("double")
    )
    sym_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        n_symbols.cast("double") / n_words.cast("double")
    )
    alpha_frac = F.when(n_words == 0, F.lit(0.0)).otherwise(
        n_alpha_words.cast("double") / n_words.cast("double")
    )
    bullet_frac = n_bullet.cast("double") / n_lines.cast("double")
    ellipsis_frac = n_ellipsis.cast("double") / n_lines.cast("double")
    base = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        n_req.alias("n_req_stops"),
    )
    keep = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MIN_MEAN_LEN)
        & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_LEN)
        & (F.col("symbol_ratio") < GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("bullet_frac") < GOPHER_MAX_BULLET_FRAC)
        & (F.col("ellipsis_frac") < GOPHER_MAX_ELLIPSIS_FRAC)
        & (F.col("alpha_frac") > GOPHER_MIN_ALPHA_FRAC)
    )
    if require_stops:
        keep = keep & (F.col("n_req_stops") >= GOPHER_MIN_REQ_STOPS)
    return base.withColumn("keep", keep).orderBy("doc_id")


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`gopher_rules_from` (full rule set)
    over the documents fixture."""
    return gopher_rules_from(load_table(spark, sf_dir, "documents"))


def gopher_cte_sql(src: str, require_stops: bool = True) -> str:
    """DuckDB CTE fragment mirroring :func:`gopher_rules_from` over
    `src(doc_id, text)`; ends in `gq(doc_id, ..., keep)`.  Shared by
    the standalone oracle and the composed c4 pipeline oracle so the
    two cannot drift."""
    stops_clause = (
        f"\n        AND n_req_stops >= {GOPHER_MIN_REQ_STOPS}"
        if require_stops
        else ""
    )
    return f"""gq_base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     w -> w <> '') AS words,
         string_split(text, chr(10)) AS lines,
         length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
         len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS n_symbols
  FROM {src}
),
gq_m AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(words,
              w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
             AS n_alpha_words,
         CAST(n_symbols AS BIGINT) AS n_symbols,
         CAST(len(list_filter(lines,
              l -> starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
                   OR starts_with(ltrim(l), '•'))) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lines,
              l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
             AS BIGINT) AS n_ellipsis,
         CAST(n_nonspace AS BIGINT) AS n_nonspace,
         CAST(len(list_intersect(
              list_distinct(list_transform(words, w -> lower(w))),
              {_REQ_STOPS_SQL})) AS BIGINT) AS n_req_stops
  FROM gq_base
),
gq_r AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE CAST(n_nonspace AS DOUBLE) / n_words END AS mean_word_len,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE CAST(n_symbols AS DOUBLE) / n_words END AS symbol_ratio,
         CAST(n_bullet AS DOUBLE) / n_lines AS bullet_frac,
         CAST(n_ellipsis AS DOUBLE) / n_lines AS ellipsis_frac,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE CAST(n_alpha_words AS DOUBLE) / n_words END AS alpha_frac,
         n_req_stops
  FROM gq_m
),
gq AS (
  SELECT *,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
        AND mean_word_len >= {GOPHER_MIN_MEAN_LEN!r}
        AND mean_word_len <= {GOPHER_MAX_MEAN_LEN!r}
        AND symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO!r}
        AND bullet_frac < {GOPHER_MAX_BULLET_FRAC!r}
        AND ellipsis_frac < {GOPHER_MAX_ELLIPSIS_FRAC!r}
        AND alpha_frac > {GOPHER_MIN_ALPHA_FRAC!r}{stops_clause}) AS keep
  FROM gq_r
)"""


QUALITY_GOPHER_RULES_ORACLE = f"""
WITH {gopher_cte_sql('documents')}
SELECT * FROM gq
ORDER BY doc_id
"""

register("quality_gopher_rules", quality_gopher_rules, QUALITY_GOPHER_RULES_ORACLE)


# ---------------------------------------------------------------------------
# Gopher repetition battery — duplicate LINE metrics (Rae et al.
# 2021 Appendix A1.1, "repetitious text" rules), complementing
# doc_ngram_repetition's n-gram view: the fraction of lines that
# are repeats of an earlier line, and the fraction of CHARACTERS
# living in those repeated occurrences.  Pure per-row array
# algebra — n_dup_lines = n_lines - n_distinct_lines and
# dup_char_frac = (total_line_chars - distinct_line_chars) /
# total_line_chars, both exact integer ratios.
#
# Scale shape: scan-fused per-doc expressions, zero shuffle except
# the stable-output orderBy; at 100 TB this rides the same corpus
# scan as quality_gopher_rules.

REP_MAX_DUP_LINE_FRAC = 0.30   # Gopher: duplicate line fraction
REP_MAX_DUP_CHAR_FRAC = 0.20   # Gopher: duplicate line character fraction


def rep_lines_from(d: DataFrame) -> DataFrame:
    """Duplicate-line metrics + keep flag over a (doc_id, text)
    relation."""
    lines = F.split("text", "\n", -1)
    dlines = F.array_distinct(lines)
    sum_len = lambda arr: F.aggregate(  # noqa: E731
        arr,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.length(x).cast("bigint"),
    )
    n_lines = F.size(lines).cast("long")
    n_distinct = F.size(dlines).cast("long")
    chars_all = sum_len(lines)
    chars_distinct = sum_len(dlines)
    dup_line_frac = (n_lines - n_distinct).cast("double") / n_lines.cast(
        "double"
    )
    dup_char_frac = F.when(chars_all == 0, F.lit(0.0)).otherwise(
        (chars_all - chars_distinct).cast("double") / chars_all.cast("double")
    )
    base = d.select(
        "doc_id",
        n_lines.alias("n_lines"),
        (n_lines - n_distinct).alias("n_dup_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_char_frac.alias("dup_char_frac"),
    )
    keep = (F.col("dup_line_frac") <= REP_MAX_DUP_LINE_FRAC) & (
        F.col("dup_char_frac") <= REP_MAX_DUP_CHAR_FRAC
    )
    return base.withColumn("keep", keep).orderBy("doc_id")


def quality_rep_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`rep_lines_from`."""
    return rep_lines_from(load_table(spark, sf_dir, "documents"))


def rep_cte_sql(src: str) -> str:
    """DuckDB CTE fragment mirroring :func:`rep_lines_from` over
    `src(doc_id, text)`; ends in `rq(doc_id, ..., keep)`."""
    return f"""rq_base AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS lines,
         list_distinct(string_split(text, chr(10))) AS dlines
  FROM {src}
),
rq_m AS (
  SELECT doc_id,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(lines) - len(dlines) AS BIGINT) AS n_dup_lines,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(lines, l -> CAST(length(l) AS BIGINT))),
              (a, x) -> a + x) AS BIGINT) AS chars_all,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(dlines, l -> CAST(length(l) AS BIGINT))),
              (a, x) -> a + x) AS BIGINT) AS chars_distinct
  FROM rq_base
),
rq_r AS (
  SELECT doc_id, n_lines, n_dup_lines,
         CAST(n_dup_lines AS DOUBLE) / n_lines AS dup_line_frac,
         CASE WHEN chars_all = 0 THEN 0.0
              ELSE CAST(chars_all - chars_distinct AS DOUBLE) / chars_all
         END AS dup_char_frac
  FROM rq_m
),
rq AS (
  SELECT *,
       (dup_line_frac <= {REP_MAX_DUP_LINE_FRAC!r}
        AND dup_char_frac <= {REP_MAX_DUP_CHAR_FRAC!r}) AS keep
  FROM rq_r
)"""


QUALITY_REP_LINES_ORACLE = f"""
WITH {rep_cte_sql('documents')}
SELECT * FROM rq
ORDER BY doc_id
"""

register("quality_rep_lines", quality_rep_lines, QUALITY_REP_LINES_ORACLE)


# ---------------------------------------------------------------------------
# HTML text extraction — the WET step every web-corpus pipeline
# (C4, CCNet, RefinedWeb) runs before any quality/dedup pass:
# drop script/style blocks with their contents, strip markup,
# decode the core entities, collapse whitespace.  Reference parity:
# the reference normalizes [a-zA-Z]+lower (SURVEY.md §2.1 #3); this
# is that regex-rewrite stage grown into the real boilerplate
# stripper.
#
# The fixture is plain word soup, so each doc first renders into a
# deterministic HTML page (title/head/style/script blocks, heading,
# paragraph with entities, per-source attribution list) — mirrored
# in the oracle, so extraction is non-trivial at every SF and the
# oracle checks the EXTRACTED text value, not just counts.
#
# Scale shape: a fixed chain of per-row Catalyst regexp_replace
# calls (RE2/Java-compatible subset: no backrefs, no lookaround;
# the constructed pages are single-line so '.' needs no DOTALL) —
# scan-fused, zero shuffle except the stable-output orderBy.

HTML_BLOCK_RE = r"<(script|style)>[^<]*</(script|style)>"
HTML_TAG_RE = r"<[^>]*>"


def _html_pages(d: DataFrame) -> DataFrame:
    """Deterministic HTML rendering of each document: first words
    become title/heading/body fragments with entity escapes."""
    ws = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+", -1), lambda w: w != ""
    )
    w = lambda i: F.element_at(ws, i)  # noqa: E731
    html = F.concat(
        F.lit("<html><head><title>"),
        w(1),
        F.lit(" "),
        w(2),
        F.lit("</title><style>body{margin:0}</style>"),
        F.lit("<script>var t=1;</script></head><body><h1>"),
        w(3),
        F.lit("</h1><p>"),
        F.array_join(F.slice(ws, 4, 12), " "),
        F.lit(" &amp; "),
        w(16),
        F.lit(" &lt;"),
        w(17),
        F.lit("&gt;</p><ul><li>source "),
        F.col("source"),
        F.lit("</li><li>lang "),
        F.col("lang"),
        F.lit("</li></ul><footer>&quot;"),
        w(18),
        F.lit("&quot;</footer></body></html>"),
    )
    return d.where(F.size(ws) >= 18).select("doc_id", html.alias("html"))


def html_extract_from(pages: DataFrame) -> DataFrame:
    """Extract visible text from a (doc_id, html) relation."""
    no_blocks = F.regexp_replace("html", HTML_BLOCK_RE, " ")
    no_tags = F.regexp_replace(no_blocks, HTML_TAG_RE, " ")
    decoded = F.replace(
        F.replace(
            F.replace(
                F.replace(no_tags, F.lit("&lt;"), F.lit("<")),
                F.lit("&gt;"),
                F.lit(">"),
            ),
            F.lit("&quot;"),
            F.lit('"'),
        ),
        F.lit("&amp;"),
        F.lit("&"),
    )
    clean = F.trim(F.regexp_replace(decoded, r"\s+", " "))
    return (
        pages.select(
            "doc_id",
            F.regexp_count(F.col("html"), F.lit(HTML_TAG_RE))
            .cast("long")
            .alias("n_tags"),
            F.length("html").cast("long").alias("raw_len"),
            clean.alias("extracted"),
        )
        .withColumn("text_len", F.length("extracted").cast("long"))
        .orderBy("doc_id")
    )


def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form: render deterministic pages, then extract."""
    return html_extract_from(_html_pages(load_table(spark, sf_dir, "documents")))


_HTML_PAGE_SQL = """
  '<html><head><title>' || ws[1] || ' ' || ws[2]
  || '</title><style>body{margin:0}</style>'
  || '<script>var t=1;</script></head><body><h1>' || ws[3]
  || '</h1><p>' || array_to_string(ws[4:15], ' ')
  || ' &amp; ' || ws[16] || ' &lt;' || ws[17] || '&gt;</p><ul><li>source '
  || source || '</li><li>lang ' || lang || '</li></ul><footer>&quot;'
  || ws[18] || '&quot;</footer></body></html>'
"""

TEXT_HTML_EXTRACT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, lang,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS ws
  FROM documents
),
pages AS (
  SELECT doc_id, ({_HTML_PAGE_SQL}) AS html
  FROM toks WHERE len(ws) >= 18
),
ex AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(html, '{HTML_TAG_RE}')) AS BIGINT)
           AS n_tags,
         CAST(length(html) AS BIGINT) AS raw_len,
         trim(regexp_replace(
           replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(html, '{HTML_BLOCK_RE}', ' ', 'g'),
               '{HTML_TAG_RE}', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
           '\\s+', ' ', 'g')) AS extracted
  FROM pages
)
SELECT doc_id, n_tags, raw_len, extracted,
       CAST(length(extracted) AS BIGINT) AS text_len
FROM ex
ORDER BY doc_id
"""

register("text_html_extract", text_html_extract, TEXT_HTML_EXTRACT_ORACLE)
