"""Retrieval operators — the query-serving side of the corpus:

- `text_bm25_topk`: Okapi BM25 ranked retrieval (Robertson &
  Spärck Jones / Robertson et al., TREC-3) of the top documents
  for a fixed keyword query, over an inverted-index-shaped term
  relation.
- `ann_two_stage_rerank`: the production ANN serving shape — a
  cheap quantized first stage (SQ8 asymmetric-distance over LSH
  bucket candidates, similarity.py) proposes RERANK_C candidates
  per query, then ONLY those candidates fetch their full-precision
  vectors for an exact cosine rerank (the "coarse quantizer +
  rerank" pattern of Jégou et al., TPAMI 2011, and every FAISS /
  vector-DB deployment).

Reference parity: the reference engine ranks words by count
(SURVEY.md §2.1 #8/#10 sorted text sink); BM25 is that ranking
machinery upgraded to a scored retrieval operator, and the rerank
composes the §2.2 LLM-pipeline ANN family into its serving form.

Scale shape (100 TB):
- BM25 never materializes a scores-for-all-docs relation to rank:
  the term filter lands ON THE TOKEN STREAM before any shuffle
  (only query-term postings move), doc lengths aggregate map-side,
  corpus constants (N, avgdl) and the per-term df ride 1-row /
  |terms|-row broadcasts, and the final top-k is
  TakeOrderedAndProject — no global sort, no global window.
- Per-term BM25 contributions are quantized to exact bigints
  BEFORE the per-doc sum (functions/stable.py discipline), so the
  ln() libm call is the only float boundary.  Residual exposure:
  a last-ulp JVM-vs-DuckDB ln() difference landing exactly on a
  quantization boundary can flip the floor() and change the
  emitted bm25 VALUE (not just a rank), failing the value-hash
  oracle — the same latent libm exposure doc_char_entropy's log2
  carries; current parity artifacts pass on this host.
- The rerank's expensive exact stage touches RERANK_C vectors per
  query instead of the corpus; the candidate fetch is an equi-join
  on vec_id — at scale, a point-lookup-shaped join against the
  (cold, full-precision) vector store, while the scan side only
  ever reads the 4x-smaller int8 index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine, dot, duck_cosine, duck_dot
from ..io import load_table
from ..registry import register
from .similarity import (
    N_CELLS,
    N_PLANES,
    N_PROBE,
    QUERY_MOD,
    RERANK_C_CAP,
    RERANK_C_FLOOR,
    RERANK_MARGIN,
    TOPK,
    binary_hamming_cands_from,
    binary_oracle_ctes,
    ivfadc_budget_ctes,
    ivfadc_collision_budget,
    ivfadc_index,
    ivfadc_oracle_ctes,
    ivfadc_scored_from,
    sq8_oracle_ctes,
    sq8_queries,
    sq8_recon_index,
)

BM25_TERMS = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
BM25_SCALE = 1_000_000_000  # per-term quantization before the doc sum

# fixed coarse-candidate floor for the LSH/SQ8 two-stage form; the
# IVFADC rerank derives its budget from the code-collision histogram
# (ivfadc_collision_budget) with this as the floor and RERANK_C_CAP
# as the ceiling
RERANK_C = RERANK_C_FLOOR


def bm25_scored_from(d: DataFrame) -> DataFrame:
    """BM25 scored stage of a (doc_id, text) relation for the fixed
    query {spark, join, window}: one (doc_id, sq) row per document
    containing at least one query term, sq = quantized summed term
    weights (k1=1.2, b=0.75).

    One tokenize pass feeds both the per-doc length table and the
    (filtered) postings; idf = ln((N - df + 0.5)/(df + 0.5) + 1)
    — the Lucene non-negative variant.  Shared by the standalone
    top-k and the hybrid RRF fusion so the two cannot drift.
    """
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+", -1)).alias("word"),
    ).where(F.col("word") != "")
    percount = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dlen = percount.groupBy("doc_id").agg(F.sum("tf").alias("dlen"))
    postings = percount.where(F.col("word").isin(*BM25_TERMS))
    dfreq = postings.groupBy("word").agg(F.count("*").alias("df"))
    stats = d.agg(F.count("*").alias("n_docs")).crossJoin(
        F.broadcast(dlen.agg((F.sum("dlen") / F.count("*")).alias("avgdl")))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tfpart = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dlen") / F.col("avgdl"))
    )
    qw = F.floor(idf * tfpart * F.lit(float(BM25_SCALE)) + F.lit(0.5))
    return (
        postings.join(dlen, "doc_id")
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(qw).alias("sq"))
    )


def _ranked_cut(scored: DataFrame, depth: int) -> DataFrame:
    """Top-`depth` (doc_id, sq, rk) of a (doc_id, sq) relation by
    (sq desc, doc_id asc) — orderBy().limit() first so the plan is
    TakeOrderedAndProject; the row_number window then runs over
    `depth` rows, not the corpus."""
    wr = Window.orderBy(F.col("sq").desc(), F.col("doc_id").asc())
    return (
        scored.orderBy(F.col("sq").desc(), F.col("doc_id").asc())
        .limit(depth)
        .withColumn("rk", F.row_number().over(wr).cast("int"))
    )


def bm25_topk_from(d: DataFrame) -> DataFrame:
    """Top-10 documents of a (doc_id, text) relation by BM25 (see
    :func:`bm25_scored_from` for the scored stage)."""
    return (
        _ranked_cut(bm25_scored_from(d), BM25_TOPK)
        .select(
            "doc_id",
            (F.col("sq") / F.lit(float(BM25_SCALE))).alias("bm25"),
            "rk",
        )
        .orderBy("rk")
    )


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`bm25_topk_from` over the documents
    fixture."""
    return bm25_topk_from(load_table(spark, sf_dir, "documents"))


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

# Shared CTE fragment: the full BM25 pipeline ending in a
# `bm25_ranked(doc_id, sq, rk)` relation — reused verbatim by the
# standalone oracle below AND the hybrid-RRF oracle, so the two can
# never drift.
BM25_ORACLE_CTES = f"""tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
percount AS (
  SELECT doc_id, word, count(*) AS tf
  FROM tok WHERE word <> '' GROUP BY doc_id, word
),
dlen AS (SELECT doc_id, sum(tf) AS dlen FROM percount GROUP BY doc_id),
postings AS (
  SELECT * FROM percount WHERE word IN ({_BM25_TERMS_SQL})
),
dfreq AS (SELECT word, count(*) AS df FROM postings GROUP BY word),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT CAST(sum(dlen) AS DOUBLE) / count(*) FROM dlen) AS avgdl
),
scored AS (
  SELECT p.doc_id,
         sum(CAST(floor(
           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
           * ((p.tf * {BM25_K1 + 1.0!r}) /
              (p.tf + {BM25_K1!r} * (1.0 - {BM25_B!r}
                 + {BM25_B!r} * l.dlen / s.avgdl)))
           * {BM25_SCALE}.0 + 0.5) AS BIGINT)) AS sq
  FROM postings p
  JOIN dlen l ON l.doc_id = p.doc_id
  JOIN dfreq f ON f.word = p.word
  CROSS JOIN stats s
  GROUP BY p.doc_id
),
bm25_ranked AS (
  SELECT doc_id, sq,
         CAST(row_number() OVER (ORDER BY sq DESC, doc_id ASC) AS INTEGER)
           AS rk
  FROM scored
)"""

TEXT_BM25_TOPK_ORACLE = f"""
WITH {BM25_ORACLE_CTES}
SELECT doc_id, sq / {BM25_SCALE}.0 AS bm25, rk
FROM bm25_ranked
WHERE rk <= {BM25_TOPK}
ORDER BY rk
"""

register("text_bm25_topk", text_bm25_topk, TEXT_BM25_TOPK_ORACLE)


def two_stage_rerank_from(
    e: DataFrame, rerank_c: int = RERANK_C, n_planes: int = N_PLANES
) -> DataFrame:
    """Two-stage ANN over a (vec_id, embedding) relation: SQ8
    asymmetric-distance coarse ranking over LSH bucket candidates
    keeps the top RERANK_C per query; only those candidates join
    back to the full-precision vector store for the exact cosine
    rerank that produces the final top-5.

    The coarse stage IS ann_sq8_adc's index — the shared
    sq8_recon_index/sq8_queries helpers (similarity.py), so the two
    pipelines cannot drift; the rerank stage's join cardinality is
    |queries| x RERANK_C — independent of corpus size, which is
    what makes exact scoring affordable at 100 TB.
    """
    wc = Window.partitionBy("q_id").orderBy(
        F.col("adc").desc(), F.col("n_id").asc()
    )
    cands = (
        sq8_queries(e, n_planes)
        .join(sq8_recon_index(e, n_planes), "bucket")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("adc", dot("qv", "recon"))
        .withColumn("crk", F.row_number().over(wc))
        .where(F.col("crk") <= rerank_c)
        .select("q_id", "qv", "n_id")
    )
    fetched = cands.join(
        e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv")),
        "n_id",
    )
    wr = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("n_id").asc()
    )
    return (
        fetched.withColumn("cos", cosine("qv", "nv"))
        .withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= TOPK)
        .select("q_id", "n_id", "cos", "rk")
        .orderBy("q_id", "rk")
    )


def ann_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`two_stage_rerank_from` over the
    embeddings fixture."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return two_stage_rerank_from(e)


def _two_stage_oracle_sql() -> str:
    """DuckDB mirror: the SHARED SQ8 prefix (similarity.py
    sq8_oracle_ctes — identical planes, codes, reconstruction),
    then the ADC candidate cut and exact-cosine rerank fold."""
    return f"""
WITH {sq8_oracle_ctes()},
coarse AS (
  SELECT q.vec_id AS q_id, q.embedding AS qv, n.n_id,
         {duck_dot('q.embedding', 'n.recon')} AS adc
  FROM base q JOIN index_side n ON q.bucket = n.bucket
  WHERE q.vec_id % {QUERY_MOD} = 0 AND q.vec_id <> n.n_id
),
cands AS (
  SELECT q_id, qv, n_id FROM (
    SELECT q_id, qv, n_id,
           row_number() OVER (PARTITION BY q_id
                ORDER BY adc DESC, n_id ASC) AS crk
    FROM coarse
  ) WHERE crk <= {RERANK_C}
),
rerank AS (
  SELECT c.q_id, c.n_id, {duck_cosine('c.qv', 'e.embedding')} AS cos
  FROM cands c JOIN embeddings e ON e.vec_id = c.n_id
)
SELECT q_id, n_id, cos, rk FROM (
  SELECT q_id, n_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rk
  FROM rerank
) t
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


ANN_TWO_STAGE_RERANK_ORACLE = _two_stage_oracle_sql()

register("ann_two_stage_rerank", ann_two_stage_rerank, ANN_TWO_STAGE_RERANK_ORACLE)


def ivfadc_rerank_cands_from(
    e: DataFrame,
    rerank_c: int | None = None,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    margin: int = RERANK_MARGIN,
    cents: DataFrame | None = None,
) -> DataFrame:
    """The IVFADC coarse stage alone — (q_id, n_id) candidates from
    the ADC ranking, cut to the adaptive (rerank_c=None) or pinned
    budget.  `margin` widens the adaptive budget past the exact-
    collision guarantee (the measured near-tie-pileup knob,
    ANN_TAIL_r9/r10; registered default RERANK_MARGIN = 6, above
    the measured 5.08x/5.40x band edges at 100k/500k).  Exposed
    separately so the per-stage latency harness times the SAME
    subplan the serving pipeline runs."""
    from .similarity import ivfadc_scored_from_index

    wc = Window.partitionBy("q_id").orderBy(
        F.col("adc").desc(), F.col("n_id").asc()
    )
    en, cents, cb, codes = ivfadc_index(e, n_cells, cents)
    ranked = ivfadc_scored_from_index(en, cents, cb, codes, n_probe).withColumn(
        "crk", F.row_number().over(wc)
    )
    if rerank_c is None:
        # the budget folds the SAME codes DataFrame the scored stage
        # consumes (one index lineage — exchange reuse dedups the
        # shared shuffles) to one broadcast row: two metadata-scale
        # aggs over the ~6-byte/vector index
        budget = ivfadc_collision_budget(codes, RERANK_C_CAP, margin)
        return (
            ranked.crossJoin(F.broadcast(budget))
            .where(F.col("crk") <= F.col("c_budget"))
            .select("q_id", "n_id")
        )
    return ranked.where(F.col("crk") <= rerank_c).select("q_id", "n_id")


def ivfadc_rerank_from(
    e: DataFrame,
    rerank_c: int | None = None,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    margin: int = RERANK_MARGIN,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVFADC + exact rerank over a (vec_id, embedding) relation:
    the ADC stage (shared ivfadc_scored_from — the two pipelines
    cannot drift) keeps the top candidates per query; only those
    fetch full-precision vectors for the exact cosine that produces
    the final top-5.  This is the complete serving shape of Jégou
    et al. TPAMI 2011 (IVFADC-R / FAISS IndexIVFPQ + refine): the
    ADC stage reads codes + norms only (~6 bytes/vector), and the
    exact stage's join cardinality is |queries| x budget,
    independent of corpus size.

    rerank_c=None (the default, and the registered form) derives
    the budget FROM THE DATA via the PQ-code collision histogram
    (ivfadc_collision_budget): the round-8 certification measured
    that any fixed cut smaller than the largest code-collision
    cluster collapses recall on duplicate-heavy corpora
    (ANN_RECALL_r8.json: 0.23 at c=50 on 250-clone families), so
    the serving operator now sizes the exact stage as
    least(4096, greatest(25, RERANK_MARGIN * max_cluster + k)) with
    no hand tuning — the margin sits just above the measured
    near-tie band edges (5.08x at 100k, 5.40x at 500k;
    ANN_TAIL_r9.json / ANN_TAIL_r10_500k.json), closing the
    round-9 ~2% dead-query tail at every certified rung.  An
    explicit int pins the cut (used by the recall-sweep
    harness to demonstrate the failure mode the adaptive form
    avoids)."""
    cands = ivfadc_rerank_cands_from(
        e, rerank_c, n_cells, n_probe, margin, cents
    )
    return exact_rerank_tail(e, cands)


def exact_rerank_tail(e: DataFrame, cands: DataFrame) -> DataFrame:
    """The shared exact stage: fetch full-precision vectors for the
    (q_id, n_id) candidates only (point-lookup-shaped equi-joins —
    |q| x budget rows, never the corpus) and emit the exact-cosine
    top-TOPK per query."""
    q = e.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    fetched = cands.join(q, "q_id").join(
        e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv")),
        "n_id",
    )
    wr = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("n_id").asc()
    )
    return (
        fetched.withColumn("cos", cosine("qv", "nv"))
        .withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= TOPK)
        .select("q_id", "n_id", "cos", "rk")
        .orderBy("q_id", "rk")
    )


def ann_ivfadc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`ivfadc_rerank_from` over the
    embeddings fixture."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return ivfadc_rerank_from(e)


def _ivfadc_rerank_oracle_sql() -> str:
    """DuckDB mirror: the SHARED IVFADC prefix (similarity.py
    ivfadc_oracle_ctes — identical centroids, residual codebook,
    codes, quantize-then-sum ADC), the SHARED adaptive-budget fold
    (ivfadc_budget_ctes — identical packed code key, histogram, and
    least/greatest clamp), then the data-derived candidate cut and
    the exact-cosine rerank fold."""
    return f"""
WITH {ivfadc_oracle_ctes()},
{ivfadc_budget_ctes(RERANK_MARGIN)},
cands AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id
                ORDER BY adc DESC, n_id ASC) AS crk
    FROM scored
  ) t, cbudget WHERE t.crk <= cbudget.c_budget
),
rerank AS (
  SELECT c.q_id, c.n_id,
         {duck_cosine('qe.embedding', 'ne.embedding')} AS cos
  FROM cands c
  JOIN embeddings qe ON qe.vec_id = c.q_id
  JOIN embeddings ne ON ne.vec_id = c.n_id
)
SELECT q_id, n_id, cos, rk FROM (
  SELECT q_id, n_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rk
  FROM rerank
) t
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


ANN_IVFADC_RERANK_ORACLE = _ivfadc_rerank_oracle_sql()

register("ann_ivfadc_rerank", ann_ivfadc_rerank, ANN_IVFADC_RERANK_ORACLE)


def ivfadc_filtered_rerank_from(
    e_lab: DataFrame,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    margin: int = RERANK_MARGIN,
) -> DataFrame:
    """Attribute-FILTERED IVFADC + exact rerank over a (vec_id,
    embedding, label) relation — the quantized-index twin of
    ann_ivf_filtered (which exact-scores probed lists and therefore
    never hits the quantizer collision cliff).  This is what a
    100 TB filtered-serving deployment actually runs: composite
    (cell, label) inverted lists over the ~6-byte/vector code index
    (structural PRE-filtering — per-query scan cost divides by the
    label cardinality, and the result can never come up short the
    way post-filter ANN does), ADC candidates cut by the SAME
    adaptive collision budget as the unfiltered rerank, then an
    exact-cosine rerank over the |q| x budget survivors.

    Budget correctness under filtering: the collision histogram is
    computed over the GLOBAL code index, and any (cell, label)
    list's largest exact-tie cluster is bounded by the global
    max_cluster — so least(cap, greatest(floor, margin*max + k))
    remains a valid (conservative) cover of the label-restricted
    tie pileup; deriving per-label budgets would only shrink the
    cut, never grow it.  Quantizers are label-blind (trained on all
    rows): filtering changes WHICH lists a candidate fetch reads,
    not how vectors are encoded."""
    from .similarity import ivfadc_scored_from_index

    base = e_lab.select("vec_id", "embedding")
    en, cents, cb, codes = ivfadc_index(base, n_cells)
    scored = ivfadc_scored_from_index(
        en, cents, cb, codes, n_probe, labels=e_lab.select("vec_id", "label")
    )
    wc = Window.partitionBy("q_id").orderBy(
        F.col("adc").desc(), F.col("n_id").asc()
    )
    budget = ivfadc_collision_budget(codes, RERANK_C_CAP, margin)
    cands = (
        scored.withColumn("crk", F.row_number().over(wc))
        .crossJoin(F.broadcast(budget))
        .where(F.col("crk") <= F.col("c_budget"))
        .select("q_id", "label", "n_id")
    )
    ranked = exact_rerank_tail(base, cands.select("q_id", "n_id"))
    return (
        ranked.join(cands.select("q_id", "label").distinct(), "q_id")
        .select("q_id", "label", "n_id", "cos", "rk")
        .orderBy("q_id", "rk")
    )


def ann_ivfadc_filtered_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`ivfadc_filtered_rerank_from` over
    the embeddings fixture (labels play the filter attribute)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    return ivfadc_filtered_rerank_from(e)


def _ivfadc_filtered_rerank_oracle_sql() -> str:
    """DuckDB mirror: the SHARED IVFADC prefix + budget fold, with
    the label-equality restriction applied to the scored pairs —
    set-identical to the Spark side's composite (cell, label)
    candidate join, since `scored` contains exactly the probed-cell
    pairs."""
    return f"""
WITH {ivfadc_oracle_ctes()},
{ivfadc_budget_ctes(RERANK_MARGIN)},
lab AS (SELECT vec_id, label FROM embeddings),
fscored AS (
  SELECT s.q_id, ql.label, s.n_id, s.adc
  FROM scored s
  JOIN lab ql ON ql.vec_id = s.q_id
  JOIN lab nl ON nl.vec_id = s.n_id AND nl.label = ql.label
),
cands AS (
  SELECT q_id, label, n_id FROM (
    SELECT q_id, label, n_id,
           row_number() OVER (PARTITION BY q_id
                ORDER BY adc DESC, n_id ASC) AS crk
    FROM fscored
  ) t, cbudget WHERE t.crk <= cbudget.c_budget
),
rerank AS (
  SELECT c.q_id, c.label, c.n_id,
         {duck_cosine('qe.embedding', 'ne.embedding')} AS cos
  FROM cands c
  JOIN embeddings qe ON qe.vec_id = c.q_id
  JOIN embeddings ne ON ne.vec_id = c.n_id
)
SELECT q_id, label, n_id, cos, rk FROM (
  SELECT q_id, label, n_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rk
  FROM rerank
) t
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


ANN_IVFADC_FILTERED_RERANK_ORACLE = _ivfadc_filtered_rerank_oracle_sql()

register(
    "ann_ivfadc_filtered_rerank",
    ann_ivfadc_filtered_rerank,
    ANN_IVFADC_FILTERED_RERANK_ORACLE,
)


# ---------------------------------------------------------------------------
# Incremental index maintenance: the FAISS add-after-train shape.
# A real deployment trains the coarse centroids and residual
# codebook ONCE (on yesterday's corpus) and ingests today's delta by
# encoding new vectors against the FROZEN quantizers — a broadcast
# assign + argmin-encode map pass over the delta only, never a
# retrain or base re-encode.  At 100 TB that is the only viable
# maintenance story: quantizer training is a one-off, adds are
# embarrassingly parallel, and the serving index is the union of
# base and delta codes.
#
# Fixture split: vec_id % DELTA_MOD == DELTA_REM plays "today's
# delta" (untrained rows); everything else is the training base.
# The adaptive rerank budget is computed over the MERGED code index
# (delta clones change the collision histogram — the budget must see
# them), and the exact rerank makes the freshly-added vectors
# retrievable at full precision immediately.

DELTA_MOD = 10
DELTA_REM = 7


def ann_ivfadc_incremental_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVFADC serving over an incrementally-maintained index:
    quantizers trained on the base subset (vec_id % 10 != 7), codes
    covering base + delta, adaptive collision-derived rerank budget,
    exact top-k rerank — delta vectors are first-class results the
    moment they are encoded."""
    from .similarity import (
        ivfadc_index_trained_on,
        ivfadc_scored_from_index,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    en, cents, cb, codes = ivfadc_index_trained_on(
        e, F.col("vec_id") % DELTA_MOD != DELTA_REM
    )
    wc = Window.partitionBy("q_id").orderBy(
        F.col("adc").desc(), F.col("n_id").asc()
    )
    ranked = ivfadc_scored_from_index(en, cents, cb, codes).withColumn(
        "crk", F.row_number().over(wc)
    )
    budget = ivfadc_collision_budget(codes, RERANK_C_CAP, RERANK_MARGIN)
    cands = (
        ranked.crossJoin(F.broadcast(budget))
        .where(F.col("crk") <= F.col("c_budget"))
        .select("q_id", "n_id")
    )
    return exact_rerank_tail(e, cands)


def _ivfadc_incremental_oracle_sql() -> str:
    """DuckDB mirror: the SHARED IVFADC prefix with the quantizer-
    training rows restricted to the base subset (train_where), the
    SHARED budget fold over the merged codes, then the identical
    candidate cut + exact rerank tail."""
    return f"""
WITH {ivfadc_oracle_ctes(train_where=f"vec_id % {DELTA_MOD} <> {DELTA_REM}")},
{ivfadc_budget_ctes(RERANK_MARGIN)},
cands AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id
                ORDER BY adc DESC, n_id ASC) AS crk
    FROM scored
  ) t, cbudget WHERE t.crk <= cbudget.c_budget
),
rerank AS (
  SELECT c.q_id, c.n_id,
         {duck_cosine('qe.embedding', 'ne.embedding')} AS cos
  FROM cands c
  JOIN embeddings qe ON qe.vec_id = c.q_id
  JOIN embeddings ne ON ne.vec_id = c.n_id
)
SELECT q_id, n_id, cos, rk FROM (
  SELECT q_id, n_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rk
  FROM rerank
) t
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


ANN_IVFADC_INCREMENTAL_ORACLE = _ivfadc_incremental_oracle_sql()

register(
    "ann_ivfadc_incremental_delta",
    ann_ivfadc_incremental_delta,
    ANN_IVFADC_INCREMENTAL_ORACLE,
)


# ---------------------------------------------------------------------------
# Deletes in incremental maintenance: the FAISS remove_ids story.
# Adds (above) never touch the base; DELETES are recorded as a
# tombstone SET and anti-joined out at serving time — the code index
# is append-only until a compaction pass rewrites it.  The three
# serving-side contract points:
#   * no resurrection — a tombstoned id can never reach the exact
#     stage (the anti-join lands on the code index BEFORE scoring,
#     and the rerank fetch reads the live relation only);
#   * the collision budget folds LIVE codes only (deleted vectors no
#     longer compete for the cut — keeping them would only inflate
#     the budget, but the histogram must track what serving scans);
#   * tombstoned vectors also stop QUERYING (they're gone).
# Compaction policy: anti-join serving is O(|tombstones|) extra work
# per query batch; once the tombstone fraction crosses a threshold
# the index is rewritten without the dead rows (ivfadc_compact —
# pure repack against the FROZEN quantizers, never a retrain, so
# serving results are IDENTICAL before and after by construction;
# tests pin it).

DELETE_REM = 3  # vec_id % DELTA_MOD == DELETE_REM plays the deletes
COMPACT_THRESHOLD = 0.2  # rewrite once >20% of codes are dead


def ivfadc_tombstones(e: DataFrame) -> DataFrame:
    """The fixture's tombstone set: ids deleted since the last
    compaction (1-column relation — at 100 TB this is the small
    side of every anti-join and typically broadcasts)."""
    return e.select("vec_id").where(
        F.col("vec_id") % DELTA_MOD == DELETE_REM
    )


def ivfadc_live(df: DataFrame, tomb: DataFrame, key: str) -> DataFrame:
    """Anti-join a tombstone set out of `df` on `key` — the serving-
    time delete mask (broadcast anti-join: the corpus-side relation
    never shuffles)."""
    return df.join(
        F.broadcast(tomb.select(F.col("vec_id").alias(key))),
        key,
        "left_anti",
    )


def ivfadc_compact(codes: DataFrame, tomb: DataFrame) -> DataFrame:
    """Compaction: rewrite the code index without tombstoned rows —
    a pure repack of codes already encoded against the FROZEN
    quantizers (FAISS remove_ids + reclaim), NOT a retrain and NOT a
    re-encode, so post-compaction serving is bit-identical to
    anti-join serving.  At 100 TB this is a partition-parallel
    rewrite of the ~6-byte/vector index, amortized across the
    serving queries that stop paying the anti-join."""
    return ivfadc_live(codes, tomb, "n_id")


def ivfadc_should_compact(
    codes: DataFrame, tomb: DataFrame, threshold: float = COMPACT_THRESHOLD
) -> bool:
    """The compaction trigger: tombstone fraction of the code index
    > threshold.  Two metadata-scale counts over the ~6-byte/vector
    index (a deliberate, bounded driver decision — index maintenance
    policy, not a per-row operation)."""
    ids = codes.select("n_id").distinct()
    n_total = ids.count()
    n_dead = ids.join(
        F.broadcast(tomb.select(F.col("vec_id").alias("n_id"))), "n_id"
    ).count()
    return n_total > 0 and n_dead / n_total > threshold


def ann_ivfadc_incremental_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVFADC serving over an add+DELETE maintained index: quantizers
    trained on the base subset (vec_id % 10 != 7), codes covering
    base + delta adds, tombstones (vec_id % 10 == 3) anti-joined out
    at serving time, adaptive collision budget over the LIVE codes,
    exact top-k rerank over live rows only.  The fixture's dead
    fraction (10%) sits under COMPACT_THRESHOLD, so this is the
    anti-join serving window; ivfadc_compact is the post-threshold
    path and produces identical results (pinned by test)."""
    from .similarity import (
        ivfadc_index_trained_on,
        ivfadc_scored_from_index,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    en, cents, cb, codes = ivfadc_index_trained_on(
        e, F.col("vec_id") % DELTA_MOD != DELTA_REM
    )
    tomb = ivfadc_tombstones(e)
    live_codes = ivfadc_live(codes, tomb, "n_id")
    e_live = ivfadc_live(en, tomb, "vec_id")
    wc = Window.partitionBy("q_id").orderBy(
        F.col("adc").desc(), F.col("n_id").asc()
    )
    ranked = ivfadc_scored_from_index(
        e_live, cents, cb, live_codes
    ).withColumn("crk", F.row_number().over(wc))
    budget = ivfadc_collision_budget(live_codes, RERANK_C_CAP, RERANK_MARGIN)
    cands = (
        ranked.crossJoin(F.broadcast(budget))
        .where(F.col("crk") <= F.col("c_budget"))
        .select("q_id", "n_id")
    )
    return exact_rerank_tail(e_live.select("vec_id", "embedding"), cands)


def _ivfadc_upsert_oracle_sql() -> str:
    """DuckDB mirror: the SHARED IVFADC prefix (base-trained
    quantizers), the budget fold restricted to live codes, the
    scored cut restricted to live (q, n) pairs, then the exact
    rerank tail — the tombstone anti-join as a WHERE over the mod
    that defines the fixture's tombstone set."""
    live_n = f"n_id % {DELTA_MOD} <> {DELETE_REM}"
    live_q = f"q_id % {DELTA_MOD} <> {DELETE_REM}"
    return f"""
WITH {ivfadc_oracle_ctes(train_where=f"vec_id % {DELTA_MOD} <> {DELTA_REM}")},
{ivfadc_budget_ctes(RERANK_MARGIN, live_where=f"n_id % {DELTA_MOD} <> {DELETE_REM}")},
cands AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id
                ORDER BY adc DESC, n_id ASC) AS crk
    FROM scored WHERE {live_n} AND {live_q}
  ) t, cbudget WHERE t.crk <= cbudget.c_budget
),
rerank AS (
  SELECT c.q_id, c.n_id,
         {duck_cosine('qe.embedding', 'ne.embedding')} AS cos
  FROM cands c
  JOIN embeddings qe ON qe.vec_id = c.q_id
  JOIN embeddings ne ON ne.vec_id = c.n_id
)
SELECT q_id, n_id, cos, rk FROM (
  SELECT q_id, n_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rk
  FROM rerank
) t
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


ANN_IVFADC_UPSERT_ORACLE = _ivfadc_upsert_oracle_sql()

register(
    "ann_ivfadc_incremental_upsert",
    ann_ivfadc_incremental_upsert,
    ANN_IVFADC_UPSERT_ORACLE,
)


# ---------------------------------------------------------------------------
# Hybrid sparse+dense retrieval via Reciprocal Rank Fusion (Cormack,
# Clarke & Büttcher, SIGIR 2009): fuse the BM25 lexical ranking with
# a dense cosine ranking by summing 1/(K + rank) contributions —
# the standard score-free fusion every hybrid-search deployment
# (Elasticsearch/OpenSearch/Vespa) ships, robust to incomparable
# score scales by construction.
#
# The dense ranker here is a brute cosine scan against ONE broadcast
# query vector (doc DENSE_QUERY_ID's embedding as query-by-example):
# a single map-side pass + TakeOrderedAndProject, no shuffle — fine
# even at 100 TB for one query, and at serving scale the fusion is
# ranker-agnostic: swap in ann_ivfadc_rerank's output (same
# (doc_id, rk) shape) without touching the fusion stage.  The sparse
# side reuses bm25_scored_from VERBATIM (and the oracle reuses
# BM25_ORACLE_CTES), so standalone and hybrid BM25 cannot drift.
#
# Determinism: each RRF term is 1.0/(K + int rank) — one IEEE
# division, identical in both engines; the fused score is ONE
# addition of two such terms (full-outer join, not a float groupBy
# sum), so no accumulation-order hazard exists.  Missing ranks
# surface as -1 (not NULL: nullable ints degrade to float64 in
# pandas on one side only).

RRF_K = 60
RRF_DEPTH = 50           # candidate depth taken from each ranker
RRF_TOPK = 10
DENSE_QUERY_ID = 7       # query-by-example vector


def hybrid_rrf_from(d: DataFrame, e: DataFrame) -> DataFrame:
    """RRF fusion of BM25(text query) and cosine(query-by-example)
    over aligned (doc_id, text) / (vec_id, embedding) relations."""
    sparse = _ranked_cut(bm25_scored_from(d), RRF_DEPTH).select(
        "doc_id", F.col("rk").alias("srk")
    )
    qv = e.where(F.col("vec_id") == DENSE_QUERY_ID).select(
        F.col("embedding").alias("qv")
    )
    dense_scored = (
        e.where(F.col("vec_id") != DENSE_QUERY_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine("qv", "embedding").alias("cos"),
        )
    )
    wd = Window.orderBy(F.col("cos").desc(), F.col("doc_id").asc())
    dense = (
        dense_scored.orderBy(F.col("cos").desc(), F.col("doc_id").asc())
        .limit(RRF_DEPTH)
        .withColumn("drk", F.row_number().over(wd).cast("int"))
        .select("doc_id", "drk")
    )
    fused = (
        sparse.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("srk", F.lit(-1)).alias("srk"),
            F.coalesce("drk", F.lit(-1)).alias("drk"),
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("srk")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("drk")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    wr = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(RRF_TOPK)
        .withColumn("rk", F.row_number().over(wr).cast("int"))
        .orderBy("rk")
    )


def text_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form over the aligned documents/embeddings
    fixtures (doc_id == vec_id by construction)."""
    return hybrid_rrf_from(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
    )


TEXT_HYBRID_RRF_ORACLE = f"""
WITH {BM25_ORACLE_CTES},
sparse AS (
  SELECT doc_id, rk AS srk FROM bm25_ranked WHERE rk <= {RRF_DEPTH}
),
qv AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = {DENSE_QUERY_ID}
),
dense AS (
  SELECT doc_id, CAST(drk AS INTEGER) AS drk FROM (
    SELECT e.vec_id AS doc_id,
           row_number() OVER (
             ORDER BY {duck_cosine('q.qv', 'e.embedding')} DESC,
                      e.vec_id ASC) AS drk
    FROM embeddings e CROSS JOIN qv q
    WHERE e.vec_id <> {DENSE_QUERY_ID}
  ) WHERE drk <= {RRF_DEPTH}
),
fused AS (
  SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
         CAST(coalesce(s.srk, -1) AS INTEGER) AS srk,
         CAST(coalesce(d.drk, -1) AS INTEGER) AS drk,
         coalesce(CAST(1.0 AS DOUBLE) / ({RRF_K} + s.srk),
                  CAST(0.0 AS DOUBLE))
           + coalesce(CAST(1.0 AS DOUBLE) / ({RRF_K} + d.drk),
                      CAST(0.0 AS DOUBLE)) AS rrf
  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
)
SELECT doc_id, srk, drk, rrf, rk FROM (
  SELECT doc_id, srk, drk, rrf,
         CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS INTEGER)
           AS rk
  FROM fused
) t
WHERE rk <= {RRF_TOPK}
ORDER BY rk
"""

register("text_hybrid_rrf_topk", text_hybrid_rrf_topk, TEXT_HYBRID_RRF_ORACLE)


# ---------------------------------------------------------------------------
# Matryoshka (MRL) truncated-dimension ANN + exact rerank —
# Kusupati et al., NeurIPS 2022 "Matryoshka Representation
# Learning": embeddings trained so any PREFIX of the vector is
# itself a valid lower-capacity embedding, letting the ENTIRE index
# (centroids, assignment, probes, candidate scoring) run on the
# first MRL_DIM of D dims (4x less compute and memory here) while
# only the final RERANK_C-bounded exact stage ever touches full
# vectors — the adaptive-retrieval serving shape MRL deployments
# use, and the dimension-truncation counterpart of the
# quantization-based ann_ivfadc_rerank.
#
# The coarse stage reuses the SHARED IVF machinery verbatim
# (ivf_centroids / ivf_assign / ivf_probes from similarity.py)
# applied to the sliced relation, so the index semantics cannot
# drift from ann_ivf_topk's; the rerank is the same
# |q| x RERANK_C equi-join shape as the other rerank forms.

MRL_DIM = 16  # prefix dims used by the whole coarse index (of 64)


def _mrl_sign_word(vec_col: str, n_dims: int = MRL_DIM) -> F.Column:
    """Packed sign word of the first n_dims coordinates (n_dims <=
    32) as an exact bigint — sum of distinct powers of two, every
    partial integer-valued and < 2^32, so the double fold is exact
    and the DuckDB mirror matches bit-for-bit (the
    similarity._sign_word discipline on the truncated prefix)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_dims - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.when(
            F.element_at(F.col(vec_col), (j + F.lit(1)).cast("int")) > 0,
            F.pow(F.lit(2.0), j.cast("double")),
        ).otherwise(F.lit(0.0)),
    ).cast("long")


def mrl_collision_budget(
    assigned: DataFrame,
    cap: int = RERANK_C_CAP,
    margin: int = RERANK_MARGIN,
) -> DataFrame:
    """1-row (c_budget int) data-derived cut for the MRL coarse
    stage (round-12, VERDICT r11 #2) — the collision-budget
    discipline that fixed IVFADC's and binary Hamming's identical
    dead-query tails, applied to the truncated space.

    Diagnosis first (the verdict's question): are truncated-dim
    clone collisions exact-tie (budgetable, like PQ) or error-like
    (not, like SQ8)?  BOTH, at different layers.  The raw truncated
    COSINES of a clone family are error-like — the perturbation
    lands in every coordinate, so family members score near-ties
    that a histogram of exact score collisions cannot see.  But the
    family's truncated SIGN PATTERN is an exact-tie key: a
    perturbation of scale noise << |coordinate| almost never flips
    a sign, so whole clone families collapse onto one (cell,
    sign-word) cluster — exactly the mechanism that makes the
    binary Hamming index budgetable.  The histogram of that key
    bounds the indistinguishable-cluster size from the data, and
    the measured near-tie margin (RERANK_MARGIN = 6, the
    ANN_TAIL_r9/r10 band edges) absorbs the members whose signs DID
    flip plus the decoy families scoring above the truth —
    certified recall 1.0 / worst 1.0 at 100k/500k/1M in
    ANN_RECALL_r12.json, closing the worst_query_recall 0.0 the
    fixed cut read at 500k/1M.

    `assigned` is the truncated relation (vec_id, embedding[:16],
    norm, cell); cost is two map-side-combining aggs over it —
    metadata-scale, the ivfadc_collision_budget shape."""
    hist = (
        assigned.select(
            "cell", _mrl_sign_word("embedding").alias("mword")
        )
        .groupBy("cell", "mword")
        .agg(F.count("*").alias("cnt"))
    )
    demand = F.greatest(
        F.lit(RERANK_C_FLOOR),
        (F.max("cnt") * F.lit(margin) + F.lit(TOPK)).cast("int"),
    )
    return hist.agg(
        F.least(F.lit(cap), demand).alias("c_budget"),
        (demand > F.lit(cap)).alias("budget_capped"),
    )


def mrl_cands_from(
    e: DataFrame,
    rerank_c: int | None = RERANK_C,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    mrl_dim: int = MRL_DIM,
    margin: int = RERANK_MARGIN,
    cents: DataFrame | None = None,
) -> DataFrame:
    """The MRL coarse stage alone — (q_id, n_id) candidates from the
    truncated-dimension IVF index, cut to the top rerank_c per query
    by truncated cosine; rerank_c=None derives the cut from the
    truncated sign-word collision histogram
    (:func:`mrl_collision_budget` — the adaptive serving form).
    Exposed
    separately so the per-stage latency harness
    (scripts/ann_recall_scale.py) times the SAME subplan the
    serving pipeline runs."""
    from .similarity import ivf_assign, ivf_centroids, ivf_probes
    from ..functions.vectors import l2

    trunc = e.select(
        "vec_id", F.slice("embedding", 1, mrl_dim).alias("embedding")
    )
    t = trunc.select("vec_id", "embedding", l2("embedding").alias("norm"))
    if cents is None:
        # deterministic oracle-mirrored pick; callers may override
        # with train_ivf_centroids over the TRUNCATED relation (the
        # trained serving twin)
        cents = ivf_centroids(t, n_cells)
    # cache the truncated index (vec_id, 16-dim prefix, norm, cell):
    # the candidate ranking and the sign-word collision budget both
    # consume it and would each replay the coarse assign fold — the
    # ivfadc_index cached-codes rationale applied to the MRL form
    assigned = ivf_assign(t, cents).cache()
    probes = ivf_probes(t, cents, n_probe)
    wc = Window.partitionBy("q_id").orderBy(
        F.col("tcos").desc(), F.col("n_id").asc()
    )
    ranked = (
        probes.join(
            assigned.select(
                F.col("vec_id").alias("n_id"),
                F.col("embedding").alias("nv"),
                F.col("norm").alias("n_norm"),
                "cell",
            ),
            "cell",
        )
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "tcos",
            dot("qv", "nv")
            / F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
        )
        .withColumn("crk", F.row_number().over(wc))
    )
    if rerank_c is None:
        budget = mrl_collision_budget(assigned, RERANK_C_CAP, margin)
        return (
            ranked.crossJoin(F.broadcast(budget))
            .where(F.col("crk") <= F.col("c_budget"))
            .select("q_id", "n_id")
        )
    return ranked.where(F.col("crk") <= rerank_c).select("q_id", "n_id")


def mrl_rerank_from(
    e: DataFrame,
    rerank_c: int | None = RERANK_C,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    mrl_dim: int = MRL_DIM,
    margin: int = RERANK_MARGIN,
    cents: DataFrame | None = None,
) -> DataFrame:
    cands = mrl_cands_from(
        e, rerank_c, n_cells, n_probe, mrl_dim, margin, cents
    )
    full_q = e.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("fq")
    )
    full_n = e.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("fn")
    )
    wr = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("n_id").asc()
    )
    return (
        cands.join(full_q, "q_id")
        .join(full_n, "n_id")
        .withColumn("cos", cosine("fq", "fn"))
        .withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= TOPK)
        .select("q_id", "n_id", "cos", "rk")
        .orderBy("q_id", "rk")
    )


def ann_mrl_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form over the embeddings fixture."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return mrl_rerank_from(e)


def _mrl_oracle_sql(adaptive: bool = False) -> str:
    """DuckDB mirror of the MRL pipeline; adaptive=True swaps the
    fixed RERANK_C cut for the truncated sign-word collision budget
    (the identical exact-in-double word fold and least/greatest
    clamp the binary oracle uses)."""
    from ..functions.vectors import duck_dot, duck_l2

    tr = f"embedding[1:{MRL_DIM}]"
    mword = (
        "CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(0, {MRL_DIM}), "
        "j -> CASE WHEN a.tv[CAST(j + 1 AS INTEGER)] > 0 "
        "THEN pow(2.0, CAST(j AS DOUBLE)) ELSE 0.0 END)), "
        "(acc, v) -> acc + v) AS BIGINT)"
    )
    if adaptive:
        budget_ctes = f"""
mwords AS (
  SELECT a.vec_id, a.cell, {mword} AS mword FROM assigned a
),
mbudget AS (
  SELECT least({RERANK_C_CAP}, greatest({RERANK_C_FLOOR},
         CAST(max(cnt) * {RERANK_MARGIN} + {TOPK} AS INTEGER)))
           AS c_budget
  FROM (SELECT cell, mword, count(*) AS cnt
        FROM mwords GROUP BY cell, mword) h
),"""
        cut = "t.crk <= (SELECT c_budget FROM mbudget)"
    else:
        budget_ctes = ""
        cut = f"crk <= {RERANK_C}"
    return f"""
WITH e AS (
  SELECT vec_id, {tr} AS tv, embedding,
         {duck_l2(tr)} AS tnorm FROM embeddings
),
cents AS (
  SELECT vec_id AS cell, tv AS cv, tnorm AS c_norm
  FROM e ORDER BY vec_id LIMIT {N_CELLS}
),
best AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             ({duck_dot('e.tv', 'c.cv')}
              / nullif(e.tnorm * c.c_norm, 0.0)) DESC, c.cell ASC) AS r
    FROM e CROSS JOIN cents c
  ) t WHERE r = 1
),
assigned AS (
  SELECT e.vec_id, e.tv, e.tnorm, b.cell
  FROM e JOIN best b USING (vec_id)
),
q AS (
  SELECT vec_id AS q_id, tv AS qv, tnorm AS q_norm
  FROM e WHERE vec_id % {QUERY_MOD} = 0
),
probes AS (
  SELECT q_id, qv, q_norm, cell FROM (
    SELECT q.q_id, q.qv, q.q_norm, c.cell,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             ({duck_dot('q.qv', 'c.cv')}
              / nullif(q.q_norm * c.c_norm, 0.0)) DESC, c.cell ASC) AS prk
    FROM q CROSS JOIN cents c
  ) t WHERE prk <= {N_PROBE}
),{budget_ctes}
cands AS (
  SELECT q_id, n_id FROM (
    SELECT p.q_id, a.vec_id AS n_id,
           row_number() OVER (PARTITION BY p.q_id ORDER BY
             ({duck_dot('p.qv', 'a.tv')}
              / nullif(p.q_norm * a.tnorm, 0.0)) DESC, a.vec_id ASC) AS crk
    FROM probes p JOIN assigned a USING (cell)
    WHERE p.q_id <> a.vec_id
  ) t WHERE {cut}
),
rerank AS (
  SELECT c.q_id, c.n_id,
         {duck_cosine('qe.embedding', 'ne.embedding')} AS cos
  FROM cands c
  JOIN embeddings qe ON qe.vec_id = c.q_id
  JOIN embeddings ne ON ne.vec_id = c.n_id
)
SELECT q_id, n_id, cos, rk FROM (
  SELECT q_id, n_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rk
  FROM rerank
) t
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


ANN_MRL_RERANK_ORACLE = _mrl_oracle_sql()

register("ann_mrl_rerank", ann_mrl_rerank, ANN_MRL_RERANK_ORACLE)


def ann_mrl_rerank_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRL serving with the ADAPTIVE cut (round-12, VERDICT r11
    #2): the truncated-dimension coarse stage's candidate budget is
    derived from the truncated sign-word collision histogram
    (:func:`mrl_collision_budget`) instead of a fixed RERANK_C —
    the same margin * max_cluster + k rule that closed IVFADC's and
    binary Hamming's dead-query tails, transferred to the
    dimension-truncation index.  This is the MRL form with a recall
    SLA (certified 1.0 / worst 1.0 at 100k/500k/1M,
    ANN_RECALL_r12.json); the fixed-cut `ann_mrl_rerank` stays
    registered as the failure-mode documentation (worst 0.0 on
    clone geometry at 500k+, ANN_RECALL_r11.json)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return mrl_rerank_from(e, None)


ANN_MRL_RERANK_ADAPTIVE_ORACLE = _mrl_oracle_sql(adaptive=True)

register(
    "ann_mrl_rerank_adaptive",
    ann_mrl_rerank_adaptive,
    ANN_MRL_RERANK_ADAPTIVE_ORACLE,
)
# one coarse assign, so the `_fast` serving names (still listed by
# bench.py) run their sibling's function, rows-only
register("ann_mrl_rerank_adaptive_fast", ann_mrl_rerank_adaptive)


def binary_hamming_rerank_from(
    e: DataFrame, margin: int = RERANK_MARGIN
) -> DataFrame:
    """Binary-quantization serving (Charikar sign sketch + rescore):
    Hamming over 8-byte packed sign words proposes candidates
    (similarity.binary_hamming_cands_from — shared IVF routing, a
    data-derived collision budget), then the shared exact-cosine
    tail restores full-precision ranking.  The smallest-state
    serving form in the family: 1 bit/dim + cell id.  Clone
    families quantize to IDENTICAL sign words (the PQ exact-tie
    mechanism, not SQ8's unbounded sub-step error), so the
    margin * max_cluster + k budget rule transfers verbatim."""
    cands = binary_hamming_cands_from(e, margin=margin)
    return exact_rerank_tail(e, cands)


def ann_binary_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`binary_hamming_rerank_from` over
    the embeddings fixture."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return binary_hamming_rerank_from(e)


def _binary_hamming_oracle_sql() -> str:
    """DuckDB mirror: the SHARED binary prefix (similarity.py
    binary_oracle_ctes — identical centroids, exact-in-double sign
    packing, integer Hamming, identical budget fold), then the
    exact-cosine rerank fold the other rerank oracles use."""
    return f"""
WITH {binary_oracle_ctes(RERANK_MARGIN)},
rerank AS (
  SELECT c.q_id, c.n_id,
         {duck_cosine('qe.embedding', 'ne.embedding')} AS cos
  FROM cands c
  JOIN embeddings qe ON qe.vec_id = c.q_id
  JOIN embeddings ne ON ne.vec_id = c.n_id
)
SELECT q_id, n_id, cos, rk FROM (
  SELECT q_id, n_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rk
  FROM rerank
) t
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


ANN_BINARY_HAMMING_RERANK_ORACLE = _binary_hamming_oracle_sql()

register(
    "ann_binary_hamming_rerank",
    ann_binary_hamming_rerank,
    ANN_BINARY_HAMMING_RERANK_ORACLE,
)
register("ann_binary_hamming_rerank_fast", ann_binary_hamming_rerank)
register("ann_ivfadc_rerank_fast", ann_ivfadc_rerank)


def ann_binary_hamming_rerank_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The binary serving path under the TRAINED coarse quantizer
    (round-12, VERDICT r11 #1): spherical k-means++ centroids from
    a bounded sample (similarity.train_ivf_centroids) + the
    collision-derived adaptive budget + exact rescore — the full
    cluster-tier configuration as ONE driver-visible query.
    Rows-only: k-means++ centroids are not worth mirroring in SQL;
    the correctness contract is the determinism test (same sample,
    same seed -> identical centroids), the pinned fixture recall floor
    (tests/test_ann_recall.py), and the corpus-scale certification
    (ANN_RECALL_r12.json trained rows: recall 1.0 / worst 1.0 at
    100k/500k/1M with balanced occupancy)."""
    from .similarity import train_ivf_centroids

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = train_ivf_centroids(e, N_CELLS)
    cands = binary_hamming_cands_from(e, cents=cents)
    return exact_rerank_tail(e, cands)


register(
    "ann_binary_hamming_rerank_trained", ann_binary_hamming_rerank_trained
)


def ann_ivfadc_rerank_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC serving under the TRAINED coarse quantizer (round-13,
    VERDICT r12 #5): spherical k-means++ centroids (bounded-sample
    train) + the PQ-code collision budget + exact rescore — the
    second decision-table row in its deployed configuration.
    Rows-only, same contract as the binary trained twin: build
    determinism is pinned
    (test_trained_twins_deterministic), fixture recall floors are
    pinned (test_trained_twins_fixture_floors), and corpus-scale
    recall is certified by the ANN_RECALL_r12 trained rows
    (1.0 / worst 1.0 at 100k/500k/1M)."""
    from .similarity import train_ivf_centroids

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = train_ivf_centroids(e, N_CELLS)
    return ivfadc_rerank_from(e, cents=cents)


register("ann_ivfadc_rerank_trained", ann_ivfadc_rerank_trained)


def ann_mrl_rerank_adaptive_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MRL-adaptive serving under a TRAINED truncated-space coarse
    quantizer (round-13, VERDICT r12 #5): k-means++ centroids are
    trained on the 16-dim PREFIX of the corpus (the space the MRL
    coarse index actually routes in), then the adaptive sign-word
    budget and the full-precision exact rerank run unchanged — the
    third decision-table row in deployed form.  Rows-only, same
    contract as the other trained twins."""
    from .similarity import train_ivf_centroids

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    trunc = e.select(
        "vec_id", F.slice("embedding", 1, MRL_DIM).alias("embedding")
    )
    cents = train_ivf_centroids(trunc, N_CELLS)
    return mrl_rerank_from(e, None, cents=cents)


register("ann_mrl_rerank_adaptive_trained", ann_mrl_rerank_adaptive_trained)
