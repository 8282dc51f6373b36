"""Deterministic streaming sketches — KMV distinct-count, count-min
frequency, and a Bloom-filter membership probe — each fully
value-hash oracled.

Spark's built-in sketches (approx_count_distinct's HLL++, the
DataSketches SQL functions) are engine-specific binaries: a DuckDB
oracle cannot reproduce their estimates, so they get only the weaker
rows-only check (`approx_distinct_words`).  The sketches here trade
the last constant factor for *portability*: every hash is the repo's
polynomial rolling hash (functions/hashing.py), mirrored fragment-
for-fragment in the DuckDB oracles, so the ESTIMATES THEMSELVES are
value-hash verified — a sketch-family property the HLL path cannot
offer (and exactly the blindness the round-5 MinHash bug exposed:
parity over a mirrored approximation cannot catch a broken sketch;
parity over a *portable* sketch pinned to an exact twin can).

Published sources: KMV / k-minimum-values distinct estimation
(Bar-Yossef et al., "Counting distinct elements in a data stream",
RANDOM 2002; Beyer et al. SIGMOD 2007 give the unbiased (k-1)*M/h_k
form used here); count-min sketch (Cormode & Muthukrishnan,
"An improved data stream summary: the count-min sketch and its
applications", J. Algorithms 2005); Bloom filters (Bloom, CACM 1970)
with the double-hashing scheme of Kirsch & Mitzenmacher (ESA 2006),
as deployed for test-set decontamination suppression lists at LLM
corpus scale.

Scale shapes (100 TB):
- KMV: per-partition top-k on the hash stream (TakeOrdered — Spark
  keeps k rows per partition then merges k*parts on one reducer);
  the corpus is never shuffled, only k-row summaries move.
- CMS: the counter table is depth*width rows REGARDLESS of input
  size — the whole point of the sketch — built by one map-side-
  combining groupBy; probes join against the broadcast counter
  table, never against raw events.
- Bloom: the occupied-position set is bounded by the filter width m
  (pure bigints, broadcast-able at any corpus size); the probe
  stream meets it in a broadcast hash join, so the training corpus
  is scanned once map-side — the suppression-list membership shape
  (cf. decontaminate_overlap, whose exact broadcast set grows with
  the benchmark; the Bloom's memory is FIXED at m bits + false
  positives accounted below).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    FP_MOD,
    FP_MOD2,
    duck_charhash,
    spark_charhash_pair,
)
from ..io import load_table
from ..registry import register

# ---------------------------------------------------------------
# KMV distinct-count estimate over the corpus vocabulary
# ---------------------------------------------------------------

KMV_K = 256
# Combined hash h = h1 * FP_MOD2 + h2 is uniform on [0, KMV_M):
# max value (FP_MOD-1)*FP_MOD2 + (FP_MOD2-1) = FP_MOD*FP_MOD2 - 1.
KMV_M = FP_MOD * FP_MOD2  # ~1e18 < 2^63

# Char multipliers for the KMV fold.  The plain rolling hash
# (functions/hashing.py) weights the LAST character by base^0 = 1,
# so lexically-adjacent words ("tok4998"/"tok4999") land on adjacent
# hash values — harmless for equality sketches (MinHash banding,
# fingerprints) but fatal for an ORDER-STATISTIC estimator: clumped
# values make the k-th minimum systematically large and KMV
# underestimates (measured 5x low on a sequential vocab).  Scaling
# every character by a near-1e8 constant makes each position wrap
# the modulus, dissolving the clumps while keeping the fold exactly
# mirrorable in SQL.  Overflow: acc*base + cp*mult <=
# 131*(1e9+9) + 1114111*1e8 ~ 1.1e14 << 2^63.
KMV_MULT1 = 100_000_007
KMV_MULT2 = 100_000_037


def _kmv_hash(col: F.Column) -> F.Column:
    """Order-statistic-grade portable hash: two scrambled rolling
    hashes combined to one value uniform on [0, KMV_M)."""
    chars = F.split(col, "")
    init = F.struct(
        F.lit(0).cast("bigint").alias("h1"), F.lit(0).cast("bigint").alias("h2")
    )
    hp = F.aggregate(
        chars,
        init,
        lambda acc, c: F.struct(
            (
                (acc["h1"] * 31 + F.ascii(c).cast("bigint") * KMV_MULT1)
                % FP_MOD
            ).alias("h1"),
            (
                (acc["h2"] * 131 + F.ascii(c).cast("bigint") * KMV_MULT2)
                % FP_MOD2
            ).alias("h2"),
        ),
    )
    return hp["h1"] * F.lit(FP_MOD2) + hp["h2"]


def _duck_kmv_hash(expr: str) -> str:
    """DuckDB fragment computing :func:`_kmv_hash` fold-for-fold."""
    h1 = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c * {KMV_MULT1}) % {FP_MOD})"
    )
    h2 = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc * 131 + c * {KMV_MULT2}) % {FP_MOD2})"
    )
    return f"(({h1}) * {FP_MOD2} + ({h2}))"


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-word estimate, value-hash
    verified against its own exact twin in one row.

    Each distinct word hashes to a 60-bit value h = h1*MOD2 + h2
    (both halves the portable polynomial hash); the sketch is the
    KMV_K smallest distinct hash values, and the Beyer et al.
    unbiased estimate is (k-1) * M / h_k with h_k the largest
    retained hash.  Computed as (M DIV h_k) * (k-1) — pure int64,
    absolute quantization error <= k-1, so the estimate is exactly
    reproducible in any engine (no doubles anywhere).

    Output columns: the exact distinct count (certification twin),
    the k-th minimum hash, the estimate, and the signed error —
    the artifact a pipeline would monitor for sketch health.
    """
    return kmv_from(load_table(spark, sf_dir, "documents"))


def kmv_from(d: DataFrame) -> DataFrame:
    """Builder form over a documents relation (stress ladder)."""
    toks = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+", -1)).alias("word")
    ).where(F.col("word") != "")
    hashed = toks.select(_kmv_hash(F.col("word")).alias("h")).distinct()
    kmin = hashed.orderBy("h").limit(KMV_K)
    sketch = kmin.agg(
        F.count("*").alias("k_retained"), F.max("h").alias("h_k")
    )
    exact = toks.agg(F.countDistinct("word").alias("n_exact"))
    # integer DIV first, then scale: (M DIV h_k) * (k-1); a non-full
    # sketch holds EVERY distinct hash, so its size IS the exact count
    return (
        sketch.crossJoin(exact)
        .select(
            "n_exact",
            "k_retained",
            "h_k",
            F.expr(
                f"CASE WHEN k_retained < {KMV_K} THEN k_retained "
                f"ELSE (CAST({KMV_M} AS BIGINT) DIV h_k) * (k_retained - 1) "
                "END"
            )
            .cast("bigint")
            .alias("kmv_est"),
        )
        .withColumn("err", F.col("kmv_est") - F.col("n_exact"))
    )


def _kmv_oracle_sql() -> str:
    return f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
w AS (SELECT word FROM toks WHERE word <> ''),
hashed AS (
  SELECT DISTINCT {_duck_kmv_hash('word')} AS h FROM w
),
kmin AS (SELECT h FROM hashed ORDER BY h LIMIT {KMV_K}),
sketch AS (
  SELECT CAST(count(*) AS BIGINT) AS k_retained, max(h) AS h_k FROM kmin
),
exact AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS n_exact FROM w),
est AS (
  SELECT n_exact, k_retained, h_k,
         CASE WHEN k_retained < {KMV_K} THEN k_retained
              ELSE (CAST({KMV_M} AS BIGINT) // h_k) * (k_retained - 1)
         END AS kmv_est
  FROM sketch CROSS JOIN exact
)
SELECT n_exact, k_retained, h_k, kmv_est, kmv_est - n_exact AS err FROM est
"""


# ---------------------------------------------------------------
# Count-min sketch frequency estimates over events.user_id
# ---------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 512
# Per-row universal hash (a*u + b) mod P mod W; P prime > any key.
CMS_P = 2_147_483_647  # 2^31 - 1 (Mersenne)
CMS_A = [1_103_515_245, 69_069, 214_013, 134_775_813]
CMS_B = [12_345, 362_437, 2_531_011, 1]


def _cms_pos(row: int, key) -> F.Column:
    """Counter column for `key` in sketch row `row` (universal hash
    (a*u + b) mod P mod W — Carter & Wegman).  a*u for u ~ 1e5 and
    a ~ 2^31 stays far below 2^63."""
    return (
        (F.lit(CMS_A[row]) * key + F.lit(CMS_B[row])) % CMS_P % CMS_WIDTH
    ).alias("pos")


CMS_PROBE_N = 50  # probe users 0..49 — fixture-visible key range


def sketch_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over events.user_id with the one-sided error
    certified in-row: for every probe user, the CMS estimate (min
    over CMS_DEPTH counters) next to the exact count and the
    non-negative overcount.

    The counter table is CMS_DEPTH x CMS_WIDTH rows no matter how
    many events stream through — built by one map-side-combining
    groupBy over (row, pos) — and the probe side touches only the
    broadcast counters, never re-scanning events per probe.  est >=
    true for every key is the CMS guarantee; the test suite pins it
    and the oracle reproduces the exact estimates (universal hashes
    are plain integer arithmetic in both engines).
    """
    return cms_from(load_table(spark, sf_dir, "events"))


def cms_from(ev: DataFrame) -> DataFrame:
    """Builder form over an events relation (stress ladder)."""
    rows = F.explode(
        F.array(*[F.lit(r) for r in range(CMS_DEPTH)])
    ).alias("r")
    keyed = ev.select(F.col("user_id"), rows)
    pos = F.when(F.col("r") == 0, _cms_pos(0, F.col("user_id")))
    for r in range(1, CMS_DEPTH):
        pos = pos.when(F.col("r") == r, _cms_pos(r, F.col("user_id")))
    counters = (
        keyed.select("r", pos.alias("pos"))
        .groupBy("r", "pos")
        .agg(F.count("*").alias("cnt"))
    )
    truth = (
        ev.where(F.col("user_id") < CMS_PROBE_N)
        .groupBy("user_id")
        .agg(F.count("*").alias("true_cnt"))
    )
    probe_pos = F.when(F.col("r") == 0, _cms_pos(0, F.col("user_id")))
    for r in range(1, CMS_DEPTH):
        probe_pos = probe_pos.when(F.col("r") == r, _cms_pos(r, F.col("user_id")))
    probes = truth.select("user_id", "true_cnt", rows).select(
        "user_id", "true_cnt", "r", probe_pos.alias("pos")
    )
    return (
        probes.join(F.broadcast(counters), ["r", "pos"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .withColumn("overcount", F.col("cms_est") - F.col("true_cnt"))
        .orderBy("user_id")
    )


def _cms_oracle_sql() -> str:
    pos_cases = " ".join(
        f"WHEN {r} THEN (({CMS_A[r]} * user_id + {CMS_B[r]}) % {CMS_P}) % {CMS_WIDTH}"
        for r in range(CMS_DEPTH)
    )
    return f"""
WITH keyed AS (
  SELECT user_id, unnest(generate_series(0, {CMS_DEPTH - 1})) AS r
  FROM events
),
hashed AS (
  SELECT r, CASE r {pos_cases} END AS pos FROM keyed
),
counters AS (
  SELECT r, pos, CAST(count(*) AS BIGINT) AS cnt
  FROM hashed GROUP BY r, pos
),
truth AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
  FROM events WHERE user_id < {CMS_PROBE_N} GROUP BY user_id
),
probes AS (
  SELECT user_id, true_cnt, r,
         CASE r {pos_cases} END AS pos
  FROM (SELECT user_id, true_cnt,
               unnest(generate_series(0, {CMS_DEPTH - 1})) AS r
        FROM truth)
)
SELECT p.user_id, p.true_cnt, min(c.cnt) AS cms_est,
       min(c.cnt) - p.true_cnt AS overcount
FROM probes p JOIN counters c ON p.r = c.r AND p.pos = c.pos
GROUP BY p.user_id, p.true_cnt
ORDER BY p.user_id
"""


# ---------------------------------------------------------------
# Bloom-filter membership probe (decontamination suppression shape)
# ---------------------------------------------------------------

BLOOM_M = 1 << 20  # filter width in bits
BLOOM_K = 4  # probes per key (Kirsch–Mitzenmacher double hashing)


def _bloom_positions(word_col: F.Column) -> F.Column:
    """array<bigint> of the BLOOM_K bit positions for a word:
    pos_i = (h1 + i*h2) mod M (double hashing — two real hashes
    simulate k independent ones with the same asymptotics)."""
    hp = spark_charhash_pair(word_col)
    return F.array(
        *[
            ((hp["h1"] + F.lit(i) * hp["h2"]) % BLOOM_M).alias(f"p{i}")
            for i in range(BLOOM_K)
        ]
    )


def sketch_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark-vocabulary probe with exact
    false-positive accounting.

    The 'benchmark' partition (source = 'src0', the same held-out
    role decontaminate_overlap uses) inserts its distinct words into
    a BLOOM_M-bit filter via BLOOM_K double-hashed positions; every
    other source probes its distinct words.  A probe is
    bloom-positive iff ALL k of its positions are occupied — the
    sub-linear-memory suppression-list test an LLM pipeline runs
    when the exact benchmark set is too large to broadcast.  The
    exact semi-join twin runs beside it, so the output certifies the
    Bloom contract per source: no false negatives (bloom >= true,
    pinned in tests) and the measured false-positive count.

    Scale shape: the occupied-position set is at most m DISTINCT
    BIGINTS — bounded by the filter width, not the corpus — and is
    broadcast; probe words explode to k position rows map-side and
    meet it in a broadcast hash join, then fold back per word.  The
    training corpus is never shuffled as text.
    """
    return bloom_from(load_table(spark, sf_dir, "documents"))


def bloom_from(d: DataFrame) -> DataFrame:
    """Builder form over a documents relation (stress ladder)."""
    toks = lambda src_pred: (  # noqa: E731
        d.where(src_pred)
        .select(
            "source",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+", -1)).alias(
                "word"
            ),
        )
        .where(F.col("word") != "")
    )
    bench_words = (
        toks(F.col("source") == "src0").select("word").distinct()
    )
    occupied = (
        bench_words.select(
            F.explode(_bloom_positions(F.col("word"))).alias("pos")
        )
        .distinct()
    )
    probe_words = (
        toks(F.col("source") != "src0")
        .select("source", "word")
        .distinct()
    )
    probe_pos = probe_words.select(
        "source",
        "word",
        F.posexplode(_bloom_positions(F.col("word"))).alias("i", "pos"),
    )
    # a probe word is bloom-positive iff all BLOOM_K probe rows hit
    hits = (
        probe_pos.join(F.broadcast(occupied), "pos")
        .groupBy("source", "word")
        .agg(F.count("*").alias("n_hit"))
        .where(F.col("n_hit") == BLOOM_K)
        .select("source", "word")
    )
    true_pos = probe_words.join(bench_words, "word").select("source", "word")
    return (
        probe_words.groupBy("source")
        .agg(F.count("*").alias("n_probe_words"))
        .join(
            hits.groupBy("source").agg(F.count("*").alias("n_bloom_pos")),
            "source",
            "left",
        )
        .join(
            true_pos.groupBy("source").agg(F.count("*").alias("n_true_pos")),
            "source",
            "left",
        )
        .select(
            "source",
            "n_probe_words",
            F.coalesce("n_bloom_pos", F.lit(0)).alias("n_bloom_pos"),
            F.coalesce("n_true_pos", F.lit(0)).alias("n_true_pos"),
            (
                F.coalesce("n_bloom_pos", F.lit(0))
                - F.coalesce("n_true_pos", F.lit(0))
            ).alias("n_false_pos"),
        )
        .orderBy("source")
    )


def _bloom_oracle_sql() -> str:
    h1 = duck_charhash("word")
    h2 = duck_charhash("word", base=131, mod=FP_MOD2)
    pos_list = (
        f"list_transform(generate_series(0, {BLOOM_K - 1}), "
        f"i -> (({h1}) + i * ({h2})) % {BLOOM_M})"
    )
    return f"""
WITH toks AS (
  SELECT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
w AS (SELECT source, word FROM toks WHERE word <> ''),
bench AS (SELECT DISTINCT word FROM w WHERE source = 'src0'),
occupied AS (
  SELECT DISTINCT unnest({pos_list}) AS pos FROM bench
),
probe AS (
  SELECT DISTINCT source, word FROM w WHERE source <> 'src0'
),
probe_pos AS (
  SELECT source, word, unnest({pos_list}) AS pos FROM probe
),
hits AS (
  SELECT source, word
  FROM probe_pos pp JOIN occupied o USING (pos)
  GROUP BY source, word
  HAVING count(*) = {BLOOM_K}
),
tp AS (
  SELECT p.source, p.word FROM probe p JOIN bench b USING (word)
)
SELECT p.source,
       CAST(count(*) AS BIGINT) AS n_probe_words,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_bloom_pos,
       CAST(coalesce(t.n, 0) AS BIGINT) AS n_true_pos,
       CAST(coalesce(h.n, 0) - coalesce(t.n, 0) AS BIGINT) AS n_false_pos
FROM probe p
LEFT JOIN (SELECT source, count(*) AS n FROM hits GROUP BY source) h
       ON p.source = h.source
LEFT JOIN (SELECT source, count(*) AS n FROM tp GROUP BY source) t
       ON p.source = t.source
GROUP BY p.source, h.n, t.n
ORDER BY p.source
"""


register("sketch_kmv_distinct", sketch_kmv_distinct, _kmv_oracle_sql())
register("sketch_cms_frequency", sketch_cms_frequency, _cms_oracle_sql())
register(
    "sketch_bloom_decontaminate",
    sketch_bloom_decontaminate,
    _bloom_oracle_sql(),
)


# ---------------------------------------------------------------------------
# Fixed-bin histogram quantiles — the mergeable quantile estimator
# that completes the sketch family (distinct count = KMV, frequency
# = CMS, membership = Bloom, quantiles = this).  Order-dependent
# sketches (t-digest, Greenwald-Khanna) cannot be value-hash oracled
# because their state depends on partition visit order; a fixed-grid
# histogram is order-free (bin counts are a commutative sum), so the
# ESTIMATE itself sits under the oracle like the other three.
#
# Estimator: W equal-width bins over a FIXED domain; rank
# r = ceil(q*n); the answering bin is the first with cum >= r and
# the estimate interpolates linearly inside it:
#   est = lo + width * (r - cum_prev) / cnt
# computed in exact integer micro-units (bigint `div`), so the
# worst-case error is one bin width by construction — asserted in
# tests against the exact per-quantile order statistic.
#
# Scale shape (100 TB): ONE map-side-combining groupBy folds the
# corpus to <= W rows regardless of input size; the cumulative pass
# and the quantile probes are windows/joins over that W-row relation
# (the 3-row quantile table broadcasts).  Histograms from different
# shards/days MERGE by summing bin counts — the property streaming
# rollups need and exact order statistics can't give.

QH_WIDTH = 512          # bin width in price units
QH_BINS = 256           # domain [0, 131072) covers l_extendedprice
QH_PERMILLE = (500, 900, 990)  # p50 / p90 / p99
QH_MICRO = 1_000_000


def hist_from_values(
    vals: DataFrame, width: float = QH_WIDTH, bins: int = QH_BINS
) -> DataFrame:
    """(bin, cnt) fixed-grid histogram of a (`v` double) relation —
    the MERGEABLE state: histograms from shards/batches combine by
    summing cnt per bin (the streaming sink exploits exactly this)."""
    return (
        vals.select(
            F.least(
                F.floor(F.col("v") / width).cast("long"),
                F.lit(bins - 1),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )


def quantile_probe_from_hist(
    hist: DataFrame, width_micro: int
) -> DataFrame:
    """Quantile probes over a (bin, cnt) histogram relation.
    `width_micro` = bin width in exact micro-units, so the
    interpolation stays in bigint arithmetic for any (possibly
    fractional) grid width.  Returns (permille, target_rank,
    bin_idx, est) rows."""
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bin",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    # from pandas, not a list of rows: a list becomes a Python RDD
    # whose every scan runs Python tasks; pandas is a LocalRelation
    qs = hist.sparkSession.createDataFrame(
        pd.DataFrame({"permille": QH_PERMILLE}), "permille int"
    )
    target = F.expr(f"(permille * n + 999) div 1000")
    probe = (
        cum.crossJoin(F.broadcast(qs))
        .withColumn("target_rank", target)
        .where(
            (F.col("cum") >= F.col("target_rank"))
            & (F.col("cum") - F.col("cnt") < F.col("target_rank"))
        )
    )
    est_micro = F.col("bin") * F.lit(width_micro) + F.expr(
        f"({width_micro} * (target_rank - (cum - cnt))) div cnt"
    )
    return (
        probe.select(
            "permille",
            F.col("target_rank").cast("long").alias("target_rank"),
            F.col("bin").cast("long").alias("bin_idx"),
            (est_micro.cast("double") / QH_MICRO).alias("est"),
        )
        .orderBy("permille")
    )


def quantile_hist_from(
    vals: DataFrame, width: int = QH_WIDTH, bins: int = QH_BINS
) -> DataFrame:
    """Histogram-quantile estimates of a single-column (`v` double)
    relation.  Returns (permille, target_rank, bin_idx, est) rows."""
    return quantile_probe_from_hist(
        hist_from_values(vals, width, bins), width * QH_MICRO
    )


def sketch_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form over lineitem.l_extendedprice."""
    li = load_table(spark, sf_dir, "lineitem")
    return quantile_hist_from(li.select(F.col("l_extendedprice").alias("v")))


def _quantile_hist_oracle_sql() -> str:
    permille_rows = ", ".join(f"({p})" for p in QH_PERMILLE)
    return f"""
WITH vals AS (SELECT l_extendedprice AS v FROM lineitem),
hist AS (
  SELECT least(CAST(floor(v / {QH_WIDTH}) AS BIGINT), {QH_BINS - 1}) AS bin,
         count(*) AS cnt
  FROM vals GROUP BY 1
),
cum AS (
  SELECT bin, cnt,
         sum(cnt) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER () AS n
  FROM hist
),
qs AS (SELECT * FROM (VALUES {permille_rows}) AS t(permille)),
probe AS (
  SELECT q.permille, c.bin, c.cnt, c.cum,
         (q.permille * c.n + 999) // 1000 AS target_rank
  FROM cum c CROSS JOIN qs q
  WHERE c.cum >= (q.permille * c.n + 999) // 1000
    AND c.cum - c.cnt < (q.permille * c.n + 999) // 1000
)
SELECT CAST(permille AS INTEGER) AS permille,
       CAST(target_rank AS BIGINT) AS target_rank,
       CAST(bin AS BIGINT) AS bin_idx,
       CAST(bin * {QH_WIDTH} * {QH_MICRO}
            + ({QH_WIDTH} * (target_rank - (cum - cnt)) * {QH_MICRO}) // cnt
            AS DOUBLE) / {QH_MICRO} AS est
FROM probe
ORDER BY permille
"""


register("sketch_quantile_hist", sketch_quantile_hist, _quantile_hist_oracle_sql())


# ---------------------------------------------------------------------------
# t-digest quantiles — the NON-order-free member of the quantile
# family, included deliberately as a rows-only query: its merged
# state depends on partition visit order, so it structurally cannot
# sit under the cross-engine value hash (SURVEY §2.3 sketches row
# documents the exclusion; sketch_quantile_hist is the order-free,
# hash-oracled twin).  Certification is by PROPERTY instead
# (tests/test_sketches.py): the rank error of every estimate vs the
# exact order statistic is within the scale-function bound, and a
# shard-built + merged digest obeys the same bound as a single-pass
# digest — the mergeability contract that makes it usable as a
# distributed/streaming accumulator.
#
# Variant: Dunning's merging t-digest with the uniform (k0) scale
# function — cluster weight cap 2n/delta, giving a worst-case rank
# error of ~n/delta per probe (delta=200 -> 0.5%).  k0 is chosen
# over the asin k1 because its error bound is uniform in q and
# therefore directly assertable for every probe.
#
# Scale shape (100 TB): stage 1 is a deterministic hash-sharded
# applyInPandas building <= delta centroids per shard (the corpus
# is seen once, map-side); stage 2 merges the <= shards*delta
# centroid rows — thousands of rows regardless of corpus size — in
# one tiny task that also answers the probes.  Digests from
# different days/shards merge by concatenation + recompress, the
# same path stage 2 exercises.
# ---------------------------------------------------------------------------

TD_DELTA = 200
TD_SHARDS = 32
TD_PERMILLE = (500, 900, 990)


def td_compress(means, weights, delta: int = TD_DELTA):
    """Merge weighted points into t-digest centroids (k0 scale:
    cluster weight cap 2n/delta).  Pure numpy; used by the Spark
    stages AND directly by the property tests.  Returns
    (means, weights) sorted by mean."""
    import numpy as np

    m = np.asarray(means, dtype="float64")
    w = np.asarray(weights, dtype="float64")
    order = np.argsort(m, kind="stable")
    m, w = m[order], w[order]
    n = float(w.sum())
    cap = 2.0 * n / delta
    out_m: list[float] = []
    out_w: list[float] = []
    cur_m, cur_w = float(m[0]), float(w[0])
    for i in range(1, len(m)):
        wi = float(w[i])
        if cur_w + wi <= cap:
            cur_m += (float(m[i]) - cur_m) * wi / (cur_w + wi)
            cur_w += wi
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            cur_m, cur_w = float(m[i]), wi
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.array(out_m), np.array(out_w)


def td_quantile(means, weights, vmin: float, vmax: float, q: float) -> float:
    """Estimate the q-quantile from centroids sorted by mean:
    linear interpolation between centroid mid-ranks, clamped to the
    tracked [vmin, vmax] at the tails."""
    import numpy as np

    m = np.asarray(means, dtype="float64")
    w = np.asarray(weights, dtype="float64")
    n = float(w.sum())
    target = q * n
    mid = np.cumsum(w) - w / 2.0
    if target <= mid[0]:
        frac = target / mid[0] if mid[0] > 0 else 1.0
        return vmin + (float(m[0]) - vmin) * frac
    if target >= mid[-1]:
        span = n - mid[-1]
        frac = (target - mid[-1]) / span if span > 0 else 1.0
        return float(m[-1]) + (vmax - float(m[-1])) * frac
    j = int(np.searchsorted(mid, target, side="right"))
    lo, hi = mid[j - 1], mid[j]
    frac = (target - lo) / (hi - lo) if hi > lo else 0.0
    return float(m[j - 1]) + (float(m[j]) - float(m[j - 1])) * frac


_TD_PARTIAL_SCHEMA = (
    "mean double, weight double, vmin double, vmax double"
)


def tdigest_partials_from(
    vals: DataFrame, delta: int = TD_DELTA, shards: int = TD_SHARDS
) -> DataFrame:
    """Stage 1: per-shard t-digest centroids of a (`v` double)
    relation — the mergeable state, <= delta rows per shard."""

    def build(pdf):
        import numpy as np
        import pandas as pd

        v = pdf["v"].to_numpy(dtype="float64")
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return pd.DataFrame(
                columns=["mean", "weight", "vmin", "vmax"]
            ).astype("float64")
        m, w = td_compress(v, np.ones_like(v), delta)
        return pd.DataFrame(
            {
                "mean": m,
                "weight": w,
                "vmin": float(v.min()),
                "vmax": float(v.max()),
            }
        )

    return (
        vals.withColumn("shard", F.pmod(F.hash("v"), F.lit(shards)))
        .groupBy("shard")
        .applyInPandas(build, schema=_TD_PARTIAL_SCHEMA)
    )


def tdigest_quantiles_from(
    vals: DataFrame,
    delta: int = TD_DELTA,
    shards: int = TD_SHARDS,
    permille=TD_PERMILLE,
) -> DataFrame:
    """Full pipeline: shard partials -> merge + probe.  Returns
    (permille, est, n) rows."""
    probes = tuple(permille)

    def merge_and_probe(pdf):
        import pandas as pd

        m, w = td_compress(
            pdf["mean"].to_numpy(), pdf["weight"].to_numpy(), delta
        )
        vmin, vmax = float(pdf["vmin"].min()), float(pdf["vmax"].max())
        n = int(round(float(w.sum())))
        return pd.DataFrame(
            {
                "permille": list(probes),
                "est": [
                    td_quantile(m, w, vmin, vmax, p / 1000.0)
                    for p in probes
                ],
                "n": n,
            }
        )

    return (
        tdigest_partials_from(vals, delta, shards)
        .withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(
            merge_and_probe, schema="permille int, est double, n long"
        )
        .orderBy("permille")
    )


def sketch_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered (rows-only) form over lineitem.l_extendedprice."""
    li = load_table(spark, sf_dir, "lineitem")
    return tdigest_quantiles_from(
        li.select(F.col("l_extendedprice").alias("v"))
    )


register("sketch_tdigest_quantiles", sketch_tdigest_quantiles)


# ---------------------------------------------------------------------------
# Spark's BUILT-IN approximate percentile (percentile_approx — the
# Greenwald-Khanna-style QuantileSummaries): registered rows-only
# like the t-digest (its merged summary depends on partition visit
# order, so it cannot sit under the cross-engine value hash) and
# certified by the same property discipline — rank error <= n/acc
# vs the exact order statistic (tests/test_sketches.py).  With the
# t-digest this closes the quantile family's fourth quadrant:
# {order-free oracled (histogram), from-scratch property-certified
# (t-digest), engine-native property-certified (this)}.
# ---------------------------------------------------------------------------

AP_ACCURACY = 1000
AP_PERCENTILES = (0.5, 0.9, 0.99)


def approx_percentile_builtin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", list(AP_PERCENTILES), AP_ACCURACY
            ).alias("pcts"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            F.col("pcts")[0].alias("p50"),
            F.col("pcts")[1].alias("p90"),
            F.col("pcts")[2].alias("p99"),
            "n",
        )
        .orderBy("l_returnflag")
    )


register("approx_percentile_builtin", approx_percentile_builtin)
