"""ANN recall certification floors (round-7 verdict #1).

Parity cannot catch a recall regression — the oracle mirrors the
approximation, not the ground truth (the round-5 MinHash mod-wrap
bug is the proof).  These tests pin each ANN path's measured
recall@TOPK against the exact brute-force top-k, at floors set
from the committed measurements in ANN_RECALL_r7.json (measured
minus a few points; every path is deterministic — seeded plan-time
planes, deterministic centroids, deterministic tie-breaks — so the
measured numbers are exactly reproducible on the same fixture).

Two fixtures, two stories:

* the sf0.01 embeddings fixture is NEAR-UNIFORM at top-5
  granularity (pairwise cosines concentrate near 0), the hardest
  case for locality indexes: recall is bounded by the scanned
  fraction (LSH 64 buckets scans ~1.6%% -> ~0.14; IVF 3/16 cells
  scans ~19%% -> ~0.36).  The floors document that bound honestly.
* the CLUSTERED corpus (6 deterministic perturbed copies of each
  fixture vector, cos ~0.99 within a clone family) is the geometry
  ANN indexes exist for — the exact top-5 of every query is its 5
  clone siblings; recall measures near-duplicate retrieval alone
  (LSH-family 0.82, IVF 1.0).
"""

import pytest
from pyspark.sql import functions as F

from db_mapreduce_project_spark.io import load_table
from db_mapreduce_project_spark.operators.retrieval import (
    ivfadc_rerank_from,
    mrl_rerank_from,
    two_stage_rerank_from,
)
from db_mapreduce_project_spark.operators.similarity import (
    PQ_K,
    PQ_M,
    N_CELLS,
    brute_topk_from,
    ivf_centroids,
    ivf_topk_from,
    ivfadc_residuals,
    ivfadc_topk_from,
    l2,
    lsh_multitable_topk_from,
    lsh_topk_from,
    pq_adc_from,
    pq_codebook,
    pq_codes,
    sq8_adc_from,
)
from scripts.ann_recall import expand_perturbed, measure, top_map

SF = "/root/testdata/sf0.01"


def _embeddings(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


def test_ann_recall_floors_fixture(spark):
    """Registered parameters on the raw fixture — floors from
    ANN_RECALL_r7.json (measured: lsh 0.14, ivf 0.36, sq8 0.14,
    two_stage 0.14 at sf0.01)."""
    e = _embeddings(spark).cache()
    exact = top_map(brute_topk_from(e).collect())
    got = {
        "lsh": measure(lsh_topk_from(e), exact),
        "ivf": measure(ivf_topk_from(e), exact),
        "sq8": measure(sq8_adc_from(e), exact),
        "two_stage": measure(two_stage_rerank_from(e), exact),
        "mrl": measure(mrl_rerank_from(e), exact),
    }
    e.unpersist()
    assert got["lsh"]["recall"] >= 0.10, got
    assert got["ivf"]["recall"] >= 0.32, got
    assert got["sq8"]["recall"] >= 0.10, got
    # truncated coarse index loses candidate quality on uniform
    # data (measured 0.26 vs IVF's 0.36 at full dims)
    assert got["mrl"]["recall"] >= 0.22, got
    # the exact rerank can only fix ranking INSIDE the candidate
    # set, never lose ground to the quantized scorer
    assert got["two_stage"]["recall"] >= got["sq8"]["recall"] - 1e-9, got
    assert got["two_stage"]["recall"] >= 0.10, got


def test_ann_recall_floors_clustered(spark):
    """Clustered corpus (6 clone families): the exact top-5 of every
    query is its 5 siblings, so recall isolates near-duplicate
    retrieval.  Floors from measurement: lsh/sq8/two_stage 0.82,
    ivf 1.0."""
    e = expand_perturbed(_embeddings(spark), copies=6).cache()
    exact = top_map(brute_topk_from(e).collect())
    got = {
        "lsh": measure(lsh_topk_from(e), exact),
        "multitable": measure(lsh_multitable_topk_from(e), exact),
        "ivf": measure(ivf_topk_from(e), exact),
        "sq8": measure(sq8_adc_from(e), exact),
        "pq": measure(pq_adc_from(e), exact),
        "ivfadc": measure(ivfadc_topk_from(e), exact),
        "ivfadc_rerank": measure(ivfadc_rerank_from(e), exact),
        "two_stage": measure(two_stage_rerank_from(e), exact),
        "mrl": measure(mrl_rerank_from(e), exact),
    }
    e.unpersist()
    assert got["lsh"]["recall"] >= 0.78, got
    assert got["multitable"]["recall"] >= 0.95, got
    assert got["ivf"]["recall"] >= 0.95, got
    assert got["sq8"]["recall"] >= 0.78, got
    assert got["pq"]["recall"] >= 0.78, got  # measured 0.82
    assert got["ivfadc"]["recall"] >= 0.75, got  # measured 0.7933
    # the exact rerank buys back ALL the ADC quantization loss on
    # clone families (measured 1.0, worst-query 1.0)
    assert got["ivfadc_rerank"]["recall"] >= 0.95, got
    assert got["two_stage"]["recall"] >= 0.78, got
    # the quarter-dimension coarse index routes clone families
    # perfectly and the exact rerank finishes the job (measured
    # 1.0, worst-query 1.0 here AND at the 20k rung)
    assert got["mrl"]["recall"] >= 0.95, got


def test_multitable_dominates_single_table(spark):
    """Table 0 of the multi-table index IS the single-table index
    (same seeded plane stream), so the multitable candidate set is a
    superset — and a true top-k member can only be displaced from a
    wider candidate set by a globally-better vector, of which there
    are fewer than TOPK.  Recall dominance is therefore a theorem,
    not a tendency; pin it per query."""
    e = _embeddings(spark).cache()
    exact = top_map(brute_topk_from(e).collect())
    single = top_map(lsh_topk_from(e).collect())
    multi = top_map(lsh_multitable_topk_from(e).collect())
    e.unpersist()
    for q, truth in exact.items():
        s_hits = len(single.get(q, set()) & truth)
        m_hits = len(multi.get(q, set()) & truth)
        assert m_hits >= s_hits, (q, s_hits, m_hits)


def test_ivfadc_bounded_by_ivf_per_query(spark):
    """IVFADC and ann_ivf_topk share the coarse stage exactly (same
    centroids, same assignment, same probes), so their candidate
    sets are IDENTICAL — and exact scoring returns every truth
    member inside the candidate set (a global-top-k vector beats
    every non-truth candidate by exact cosine).  Quantized scoring
    can therefore only lose ground: per-query hits(ivfadc) <=
    hits(ivf) is a theorem, pinned here; measured recall (fixture
    0.16 vs 0.36, clustered 0.7933 vs 1.0) isolates pure
    quantization loss."""
    e = _embeddings(spark).cache()
    exact = top_map(brute_topk_from(e).collect())
    ivf = top_map(ivf_topk_from(e).collect())
    adc = top_map(ivfadc_topk_from(e).collect())
    e.unpersist()
    for q, truth in exact.items():
        assert len(adc.get(q, set()) & truth) <= len(
            ivf.get(q, set()) & truth
        ), q


def test_ivfadc_rerank_dominates_adc_per_query(spark):
    """With rerank_c >= TOPK the rerank's candidate cut (ADC
    top-rerank_c) contains the ADC top-5, and exact rescoring
    returns every truth member of the cut (a global-top-k vector
    beats every non-truth candidate by exact cosine) — so
    per-query hits(rerank) >= hits(ivfadc) is a theorem, the same
    dominance argument as the multitable superset.  Measured
    (fixture): 0.30 vs 0.16."""
    e = _embeddings(spark).cache()
    exact = top_map(brute_topk_from(e).collect())
    adc = top_map(ivfadc_topk_from(e).collect())
    rr = top_map(ivfadc_rerank_from(e).collect())
    e.unpersist()
    for q, truth in exact.items():
        assert len(rr.get(q, set()) & truth) >= len(
            adc.get(q, set()) & truth
        ), q


@pytest.mark.parametrize("skip", [0, N_CELLS], ids=["raw", "residual"])
def test_ivfadc_index_shape(spark, skip):
    """The shared PQ encoder emits exactly PQ_M nibble codes per
    vector (every k a valid codeword id), over the raw vectors (the
    ann_pq_adc index, skip 0) and over the IVF residuals (the
    IVFADC index).  The residual codebook is trained PAST the
    centroid rows — no codeword is the zero vector (training on the
    centroids' own residuals would collapse the codebook to the
    origin and the ADC term to a constant)."""
    e = (
        _embeddings(spark)
        .select("vec_id", "embedding", l2("embedding").alias("norm"))
        .cache()
    )
    n = e.count()
    if skip:
        vecs = ivfadc_residuals(e, ivf_centroids(e))
    else:
        vecs = e.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    cb = pq_codebook(vecs, skip)
    book = cb.collect()
    assert len(book) == PQ_M * PQ_K
    if skip:
        assert all(any(abs(v) > 0 for v in r["cw"]) for r in book)
    rows = pq_codes(vecs, cb).collect()
    e.unpersist()
    assert len(rows) == n * PQ_M
    per_vec = {}
    for r in rows:
        assert 0 <= r["k"] < PQ_K
        per_vec.setdefault(r["n_id"], set()).add(r["m"])
    assert all(ms == set(range(PQ_M)) for ms in per_vec.values())


def test_ivf_recall_monotone_in_probe_count(spark):
    """The parameter knob must move recall the right way: more
    probed cells can only widen the candidate set (the sweep in
    ANN_RECALL_r7.json measures 0.16 / 0.44 / 0.805 at probe =
    1 / 3 / 8 on sf0.1; here the invariant is pinned at fixture
    scale)."""
    e = _embeddings(spark).cache()
    exact = top_map(brute_topk_from(e).collect())
    r1 = measure(ivf_topk_from(e, n_probe=1), exact)["recall"]
    r3 = measure(ivf_topk_from(e, n_probe=3), exact)["recall"]
    r8 = measure(ivf_topk_from(e, n_probe=8), exact)["recall"]
    e.unpersist()
    assert r1 <= r3 <= r8, (r1, r3, r8)
    assert r8 >= 0.6, r8  # half the cells probed -> most of the truth


# ---------------------------------------------------------------
# Attribute-filtered IVF (ann_ivf_filtered)
# ---------------------------------------------------------------

from pyspark.sql import Window

from db_mapreduce_project_spark.operators.similarity import (
    N_PROBE,
    TOPK,
    QUERY_MOD,
    dot,
    ivf_assign,
    ivf_filtered_topk_from,
    ivf_probes,
)


def _labeled(spark):
    return load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding", "label"
    )


def _same_label_ground_truth(spark):
    """Exact same-label top-TOPK (the filtered query's ground
    truth)."""
    return _same_label_truth_from(_labeled(spark))


def _same_label_truth_from(e_lab):
    """Exact same-label top-TOPK over any (vec_id, embedding,
    label) relation."""
    en = e_lab.select(
        "vec_id", "embedding", "label", l2("embedding").alias("norm")
    )
    q = en.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("norm").alias("q_norm"),
        "label",
    )
    n = en.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("nv"),
        F.col("norm").alias("n_norm"),
        "label",
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("n_id").asc()
    )
    return (
        q.join(n, "label")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "cos",
            dot("qv", "nv")
            / F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK)
        .select("q_id", "n_id")
    )


def test_filtered_ivf_label_constraint(spark):
    """Every returned neighbor carries the query's own label."""
    res = ivf_filtered_topk_from(_labeled(spark)).collect()
    assert len(res) > 0
    labels = {
        r["vec_id"]: r["label"]
        for r in _labeled(spark).select("vec_id", "label").collect()
    }
    for r in res:
        assert r["label"] == labels[r["q_id"]] == labels[r["n_id"]]


def test_filtered_ivf_never_under_returns(spark):
    """The pre-filter contract post-filtering lacks: whenever the
    probed cells hold >= TOPK same-label candidates, the query gets
    exactly TOPK results (a post-filter over unfiltered IVF's top-k
    would return fewer as soon as the filter is selective)."""
    e = _labeled(spark).select(
        "vec_id", "embedding", "label", l2("embedding").alias("norm")
    )
    from db_mapreduce_project_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(e)
    assigned = ivf_assign(e, cents)
    q_labels = e.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("label")
    )
    probes = ivf_probes(e, cents, N_PROBE).join(q_labels, "q_id")
    avail = (
        probes.join(
            assigned.select(
                F.col("vec_id").alias("n_id"), "cell", "label"
            ),
            ["cell", "label"],
        )
        .where(F.col("q_id") != F.col("n_id"))
        .groupBy("q_id")
        .agg(F.countDistinct("n_id").alias("n_avail"))
    )
    got = (
        ivf_filtered_topk_from(_labeled(spark))
        .groupBy("q_id")
        .agg(F.count("*").alias("n_got"))
    )
    rows = avail.join(got, "q_id", "full").fillna(0, ["n_got"]).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_got"] == min(TOPK, r["n_avail"]), r


def test_filtered_ivfadc_adaptive_budget_on_clone_families(spark):
    """Round-10 (round-9 verdict #7): the attribute-filtered
    quantized path consumes the SAME collision-derived adaptive
    budget as the unfiltered rerank.  On a 40-clone labeled corpus
    (clones inherit the base vector's label, so every query's
    same-label exact top-5 is clone siblings sharing its PQ code):

    * every returned neighbor carries the query's own label (the
      pre-filter contract);
    * pooled recall against the same-label exact ground truth
      clears the unfiltered registered-margin floor — the global
      max_cluster bound covers every (cell, label) stratum because
      a label restriction can only SHRINK a tie cluster, never
      grow it."""
    from db_mapreduce_project_spark.operators.retrieval import (
        ivfadc_filtered_rerank_from,
    )

    lab = _labeled(spark).select(F.col("vec_id").alias("orig"), "label")
    e_lab = (
        expand_perturbed(_embeddings(spark), copies=40)
        .withColumn("orig", F.pmod("vec_id", F.lit(100_000_000)))
        .join(lab, "orig")
        .drop("orig")
        .cache()
    )
    exact = top_map(_same_label_truth_from(e_lab).collect())
    rows = ivfadc_filtered_rerank_from(e_lab).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in e_lab.select("vec_id", "label").collect()
    }
    e_lab.unpersist()
    assert len(rows) > 0
    for r in rows:
        assert r["label"] == labels[r["q_id"]] == labels[r["n_id"]]
    got = top_map(rows)
    hits = total = 0
    for q, truth in exact.items():
        hits += len(got.get(q, set()) & truth)
        total += len(truth)
    assert hits / total >= 0.95, hits / total


def test_filtered_ivf_recall_floor(spark):
    """Measured 0.34 vs the same-label exact ground truth on the
    near-uniform fixture (unfiltered IVF: 0.36 — the filter does
    not degrade the scanned-fraction bound); floor a few points
    under measured."""
    exact = top_map(_same_label_ground_truth(spark).collect())
    res = measure(ivf_filtered_topk_from(_labeled(spark)), exact)
    assert res["recall"] >= 0.30, res


def test_ivfadc_adaptive_budget_beats_fixed_cut_on_clone_families(spark):
    """Round-9 fix for the round-8 measured collapse: the registered
    ann_ivfadc_rerank derives its rerank budget from the PQ-code
    collision histogram (ivfadc_collision_budget) instead of a
    fixed cut.  On a 40-clone corpus (family > the fixed floor 25):

    * the margin-1 budget is exactly max_cluster + TOPK = 45 and
      the registered margin-6 budget 6 * 40 + TOPK = 245 —
      data-derived, deterministic, no hand tuning;
    * per-query hits(margin 6) >= hits(margin 1) >= hits(fixed 25)
      is a THEOREM (each cut is a superset of the next and exact
      rescoring keeps every truth member of the cut), pinned per
      query;
    * pooled recall floors from measurement: fixed 0.523 vs
      margin-1 adaptive 0.8475 (the residual loss is coarse-probe
      routing at the registered probe=3/16 cells, not the budget —
      the scaled 500k/1M certification in ANN_RECALL_r10.json shows
      >= 0.995 at serving parameters) vs the registered margin-6
      form >= 0.99 (the near-tie margin recovers the entire tail
      at this geometry)."""
    from db_mapreduce_project_spark.operators.similarity import (
        RERANK_C_CAP,
        ivfadc_collision_budget,
        ivfadc_index,
    )

    e = expand_perturbed(_embeddings(spark), copies=40).cache()
    _, _, _, codes = ivfadc_index(e)
    budget = ivfadc_collision_budget(codes, RERANK_C_CAP).collect()
    assert budget[0]["c_budget"] == 40 + TOPK, budget
    m6 = ivfadc_collision_budget(codes, RERANK_C_CAP, margin=6).collect()
    assert m6[0]["c_budget"] == 6 * 40 + TOPK, m6
    exact = top_map(brute_topk_from(e).collect())
    fixed = top_map(ivfadc_rerank_from(e, 25).collect())
    margin1 = top_map(ivfadc_rerank_from(e, margin=1).collect())
    adaptive = top_map(ivfadc_rerank_from(e).collect())  # margin 6
    e.unpersist()
    f_hits = a_hits = m_hits = total = 0
    for q, truth in exact.items():
        fh = len(fixed.get(q, set()) & truth)
        ah = len(margin1.get(q, set()) & truth)
        mh = len(adaptive.get(q, set()) & truth)
        assert mh >= ah >= fh, (q, fh, ah, mh)  # nested-cut dominance
        f_hits += fh
        a_hits += ah
        m_hits += mh
        total += len(truth)
    assert f_hits / total <= 0.60, f_hits / total  # the measured collapse
    assert a_hits / total >= 0.80, a_hits / total  # the margin-1 recovery
    # the measured near-tie-pileup margin (ANN_TAIL_r9/r10): the
    # registered margin-6 budget recovers the ENTIRE tail at this
    # geometry (measured 1.0 pooled, 1.0 worst-query at margin 5;
    # 6 is a superset cut)
    assert m_hits / total >= 0.99, m_hits / total


def test_ann_recall_500k_artifact_floors():
    """Corpus-scale certification floors (round-8 verdict #1):
    ANN_RECALL_r8.json is produced by scripts/ann_recall_scale.py
    (100k / 500k-vector rungs, driver-side BLAS ground truth, the
    engine paths in Spark).  Pins (a) the serving paths' floors at
    500k vectors, (b) the clone-family scaling rule: a rerank cut
    SMALLER than the duplicate-cluster size collapses (PQ codes are
    identical within a family, so ADC cannot rank siblings), and a
    cut >= family size + k recovers.  Every number is deterministic
    (seeded perturbation, deterministic centroids and tie-breaks),
    so re-running the script reproduces the artifact."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "ANN_RECALL_r8.json")
    rows = json.load(open(path))["measurements"]

    def get(corpus_n, path_name, rerank_c=None):
        for r in rows:
            if (
                f"({corpus_n} vectors)" in r["corpus"]
                and r["path"] == path_name
                and (rerank_c is None or r["params"].get("rerank_c") == rerank_c)
            ):
                return r
        raise AssertionError((corpus_n, path_name, rerank_c))

    # 500k floors: exact-scoring IVF and float-coarse MRL hold
    assert get(500000, "ivf_topk")["recall"] >= 0.99
    assert get(500000, "mrl_rerank", 255)["recall"] >= 0.99
    assert get(500000, "ivfadc_rerank", 1000)["recall"] >= 0.99
    # the scaling rule, monotone across the cut sweep
    r50 = get(500000, "ivfadc_rerank", 50)["recall"]
    r255 = get(500000, "ivfadc_rerank", 255)["recall"]
    r1000 = get(500000, "ivfadc_rerank", 1000)["recall"]
    assert r50 < 0.5 < r255 <= r1000, (r50, r255, r1000)
    # 100k rung: family size 50 == rerank_c 50 cut -> rerank holds
    assert get(100000, "ivfadc_rerank", 50)["recall"] >= 0.9
    assert get(100000, "ivf_topk")["recall"] >= 0.99
    # LSH family at 500k: float scoring inside buckets holds
    assert get(500000, "lsh_bucketed")["recall"] >= 0.95
    assert get(500000, "lsh_multitable")["recall"] >= 0.99
    # SQ8's collapse is the same quantization-tie mechanism as raw
    # ADC: the clone perturbation is ~1 int8 step (documented)
    assert get(500000, "sq8_adc")["recall"] < 0.5


def test_ivfadc_incremental_delta_serves_fresh_vectors(spark):
    """The add-after-train composition (ann_ivfadc_incremental_delta):
    quantizers trained only on the base subset, delta rows encoded
    against the frozen quantizers, one merged serving index.

    Pins the three contract points parity cannot see:
    * no training leakage — every centroid/codebook row comes from
      the base subset (vec_id % 10 != 7);
    * freshness — delta vectors appear as RESULTS (retrievable the
      moment they are encoded) and delta queries get answers;
    * near-parity retrieval quality — recall over the frozen-
      quantizer index stays within a few points of the fully-
      retrained adaptive index on the same corpus."""
    from pyspark.sql import functions as F

    from db_mapreduce_project_spark.operators.retrieval import (
        DELTA_MOD,
        DELTA_REM,
        exact_rerank_tail,
        ivfadc_rerank_from,
    )
    from db_mapreduce_project_spark.operators.similarity import (
        RERANK_C_CAP,
        ivfadc_collision_budget,
        ivfadc_index_trained_on,
        ivfadc_scored_from_index,
    )
    from pyspark.sql import Window

    e = _embeddings(spark).cache()
    is_delta = lambda v: v % DELTA_MOD == DELTA_REM  # noqa: E731

    en, cents, cb, codes = ivfadc_index_trained_on(
        e, F.col("vec_id") % DELTA_MOD != DELTA_REM
    )
    # no leakage: the quantizer-training rows are all base rows
    assert all(
        not is_delta(r["cell"]) for r in cents.collect()
    ), "a delta row leaked into the coarse centroids"
    # the merged code index covers every row, delta included
    coded = {r["n_id"] for r in codes.select("n_id").distinct().collect()}
    all_ids = {r["vec_id"] for r in e.select("vec_id").collect()}
    assert coded == all_ids

    wc = Window.partitionBy("q_id").orderBy(
        F.col("adc").desc(), F.col("n_id").asc()
    )
    ranked = ivfadc_scored_from_index(en, cents, cb, codes).withColumn(
        "crk", F.row_number().over(wc)
    )
    budget = ivfadc_collision_budget(codes, RERANK_C_CAP)
    cands = (
        ranked.crossJoin(F.broadcast(budget))
        .where(F.col("crk") <= F.col("c_budget"))
        .select("q_id", "n_id")
    )
    rows = exact_rerank_tail(e, cands).collect()
    assert rows
    # freshness: delta ids appear among the RESULTS (retrievable the
    # moment they are encoded).  Delta rows are never queries by
    # construction: vec_id % 50 == 0 implies vec_id % 10 == 0 != 7.
    assert any(is_delta(r["n_id"]) for r in rows), "no delta vector retrieved"

    # quality: frozen-quantizer recall within a few points of the
    # fully-retrained adaptive index on the same corpus
    exact = top_map(brute_topk_from(e).collect())
    inc = {}
    for r in rows:
        inc.setdefault(r["q_id"], set()).add(r["n_id"])
    retrained = top_map(ivfadc_rerank_from(e).collect())
    e.unpersist()

    def pooled(approx):
        hits = total = 0
        for q, truth in exact.items():
            hits += len(approx.get(q, set()) & truth)
            total += len(truth)
        return hits / total

    r_inc, r_full = pooled(inc), pooled(retrained)
    assert r_inc >= r_full - 0.10, (r_inc, r_full)


def test_ivfadc_incremental_upsert_deletes(spark):
    """Deletes in incremental maintenance (round-9 verdict #4 —
    the FAISS remove_ids story): tombstones anti-joined at serving
    time, compaction as a threshold-gated repack.  Pins the contract
    points parity cannot see:

    * NO RESURRECTION — tombstoned ids never appear as results (or
      queries);
    * FRESHNESS — delta adds remain retrievable alongside deletes;
    * QUALITY — recall over the live corpus within 0.02 of a fully-
      retrained adaptive index on the same live corpus;
    * COMPACTION EQUALITY — serving over the compacted index is
      row-identical to anti-join serving (repack against frozen
      quantizers changes nothing);
    * TRIGGER — the fixture's 10% dead fraction sits under the 20%
      threshold and over a 5% one."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from db_mapreduce_project_spark.operators.retrieval import (
        DELETE_REM,
        DELTA_MOD,
        DELTA_REM,
        ann_ivfadc_incremental_upsert,
        exact_rerank_tail,
        ivfadc_compact,
        ivfadc_live,
        ivfadc_rerank_from,
        ivfadc_should_compact,
        ivfadc_tombstones,
    )
    from db_mapreduce_project_spark.operators.similarity import (
        RERANK_C_CAP,
        RERANK_MARGIN,
        ivfadc_collision_budget,
        ivfadc_index_trained_on,
        ivfadc_scored_from_index,
    )

    rows = ann_ivfadc_incremental_upsert(spark, SF).collect()
    is_dead = lambda v: v % DELTA_MOD == DELETE_REM  # noqa: E731
    assert rows
    # no resurrection + tombstoned vectors stop querying
    assert not any(is_dead(r["n_id"]) or is_dead(r["q_id"]) for r in rows)
    # freshness: delta adds retrievable alongside the deletes
    assert any(r["n_id"] % DELTA_MOD == DELTA_REM for r in rows)

    # quality: within 0.02 of the fully-retrained adaptive index
    # over the SAME live corpus
    e = _embeddings(spark)
    e_live = e.where(F.col("vec_id") % DELTA_MOD != DELETE_REM).cache()
    exact = top_map(brute_topk_from(e_live).collect())
    retrained = top_map(ivfadc_rerank_from(e_live).collect())
    ups = top_map(rows)

    def pooled(approx):
        hits = total = 0
        for q, truth in exact.items():
            hits += len(approx.get(q, set()) & truth)
            total += len(truth)
        return hits / total

    r_ups, r_retr = pooled(ups), pooled(retrained)
    assert r_ups >= r_retr - 0.02, (r_ups, r_retr)
    e_live.unpersist()

    # compaction: trigger thresholds + repack equality
    en, cents, cb, codes = ivfadc_index_trained_on(
        e, F.col("vec_id") % DELTA_MOD != DELTA_REM
    )
    tomb = ivfadc_tombstones(e)
    assert not ivfadc_should_compact(codes, tomb)  # 10% < 20%
    assert ivfadc_should_compact(codes, tomb, threshold=0.05)
    compacted = ivfadc_compact(codes, tomb)
    assert (
        compacted.where(F.col("n_id") % DELTA_MOD == DELETE_REM).count() == 0
    )
    e_live_en = ivfadc_live(en, tomb, "vec_id")
    wc = Window.partitionBy("q_id").orderBy(
        F.col("adc").desc(), F.col("n_id").asc()
    )
    ranked = ivfadc_scored_from_index(
        e_live_en, cents, cb, compacted
    ).withColumn("crk", F.row_number().over(wc))
    budget = ivfadc_collision_budget(compacted, RERANK_C_CAP, RERANK_MARGIN)
    cands = (
        ranked.crossJoin(F.broadcast(budget))
        .where(F.col("crk") <= F.col("c_budget"))
        .select("q_id", "n_id")
    )
    via_compact = exact_rerank_tail(
        e_live_en.select("vec_id", "embedding"), cands
    ).collect()
    assert {(r["q_id"], r["n_id"], r["rk"]) for r in via_compact} == {
        (r["q_id"], r["n_id"], r["rk"]) for r in rows
    }


def test_ann_recall_r10_margin_artifact_floors():
    """Round-10 certification (ANN_RECALL_r10.json): the REGISTERED
    adaptive rerank carries margin = RERANK_MARGIN = 6 — sized from
    the MEASURED near-tie band edges (5.08x max_cluster at 100k,
    ANN_TAIL_r9; 5.27-5.40x at 500k, ANN_TAIL_r10_500k; margin 5
    left 3/2000 queries dead at 500k) — and the ADC scorer is the
    packed-code + per-query-LUT form.  The artifact retains the
    margin-5 rows (the measurement that exposed the 500k band edge)
    alongside the margin-6 certification; rows are keyed by params,
    so both coexist.  Pins:

    * budget formula at every rung: c_budget == 6 * family + TOPK;
    * the dead-query tail closes at EVERY rung for the registered
      form (worst_query_recall 1.0 at 100k/500k/1M — r9 read 0.0
      everywhere, margin-5 read 0.0 at 500k/1M);
    * incremental (frozen-quantizer) recall EQUALS fully-retrained
      adaptive recall at every rung;
    * the r9 IVFADC scoring bottleneck is cut: 1M adaptive wall
      within 3.5x mrl_rerank (was 4.4x), at HIGHER recall than MRL;
    * the filtered quantized path holds >= 0.98 vs the same-label
      exact ground truth at the 100k clone rung (verdict #7)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "ANN_RECALL_r10.json"
    )
    rows = json.load(open(path))["measurements"]

    def get(corpus_n, path_name, rerank_c=None, margin=None):
        for r in rows:
            if (
                f"({corpus_n} vectors)" in r["corpus"]
                and r["path"] == path_name
                and (rerank_c is None or r["params"].get("rerank_c") == rerank_c)
                and (margin is None or r["params"].get("margin") == margin)
            ):
                return r
        raise AssertionError((corpus_n, path_name, rerank_c, margin))

    for n, family in ((100_000, 50), (500_000, 250), (1_000_000, 500)):
        ad = get(n, "ivfadc_rerank_adaptive", margin=6)
        assert ad["params"]["c_budget"] == 6 * family + TOPK, ad["params"]
        # the registered form's tail is CLOSED at every rung (r9
        # margin-1: worst 0.0 everywhere; margin-5: dead queries
        # remained at 500k/1M)
        assert ad["recall"] >= 0.999, (n, ad["recall"])
        assert ad["worst_query_recall"] == 1.0, (n, ad)
        # frozen-quantizer maintenance loses nothing vs retrained
        assert (
            get(n, "ivfadc_incremental_delta", margin=6)["recall"]
            == ad["recall"]
        ), n
    # packed-code LUT scoring: 1M adaptive within ~3.6x MRL (r9 was
    # 4.4x at margin 1; the two r10 passes measured 2.87x at margin
    # 5 / budget 2505 and 3.55x at margin 6 / budget 3005 — the
    # floor allows run-to-run drift on the MRL side, which moved
    # 53.0 -> 47.6 s between same-code passes)
    ad1m = get(1_000_000, "ivfadc_rerank_adaptive", margin=6)
    mrl1m = get(1_000_000, "mrl_rerank", 50)
    assert ad1m["sec"] <= 3.75 * mrl1m["sec"], (ad1m["sec"], mrl1m["sec"])
    assert ad1m["recall"] > mrl1m["recall"]
    # filtered quantized serving under the same adaptive budget —
    # 1.0/1.0 after the n_cells forwarding fix (the margin-5 row is
    # retained as the bug exposure, ANN_TAIL_r10_filtered.json)
    filt = get(100_000, "ivfadc_filtered_rerank_adaptive", margin=6)
    assert filt["recall"] == 1.0, filt["recall"]
    assert filt["worst_query_recall"] == 1.0, filt
    # the margin-5 exposure rows stay in the artifact: the 500k
    # band-edge measurement that sized the default
    m5 = get(500_000, "ivfadc_rerank_adaptive", margin=5)
    assert m5["worst_query_recall"] == 0.0 and m5["recall"] >= 0.995, m5


def test_ann_recall_1m_adaptive_artifact_floors():
    """Round-9 certification (ANN_RECALL_r9.json, float64 ground
    truth per the round-8 ADVICE): the ADAPTIVE serving form hits
    the recall floor at EVERY rung with NO hand-tuned cut — the
    round-8 verdict #1 done-criterion — and the 1M rung carries the
    per-stage latency breakdown (verdict #3).  Floors a few points
    under measured; all numbers deterministic."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "ANN_RECALL_r9.json")
    rows = json.load(open(path))["measurements"]

    def get(corpus_n, path_name, rerank_c=None):
        for r in rows:
            if (
                f"({corpus_n} vectors)" in r["corpus"]
                and r["path"] == path_name
                and (rerank_c is None or r["params"].get("rerank_c") == rerank_c)
            ):
                return r
        raise AssertionError((corpus_n, path_name, rerank_c))

    for n, family in ((100_000, 50), (500_000, 250), (1_000_000, 500)):
        ad = get(n, "ivfadc_rerank_adaptive")
        # the budget is derived, and lands exactly at cluster + k
        assert ad["params"]["c_budget"] == family + 5, ad["params"]
        assert ad["recall"] >= 0.95, (n, ad["recall"])
        # the fixed production-size cut collapses where families
        # exceed it — the failure the adaptive form exists to avoid
        if family > 50:
            assert get(n, "ivfadc_rerank", 50)["recall"] < 0.5
        # adaptive must match the hand-tuned family+k cut exactly
        # (same candidates, same exact rescore)
        assert ad["recall"] == get(n, "ivfadc_rerank", family + 5)["recall"]
        # stage breakdown recorded for both production shapes
        assert set(ad["stages"]) == {
            "coarse_adc_score",
            "candidate_cut",
            "exact_rerank",
        }
        mrl = get(n, "mrl_rerank", 50)
        assert mrl["recall"] >= 0.97, (n, mrl["recall"])
        assert "coarse_truncated_topc" in mrl["stages"]
    # float-scoring exact-candidate path holds 1.0 through 1M
    assert get(1_000_000, "ivf_topk")["recall"] == 1.0
    # raw ADC stays collapsed at 1M — never ship without rerank
    assert get(1_000_000, "ivfadc")["recall"] < 0.05
    # the incrementally-maintained index (quantizers frozen on the
    # base subset, ~18% of the rung encoded as delta) matches the
    # fully-retrained adaptive recall at 100k AND 500k
    for n in (100_000, 500_000):
        inc = get(n, "ivfadc_incremental_delta")
        assert inc["recall"] >= get(n, "ivfadc_rerank_adaptive")[
            "recall"
        ] - 0.02, (n, inc["recall"])


def test_binary_hamming_recall_floors(spark):
    """Round-10 binary-quantization serving (1-bit sign sketch +
    Hamming + exact rescore — the smallest index in the family at
    8 bytes/vector).  Two measured floors:

    * raw fixture (near-uniform): 0.30 — the scanned-fraction bound
      all locality indexes hit on this geometry (IVF reads 0.36
      with full-float scoring of every probed candidate; the binary
      cut keeps only c_budget of them);
    * 40-clone corpus: 1.0 pooled AND worst-query — perturbed
      clones quantize to IDENTICAL (or 1-2-bit-off) sign words,
      Hamming ranks the family first, and the collision-derived
      budget (margin * max_cluster + k) keeps every sibling for the
      exact stage.  The PQ exact-tie mechanism, not SQ8's unbounded
      sub-step error — which is why the adaptive budget transfers."""
    from db_mapreduce_project_spark.operators.retrieval import (
        binary_hamming_rerank_from,
    )
    from db_mapreduce_project_spark.operators.similarity import (
        RERANK_C_CAP,
        binary_collision_budget,
        binary_sign_codes,
        ivf_assign,
        ivf_centroids,
    )

    e = _embeddings(spark).cache()
    exact = top_map(brute_topk_from(e).collect())
    res = measure(binary_hamming_rerank_from(e), exact)
    assert res["recall"] >= 0.25, res

    ec = expand_perturbed(e, copies=40).cache()
    e.unpersist()
    # clone families collide to identical sign words: the budget is
    # the data-derived margin * 40 + TOPK (same rule as IVFADC)
    from db_mapreduce_project_spark.operators.similarity import (
        RERANK_MARGIN,
        TOPK as _TOPK,
    )

    en = ec.select("vec_id", "embedding", l2("embedding").alias("norm"))
    cents = ivf_centroids(en)
    bcodes = binary_sign_codes(ivf_assign(en, cents))
    b = binary_collision_budget(bcodes, RERANK_C_CAP).collect()
    # unlike PQ (coarse residual cells — ALL 40 clones collide), the
    # sign sketch can split a family when the perturbation flips a
    # near-zero coordinate's sign: the measured max cluster here is
    # 37 of 40.  The budget must still be exactly the rule applied
    # to the TRUE histogram max — recompute it independently.
    max_cluster = (
        bcodes.groupBy("cell", "b_lo", "b_hi")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    assert 30 <= max_cluster <= 40, max_cluster
    assert b[0]["c_budget"] == RERANK_MARGIN * max_cluster + _TOPK, (
        b,
        max_cluster,
    )
    exact_c = top_map(brute_topk_from(ec).collect())
    res_c = measure(binary_hamming_rerank_from(ec), exact_c)
    ec.unpersist()
    assert res_c["recall"] >= 0.99, res_c
    assert res_c["worst_query_recall"] >= 0.99, res_c


def test_binary_hamming_artifact_floors():
    """Corpus-scale certification of the binary path
    (ANN_RECALL_r10.json, scripts/ann_binary_scale.py): recall 1.0
    AND worst_query_recall 1.0 at 100k/500k/1M from 8 bytes/vector
    of sign state under the shared adaptive budget — on the clone
    geometry the sign sketch matches the full quantized pipeline at
    half its serving state."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "ANN_RECALL_r10.json"
    )
    rows = json.load(open(path))["measurements"]
    seen = 0
    for r in rows:
        if r["path"] != "binary_hamming_rerank":
            continue
        seen += 1
        assert r["params"]["margin"] == 6, r
        assert r["recall"] == 1.0, r
        assert r["worst_query_recall"] == 1.0, r
        n = int(r["corpus"].split("(")[1].split()[0])
        assert r["params"]["state"]["sign_bytes"] == n * 8, r
    assert seen == 3, seen


def test_filtered_rerank_forwards_n_cells(spark):
    """Regression pin for the round-10 diagnosis-found bug:
    ivfadc_filtered_rerank_from built its index with
    ivfadc_index(base) — IGNORING its n_cells argument — so any
    caller requesting a non-default cell count silently ran a
    16-cell index (the scale harness's cells=256 rung measured a
    different collision geometry; ANN_TAIL_r10_filtered.json).
    Pin parameter forwarding by twin construction: the pipeline at
    n_cells=4/probe=2 must equal the same stages composed by hand
    on a 4-cell index."""
    from db_mapreduce_project_spark.operators.retrieval import (
        exact_rerank_tail,
        ivfadc_filtered_rerank_from,
    )
    from db_mapreduce_project_spark.operators.similarity import (
        RERANK_C_CAP,
        RERANK_MARGIN,
        ivfadc_collision_budget,
        ivfadc_index,
        ivfadc_scored_from_index,
    )

    e_lab = _labeled(spark).cache()
    got = {
        (r["q_id"], r["n_id"], r["rk"])
        for r in ivfadc_filtered_rerank_from(
            e_lab, n_cells=4, n_probe=2
        ).collect()
    }
    base = e_lab.select("vec_id", "embedding")
    en, cents, cb, codes = ivfadc_index(base, 4)
    scored = ivfadc_scored_from_index(
        en, cents, cb, codes, 2, labels=e_lab.select("vec_id", "label")
    )
    wc = Window.partitionBy("q_id").orderBy(
        F.col("adc").desc(), F.col("n_id").asc()
    )
    budget = ivfadc_collision_budget(codes, RERANK_C_CAP, RERANK_MARGIN)
    cands = (
        scored.withColumn("crk", F.row_number().over(wc))
        .crossJoin(F.broadcast(budget))
        .where(F.col("crk") <= F.col("c_budget"))
        .select("q_id", "n_id")
    )
    want = {
        (r["q_id"], r["n_id"], r["rk"])
        for r in exact_rerank_tail(base, cands).collect()
    }
    e_lab.unpersist()
    assert got == want and len(got) > 0


def test_derive_n_cells_rule():
    """The data-derived IVF cell count (round-11 VERDICT #2): power
    of two nearest sqrt(n), clamped — the same derive-from-data
    discipline as the rerank budget."""
    from db_mapreduce_project_spark.operators.similarity import (
        derive_n_cells,
    )

    assert derive_n_cells(100_000) == 256
    assert derive_n_cells(500_000) == 512
    assert derive_n_cells(1_000_000) == 1024
    assert derive_n_cells(100) == 16  # floor
    assert derive_n_cells(10**9) == 4096  # cap
    assert derive_n_cells(2000) == 32  # fixture scale (forms keep 16)


def test_ann_recall_r11_scaled_cells_floors():
    """Round-11 re-certification under DATA-DERIVED cell counts
    (ANN_RECALL_r11.json): the round-10 ladder ran every rung at a
    flat 256 cells, so the margin-6 budget was only ever certified
    at one per-cell occupancy.  The r11 ladder derives cells via
    derive_n_cells (100k -> 256, 500k -> 512, 1M -> 1024) and the
    registered adaptive rerank AND the binary Hamming path hold
    recall 1.0 / worst_query_recall 1.0 at every scaled rung — the
    near-tie band edge is a per-cell occupancy property that
    margin 6 still clears when occupancy halves/quarters.

    Wall-clock note (measured, recorded in SCALE.md): scaled cells
    cost MORE local wall (500k adaptive 133 s at 512 cells vs 65 s
    at 256) because the deterministic broadcast-argmax assign is
    O(n*cells) and dominates at local[32]; the artifact keeps both
    geometries so the trade-off is data, not doctrine."""
    import json
    import os

    from db_mapreduce_project_spark.operators.similarity import (
        derive_n_cells,
    )

    path = os.path.join(
        os.path.dirname(__file__), "..", "ANN_RECALL_r11.json"
    )
    rows = json.load(open(path))["measurements"]

    def get(corpus_n, path_name):
        for r in rows:
            if (
                f"({corpus_n} vectors)" in r["corpus"]
                and r["path"] == path_name
                and r["params"].get("cells") == derive_n_cells(corpus_n)
            ):
                return r
        raise AssertionError((corpus_n, path_name))

    for n, family in ((100_000, 50), (500_000, 250), (1_000_000, 500)):
        ad = get(n, "ivfadc_rerank_adaptive")
        assert ad["params"]["margin"] == 6, ad["params"]
        assert ad["params"]["c_budget"] == 6 * family + TOPK, ad["params"]
        assert ad["recall"] == 1.0, (n, ad["recall"])
        assert ad["worst_query_recall"] == 1.0, (n, ad)
        bi = get(n, "binary_hamming_rerank")
        assert bi["recall"] == 1.0, (n, bi["recall"])
        assert bi["worst_query_recall"] == 1.0, (n, bi)


def test_ivf_assign_zero_norm_edges(spark):
    """ivf_assign's MEASURED zero-norm semantics (see its
    docstring): the max_by key is struct(ccos, -cell) — never NULL
    as a whole, NULL field sorting BELOW every value — so a
    zero-norm vector gets the LOWEST cell id (all-NULL tie resolved
    by -cell, zero-norm centroids included) and a zero-norm
    centroid loses to any non-NULL cosine, even a negative one."""
    from db_mapreduce_project_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        l2,
    )

    rows = [
        (0, [0.0] * 4),  # zero centroid (lowest vec_id)
        (1, [1.0, 0.0, 0.0, 0.0]),
        (10, [0.0] * 4),  # zero-norm corpus vector
        (11, [-1.0, 0.0, 0.0, 0.0]),  # negative cosine to cell 1
        (12, [0.5, 0.5, 0.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    e = e.select("vec_id", "embedding", l2("embedding").alias("norm"))
    cents = ivf_centroids(e, 2)  # cell 0 = the zero vector, cell 1 real
    cat = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(e, cents).select("vec_id", "cell").collect()
    }
    assert cat[10] == 0  # zero-norm vector -> lowest cell
    assert cat[11] == 1  # zero centroid loses to a NEGATIVE cosine
    assert cat[12] == 1

    # all-zero-norm centroid set: every row all-NULL -> lowest cell
    zc = spark.createDataFrame(
        [(7, [0.0] * 4), (9, [0.0] * 4)],
        "cell long, cv array<double>",
    ).withColumn("c_norm", l2("cv"))
    cat2 = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(e, zc).select("vec_id", "cell").collect()
    }
    assert set(cat2.values()) == {7}

    # empty centroid set: the inner join drops every row
    empty = zc.where("cell < 0")
    assert ivf_assign(e, empty).count() == 0


def test_fast_names_run_sibling_functions():
    """The `_fast` serving names stay registered for bench.py,
    rows-only, and run their oracled sibling's function object: one
    coarse assign serves both."""
    from db_mapreduce_project_spark import registry

    registry.load_all_queries()
    for sibling in (
        "ann_binary_hamming_rerank",
        "ann_ivfadc_rerank",
        "ann_mrl_rerank_adaptive",
    ):
        fast = sibling + "_fast"
        assert registry.QUERIES[fast] is registry.QUERIES[sibling], fast
        assert fast not in registry.ORACLES
        assert sibling in registry.ORACLES


def test_mrl_adaptive_budget_beats_fixed_cut_on_clone_families(spark):
    """Round-12 (VERDICT r11 #2): the MRL adaptive cut derives the
    candidate budget from the truncated sign-word collision
    histogram.  On the 40-clone corpus (measured, deterministic):

    * max (cell, trunc-sign-word) cluster = 46 — the 40-member
      clone families collapse onto single sign words (signs almost
      never flip at noise 0.02) PLUS cross-family collisions in the
      2^16 word space, so the budget 6 * 46 + 5 = 281 is
      data-derived with no hand tuning;
    * per-query hits(adaptive 281) >= hits(fixed 50) >= hits(fixed
      25) is the nested-cut dominance theorem (same tcos ranking,
      each cut a superset, exact rescoring keeps every truth member
      of the cut);
    * measured floors: fixed-25 pooled 0.996 but WORST 0.2 (the
      shipped failure mode: a query keeping only 1 of its true
      top-5), adaptive pooled 0.9995 / worst 0.8 — the residual
      single miss is coarse ROUTING at the fixture's 16-cell /
      3-probe geometry (the same residual ivfadc_rerank reads
      here), not the budget; the serving-geometry certification
      (derived cells, probe 8) lives in ANN_RECALL_r12.json."""
    from db_mapreduce_project_spark.functions.vectors import l2
    from db_mapreduce_project_spark.operators.retrieval import (
        MRL_DIM,
        mrl_collision_budget,
        mrl_rerank_from,
    )
    from db_mapreduce_project_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )
    from pyspark.sql import functions as F

    e = expand_perturbed(_embeddings(spark), copies=40).cache()
    trunc = e.select(
        "vec_id", F.slice("embedding", 1, MRL_DIM).alias("embedding")
    ).select("vec_id", "embedding", l2("embedding").alias("norm"))
    assigned = ivf_assign(trunc, ivf_centroids(trunc, 16))
    bud = mrl_collision_budget(assigned).collect()[0]["c_budget"]
    assert bud >= 6 * 40 + TOPK, bud  # families collapse to one word
    assert bud == 281, bud  # measured: 6 * 46 + 5, deterministic

    exact = top_map(brute_topk_from(e).collect())
    fixed25 = top_map(mrl_rerank_from(e, 25).collect())
    fixed50 = top_map(mrl_rerank_from(e, 50).collect())
    adaptive = top_map(mrl_rerank_from(e, None).collect())
    e.unpersist()
    f25 = f50 = ad = total = 0
    worst_f25 = worst_ad = 1.0
    for q, truth in exact.items():
        h25 = len(fixed25.get(q, set()) & truth)
        h50 = len(fixed50.get(q, set()) & truth)
        ha = len(adaptive.get(q, set()) & truth)
        assert ha >= h50 >= h25, (q, h25, h50, ha)  # nested-cut theorem
        f25 += h25
        f50 += h50
        ad += ha
        total += len(truth)
        worst_f25 = min(worst_f25, h25 / len(truth))
        worst_ad = min(worst_ad, ha / len(truth))
    assert worst_f25 <= 0.2, worst_f25  # the fixed cut's dead tail
    assert ad / total >= 0.999, ad / total
    assert worst_ad >= 0.8, worst_ad  # routing-bounded at 16c/3p


def test_trained_quantizer_recall_and_occupancy(spark):
    """Round-12 (VERDICT r11 #1): Lloyd-trained coarse centroids
    (spherical k-means++ on a bounded deterministic sample) drive
    the binary serving path at full recall on the clone corpus,
    with balanced cells — the configuration every 1M-rung
    certification now also runs
    (ANN_RECALL_r12.json trained rows).  Measured here (80k
    vectors, 64 cells, probe 8): recall 1.0 / worst 1.0, all 64
    cells live, max/mean occupancy 1.79 (pinned loosely)."""
    from db_mapreduce_project_spark.functions.vectors import l2
    from db_mapreduce_project_spark.operators.retrieval import (
        exact_rerank_tail,
    )
    from db_mapreduce_project_spark.operators.similarity import (
        RERANK_MARGIN,
        binary_hamming_cands_from,
        ivf_assign,
        train_ivf_centroids,
    )
    from pyspark.sql import functions as F
    from scripts.ann_recall import measure

    e = expand_perturbed(_embeddings(spark), copies=40).cache()
    cents = train_ivf_centroids(e, 64)
    # deterministic: same sample (hash-thinned, vec_id-ordered),
    # same seeded k-means++ — two builds agree exactly
    again = train_ivf_centroids(e, 64)
    assert sorted(map(tuple, cents.collect())) == sorted(
        map(tuple, again.collect())
    )
    en = e.select("vec_id", "embedding", l2("embedding").alias("norm"))
    occ = (
        ivf_assign(en, cents)
        .groupBy("cell")
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.avg("count").alias("mean"),
            F.count("*").alias("used"),
        )
        .collect()[0]
    )
    assert occ["used"] == 64, occ  # no dead cells
    assert occ["mx"] / occ["mean"] <= 3.0, occ  # balanced (measured 1.79)
    exact = top_map(brute_topk_from(e).collect())
    got = measure(
        exact_rerank_tail(
            e,
            binary_hamming_cands_from(
                e,
                n_cells=64,
                n_probe=8,
                margin=RERANK_MARGIN,
                cents=cents,
            ),
        ),
        exact,
    )
    e.unpersist()
    assert got["recall"] == 1.0, got
    assert got["worst_query_recall"] == 1.0, got


def test_ann_recall_r12_trained_and_mrl_adaptive_floors():
    """Round-12 ladder (ANN_RECALL_r12.json): the trained coarse
    quantizer (k-means++ sample training, measured with a BLAS
    assign since removed — VERDICT r11 #1) and the MRL adaptive cut (VERDICT r11 #2) both read
    recall 1.0 / worst_query_recall 1.0 at every rung under
    data-derived sqrt(n) cells, with the trained index's per-cell
    occupancy balanced (zero empty cells, max/mean <= 3) — closing
    the last two gaps between the certified fixture geometry and a
    real deployment: every 1M certification now exists under a
    TRAINED quantizer, and no serving form in the decision table
    can return zero relevant results for an unlucky query."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "ANN_RECALL_r12.json"
    )
    rows = json.load(open(path))["measurements"]
    paths = (
        "mrl_rerank_adaptive",
        "binary_hamming_rerank_trained",
        "ivfadc_rerank_adaptive_trained",
    )
    for n, cells in ((100_000, 256), (500_000, 512), (1_000_000, 1024)):
        for p in paths:
            got = [
                r
                for r in rows
                if r["path"] == p and f"({n} vectors)" in r["corpus"]
            ]
            assert len(got) == 1, (n, p, got)
            r = got[0]
            assert r["params"]["cells"] == cells, (n, p, r["params"])
            assert r["recall"] == 1.0, (n, p, r["recall"])
            assert r["worst_query_recall"] == 1.0, (n, p, r)
            occ = r["params"].get("occupancy")
            if occ is not None:
                assert occ["cells_empty"] == 0, (n, p, occ)
                assert occ["max_cell"] / occ["mean_cell"] <= 3.0, occ
    # the 100k MRL budget is data-derived: 6 * 75 + 5 (families
    # collapse onto truncated sign words; 75 = measured max cluster)
    m100 = [
        r
        for r in rows
        if r["path"] == "mrl_rerank_adaptive"
        and "(100000 vectors)" in r["corpus"]
    ][0]
    assert m100["params"]["c_budget"] == 455, m100["params"]


def test_trained_registered_form_fixture_floor(spark):
    """The registered ann_binary_hamming_rerank_trained (rows-only)
    on the near-uniform sf0.01 fixture: recall is scanned-fraction
    bounded like every fixture-scale path, and the TRAINED
    centroids read BETTER pooled recall than the lowest-vec_id
    quantizer (measured 0.50 vs 0.30 — balanced cells put more of
    each query's probe mass on relevant neighborhoods).  Floors at
    measured-minus-slack; the clone-geometry certification is the
    ladder's (ANN_RECALL_r12.json, 1.0/1.0 at every rung)."""
    from db_mapreduce_project_spark import registry

    registry.load_all_queries()
    e = _embeddings(spark)
    exact = top_map(brute_topk_from(e).collect())
    got = measure(
        registry.QUERIES["ann_binary_hamming_rerank_trained"](spark, SF),
        exact,
    )
    base = measure(
        registry.QUERIES["ann_binary_hamming_rerank"](spark, SF), exact
    )
    assert got["recall"] >= 0.45, got
    assert got["recall"] >= base["recall"], (got, base)


def test_ann_skew_probe_artifact_floors():
    """Round-12 skew certification (ANN_SKEW_r12.json): on the
    hot-direction rung (150k of 200k vectors around one direction)
    the trained quantizer bounds the hot cell at <= 0.25x the
    untrained max (measured 7,088 vs 37,812) and serves >= 2x
    faster at IDENTICAL recall — occupancy/cost is quantizer-bound,
    recall on a quasi-duplicate cloud is budget-cap-bound (the
    regime dedup-before-indexing exists for)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "ANN_SKEW_r12.json"
    )
    d = json.load(open(path))
    un = d["configs"]["untrained_lowest_vec_id"]
    tr = d["configs"]["trained_kmeans"]
    assert tr["occupancy"]["max_cell"] <= 0.25 * un["occupancy"]["max_cell"]
    assert tr["occupancy"]["cells_empty"] == 0
    assert tr["sec"] <= 0.5 * un["sec"], (tr["sec"], un["sec"])
    # recall equal under both quantizers (budget regime, not routing)
    assert abs(tr["recall"] - un["recall"]) <= 0.005, (tr, un)
    assert tr["recall"] >= 0.94


def test_train_ivf_centroids_degenerate_corpus_raises(spark):
    """Round-12 ADVICE: an empty relation (or one whose every
    vector is zero-norm) used to crash k-means++ seeding with an
    opaque numpy ``rng.integers(0)`` ValueError; the guard now
    raises a descriptive error before seeding."""
    from db_mapreduce_project_spark.operators.similarity import (
        train_ivf_centroids,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no non-zero-norm vectors"):
        train_ivf_centroids(empty, 4)
    zeros = spark.createDataFrame(
        [(i, [0.0, 0.0, 0.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="no non-zero-norm vectors"):
        train_ivf_centroids(zeros, 4)


def test_train_ivf_centroids_antipodal_cell_no_nan(spark):
    """Round-12 ADVICE: a cell whose member vectors sum to
    (near-)zero — here an exactly antipodal pair forced into the
    single cell of a k=1 train — used to normalize a zero sum into
    a NaN centroid that then poisoned every later argmax.  The
    near-zero-sum cell is now re-seeded like an empty one, so the
    result is always finite unit centroids."""
    import math

    from db_mapreduce_project_spark.operators.similarity import (
        train_ivf_centroids,
    )

    rows = []
    for i in range(8):
        s = 1.0 if i % 2 == 0 else -1.0
        rows.append((i, [s * 1.0, s * 0.0, s * 0.0]))
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = train_ivf_centroids(e, 1).collect()
    assert len(cents) == 1
    cv = cents[0]["cv"]
    assert all(math.isfinite(v) for v in cv), cv
    assert abs(sum(v * v for v in cv) - 1.0) < 1e-9, cv


def test_train_ivf_centroids_ceil_stride_sample(spark):
    """Round-12 ADVICE: stride is now ceil(n / sample_cap), so the
    hash thinning itself lands at-or-under the cap and the
    orderBy(vec_id).limit(cap) safety cut no longer truncates the
    survivors to an id-prefix-biased half.  Behavioral pin: with
    n just over the cap the train still succeeds, is deterministic,
    and yields k finite unit centroids."""
    import math
    import random

    from db_mapreduce_project_spark.operators.similarity import (
        train_ivf_centroids,
    )

    rnd = random.Random(13)
    rows = [
        (i, [rnd.gauss(0, 1) for _ in range(4)]) for i in range(130)
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = train_ivf_centroids(e, 8, sample_cap=100).collect()
    again = train_ivf_centroids(e, 8, sample_cap=100).collect()
    assert sorted(map(tuple, cents)) == sorted(map(tuple, again))
    assert len(cents) == 8
    for r in cents:
        assert all(math.isfinite(v) for v in r["cv"])


def test_collision_budget_capped_flag(spark):
    """Round-13 (VERDICT r12 #1, observability leg): every
    collision-budget relation now carries a second column,
    `budget_capped` — True iff the data-derived demand
    (margin * max_cluster + TOPK) exceeded the cap, i.e. the corpus
    holds an indistinguishable pileup bigger than the exact stage
    may rescore (the ANN_SKEW_r12 worst-0.0 regime).  Pin: on the
    40-clone fixture the demand (6*40+5 = 245) is far below
    RERANK_C_CAP so the flag reads False for all three budget
    forms, and forcing a tiny cap flips it True with c_budget
    clamped to the cap."""
    from db_mapreduce_project_spark.operators.retrieval import (
        MRL_DIM,
        mrl_collision_budget,
    )
    from db_mapreduce_project_spark.operators.similarity import (
        RERANK_C_CAP,
        binary_collision_budget,
        binary_sign_codes,
        ivf_assign,
        ivf_centroids,
        ivfadc_collision_budget,
        ivfadc_index,
    )

    e = expand_perturbed(_embeddings(spark), copies=40).cache()
    _, _, _, codes = ivfadc_index(e)
    row = ivfadc_collision_budget(codes, RERANK_C_CAP, 6).collect()[0]
    assert row["c_budget"] == 6 * 40 + TOPK and not row["budget_capped"]
    tiny = ivfadc_collision_budget(codes, 64, 6).collect()[0]
    assert tiny["c_budget"] == 64 and tiny["budget_capped"], tiny

    en = e.select("vec_id", "embedding", l2("embedding").alias("norm"))
    cents = ivf_centroids(en)
    assigned = ivf_assign(en, cents)
    brow = binary_collision_budget(
        binary_sign_codes(assigned), RERANK_C_CAP
    ).collect()[0]
    assert not brow["budget_capped"] and brow["c_budget"] < RERANK_C_CAP
    btiny = binary_collision_budget(
        binary_sign_codes(assigned), 32
    ).collect()[0]
    assert btiny["c_budget"] == 32 and btiny["budget_capped"], btiny

    trunc = assigned.select(
        "vec_id",
        F.slice("embedding", 1, MRL_DIM).alias("embedding"),
        "cell",
    )
    mrow = mrl_collision_budget(trunc, RERANK_C_CAP).collect()[0]
    assert not mrow["budget_capped"], mrow
    mtiny = mrl_collision_budget(trunc, 32).collect()[0]
    assert mtiny["c_budget"] == 32 and mtiny["budget_capped"], mtiny
    e.unpersist()


def test_trained_twins_registered_fixture_floors(spark):
    """Round-13 (VERDICT r12 #5): the other two decision-table rows
    now ship their TRAINED serving configurations as registered
    queries.  Contract mirror of
    test_trained_registered_form_fixture_floor: deterministic
    build (two runs row-identical), fixture recall at or above the
    untrained registered sibling minus slack (trained centroids
    re-route probe mass; on the near-uniform fixture the forms are
    scanned-fraction bounded, and measured trained recall is
    within a few points of the sibling either way), stable schema.
    Corpus-scale recall (1.0 / worst 1.0) is the ladder's
    certification (ANN_RECALL_r12.json trained rows)."""
    from db_mapreduce_project_spark import registry

    registry.load_all_queries()
    e = _embeddings(spark)
    exact = top_map(brute_topk_from(e).collect())
    for trained, sibling, slack in (
        ("ann_ivfadc_rerank_trained", "ann_ivfadc_rerank", 0.10),
        ("ann_mrl_rerank_adaptive_trained", "ann_mrl_rerank_adaptive", 0.10),
    ):
        df = registry.QUERIES[trained](spark, SF)
        assert [f.name for f in df.schema.fields] == [
            "q_id",
            "n_id",
            "cos",
            "rk",
        ]
        rows = sorted(map(tuple, df.collect()))
        again = sorted(
            map(tuple, registry.QUERIES[trained](spark, SF).collect())
        )
        assert rows == again, trained  # deterministic build
        got = measure(registry.QUERIES[trained](spark, SF), exact)
        sib = measure(registry.QUERIES[sibling](spark, SF), exact)
        assert got["recall"] >= sib["recall"] - slack, (
            trained,
            got,
            sib,
        )
        assert got["recall"] >= 0.20, (trained, got)


def test_ann_dedup_skew_probe_artifact_floors():
    """Round-13 (VERDICT r12 #1): the composed
    dedup-before-indexing experiment (ANN_DEDUP_SKEW_r13.json,
    scripts/ann_dedup_skew_probe.py) closes the ANN_SKEW_r12
    budget-cap recall hole WITH DATA:

    * raw leg — trained index over the 150k quasi-duplicate cloud:
      budget_capped=True (the new observability flag fires), hot
      worst_query_recall 0.0 — the r12 failure reproduced;
    * dedup leg — signword_dedup_survivors -> retrain -> rebuild
      -> serve: the cloud collapses ~14x (186k suppressed in
      ~9 s), budget_capped=False, max collision cluster 1, and the
      HOT population (the one the pileup broke) reads recall 1.0 /
      worst 1.0.  The residual cold tail (worst 0.2 over 79
      queries) is the ordinary IVF scan-fraction regime on a
      near-uniform 14k corpus — diagnosed per-slot: 22/28 missing
      neighbors sat in un-probed cells and the rest at Hamming
      23-27, i.e. far-neighbor routing, NOT a pileup;
    * exact-route leg — the decision-table fallback the
      budget_capped flag routes to: exact scan over the collapsed
      corpus, recall 1.0 / worst 1.0 everywhere at ~2 s.
    """
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "ANN_DEDUP_SKEW_r13.json"
    )
    art = json.load(open(path))
    raw = art["configs"]["raw_trained"]
    assert raw["budget_capped"] is True, raw
    assert raw["worst_hot"] == 0.0, raw  # the documented failure
    assert raw["recall_all"] >= 0.94, raw

    ded = art["dedup"]
    assert ded["survivors"] <= raw["n_vectors"] * 0.10, ded
    # near-equality, not equality: the skew-rung id convention
    # (inherited from ann_skew_probe/ann_recall_scale) lets a few
    # cold copy-10 ids land in the hot 1e9+ band, so a handful of
    # vec_ids appear twice and the anti-join removes both rows of
    # such an id when one is suppressed (measured drift: 8 rows of
    # 199,975)
    assert abs(
        ded["suppressed"] + ded["survivors"] - raw["n_vectors"]
    ) <= 32, ded

    post = art["configs"]["dedup_trained"]
    assert post["budget_capped"] is False, post
    assert post["max_collision_cluster"] == 1, post
    assert post["worst_hot"] == 1.0, post  # the close
    assert post["recall_hot"] == 1.0, post
    assert post["recall_all"] >= 0.90, post

    route = art["configs"]["dedup_exact_route"]
    assert route["recall_all"] == 1.0 and route["worst_all"] == 1.0, route
    assert route["sec"] <= 60, route  # bounded fallback cost
