"""Sketch-based dedup and ANN sanity: LSH candidates are a subset
of (and close to) the exact answers, and signatures are
deterministic across runs."""

from db_mapreduce_project_spark import registry

SF = "/root/testdata/sf0.01"


def _pairs(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_minhash_lsh_recall_vs_exact(spark):
    exact_rows = registry.QUERIES["dedup_ngram_jaccard"](spark, SF).collect()
    exact = {(r["doc_a"], r["doc_b"]) for r in exact_rows}
    lsh_rows = registry.QUERIES["dedup_minhash_lsh"](spark, SF).collect()
    lsh = {(r["doc_a"], r["doc_b"]) for r in lsh_rows}
    # LSH verifies candidates with exact jaccard -> no false positives
    assert lsh <= exact
    # ... and its array-set verify scores each pair with the exact
    # form's value, bit for bit
    exact_j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in exact_rows}
    assert lsh_rows
    for r in lsh_rows:
        assert r["jaccard"] == exact_j[(r["doc_a"], r["doc_b"])], r
    # banded MinHash at (32 hashes, 8 bands) should surface most
    # true pairs at this threshold
    if exact:
        assert len(lsh) / len(exact) >= 0.5
    # high-similarity pairs must essentially never miss: at j >= 0.95
    # the per-band collision prob is ~0.815, so missing all 8 bands is
    # ~1.5e-6 per pair.  This is the property the missing mod-wrap in
    # the double-hash family silently broke (correlated permutations
    # let j ~ 0.97 pairs miss every band).
    hi = {(r["doc_a"], r["doc_b"]) for r in exact_rows if r["jaccard"] >= 0.95}
    assert hi, "fixture should contain near-identical pairs"
    assert hi <= lsh, f"high-jaccard pairs missed by LSH: {sorted(hi - lsh)[:5]}"


def test_simhash_deterministic(spark):
    a = registry.QUERIES["dedup_simhash"](spark, SF).collect()
    b = registry.QUERIES["dedup_simhash"](spark, SF).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert all(r["simhash"] >= 0 for r in a)  # 63-bit non-negative


def test_ann_lsh_subset_of_bruteforce_space(spark):
    brute = registry.QUERIES["ann_cosine_topk_bruteforce"](spark, SF).collect()
    lsh = registry.QUERIES["ann_lsh_bucketed"](spark, SF).collect()
    assert lsh, "LSH buckets produced no candidates"
    brute_best = {}
    for r in brute:
        brute_best.setdefault(r["q_id"], r["cos"])  # rk=1 first
    # an approximate neighbor can never beat the exact top-1
    for r in lsh:
        if r["rk"] == 1 and r["q_id"] in brute_best:
            assert r["cos"] <= brute_best[r["q_id"]] + 1e-12


def test_exact_dedup_unique_corpus(spark):
    out = registry.QUERIES["dedup_exact"](spark, SF).collect()
    # fixture corpus has no exact duplicates: every doc is a keeper
    assert all(r["n_copies"] == 1 for r in out)


def test_ann_ivf_recall_vs_bruteforce(spark):
    brute = registry.QUERIES["ann_cosine_topk_bruteforce"](spark, SF).collect()
    ivf = registry.QUERIES["ann_ivf_topk"](spark, SF).collect()
    assert ivf, "IVF probe produced no candidates"
    brute_top = {}
    for r in brute:
        brute_top.setdefault(r["q_id"], set()).add(r["n_id"])
    ivf_top = {}
    for r in ivf:
        ivf_top.setdefault(r["q_id"], set()).add(r["n_id"])
    # every query must get results; the floor is measured-minus-
    # epsilon from ANN_RECALL_r7.json (0.36 at sf0.01 — the fixture
    # is near-uniform, so 3/16 probed cells bounds recall near the
    # ~19% scanned fraction; see tests/test_ann_recall.py for the
    # full certification)
    assert set(ivf_top) == set(brute_top)
    hits = sum(len(ivf_top[q] & brute_top[q]) for q in brute_top)
    total = sum(len(v) for v in brute_top.values())
    assert hits / total >= 0.32, f"IVF recall too low: {hits}/{total}"


def test_ann_matmul_matches_exact_topk(spark):
    exact = registry.QUERIES["ann_cosine_topk_bruteforce"](spark, SF).collect()
    mat = registry.QUERIES["ann_cosine_topk_matmul"](spark, SF).collect()
    exact_top = {}
    for r in exact:
        exact_top.setdefault(r["q_id"], set()).add(r["n_id"])
    mat_top = {}
    for r in mat:
        mat_top.setdefault(r["q_id"], set()).add(r["n_id"])
    assert set(mat_top) == set(exact_top)
    # numpy float order can differ in the last ulp; ranks should
    # still agree nearly everywhere
    hits = sum(len(mat_top[q] & exact_top[q]) for q in exact_top)
    total = sum(len(v) for v in exact_top.values())
    assert hits / total >= 0.95, f"matmul recall {hits}/{total}"


def test_embedding_lsh_pairs_subset_of_bruteforce(spark):
    # bucketed pairs are cosine-verified, so they can never contain a
    # false positive; recall depends on plane count (near-identical
    # vectors almost always share the sign sketch).  The brute force
    # covers a deterministic 25% vector subsample, so the comparison
    # restricts the LSH pairs to that same subset.
    from db_mapreduce_project_spark.operators.dedup import (
        BRUTE_SUBSET_PERMILLE,
    )

    def kept(vid: int) -> bool:
        return ((vid % 1_000_000_000) * 2654435761 + 7) % 1000 < (
            BRUTE_SUBSET_PERMILLE
        )

    brute = {
        (r["id_a"], r["id_b"])
        for r in registry.QUERIES["dedup_embedding_cosine_bruteforce"](
            spark, SF
        ).collect()
    }
    assert all(kept(a) and kept(b) for a, b in brute)
    lsh = {
        (r["id_a"], r["id_b"])
        for r in registry.QUERIES["dedup_embedding_lsh"](spark, SF).collect()
        if kept(r["id_a"]) and kept(r["id_b"])
    }
    assert lsh <= brute
    if brute:
        assert len(lsh) / len(brute) >= 0.5, (len(lsh), len(brute))


def test_ann_sq8_adc_fidelity_vs_exact_ip(spark):
    """The int8-quantized ADC scan must track the full-precision
    inner-product ranking over the SAME candidate set (the LSH
    bucket): top-1 agreement for the large majority of queries, and
    every ADC score within a small relative error of the exact IP
    of the same pair (scalar quantization error is bounded by
    0.5/255 of the per-dim range)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from db_mapreduce_project_spark.io import load_table
    from db_mapreduce_project_spark.operators.similarity import (
        QUERY_MOD,
        TOPK,
        _bucket_expr,
    )
    from db_mapreduce_project_spark.functions.vectors import dot

    adc = registry.QUERIES["ann_sq8_adc"](spark, SF).collect()
    assert adc, "SQ8-ADC produced no candidates"

    e = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding", _bucket_expr("embedding").alias("bucket")
    )
    q = e.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), "bucket"
    )
    c = e.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"), "bucket"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("ip").desc(), F.col("n_id"))
    exact = (
        q.join(c, "bucket")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("ip", dot("qv", "nv"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK)
        .collect()
    )
    exact_ip = {(r["q_id"], r["n_id"]): r["ip"] for r in exact}
    exact_top1 = {r["q_id"]: r["n_id"] for r in exact if r["rk"] == 1}
    adc_top1 = {r["q_id"]: r["n_id"] for r in adc if r["rk"] == 1}
    assert set(adc_top1) == set(exact_top1)
    agree = sum(
        1 for qid, nid in adc_top1.items() if exact_top1[qid] == nid
    )
    assert agree / len(adc_top1) >= 0.7, (agree, len(adc_top1))

    # per-pair fidelity where the pair is in both top-k sets
    for r in adc:
        ip = exact_ip.get((r["q_id"], r["n_id"]))
        if ip is not None and abs(ip) > 1e-6:
            assert abs(r["adc"] - ip) / abs(ip) < 0.15, (r, ip)


def test_cc_star_contraction_logarithmic_rounds(spark):
    """The CC core (large-star/small-star contraction) must converge
    in a number of rounds logarithmic in the diameter, not linear: a
    64-vertex CHAIN has diameter 63, where plain min-label
    propagation needs ~64 rounds; star contraction must finish
    within 9 and still assign every vertex the component minimum."""
    from db_mapreduce_project_spark.operators.dedup import (
        CC_ROUNDS_TAKEN,
        _labels_from_star_edges,
        _star_edges_converged,
    )

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    star, fp = _star_edges_converged(pairs)
    rows = _labels_from_star_edges(docs, star, fp[0]).collect()
    assert len(rows) == n and all(r["label"] == 0 for r in rows)
    # every non-minimum vertex hangs off the minimum; this edge count
    # drives the broadcast guard
    assert fp[0] == n - 1
    assert CC_ROUNDS_TAKEN["star_rounds"] is not None
    assert CC_ROUNDS_TAKEN["star_rounds"] <= 9, CC_ROUNDS_TAKEN


def test_incremental_delta_consistent_with_full_lsh(spark):
    """Directional invariants of the incremental pipeline, and
    cross-consistency: a confirmed delta-vs-base duplicate must also
    be found (same jaccard) by the full-corpus MinHash+LSH run —
    the incremental path may only ever MISS pairs (delta x delta,
    base x base are out of scope by design), never invent them."""
    from db_mapreduce_project_spark.operators.dedup import _is_delta

    import pyspark.sql.functions as F

    inc = registry.QUERIES["dedup_incremental_delta"](spark, SF)
    flags = inc.select(
        _is_delta(F.col("delta_id")).alias("d_ok"),
        (~_is_delta(F.col("base_id"))).alias("b_ok"),
    ).collect()
    assert flags, "fixture produced no delta-vs-base duplicates"
    assert all(r.d_ok and r.b_ok for r in flags)

    full = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)): r.jaccard
        for r in registry.QUERIES["dedup_minhash_lsh"](spark, SF).collect()
    }
    for r in inc.collect():
        key = (min(r.delta_id, r.base_id), max(r.delta_id, r.base_id))
        assert key in full, key
        assert abs(full[key] - r.jaccard) < 1e-12, key


def test_apply_keepers_consistent_with_clusters(spark):
    """The apply ledger must reconcile exactly with the dup-group
    summary AND the corpus: every dup group's keeper suppresses
    cluster_size - 1 docs, every other doc is its own keeper with 0
    suppressed, and keepers + suppressed partition the corpus."""
    from db_mapreduce_project_spark.io import load_table

    clusters = {
        r["cluster_id"]: r["cluster_size"]
        for r in registry.QUERIES["dedup_clusters"](spark, SF).collect()
    }
    keepers = {
        r["keeper_doc_id"]: r["n_suppressed"]
        for r in registry.QUERIES["dedup_apply_keepers"](spark, SF).collect()
    }
    n_docs = load_table(spark, SF, "documents").count()
    for cid, size in clusters.items():
        assert keepers[cid] == size - 1
    assert all(
        n == 0 for k, n in keepers.items() if k not in clusters
    )
    assert len(keepers) + sum(keepers.values()) == n_docs
    assert clusters  # non-vacuous: real dup groups exist


def test_materialized_corpus_matches_keeper_ledger(spark):
    """The end-to-end apply deliverable: the surviving corpus's doc
    ids are EXACTLY the keeper ledger's ids (round-7 verdict #4 —
    'the pipeline wrote the deduped corpus' is the user artifact,
    not just the ledger)."""
    keepers = {
        r["keeper_doc_id"]
        for r in registry.QUERIES["dedup_apply_keepers"](spark, SF).collect()
    }
    from db_mapreduce_project_spark.io import load_table

    corpus = registry.QUERIES["dedup_materialize_corpus"](spark, SF).collect()
    assert {r["doc_id"] for r in corpus} == keepers
    n_docs = load_table(spark, SF, "documents").count()
    assert len(corpus) == len(keepers) < n_docs  # something was removed
    # fingerprints are real content hashes: non-degenerate and
    # distinct across the fixture's unique surviving docs
    fps = {(r["fp1"], r["fp2"]) for r in corpus}
    assert len(fps) == len(corpus)


def test_containment_supersets_jaccard_pairs(spark):
    """Containment >= 0.5 is strictly weaker than Jaccard >= 0.05
    only when sets differ wildly in size; every high-Jaccard pair
    with a genuinely contained side must also appear (same candidate
    machinery), and containment >= jaccard holds pairwise."""
    jac = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])): r["jaccard"]
        for r in registry.QUERIES["dedup_ngram_jaccard"](spark, SF).collect()
    }
    con = {
        (min(r["contained_id"], r["container_id"]),
         max(r["contained_id"], r["container_id"])): r["containment"]
        for r in registry.QUERIES["dedup_containment"](spark, SF).collect()
    }
    for pair, c in con.items():
        assert 0.5 <= c <= 1.0
        if pair in jac:
            # |AnB|/min >= |AnB|/|AuB| always
            assert c >= jac[pair] - 1e-12


def test_containment_lsh_matches_exact(spark):
    """The banded containment path (MinHash band candidates + exact
    verify) must reproduce the exact inverted-index form row-for-row
    on the fixtures: every containment pair here has Jaccard >= 0.88,
    far above the band index's reliable-recall floor.  No false
    positives are possible by construction (same exact verify), so
    equality == full recall on this corpus."""
    exact = {
        (r["contained_id"], r["container_id"], r["n_common"], r["containment"])
        for r in registry.QUERIES["dedup_containment"](spark, SF).collect()
    }
    banded = {
        (r["contained_id"], r["container_id"], r["n_common"], r["containment"])
        for r in registry.QUERIES["dedup_containment_lsh"](spark, SF).collect()
    }
    assert banded == exact
    assert banded  # non-vacuous: the fixture has containment pairs


def test_semantic_dedup_pairs_within_clusters(spark):
    """SemDeDup pairs must share a k-means cluster, clear the
    epsilon bar, and agree with an independently computed cosine."""
    from db_mapreduce_project_spark.operators.clustering import (
        SEMDEDUP_COS,
        kmeans_assignments,
    )

    pairs = registry.QUERIES["dedup_semantic_clusters"](spark, SF).collect()
    assert pairs, "fixture epsilon should surface pairs"
    cid = {
        r["vec_id"]: r["cid"]
        for r in kmeans_assignments(spark, SF).collect()
    }
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert cid[r["id_a"]] == cid[r["id_b"]] == r["cid"]
        assert r["cos"] >= SEMDEDUP_COS


def test_containment_bottomk_matches_exact(spark):
    """The bottom-K probe path must reproduce the exact form
    row-for-row on the fixtures (same verify, probe recall ~99.6%
    at the threshold; deterministic given the fixed hash order)."""
    exact = {
        (r["contained_id"], r["container_id"], r["n_common"], r["containment"])
        for r in registry.QUERIES["dedup_containment"](spark, SF).collect()
    }
    probed = {
        (r["contained_id"], r["container_id"], r["n_common"], r["containment"])
        for r in registry.QUERIES["dedup_containment_bottomk"](spark, SF).collect()
    }
    assert probed == exact
    assert probed


def test_containment_bottomk_survives_size_asymmetry(spark):
    """The recall case MinHash bands are blind to: a tiny document
    fully quoted inside a huge one (containment 1.0, Jaccard ~0.01).
    The bottom-K probes of the contained side land in the
    intersection with certainty at c=1.0, so the probe path must
    find every planted pair; the banded path, keyed on Jaccard,
    misses them all at these parameters — which is exactly the
    documented reason both schemes exist.  The exact inverted-index
    form is the ground truth for both."""
    from db_mapreduce_project_spark.operators.dedup import (
        containment_pairs_bottomk_from,
        containment_pairs_from,
        containment_pairs_lsh_from,
    )

    rows = []
    for i in range(5):
        small = " ".join(f"quote{i}w{j}" for j in range(10))
        filler = " ".join(f"body{i}w{j}" for j in range(500))
        rows.append((i, small))
        rows.append((100 + i, filler + " " + small))
    d = spark.createDataFrame(rows, "doc_id bigint, text string")

    planted = {(i, 100 + i) for i in range(5)}

    exact = {
        (r["contained_id"], r["container_id"])
        for r in containment_pairs_from(d).collect()
    }
    probed = {
        (r["contained_id"], r["container_id"])
        for r in containment_pairs_bottomk_from(d).collect()
    }
    banded = {
        (r["contained_id"], r["container_id"])
        for r in containment_pairs_lsh_from(d).collect()
    }
    assert planted <= exact
    assert probed == exact  # bottom-K: full recall here, no false positives
    assert not (planted & banded)  # Jaccard-banded: blind to all of them


def test_df_cap_dissolves_planted_hot_band(spark):
    """The band-index self-join's skew defense, asserted: a long
    boilerplate phrase shared by MORE than SHINGLE_DF_CAP documents
    would dominate those documents' minimum hashes and collapse them
    into one (band, band_hash) bucket — k^2 join work on a single
    key.  The DF-cap prefilter drops such shingles BEFORE signatures
    exist, so the capped band index's worst bucket stays bounded by
    the cap (here: the 50-doc edge phrase, which is genuine near-dup
    signal and SHOULD band together); the uncapped index, built from
    the same corpus, demonstrably develops a bucket larger than the
    cap — the hazard is real, the cap is what removes it."""
    from pyspark.sql import functions as F

    from db_mapreduce_project_spark.functions.hashing import (
        lsh_bands_portable,
        minhash_signature_from_pairs,
        token_shingle_hash_pairs,
    )
    from db_mapreduce_project_spark.operators.dedup import (
        _MH_BANDS,
        _MH_HASHES,
        _capped_shingle_hashes,
        SHINGLE_DF_CAP,
    )

    boiler = " ".join(f"boilerw{j}" for j in range(400))
    edge = " ".join(f"edgew{j}" for j in range(400))
    rows = []
    for i in range(300):
        body = " ".join(f"doc{i}w{j}" for j in range(30))
        if i < 150:  # DF 150 > cap: must be dissolved
            rows.append((i, body + " " + boiler))
        elif i < 200:  # DF 50 <= cap: survives, bounded by the cap
            rows.append((i, body + " " + edge))
        else:
            rows.append((i, body))
    d = spark.createDataFrame(rows, "doc_id bigint, text string")

    def max_band_group(sh):
        sig = minhash_signature_from_pairs(sh, "doc_id", num_hashes=_MH_HASHES)
        bands = lsh_bands_portable(
            sig, "doc_id", num_hashes=_MH_HASHES, bands=_MH_BANDS
        )
        return (
            bands.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("k"))
            .agg(F.max("k").alias("k"))
            .first()["k"]
        )

    capped_max = max_band_group(_capped_shingle_hashes(d))
    uncapped_max = max_band_group(
        token_shingle_hash_pairs(d, "doc_id", "text", n=3)
    )
    # the worst capped bucket is bounded by the cap (so the worst
    # single-key join output is bounded by cap^2/2)...
    assert capped_max <= SHINGLE_DF_CAP, capped_max
    # ...and the bound is LOAD-BEARING: without the cap the planted
    # phrase exceeds it on the very same corpus
    assert uncapped_max > SHINGLE_DF_CAP, uncapped_max
    # the edge phrase (DF 50) still bands (most of its docs share a
    # band; body shingles occasionally win the argmin) — the cap
    # removes quadratic hot keys, not genuine near-dup signal
    assert capped_max >= 30, capped_max


def test_containment_ensemble_matches_exact(spark):
    """The size-stratified prefix path has DETERMINISTIC candidate
    recall (prefix-filter lemma), so its output must EQUAL the exact
    inverted-index form on any input — here the fixture corpus."""
    exact = {
        (r["contained_id"], r["container_id"], r["n_common"], r["containment"])
        for r in registry.QUERIES["dedup_containment"](spark, SF).collect()
    }
    strat = {
        (r["contained_id"], r["container_id"], r["n_common"], r["containment"])
        for r in registry.QUERIES["dedup_containment_ensemble"](
            spark, SF
        ).collect()
    }
    assert strat == exact
    assert strat


def test_containment_ensemble_deterministic_on_size_asymmetry(spark):
    """The acceptance case from the round-5 verdict: tiny documents
    fully quoted inside huge ones (containment 1.0, Jaccard ~0.01).
    Jaccard-keyed bands miss every planted pair; the bottom-K path
    finds them probabilistically; the size-stratified prefix path
    must find them DETERMINISTICALLY — its result equals the exact
    form by construction, not by luck of the hash order.  Mixed
    cluster sizes force probes and postings across distinct strata."""
    from db_mapreduce_project_spark.operators.dedup import (
        containment_pairs_ensemble_from,
        containment_pairs_from,
        containment_pairs_lsh_from,
    )

    rows = []
    for i in range(5):
        small = " ".join(f"quote{i}w{j}" for j in range(10))
        # vary container size so pairs span different stratum gaps
        filler = " ".join(f"body{i}w{j}" for j in range(100 * (i + 1)))
        rows.append((i, small))
        rows.append((100 + i, filler + " " + small))
    # near-equal-size near-dup pair in ONE stratum (tie-break path)
    shared = " ".join(f"twin{j}" for j in range(40))
    rows.append((200, shared + " extraA0 extraA1"))
    rows.append((201, shared + " extraB0 extraB1 extraB2"))
    d = spark.createDataFrame(rows, "doc_id bigint, text string")

    planted = {(i, 100 + i) for i in range(5)}
    exact = {
        (r["contained_id"], r["container_id"])
        for r in containment_pairs_from(d).collect()
    }
    strat = {
        (r["contained_id"], r["container_id"])
        for r in containment_pairs_ensemble_from(d).collect()
    }
    banded = {
        (r["contained_id"], r["container_id"])
        for r in containment_pairs_lsh_from(d).collect()
    }
    assert planted <= exact
    assert (200, 201) in exact  # the same-stratum twin pair qualifies
    assert strat == exact  # deterministic recall: equality, always
    assert not (planted & banded)  # Jaccard-banded: still blind


def test_containment_delta_consistent_with_full(spark):
    """The incremental delta/base containment must equal the full
    exact containment restricted to cross (delta, base) pairs —
    same thresholds, same verify, only the candidate scope differs
    (and the size-adaptive prefix probes make recall deterministic,
    so this equality holds by construction, not by fixture luck)."""
    from db_mapreduce_project_spark.operators.dedup import _is_delta
    from pyspark.sql import functions as F

    from db_mapreduce_project_spark.io import load_table

    flags = {
        r["doc_id"]: r["d"]
        for r in load_table(spark, SF, "documents")
        .select("doc_id", _is_delta(F.col("doc_id")).alias("d"))
        .collect()
    }
    full = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in registry.QUERIES["dedup_containment"](spark, SF).collect()
    }
    cross = {
        k: v for k, v in full.items() if flags[k[0]] != flags[k[1]]
    }
    delta = {
        (r["delta_id"], r["base_id"]): r["containment"]
        for r in registry.QUERIES["dedup_containment_delta"](spark, SF).collect()
    }
    # reorient full's (contained, container) to (delta, base)
    want = {}
    for (x, y), c in cross.items():
        want[(x, y) if flags[x] else (y, x)] = c
    assert delta == want
    assert delta  # the fixture split yields real cross pairs
