"""The reference's modes-agree invariant, translated (SURVEY.md
§5.2 item 4): results are invariant under repartitioning — plan /
parallelism changes never change answers.  This is the property
that makes the quantize-then-sum aggregation design safe under AQE
re-planning at scale."""

import pytest
from pyspark.sql import functions as F

from db_mapreduce_project_spark.functions.stable import qsum
from db_mapreduce_project_spark.functions.text import words
from db_mapreduce_project_spark.io import load_table


def _wordcount_rows(spark, sf_dir, nparts):
    docs = load_table(spark, sf_dir, "documents")
    if nparts:
        docs = docs.repartition(nparts)
    return sorted(
        (r["word"], r["cnt"])
        for r in words(docs, "text")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )


@pytest.mark.parametrize("nparts", [1, 2, 8])
def test_wordcount_partition_invariant(spark, sf_dir, nparts):
    assert _wordcount_rows(spark, sf_dir, None) == _wordcount_rows(
        spark, sf_dir, nparts
    )


@pytest.mark.parametrize("nparts", [1, 3, 16])
def test_stable_sum_partition_invariant(spark, sf_dir, nparts):
    """Double-sum invariance: the quantized sum is bit-identical
    regardless of partitioning (a raw float sum would not be)."""
    l = load_table(spark, sf_dir, "lineitem")
    base = l.agg(qsum("l_extendedprice", 2).alias("s")).collect()[0]["s"]
    re = (
        l.repartition(nparts)
        .agg(qsum("l_extendedprice", 2).alias("s"))
        .collect()[0]["s"]
    )
    assert base == re  # exact equality, not approx


def test_minhash_signature_partition_invariant(spark, sf_dir):
    """Sketches are pure hash arithmetic: signatures must be
    bit-identical under any input partitioning (this is what makes
    MinHash dedup reproducible across cluster sizes).  Runs the
    shingle-hash kernel and signature that dedup_minhash_lsh uses."""
    from db_mapreduce_project_spark.functions.hashing import (
        minhash_signature_from_pairs,
    )
    from db_mapreduce_project_spark.functions.hashing_arrow import (
        token_shingle_hash_pairs_arrow,
    )

    d = load_table(spark, sf_dir, "documents")

    def sigs(docs):
        sh = token_shingle_hash_pairs_arrow(docs, "doc_id", "text", n=3)
        return sorted(
            tuple(r)
            for r in minhash_signature_from_pairs(sh, "doc_id", 32).collect()
        )

    assert sigs(d) == sigs(d.repartition(7))


def test_stratified_sample_proportions(spark, sf_dir):
    # sampleBy keeps ~fraction of each stratum and drops unlisted ones
    from db_mapreduce_project_spark import registry

    got = {
        r["event_type"]: r["n"]
        for r in registry.QUERIES["sample_stratified_events"](
            spark, sf_dir
        ).collect()
    }
    from db_mapreduce_project_spark.io import load_table
    from pyspark.sql import functions as F

    base = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) == {"click", "view", "purchase"}  # unlisted strata dropped
    assert got["purchase"] == base["purchase"]  # fraction 1.0 keeps all
    for k, frac in {"click": 0.1, "view": 0.5}.items():
        assert abs(got[k] / base[k] - frac) < 0.15, (k, got[k], base[k])


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh", "q9_product_profit", "transit_inventory_sweepline"],
)
def test_aqe_off_equivalence(spark, sf_dir, name):
    """AQE runtime re-planning (partition coalescing, join-strategy
    switches, skew splits) must never change answers — the same
    invariant that lets one static config survive a 100x scale-up.
    Holds because every compared aggregate is quantized-integer
    (associative) and every tie-break is a total order."""
    from db_mapreduce_project_spark import registry

    def run():
        return sorted(
            tuple(r)
            for r in registry.QUERIES[name](spark, sf_dir).collect()
        )

    base = run()
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        assert run() == base
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


@pytest.mark.parametrize(
    "name",
    [
        "ann_sq8_adc",
        "text_bm25_topk",
        "doc_char_entropy",
        "corpus_source_overlap",
        "dedup_containment",
        "corpus_mix_temperature",
        "sample_reservoir_per_group",
        "ohlc_bars",
        "time_weighted_avg_per_user",
    ],
)
def test_round4_ops_shuffle_partition_invariant(spark, sf_dir, name):
    """Operators claiming any-parallelism determinism
    (quantize-before-sum weights/entropy terms, integer ratios,
    hash-ring membership, total-order tiebreaks, the SQ8 quantized
    index): changing the shuffle-partition count must not move a
    single value."""
    from db_mapreduce_project_spark import registry

    def run():
        return sorted(
            tuple(r)
            for r in registry.QUERIES[name](spark, sf_dir).collect()
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        base = run()
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        assert run() == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize(
    "name",
    [
        "q2_min_cost_supplier",
        "q3_shipping_priority",
        "q5_regional_revenue",
        "q8_market_share",
        "q9_product_profit",
        "q10_returned_items",
        "q21_waiting_supplier",
    ],
)
def test_broadcast_fallback_equivalence(spark, sf_dir, name):
    """At 100x the sf-proportional 'dims' (customer/supplier/part)
    stop fitting in broadcast and every auto-chosen
    BroadcastHashJoin must silently become a shuffle join — so force
    that world (autoBroadcastJoinThreshold=-1) and assert the
    answers are bit-identical AND the fallback actually happened
    (SortMergeJoin appears; strictly fewer broadcast joins).  Hinted
    broadcasts may legitimately remain, but ONLY on
    bounded-by-construction frames (nation 25 rows, region 5 rows,
    scalar aggregates) — writing this test flushed out explicit
    F.broadcast() hints on customer/supplier/part in q2/q3/q5/q8/
    q9/q11/q16/q20 and the trade-graph edge builder, which would
    have forced un-broadcastable tables into memory at scale.
    Every plan test elsewhere pins the broadcast shape; this is the
    other half."""
    from db_mapreduce_project_spark import registry

    def run():
        return sorted(
            tuple(r)
            for r in registry.QUERIES[name](spark, sf_dir).collect()
        )

    def plan():
        return registry.QUERIES[name](spark, sf_dir)._jdf.queryExecution(
        ).executedPlan().toString()

    base = run()
    base_plan = plan()
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        fb_plan = plan()
        # at fixture SF the optimizer auto-broadcasts the small side,
        # so the fallback must genuinely change the physical strategy
        assert "BroadcastHashJoin" in base_plan, name
        assert "SortMergeJoin" in fb_plan, name
        assert fb_plan.count("BroadcastHashJoin") < base_plan.count(
            "BroadcastHashJoin"
        ), name
        # any broadcast surviving threshold=-1 must come from an
        # explicit hint, and those are reserved for bounded dims:
        # nothing sf-proportional may appear on a broadcast side
        for bounded_only in fb_plan.split("BroadcastExchange")[1:]:
            head = bounded_only[:400]
            for big in ("customer", "supplier", "part.", "lineitem", "orders"):
                assert big not in head, (name, big, head)
        assert run() == base
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
