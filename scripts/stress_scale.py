#!/usr/bin/env python
"""Scale stress: run the heavy operators on a synthetically
expanded corpus (~sf1, 10x the sf0.1 fixtures) built by unioning
key-shifted copies — no files written, pure plan-level expansion.

This is the scale-headroom check the fixtures can't give: shuffle
volumes, sketch pipelines, window states, and iterative loops at
10x bench scale.  Prints one JSON line per query.

Usage: python scripts/stress_scale.py [copies]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import DataFrame, functions as F

from db_mapreduce_project_spark.functions.stable import qsum
from db_mapreduce_project_spark.functions.text import words
from db_mapreduce_project_spark.io import load_table
from db_mapreduce_project_spark.operators.classic2 import asof_join_events_orders
from db_mapreduce_project_spark.operators.dedup import minhash_pairs_from
from db_mapreduce_project_spark.operators.windows import sessionize
from db_mapreduce_project_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def expand(df: DataFrame, key_cols: list[str], copies: int) -> DataFrame:
    """Union `copies` key-shifted replicas (keys offset per copy so
    cardinalities scale realistically instead of multiplying
    duplicates)."""
    out = None
    for i in range(copies):
        c = df
        for k in key_cols:
            c = c.withColumn(k, F.col(k) + F.lit(i * 100_000_000))
        out = c if out is None else out.unionByName(c)
    return out


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")

    docs = expand(
        load_table(spark, SF_DIR, "documents"), ["doc_id"], copies
    )
    lineitem = expand(
        load_table(spark, SF_DIR, "lineitem"), ["l_orderkey"], copies
    )
    events = expand(
        load_table(spark, SF_DIR, "events"), ["event_id", "user_id"], copies
    )

    def bench(name, df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        print(
            json.dumps(
                {
                    "query": name,
                    "sec": round(time.perf_counter() - t0, 2),
                    "copies": copies,
                }
            ),
            flush=True,
        )
        # isolation between rungs (same discipline as bench.py):
        # without it a rung whose subplan matches an earlier rung's
        # cached frame (e.g. the shingle fold shared by the two
        # containment forms) silently reads that cache and
        # under-reports its cost
        spark.catalog.clearCache()

    # wordcount over ~50k docs
    bench(
        "wordcount_10x",
        words(docs, "text")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy("word"),
    )

    # Q1-style rollup over ~6M lineitems
    bench(
        "q1_10x",
        lineitem.where(
            F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            qsum("l_quantity", 2).alias("sum_qty"),
            qsum("l_extendedprice", 2).alias("sum_base"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus"),
    )

    # the served MinHash+LSH pipeline (dedup_minhash_lsh) over ~50k
    # docs: signatures, band join and exact Jaccard verification
    bench("minhash_lsh_pairs_10x", minhash_pairs_from(docs))

    # windowed event aggregation over ~1M events
    bench(
        "events_tumbling_10x",
        events.groupBy(
            F.window("ts", "10 minutes").alias("w"), "event_type"
        ).agg(F.count("*").alias("n"), qsum("value", 4).alias("s")),
    )

    # gap-based sessionization over ~1M events (single user_id shuffle)
    bench("sessionize_10x", sessionize(events))

    # as-of join: ~1M events x ~1.5M deduped orders, union+window form
    orders = expand(
        load_table(spark, SF_DIR, "orders"),
        ["o_orderkey", "o_custkey"],
        copies,
    )
    bench("join_asof_10x", asof_join_events_orders(events, orders))

    # decontamination over ~50k training docs: benchmark set stays
    # fixture-sized (broadcast), corpus side scales 10x shuffle-free
    from db_mapreduce_project_spark.operators.curation import (
        DECONTAM_MIN_SHARED,
        DECONTAM_NGRAM,
        _ngrams,
    )

    grams = F.explode(_ngrams("text", DECONTAM_NGRAM)).alias("shingle")
    bench_set = (
        docs.where(F.col("source") == "src0")
        .select(grams)
        .where(F.col("shingle") != "")
        .distinct()
    )
    train = (
        docs.where(F.col("source") != "src0")
        .select("doc_id", grams)
        .where(F.col("shingle") != "")
    )
    bench(
        "decontaminate_10x",
        train.join(F.broadcast(bench_set), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared"))
        .where(F.col("n_shared") >= DECONTAM_MIN_SHARED),
    )

    # rolling WAU over ~1M events: bounded 7-day fan-out
    ud = events.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    fan = ud.select(
        "user_id",
        F.explode(
            F.expr("sequence(d, d + interval 6 days, interval 1 day)")
        ).alias("rd"),
    ).distinct()
    bench("rolling_wau_10x", fan.groupBy("rd").agg(F.count(F.lit(1)).alias("wau")))

    # cross-doc duplicated spans over ~50k docs: strided rolling
    # windows, join-free hash-pair groupBy
    from db_mapreduce_project_spark.functions.hashing import (
        spark_charhash_pair,
    )
    from db_mapreduce_project_spark.operators.dedup import (
        SPAN_LEN,
        SPAN_STRIDE,
        SPAN_TOPK,
    )

    spans = (
        docs.where(F.length("text") >= SPAN_LEN)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0), F.length("text") - SPAN_LEN, F.lit(SPAN_STRIDE)
                )
            ).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            spark_charhash_pair(
                F.expr(f"substring(text, pos + 1, {SPAN_LEN})")
            ).alias("h"),
        )
        .select("doc_id", F.col("h.h1").alias("h1"), F.col("h.h2").alias("h2"))
    )
    bench(
        "substring_spans_10x",
        spans.groupBy("h1", "h2")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(), "h1", "h2")
        .limit(SPAN_TOPK),
    )

    # sweep-line in-transit balance over ~6M intervals: distributed
    # two-phase prefix sum (partitioned window + tiny offset table)
    recv = F.expr("l_shipdate + INTERVAL '1' DAY * (l_orderkey % 30 + 1)")
    deltas = (
        lineitem.select(
            F.col("l_shipdate").alias("day"), F.lit(1).alias("net")
        )
        .unionByName(lineitem.select(recv.alias("day"), F.lit(-1).alias("net")))
        .groupBy("day")
        .agg(F.sum("net").alias("net"))
        .withColumn("month", F.date_trunc("MONTH", F.col("day")))
    )
    from pyspark.sql import Window

    w_m = (
        Window.partitionBy("month")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    daily = deltas.withColumn("cum", F.sum("net").over(w_m))
    mt = deltas.groupBy("month").agg(F.sum("net").alias("mnet"))
    w_all = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = mt.withColumn("off", F.sum("mnet").over(w_all) - F.col("mnet"))
    bench(
        "sweepline_10x",
        daily.join(F.broadcast(offs.select("month", "off")), "month").select(
            "day", (F.col("cum") + F.col("off")).alias("in_transit")
        ),
    )

    # distributed prefix sum + token-budget sharding over ~50k docs:
    # the stress is the bucket-partitioned running sum (64-way
    # parallel) + broadcast offset join — the shape that replaces a
    # corpus-wide single-partition window
    from db_mapreduce_project_spark.operators.sharding import (
        SHARD_TOKEN_BUDGET,
        doc_token_offsets_from,
    )

    offsets10 = doc_token_offsets_from(docs)
    bench(
        "training_shards_10x",
        offsets10.withColumn(
            "shard_id",
            F.expr(f"CAST((start DIV {SHARD_TOKEN_BUDGET}) AS BIGINT)"),
        )
        .groupBy("shard_id")
        .agg(F.count("*").alias("n_docs"), F.sum("tok").alias("sum_tokens")),
    )

    # BM25 retrieval over ~50k docs: THE registered pipeline
    # (bm25_topk_from) on the expanded corpus — postings filter
    # lands on the token stream pre-shuffle; constants/df
    # broadcast; top-k is TakeOrderedAndProject
    from db_mapreduce_project_spark.operators.retrieval import (
        bm25_topk_from,
    )

    bench("bm25_topk_10x", bm25_topk_from(docs))

    # pairwise source-overlap matrix over ~50k docs: the distinct
    # (source, shingle) relation stays vocab x sources regardless of
    # corpus size — the stress is the 10x explode feeding it
    from db_mapreduce_project_spark.operators.corpus_stats import (
        source_overlap_from,
    )

    bench("source_overlap_10x", source_overlap_from(docs))

    # containment pairs over ~50k docs: the 10 key-shifted copies
    # are exact near-dup groups of 10, so the inverted-index join
    # really fans out (~45 within-group pairs per original doc) —
    # the worst-case candidate load the DF cap must absorb
    from db_mapreduce_project_spark.operators.dedup import (
        containment_pairs_from,
        containment_pairs_lsh_from,
    )

    bench("containment_pairs_10x", containment_pairs_from(docs))

    # banded containment over the same worst case: candidates come
    # from the MinHash band index instead of the full inverted-index
    # join, so cost tracks the answer size (45 within-group pairs
    # per original doc) instead of the co-occurrence volume — the
    # production shape for boilerplate-heavy corpora
    bench("containment_lsh_10x", containment_pairs_lsh_from(docs))

    # two-stage ANN rerank over ~60k vectors: bucket populations
    # scale 10x, so the coarse ADC join fans out ~100x while the
    # exact stage stays |queries| x RERANK_C
    from db_mapreduce_project_spark.operators.retrieval import (
        two_stage_rerank_from,
    )

    emb10 = expand(
        load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding"),
        ["vec_id"],
        copies,
    )
    bench("two_stage_rerank_10x", two_stage_rerank_from(emb10))

    # additive hourly rollup over ~1M events (the streaming sink's
    # batch contract)
    bench(
        "hourly_counts_10x",
        events.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"), qsum("value", 4).alias("s")),
    )

    # per-doc char entropy over ~50k docs (~13M exploded chars):
    # quantize-before-sum keeps it two map-side-combining shuffles
    letters10 = F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    ch10 = docs.select(
        "doc_id", F.explode(F.split(letters10, "", -1)).alias("ch")
    ).where(F.col("ch") != "")
    bench(
        "char_entropy_10x",
        ch10.groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_letters"),
            F.sum(
                F.floor(F.col("c") * F.log2("c") * 1e6 + F.lit(0.5))
            ).alias("sq"),
        ),
    )

    # fixed-point PageRank over the trade graph, edges aggregated
    # from ~6M duplicated lineitems (graph stays nations-sized; the
    # stress is the cents aggregation + 8 checkpointed iterations)
    from db_mapreduce_project_spark.operators.graph import pagerank_trade

    t0 = time.perf_counter()
    pagerank_trade(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    print(
        json.dumps(
            {
                "query": "pagerank_trade_full",
                "sec": round(time.perf_counter() - t0, 2),
                "copies": 1,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
