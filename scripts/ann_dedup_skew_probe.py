#!/usr/bin/env python
"""Composed dedup-before-indexing certification (round 13, VERDICT
r12 #1): ANN_SKEW_r12.json measured the budget-cap recall hole —
on a 150k quasi-duplicate cloud around one direction, ~5% of hot
queries read worst_query_recall 0.0 under BOTH quantizers, because
their true top-5 live inside a sign-collision pileup far larger
than RERANK_C_CAP.  The asserted fix (run the dedup family first)
was prose; this probe turns it into data by composing the pipeline
a real deployment ships:

  raw leg     : trained index over the raw skewed rung — expect
                budget_capped=True (the new observability flag) and
                the r12 worst-0.0 tail;
  dedup leg   : signword_dedup_survivors (cosine-verified SimHash
                suppression, linear) -> RETRAIN the coarse
                quantizer on survivors -> rebuild the binary index
                -> serve -> measure vs exact truth over survivors —
                expect budget_capped=False and worst_query_recall
                recovered.

Writes $ANN_DEDUP_SKEW_OUT (default ANN_DEDUP_SKEW_r13.json).
Floors pinned by tests/test_ann_recall.py::
test_ann_dedup_skew_probe_artifact_floors.
Usage: python scripts/ann_dedup_skew_probe.py [hot_copies [cold_copies]]
       (the skewed rung's size, as in scripts/ann_skew_probe.py;
       default 150000 25)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import numpy as np
from pyspark.sql import functions as F

from db_mapreduce_project_spark.io import load_table
from db_mapreduce_project_spark.operators.retrieval import exact_rerank_tail
from db_mapreduce_project_spark.operators.similarity import (
    RERANK_C_CAP,
    RERANK_MARGIN,
    TOPK,
    binary_collision_budget,
    binary_hamming_cands_from,
    binary_sign_codes,
    derive_n_cells,
    ivf_assign,
    signword_dedup_survivors,
    signword_suppressed,
    train_ivf_centroids,
)
from db_mapreduce_project_spark.functions.vectors import l2
from db_mapreduce_project_spark.session import get_spark
from scripts.ann_recall import top_map
from scripts.ann_recall_scale import exact_truth_numpy
from scripts.ann_skew_probe import (
    COLD_NOISE,
    HOT_NOISE,
    build_skewed,
    rung_args,
)

PROBE = 8  # cells probed per query — the r12 skew-probe setting
HOT_ID_FLOOR = 1_000_000_000  # build_skewed: hot vec_ids >= 1e9


def split_recall(df, exact: dict[int, set[int]]) -> dict:
    """measure() plus per-population recall: the skew rung's HOT
    queries (ids >= HOT_ID_FLOOR — the quasi-duplicate cloud whose
    budget-cap failure this probe exists to close) vs COLD queries
    (the near-uniform remainder, whose recall is governed by the
    ordinary IVF scan-fraction trade-off, not the pileup)."""
    t0 = time.perf_counter()
    approx = top_map(df.collect())
    sec = round(time.perf_counter() - t0, 2)
    out: dict = {"sec": sec}
    for pop, keys in (
        ("all", exact.keys()),
        ("hot", [q for q in exact if q >= HOT_ID_FLOOR]),
        ("cold", [q for q in exact if q < HOT_ID_FLOOR]),
    ):
        hits = total = 0
        worst = 1.0
        for q in keys:
            truth = exact[q]
            got = approx.get(q, set())
            hits += len(got & truth)
            total += len(truth)
            worst = min(worst, len(got & truth) / len(truth))
        out[f"recall_{pop}"] = round(hits / total, 4) if total else None
        out[f"worst_{pop}"] = round(worst, 4) if total else None
        out[f"n_queries_{pop}"] = len(list(keys)) if pop != "all" else len(
            exact
        )
    return out


def leg(spark, rel, tag: str) -> dict:
    """Train quantizer on `rel`, build+serve the binary index, and
    measure occupancy, budget (incl. the capped flag), recall and
    worst-query recall vs exact float64 truth over `rel`."""
    n = rel.count()
    cells = derive_n_cells(n)
    t0 = time.perf_counter()
    pdf = rel.toPandas()
    ids = pdf["vec_id"].to_numpy()
    vecs = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
    del pdf
    exact = exact_truth_numpy(ids, vecs)
    del ids, vecs
    t_truth = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    cents = train_ivf_centroids(rel, cells)
    en = rel.select("vec_id", "embedding", l2("embedding").alias("norm"))
    bcodes = binary_sign_codes(ivf_assign(en, cents))
    bud = binary_collision_budget(
        bcodes, RERANK_C_CAP, RERANK_MARGIN
    ).collect()[0]
    pile = (
        bcodes.groupBy("cell", "b_lo", "b_hi")
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.expr("CAST(approx_percentile(count, 0.99) AS LONG)").alias(
                "p99"
            ),
        )
        .collect()[0]
    )
    t_index = round(time.perf_counter() - t0, 2)

    cands = binary_hamming_cands_from(
        rel,
        n_cells=cells,
        n_probe=PROBE,
        margin=RERANK_MARGIN,
        cents=cents,
    )
    got = split_recall(exact_rerank_tail(rel, cands), exact)
    row = {
        "n_vectors": n,
        "cells": cells,
        "c_budget": int(bud["c_budget"]),
        "budget_capped": bool(bud["budget_capped"]),
        "max_collision_cluster": int(pile["mx"]),
        "p99_collision_cluster": int(pile["p99"]),
        "truth_sec": t_truth,
        "train_index_sec": t_index,
        **got,
    }
    print(tag, json.dumps(row), flush=True)
    return row


def exact_route_leg(spark, rel, tag: str) -> dict:
    """The serving tier's flag-driven fallback, measured: when
    budget_capped fires (or the post-dedup corpus is small), the
    decision table routes queries to an EXACT scan.  Post-dedup
    the survivor corpus is collapse-factor smaller, so the exact
    route's cost is bounded — this row records that wall, and its
    recall is 1.0 by construction (it computes the same truth)."""
    from db_mapreduce_project_spark.operators.similarity import (
        brute_topk_from,
    )

    pdf = rel.toPandas()
    ids = pdf["vec_id"].to_numpy()
    vecs = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
    del pdf
    exact = exact_truth_numpy(ids, vecs)
    del ids, vecs
    got = split_recall(brute_topk_from(rel), exact)
    row = {"n_vectors": rel.count(), **got}
    print(tag, json.dumps(row), flush=True)
    return row


def main() -> None:
    hot_copies, cold_copies = rung_args(sys.argv[1:])
    spark = get_spark("ann-dedup-skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, "/root/testdata/sf0.1", "embeddings").select(
        "vec_id", "embedding"
    )
    scratch = tempfile.mkdtemp(prefix="ann_dedup_skew_")
    skewed = build_skewed(base, hot_copies, cold_copies)
    skewed.repartition(32).write.mode("overwrite").parquet(
        os.path.join(scratch, "raw.parquet")
    )
    raw = spark.read.parquet(os.path.join(scratch, "raw.parquet"))
    out = {
        "rung": f"ANN_SKEW_r12 geometry: hot {hot_copies} @ noise "
        f"{HOT_NOISE} around one direction + cold {cold_copies}x1999 "
        f"@ {COLD_NOISE}",
        "probe": PROBE,
        "margin": RERANK_MARGIN,
        "topk": TOPK,
        "cap": RERANK_C_CAP,
        "suppress_threshold": 0.92,
        "configs": {},
    }

    out["configs"]["raw_trained"] = leg(spark, raw, "raw_trained")

    t0 = time.perf_counter()
    n_sup = signword_suppressed(raw).count()
    signword_dedup_survivors(raw).repartition(32).write.mode(
        "overwrite"
    ).parquet(os.path.join(scratch, "dedup.parquet"))
    surv = spark.read.parquet(os.path.join(scratch, "dedup.parquet"))
    t_dedup = round(time.perf_counter() - t0, 2)
    out["dedup"] = {
        "suppressed": n_sup,
        "survivors": surv.count(),
        "dedup_sec": t_dedup,
    }
    print("dedup", json.dumps(out["dedup"]), flush=True)

    out["configs"]["dedup_trained"] = leg(spark, surv, "dedup_trained")
    # the flag-driven fallback: exact scan over the collapsed
    # survivor corpus — bounded cost, worst 1.0 by construction
    out["configs"]["dedup_exact_route"] = exact_route_leg(
        spark, surv, "dedup_exact_route"
    )
    shutil.rmtree(scratch, ignore_errors=True)

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        os.environ.get("ANN_DEDUP_SKEW_OUT", "ANN_DEDUP_SKEW_r13.json"),
    )
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
