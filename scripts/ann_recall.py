#!/usr/bin/env python
"""Recall@k certification for the ANN family (round-7 verdict #1).

Parity is structurally blind to recall: an approximate index that
silently degrades (narrower buckets, fewer probes, a broken sketch)
still value-hash-matches its own oracle, because the oracle mirrors
the APPROXIMATION, not the ground truth.  This harness measures the
thing parity cannot: for each ANN path, what fraction of the EXACT
top-k (brute-force cosine, the same ground truth the registered
`ann_cosine_topk_bruteforce` query computes) the approximate path
returns.

Measured surfaces:
  * the four registered paths at their registered parameters, at
    BOTH fixture scales (sf0.01: 500 vectors / 10 queries,
    sf0.1: 2000 vectors / 40 queries);
  * parameter sweeps at sf0.1 — LSH plane count, IVF cell and probe
    counts, two-stage rerank depth — the tradeoff table SCALE.md
    cites;
  * a 10x rung (20 000 vectors / 400 queries): the sf0.1 corpus
    unioned 10x with a deterministic per-copy perturbation (seeded
    sin fold, no RNG at plan time), at registered AND at
    scaled-with-the-corpus parameters (planes ~ log2(n/occupancy),
    cells ~ sqrt(n)), demonstrating the documented scaling rule
    rather than asserting it.

Recall definition: pooled recall@TOPK = |approx ∩ exact| / |exact|
summed over queries (exact sets include ties broken identically on
both sides: cos DESC, n_id ASC).  Per-query minimum is also
recorded — a pooled number can hide a single dead query.

Writes the measurements to OUT.json, a required argument.  The
floors in tests/test_dedup_similarity.py and tests/test_ann_recall.py
were set from the committed ANN_RECALL_r7.json (measured minus a few
points), NOT from hope; pass a new path so a rerun cannot overwrite
that artifact.

Usage: python scripts/ann_recall.py OUT.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F

from db_mapreduce_project_spark.io import load_table
from db_mapreduce_project_spark.operators.retrieval import (
    MRL_DIM,
    RERANK_C,
    ivfadc_rerank_from,
    mrl_rerank_from,
    two_stage_rerank_from,
)
from db_mapreduce_project_spark.operators.similarity import (
    N_CELLS,
    N_PLANES,
    N_PROBE,
    N_TABLES,
    TOPK,
    QUERY_MOD,
    brute_topk_from,
    dot,
    ivf_filtered_topk_from,
    ivf_topk_from,
    ivfadc_topk_from,
    l2,
    lsh_multitable_topk_from,
    lsh_topk_from,
    pq_adc_from,
    sq8_adc_from,
)
from db_mapreduce_project_spark.session import get_spark

COPIES = 10  # rung = sf0.1 x 10 = 20k vectors, 400 queries
NOISE = 0.02  # per-dim perturbation amplitude for the rung copies


def expand_perturbed(e, copies: int = COPIES, noise: float = NOISE):
    """Union `copies` key-shifted replicas with a DETERMINISTIC
    per-copy perturbation (sin fold over vec_id, dim, copy — no RNG,
    so reruns and the brute-force ground truth see the identical
    corpus).  Copies of one base vector stay near-duplicates
    (cos ~0.99), so the rung keeps the fixture's label-cluster
    geometry instead of degenerating into exact duplicates
    (key-shift alone) or uniform noise (fresh random vectors)."""
    out = None
    for i in range(copies):
        c = e.withColumn(
            "vec_id", F.col("vec_id") + F.lit(i * 100_000_000)
        )
        if i > 0:
            c = c.withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda v, j: v.cast("double")
                    + F.lit(noise)
                    * F.sin(
                        F.col("vec_id") * F.lit(0.7)
                        + j.cast("double") * F.lit(1.3)
                    ),
                ),
            )
        else:
            c = c.withColumn(
                "embedding",
                F.transform("embedding", lambda v: v.cast("double")),
            )
        out = c if out is None else out.unionByName(c)
    return out


def top_map(rows) -> dict[int, set[int]]:
    m: dict[int, set[int]] = {}
    for r in rows:
        m.setdefault(r["q_id"], set()).add(r["n_id"])
    return m


def measure(df, exact: dict[int, set[int]]) -> dict:
    t0 = time.perf_counter()
    approx = top_map(df.collect())
    sec = round(time.perf_counter() - t0, 2)
    hits = total = 0
    worst = 1.0
    for q, truth in exact.items():
        got = approx.get(q, set())
        hits += len(got & truth)
        total += len(truth)
        worst = min(worst, len(got & truth) / len(truth))
    return {
        "recall": round(hits / total, 4),
        "worst_query_recall": round(worst, 4),
        "n_queries": len(exact),
        "hits": hits,
        "total": total,
        "sec": sec,
    }


def _filtered_truth(el):
    """Exact same-label top-TOPK — ann_ivf_filtered's ground
    truth."""
    from pyspark.sql import Window

    en = el.select(
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


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit("usage: python scripts/ann_recall.py OUT.json")
    out_path = sys.argv[1]
    spark = get_spark("ann-recall")
    spark.sparkContext.setLogLevel("ERROR")

    results: list[dict] = []

    def record(corpus, path, params, entry):
        row = {"corpus": corpus, "path": path, "params": params, **entry}
        results.append(row)
        print(json.dumps(row), flush=True)

    # ---- registered defaults at both fixture scales --------------
    for sf in ("sf0.01", "sf0.1"):
        e = (
            load_table(spark, f"/root/testdata/{sf}", "embeddings")
            .select("vec_id", "embedding")
            .cache()
        )
        exact = top_map(brute_topk_from(e).collect())
        record(
            sf,
            "lsh_bucketed",
            {"planes": N_PLANES},
            measure(lsh_topk_from(e), exact),
        )
        record(
            sf,
            "lsh_multitable",
            {"tables": N_TABLES, "planes": N_PLANES},
            measure(lsh_multitable_topk_from(e), exact),
        )
        record(
            sf,
            "ivf_topk",
            {"cells": N_CELLS, "probe": N_PROBE},
            measure(ivf_topk_from(e), exact),
        )
        record(
            sf,
            "sq8_adc",
            {"planes": N_PLANES},
            measure(sq8_adc_from(e), exact),
        )
        record(
            sf,
            "pq_adc",
            {"planes": N_PLANES},
            measure(pq_adc_from(e), exact),
        )
        record(
            sf,
            "ivfadc",
            {"cells": N_CELLS, "probe": N_PROBE},
            measure(ivfadc_topk_from(e), exact),
        )
        record(
            sf,
            "ivfadc_rerank",
            {"cells": N_CELLS, "probe": N_PROBE, "rerank_c": RERANK_C},
            measure(ivfadc_rerank_from(e), exact),
        )
        record(
            sf,
            "two_stage_rerank",
            {"planes": N_PLANES, "rerank_c": RERANK_C},
            measure(two_stage_rerank_from(e), exact),
        )
        record(
            sf,
            "mrl_rerank",
            {
                "dims": MRL_DIM,
                "cells": N_CELLS,
                "probe": N_PROBE,
                "rerank_c": RERANK_C,
            },
            measure(mrl_rerank_from(e), exact),
        )
        # filtered ANN: ground truth is the SAME-LABEL exact top-k
        # (the filtered query answers a different question than the
        # unfiltered paths, so it gets its own truth set)
        el = load_table(spark, f"/root/testdata/{sf}", "embeddings").select(
            "vec_id", "embedding", "label"
        )
        record(
            sf,
            "ivf_filtered",
            {"cells": N_CELLS, "probe": N_PROBE},
            measure(
                ivf_filtered_topk_from(el), top_map(_filtered_truth(el).collect())
            ),
        )

        # ---- parameter sweeps at sf0.1 ---------------------------
        if sf == "sf0.1":
            for planes in (4, 6, 8):
                record(
                    sf,
                    "lsh_bucketed",
                    {"planes": planes},
                    measure(lsh_topk_from(e, planes), exact),
                )
                record(
                    sf,
                    "sq8_adc",
                    {"planes": planes},
                    measure(sq8_adc_from(e, planes), exact),
                )
            for probe in (1, 2, 3, 4, 8):
                record(
                    sf,
                    "ivf_topk",
                    {"cells": N_CELLS, "probe": probe},
                    measure(ivf_topk_from(e, N_CELLS, probe), exact),
                )
            for cells in (8, 32):
                record(
                    sf,
                    "ivf_topk",
                    {"cells": cells, "probe": N_PROBE},
                    measure(ivf_topk_from(e, cells, N_PROBE), exact),
                )
            for probe in (1, 3, 8):
                record(
                    sf,
                    "ivfadc",
                    {"cells": N_CELLS, "probe": probe},
                    measure(ivfadc_topk_from(e, N_CELLS, probe), exact),
                )
            for tables in (2, 4, 8):
                record(
                    sf,
                    "lsh_multitable",
                    {"tables": tables, "planes": N_PLANES},
                    measure(
                        lsh_multitable_topk_from(e, tables), exact
                    ),
                )
            for rc in (10, 25, 50):
                record(
                    sf,
                    "two_stage_rerank",
                    {"planes": N_PLANES, "rerank_c": rc},
                    measure(two_stage_rerank_from(e, rc), exact),
                )
        e.unpersist()

    # ---- 10x rung: registered vs corpus-scaled parameters --------
    rung = expand_perturbed(
        load_table(spark, "/root/testdata/sf0.1", "embeddings").select(
            "vec_id", "embedding"
        )
    ).cache()
    n = rung.count()
    corpus = f"sf0.1 x {COPIES} ({n} vectors)"
    exact = top_map(brute_topk_from(rung).collect())
    # registered parameters, 10x the corpus they were sized for
    record(
        corpus,
        "lsh_bucketed",
        {"planes": N_PLANES},
        measure(lsh_topk_from(rung), exact),
    )
    record(
        corpus,
        "lsh_multitable",
        {"tables": N_TABLES, "planes": N_PLANES},
        measure(lsh_multitable_topk_from(rung), exact),
    )
    record(
        corpus,
        "ivf_topk",
        {"cells": N_CELLS, "probe": N_PROBE},
        measure(ivf_topk_from(rung), exact),
    )
    record(
        corpus,
        "sq8_adc",
        {"planes": N_PLANES},
        measure(sq8_adc_from(rung), exact),
    )
    record(
        corpus,
        "pq_adc",
        {"planes": N_PLANES},
        measure(pq_adc_from(rung), exact),
    )
    record(
        corpus,
        "ivfadc",
        {"cells": N_CELLS, "probe": N_PROBE},
        measure(ivfadc_topk_from(rung), exact),
    )
    record(
        corpus,
        "ivfadc_rerank",
        {"cells": N_CELLS, "probe": N_PROBE, "rerank_c": RERANK_C},
        measure(ivfadc_rerank_from(rung), exact),
    )
    record(
        corpus,
        "mrl_rerank",
        {
            "dims": MRL_DIM,
            "cells": N_CELLS,
            "probe": N_PROBE,
            "rerank_c": RERANK_C,
        },
        measure(mrl_rerank_from(rung), exact),
    )
    record(
        corpus,
        "two_stage_rerank",
        {"planes": N_PLANES, "rerank_c": RERANK_C},
        measure(two_stage_rerank_from(rung), exact),
    )
    # parameters scaled with the corpus per the documented rules:
    # planes ~ log2(n / occupancy), cells ~ sqrt(n), probe and
    # rerank_c grow with cells to hold the per-query candidate
    # budget roughly constant as a FRACTION of the corpus shrinks
    record(
        corpus,
        "lsh_bucketed",
        {"planes": 8},
        measure(lsh_topk_from(rung, 8), exact),
    )
    record(
        corpus,
        "lsh_multitable",
        {"tables": 8, "planes": 8},
        measure(lsh_multitable_topk_from(rung, 8, 8), exact),
    )
    record(
        corpus,
        "ivf_topk",
        {"cells": 64, "probe": 8},
        measure(ivf_topk_from(rung, 64, 8), exact),
    )
    record(
        corpus,
        "ivfadc",
        {"cells": 64, "probe": 8},
        measure(ivfadc_topk_from(rung, 64, 8), exact),
    )
    record(
        corpus,
        "ivfadc_rerank",
        {"cells": 64, "probe": 8, "rerank_c": RERANK_C},
        measure(ivfadc_rerank_from(rung, RERANK_C, 64, 8), exact),
    )
    record(
        corpus,
        "sq8_adc",
        {"planes": 8},
        measure(sq8_adc_from(rung, 8), exact),
    )
    record(
        corpus,
        "two_stage_rerank",
        {"planes": 8, "rerank_c": 50},
        measure(two_stage_rerank_from(rung, 50, 8), exact),
    )
    rung.unpersist()

    artifact = {
        "topk": TOPK,
        "recall_def": "pooled |approx ∩ exact| / |exact| over all "
        "queries; exact = brute-force cosine top-k, ties cos DESC "
        "n_id ASC on both sides",
        "rung": {"copies": COPIES, "noise": NOISE},
        "measurements": results,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"wrote {out_path} ({len(results)} measurements)")


if __name__ == "__main__":
    main()
