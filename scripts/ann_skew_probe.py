#!/usr/bin/env python
"""Skewed-distribution certification for the IVF coarse quantizer
(round 12): every prior rung used a near-uniform mix of 2000 clone
families, so cell occupancy was balanced under ANY quantizer — but
VERDICT r11 #1's stated worry was the opposite geometry: "a skewed
real embedding distribution could unbalance cells in ways the
clone fixture cannot show."  This probe builds that geometry and
measures what training actually buys.

Rung (deterministic, ~200k vectors):
  * HOT region: 150,000 vectors around ONE base direction
    (vec_id 0's embedding) with noise 0.2 — large enough that the
    vectors are genuinely distinct (sign patterns diverse, so no
    budget-cap pathology; near-duplicate pileups are dedup's job,
    not the index's), small enough that they form one dense region;
  * COLD remainder: the standard expand geometry over the other
    1999 identities (25 copies, noise 0.02).

Measured for the binary Hamming serving path under
(a) the deterministic lowest-vec_id quantizer and (b)
train_ivf_centroids, at derive_n_cells(n) cells:
  * per-cell occupancy (max/mean/p99/empty) — the r11 worry made
    quantitative;
  * scored Hamming candidate rows (the probe-cost the occupancy
    drives: per-query scan ~ sum of probed cell sizes);
  * recall/worst vs exact float64 ground truth, and wall.

Writes $ANN_SKEW_OUT (default ANN_SKEW_r12.json).
Usage: python scripts/ann_skew_probe.py [hot_copies [cold_copies]]
       (default: 150000 25, the ~200k-vector rung above; e.g.
       `2000 2` builds a ~6k-vector smoke rung)
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
    RERANK_MARGIN,
    TOPK,
    binary_hamming_cands_from,
    derive_n_cells,
    ivf_assign,
    ivf_centroids,
    train_ivf_centroids,
)
from db_mapreduce_project_spark.functions.vectors import l2
from db_mapreduce_project_spark.session import get_spark
from scripts.ann_recall import measure
from scripts.ann_recall_scale import exact_truth_numpy

HOT_COPIES = 150_000
COLD_COPIES = 25
HOT_NOISE = 0.2
COLD_NOISE = 0.02


def rung_args(argv: list[str]) -> tuple[int, int]:
    """(hot_copies, cold_copies) from `[hot_copies [cold_copies]]`
    command-line arguments; the defaults are the certified rung."""
    hot = int(argv[0]) if argv else HOT_COPIES
    cold = int(argv[1]) if len(argv) > 1 else COLD_COPIES
    return hot, cold


def build_skewed(base, hot_copies: int, cold_copies: int):
    """Deterministic skewed rung: `hot_copies` perturbations of
    vec_id 0's embedding + `cold_copies` perturbed copies of every
    other identity.  Ids follow the ladder convention (vec_id*2 +
    copy*1e8 + parity) so query thinning works unchanged."""
    hot_src = base.where(F.col("vec_id") == 0)
    hot = (
        hot_src.select(
            "vec_id",
            F.transform("embedding", lambda v: v.cast("double")).alias(
                "embedding"
            ),
            F.explode(
                F.sequence(F.lit(0), F.lit(hot_copies - 1))
            ).alias("copy"),
        )
        .withColumn(
            "vec_id",
            F.col("copy").cast("long") * 2
            + F.lit(1_000_000_000)
            + F.when(F.col("copy") % 10 == 0, F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda v, j: v
                + F.lit(HOT_NOISE)
                * F.sin(
                    F.col("vec_id") * F.lit(0.7)
                    + j.cast("double") * F.lit(1.3)
                ),
            ).alias("embedding"),
        )
    )
    cold = (
        base.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.transform("embedding", lambda v: v.cast("double")).alias(
                "embedding"
            ),
            F.explode(
                F.sequence(F.lit(0), F.lit(cold_copies - 1))
            ).alias("copy"),
        )
        .withColumn(
            "vec_id",
            F.col("vec_id") * 2
            + F.col("copy").cast("long") * F.lit(100_000_000)
            + F.when(F.col("copy") % 10 == 0, F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
        .select(
            "vec_id",
            F.when(F.col("copy") == 0, F.col("embedding"))
            .otherwise(
                F.transform(
                    "embedding",
                    lambda v, j: v
                    + F.lit(COLD_NOISE)
                    * F.sin(
                        F.col("vec_id") * F.lit(0.7)
                        + j.cast("double") * F.lit(1.3)
                    ),
                )
            )
            .alias("embedding"),
        )
    )
    return hot.unionByName(cold)


def main() -> None:
    hot_copies, cold_copies = rung_args(sys.argv[1:])
    spark = get_spark("ann-skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, "/root/testdata/sf0.1", "embeddings").select(
        "vec_id", "embedding"
    )
    scratch = tempfile.mkdtemp(prefix="ann_skew_")
    skewed = build_skewed(base, hot_copies, cold_copies)
    skewed.repartition(32).write.mode("overwrite").parquet(
        os.path.join(scratch, "e.parquet")
    )
    rung = spark.read.parquet(os.path.join(scratch, "e.parquet"))
    n = rung.count()
    cells = derive_n_cells(n)
    probe = 8
    print(f"== skewed rung: {n} vectors, {cells} cells", flush=True)

    t0 = time.perf_counter()
    pdf = rung.toPandas()
    ids = pdf["vec_id"].to_numpy()
    vecs = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
    del pdf
    exact = exact_truth_numpy(ids, vecs)
    del ids, vecs
    print(
        f"   truth: {len(exact)} queries in "
        f"{round(time.perf_counter() - t0, 2)}s",
        flush=True,
    )

    en = rung.select("vec_id", "embedding", l2("embedding").alias("norm"))
    out = {
        "rung": f"hot {hot_copies} @ noise {HOT_NOISE} around one "
        f"direction + cold {cold_copies}x1999 @ {COLD_NOISE} "
        f"({n} vectors)",
        "cells": cells,
        "probe": probe,
        "margin": RERANK_MARGIN,
        "topk": TOPK,
        "configs": {},
    }
    for tag in ("untrained_lowest_vec_id", "trained_kmeans"):
        cents = (
            train_ivf_centroids(rung, cells)
            if tag == "trained_kmeans"
            else ivf_centroids(en, cells)
        )
        occ = (
            ivf_assign(en, cents)
            .groupBy("cell")
            .count()
            .agg(
                F.max("count").alias("mx"),
                F.expr("CAST(avg(count) AS DOUBLE)").alias("mean"),
                F.expr(
                    "CAST(approx_percentile(count, 0.99) AS LONG)"
                ).alias("p99"),
                F.count("*").alias("used"),
            )
            .collect()[0]
        )
        cands = binary_hamming_cands_from(
            rung,
            n_cells=cells,
            n_probe=probe,
            margin=RERANK_MARGIN,
            cents=cents,
        )
        got = measure(exact_rerank_tail(rung, cands), exact)
        row = {
            "occupancy": {
                "max_cell": int(occ["mx"]),
                "mean_cell": round(float(occ["mean"]), 1),
                "p99_cell": int(occ["p99"]),
                "cells_used": int(occ["used"]),
                "cells_empty": int(cells - occ["used"]),
            },
            **got,
        }
        out["configs"][tag] = row
        print(tag, json.dumps(row), flush=True)
    shutil.rmtree(scratch, ignore_errors=True)

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        os.environ.get("ANN_SKEW_OUT", "ANN_SKEW_r12.json"),
    )
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
