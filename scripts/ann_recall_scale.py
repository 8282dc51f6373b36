#!/usr/bin/env python
"""Corpus-scale recall + per-stage latency certification for the
ANN serving paths (round-8 verdict #1 and #3): rungs of 100k, 500k
and 1M vectors, the two production shapes broken down by stage so a
user can pick a serving config from data.

Method:
  * rung corpus = sf0.1 embeddings (2000 x 64) expanded `copies`x
    by EXPLODE (one scan — the 100-way-union lesson from the DSIR
    ladder) with the same deterministic per-copy sin perturbation
    as scripts/ann_recall.py, MATERIALIZED to scratch parquet so
    the timed plans read a real on-disk table;
  * ground truth = exact cosine top-TOPK per query, computed
    driver-side with chunked FLOAT64 BLAS over the COLLECTED rung
    (harness-only; float64 throughout per the round-8 ADVICE — on
    clone-heavy rungs perturbed-copy cosines differ near float32
    resolution, so float32 truth could mis-rank exactly at the
    top-k tie cut the engine's float64 scoring resolves);
  * measured paths: IVF, IVFADC (raw ADC — the documented collapse),
    IVFADC+rerank at fixed cuts (the failure-mode sweep), IVFADC+
    ADAPTIVE rerank (rerank_c=None — the registered serving form,
    budget from the PQ-code collision histogram), MRL+rerank; each
    records recall@TOPK, worst-query recall, wall time, and the
    analytic serving-state bytes of the quantized index;
  * per-stage latency for the two production shapes
    (ivfadc_rerank_adaptive, mrl_rerank): cumulative wall of the
    coarse/scored stage and the candidate cut (each timed as its
    own action on the SAME exposed subplan the pipeline runs —
    *_cands_from), plus the full pipeline; derived per-stage deltas
    are subtractive (no caching, so each action re-runs upstream —
    deltas carry that variance and the cumulatives are the ground
    truth).

Writes/merges into $ANN_RECALL_OUT (default ANN_RECALL_r12.json).
$ANN_PATHS=path1,path2 restricts which paths a rung measures.

Round-11 geometry (VERDICT r10 #2): cells are data-derived via
similarity.derive_n_cells (power of two nearest sqrt(n)) instead of
the round-10 flat 256-cap, so the margin-6 budget is re-certified
under scaled per-cell occupancy: 100k -> 256, 500k -> 512,
1M -> 1024 cells.

Round-12 additions (VERDICT r11 #1/#2):
  * binary_hamming_rerank_trained / ivfadc_rerank_adaptive_trained —
    the serving paths under a TRAINED coarse quantizer
    (train_ivf_centroids: spherical k-means++ on a bounded sample),
    each rung recording the per-cell occupancy histogram
    (max/mean/p99/empty) alongside recall — the cluster-tier
    configuration SCALE.md's design notes name;
  * mrl_rerank_adaptive — the MRL serving form under the
    truncated-sign-word collision budget (closing the fixed cut's
    worst_query_recall 0.0 at 500k/1M).

Usage: python scripts/ann_recall_scale.py [copies ...]
       (default rungs: 50, 250, 500 -> 100k, 500k, 1M vectors)
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

from pyspark.sql import Window

from db_mapreduce_project_spark.io import load_table
from db_mapreduce_project_spark.operators.retrieval import (
    DELTA_MOD,
    DELTA_REM,
    MRL_DIM,
    exact_rerank_tail,
    ivfadc_rerank_cands_from,
    ivfadc_rerank_from,
    mrl_cands_from,
    mrl_rerank_from,
)
from db_mapreduce_project_spark.operators.similarity import (
    PQ_M,
    RERANK_C_CAP,
    RERANK_MARGIN,
    TOPK,
    QUERY_MOD,
    binary_hamming_cands_from,
    derive_n_cells,
    ivf_topk_from,
    ivfadc_collision_budget,
    ivfadc_index,
    ivfadc_index_trained_on,
    ivfadc_scored_from,
    ivfadc_scored_from_index,
    ivfadc_topk_from,
)
from db_mapreduce_project_spark.session import get_spark
from scripts.ann_recall import measure, top_map

NOISE = 0.02
RERANK_C_SCALE = 50


def expand_perturbed_explode(
    e, copies: int, noise: float = NOISE, query_copy_mod: int = 10
):
    """Same clone-family geometry as ann_recall.expand_perturbed
    (key-shifted copies, deterministic sin perturbation, copy 0
    untouched) built with ONE explode instead of a copies-way
    union, so the expansion is a single linear pass.

    Query thinning: the engine paths select queries by
    vec_id % QUERY_MOD == 0, and at 500k+ vectors the query side of
    every path scales as queries x corpus/cells — so the rung
    relabels ids to vec_id*2 + copy*1e8, +1 on copies NOT divisible
    by `query_copy_mod`.  Odd ids never qualify, so only 1-in-
    `query_copy_mod` copies contribute queries (80 base identities
    each — diverse), all ids stay collision-free, and the corpus
    geometry is untouched."""
    return (
        e.select(
            "vec_id",
            F.transform("embedding", lambda v: v.cast("double")).alias(
                "embedding"
            ),
            F.explode(
                F.sequence(F.lit(0), F.lit(copies - 1))
            ).alias("copy"),
        )
        .withColumn(
            "vec_id",
            F.col("vec_id") * 2
            + F.col("copy").cast("long") * F.lit(100_000_000)
            + F.when(
                F.col("copy") % query_copy_mod == 0, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .select(
            "vec_id",
            F.when(F.col("copy") == 0, F.col("embedding"))
            .otherwise(
                F.transform(
                    "embedding",
                    lambda v, j: v
                    + F.lit(noise)
                    * F.sin(
                        F.col("vec_id") * F.lit(0.7)
                        + j.cast("double") * F.lit(1.3)
                    ),
                )
            )
            .alias("embedding"),
        )
    )


def exact_truth_numpy(
    ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray | None = None
) -> dict:
    """Exact cosine top-TOPK for every query (vec_id % QUERY_MOD
    == 0), ties cos DESC then n_id ASC — the brute_topk_from
    contract, computed with chunked float64 BLAS (tie-stable
    against the engine's float64 scoring, round-8 ADVICE).
    `labels` (optional, aligned with ids) restricts each query's
    candidates to its own label — the filtered ground truth."""
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0] = 1.0
    unit = vecs / norms[:, None]  # float64 throughout
    q_pos = np.nonzero(ids % QUERY_MOD == 0)[0]
    truth: dict[int, set[int]] = {}
    chunk = 256
    take = TOPK + 8  # headroom for the tie-sort
    for s in range(0, len(q_pos), chunk):
        pos = q_pos[s : s + chunk]
        scores = unit[pos] @ unit.T  # (chunk, n) float64
        scores[np.arange(len(pos)), pos] = -np.inf  # exclude self
        if labels is not None:
            scores[labels[pos][:, None] != labels[None, :]] = -np.inf
        part = np.argpartition(-scores, take, axis=1)[:, :take]
        for r, p in enumerate(pos):
            cand = part[r]
            # exact tie-break: cos DESC, n_id ASC
            order = sorted(
                cand, key=lambda c: (-float(scores[r, c]), int(ids[c]))
            )[:TOPK]
            truth[int(ids[p])] = {int(ids[c]) for c in order}
    return truth


def timed_count(df) -> tuple[int, float]:
    t0 = time.perf_counter()
    n = df.count()
    return n, round(time.perf_counter() - t0, 2)


def main() -> None:
    rungs = [int(a) for a in sys.argv[1:]] or [50, 250, 500]
    spark = get_spark("ann-recall-scale")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, "/root/testdata/sf0.1", "embeddings").select(
        "vec_id", "embedding"
    )
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        os.environ.get("ANN_RECALL_OUT", "ANN_RECALL_r12.json"),
    )
    # ANN_PATHS=path1,path2 restricts which paths a rung measures —
    # the expensive scaled-cells rungs (500k/1M at 512/1024 cells)
    # only need the serving-decision paths, not the failure-mode
    # sweep already documented at 100k
    sel = {
        p for p in os.environ.get("ANN_PATHS", "").split(",") if p
    }

    def want(path: str) -> bool:
        return not sel or path in sel

    results: list[dict] = []

    for copies in rungs:
        scratch = tempfile.mkdtemp(prefix=f"ann_rung_{copies}x_")
        t0 = time.perf_counter()
        # repartition(32): the explode of the single-row-group base
        # yields ~1 input split; without this every downstream stage
        # runs ~13-wide instead of using all 32 cores
        expand_perturbed_explode(base, copies).repartition(32).write.mode(
            "overwrite"
        ).parquet(os.path.join(scratch, "embeddings.parquet"))
        rung = spark.read.parquet(
            os.path.join(scratch, "embeddings.parquet")
        )
        n = rung.count()
        build_sec = round(time.perf_counter() - t0, 2)
        corpus = f"sf0.1 x {copies} ({n} vectors)"
        print(f"== rung {corpus}, fixture build {build_sec}s", flush=True)

        t0 = time.perf_counter()
        pdf = rung.toPandas()
        ids = pdf["vec_id"].to_numpy()
        vecs = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
        del pdf
        exact = exact_truth_numpy(ids, vecs)
        exact_filtered = None
        if copies == 50:
            # verdict-#7 rung: same-label ground truth for the
            # filtered quantized path (label = base identity mod 4,
            # so clone families share their base's label)
            labels = ((ids % 100_000_000) // 2) % 4
            exact_filtered = exact_truth_numpy(ids, vecs, labels)
        del ids, vecs
        truth_sec = round(time.perf_counter() - t0, 2)
        print(
            f"   ground truth: {len(exact)} queries in {truth_sec}s",
            flush=True,
        )

        # parameters scaled with the corpus (round-11, VERDICT #2):
        # cells = power of two nearest sqrt(n) — 100k -> 256,
        # 500k -> 512, 1M -> 1024 — derived by the same rule the
        # serving budget uses.  The round-10 ladder capped cells at
        # 256 (assign cost), so probe work grew linearly with the
        # corpus and the margin-6 band edge was only ever measured
        # at one occupancy; this run re-certifies under the scaled
        # geometry.
        cells = derive_n_cells(n)
        probe = 8
        state = {
            "codes_bytes": n * PQ_M // 2,
            "norms_bytes": n * 8,
            "cell_assign_bytes": n * 4,
            "centroid_bytes": cells * 64 * 8,
        }

        def record(path, params, entry):
            row = {
                "corpus": corpus,
                "path": path,
                "params": params,
                **entry,
            }
            results.append(row)
            print(json.dumps(row), flush=True)

        if want("ivf_topk"):
            record(
                "ivf_topk",
                {"cells": cells, "probe": probe},
                measure(ivf_topk_from(rung, cells, probe), exact),
            )
        if want("ivfadc"):
            record(
                "ivfadc",
                {"cells": cells, "probe": probe, "state": state},
                measure(ivfadc_topk_from(rung, cells, probe), exact),
            )

        # the failure-mode sweep: a fixed cut below the clone-family
        # size collapses (ANN_RECALL_r8.json), and copies + TOPK
        # recovers — kept as the documentation of WHY the budget is
        # adaptive
        for rc in (RERANK_C_SCALE, copies + TOPK) if want(
            "ivfadc_rerank"
        ) else ():
            record(
                "ivfadc_rerank",
                {
                    "cells": cells,
                    "probe": probe,
                    "rerank_c": rc,
                    "state": state,
                },
                measure(
                    ivfadc_rerank_from(rung, rc, cells, probe),
                    exact,
                ),
            )

        # the registered serving form: budget from the PQ-code
        # collision histogram, NO hand-tuned c — with the per-stage
        # latency breakdown (verdict #3)
        if want("ivfadc_rerank_adaptive"):
            _, _, _, codes = ivfadc_index(rung, cells)
            c_budget = ivfadc_collision_budget(
                codes, RERANK_C_CAP, RERANK_MARGIN
            ).collect()[0]["c_budget"]
            n_scored, t_scored = timed_count(
                ivfadc_scored_from(rung, cells, probe)
            )
            n_cands, t_cut = timed_count(
                ivfadc_rerank_cands_from(rung, None, cells, probe)
            )
            full = measure(
                ivfadc_rerank_from(rung, None, cells, probe), exact
            )
            record(
                "ivfadc_rerank_adaptive",
                {
                    "cells": cells,
                    "probe": probe,
                    "rerank_c": "adaptive",
                    "margin": RERANK_MARGIN,
                    "c_budget": int(c_budget),
                    "state": state,
                },
                {
                    **full,
                    "stages": {
                        "coarse_adc_score": {
                            "cum_sec": t_scored,
                            "rows": n_scored,
                        },
                        "candidate_cut": {
                            "cum_sec": t_cut,
                            "rows": n_cands,
                            "delta_sec": round(t_cut - t_scored, 2),
                        },
                        "exact_rerank": {
                            "cum_sec": full["sec"],
                            "delta_sec": round(full["sec"] - t_cut, 2),
                        },
                    },
                },
            )

        if exact_filtered is not None and want(
            "ivfadc_filtered_rerank_adaptive"
        ):
            # the attribute-filtered quantized path: composite
            # (cell, label) lists + the SAME adaptive budget
            from db_mapreduce_project_spark.operators.retrieval import (
                ivfadc_filtered_rerank_from,
            )

            rung_lab = rung.select(
                "vec_id",
                "embedding",
                F.expr("((vec_id % 100000000) div 2) % 4").alias("label"),
            )
            record(
                "ivfadc_filtered_rerank_adaptive",
                {
                    "cells": cells,
                    "probe": probe,
                    "rerank_c": "adaptive",
                    "margin": RERANK_MARGIN,
                    "labels": 4,
                    "state": state,
                },
                measure(
                    ivfadc_filtered_rerank_from(rung_lab, cells, probe),
                    exact_filtered,
                ),
            )

        # the incremental-maintenance composition at corpus scale:
        # quantizers frozen on the base subset, ~18% of the rung
        # encoded as "today's delta" against them, adaptive budget
        # over the merged codes.  Recall should track the fully-
        # retrained adaptive form (the quantizer training rows
        # barely shift).
        def incremental_df():
            en, cents, cb, codes = ivfadc_index_trained_on(
                rung, F.col("vec_id") % DELTA_MOD != DELTA_REM, cells
            )
            wc = Window.partitionBy("q_id").orderBy(
                F.col("adc").desc(), F.col("n_id").asc()
            )
            ranked = ivfadc_scored_from_index(
                en, cents, cb, codes, probe
            ).withColumn("crk", F.row_number().over(wc))
            bud = ivfadc_collision_budget(
                codes, RERANK_C_CAP, RERANK_MARGIN
            )
            cands = (
                ranked.crossJoin(F.broadcast(bud))
                .where(F.col("crk") <= F.col("c_budget"))
                .select("q_id", "n_id")
            )
            return exact_rerank_tail(rung, cands)

        if want("ivfadc_incremental_delta"):
            record(
                "ivfadc_incremental_delta",
                {
                    "cells": cells,
                    "probe": probe,
                    "rerank_c": "adaptive",
                    "margin": RERANK_MARGIN,
                    "train_pred": f"vec_id % {DELTA_MOD} != {DELTA_REM}",
                    "state": state,
                },
                measure(incremental_df(), exact),
            )

        if want("mrl_rerank_adaptive"):
            # VERDICT r11 #2: the truncated-sign-word collision
            # budget (mrl_collision_budget).  The budget VALUE is
            # collected only at the smallest rung — a separate
            # collect re-runs the truncated Catalyst assign, which
            # at 1M/1024 cells is a third of the pipeline's own wall
            from db_mapreduce_project_spark.functions.vectors import l2
            from db_mapreduce_project_spark.operators.retrieval import (
                mrl_collision_budget,
            )
            from db_mapreduce_project_spark.operators.similarity import (
                ivf_assign,
                ivf_centroids,
            )

            params = {
                "dims": MRL_DIM,
                "cells": cells,
                "probe": probe,
                "rerank_c": "adaptive",
                "margin": RERANK_MARGIN,
            }
            if copies == 50:
                trunc = rung.select(
                    "vec_id",
                    F.slice("embedding", 1, MRL_DIM).alias("embedding"),
                ).select(
                    "vec_id", "embedding", l2("embedding").alias("norm")
                )
                assigned = ivf_assign(trunc, ivf_centroids(trunc, cells))
                params["c_budget"] = int(
                    mrl_collision_budget(assigned).collect()[0][
                        "c_budget"
                    ]
                )
            n_ac, t_ac = timed_count(
                mrl_cands_from(rung, None, cells, probe)
            )
            afull = measure(
                mrl_rerank_from(rung, None, cells, probe), exact
            )
            record(
                "mrl_rerank_adaptive",
                params,
                {
                    **afull,
                    "stages": {
                        "coarse_truncated_adaptive_cut": {
                            "cum_sec": t_ac,
                            "rows": n_ac,
                        },
                        "exact_rerank": {
                            "cum_sec": afull["sec"],
                            "delta_sec": round(afull["sec"] - t_ac, 2),
                        },
                    },
                },
            )

        # trained coarse quantizer (VERDICT r11 #1): k-means++
        # centroids from a bounded sample — the cluster-tier
        # configuration — with the per-cell occupancy histogram
        # recorded alongside recall
        trained_paths = [
            p
            for p in (
                "binary_hamming_rerank_trained",
                "ivfadc_rerank_adaptive_trained",
            )
            if want(p)
        ]
        if trained_paths:
            from db_mapreduce_project_spark.functions.vectors import l2
            from db_mapreduce_project_spark.operators.similarity import (
                ivf_assign,
                train_ivf_centroids,
            )

            t0 = time.perf_counter()
            cents = train_ivf_centroids(rung, cells)
            train_sec = round(time.perf_counter() - t0, 2)
            en = rung.select(
                "vec_id", "embedding", l2("embedding").alias("norm")
            )
            t0 = time.perf_counter()
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
            occupancy = {
                "max_cell": int(occ["mx"]),
                "mean_cell": round(float(occ["mean"]), 1),
                "p99_cell": int(occ["p99"]),
                "cells_used": int(occ["used"]),
                "cells_empty": int(cells - occ["used"]),
                "occupancy_sec": round(time.perf_counter() - t0, 2),
                "train_sec": train_sec,
            }
            print(f"   trained occupancy: {occupancy}", flush=True)

        if want("binary_hamming_rerank_trained"):
            record(
                "binary_hamming_rerank_trained",
                {
                    "cells": cells,
                    "probe": probe,
                    "rerank_c": "adaptive",
                    "margin": RERANK_MARGIN,
                    "quantizer": "train_ivf_centroids (spherical "
                    "k-means++, bounded sample) + ivf_assign",
                    "occupancy": occupancy,
                    "state": {
                        "sign_bytes": n * 8,
                        "cell_assign_bytes": n * 4,
                    },
                },
                measure(
                    exact_rerank_tail(
                        rung,
                        binary_hamming_cands_from(
                            rung,
                            n_cells=cells,
                            n_probe=probe,
                            margin=RERANK_MARGIN,
                            cents=cents,
                        ),
                    ),
                    exact,
                ),
            )

        if want("ivfadc_rerank_adaptive_trained"):
            record(
                "ivfadc_rerank_adaptive_trained",
                {
                    "cells": cells,
                    "probe": probe,
                    "rerank_c": "adaptive",
                    "margin": RERANK_MARGIN,
                    "quantizer": "train_ivf_centroids (spherical "
                    "k-means++, bounded sample) + ivf_assign",
                    "occupancy": occupancy,
                    "state": state,
                },
                measure(
                    ivfadc_rerank_from(
                        rung,
                        None,
                        cells,
                        probe,
                        cents=cents,
                    ),
                    exact,
                ),
            )

        if want("mrl_rerank"):
            n_mcands, t_mcands = timed_count(
                mrl_cands_from(rung, RERANK_C_SCALE, cells, probe)
            )
            mfull = measure(
                mrl_rerank_from(rung, RERANK_C_SCALE, cells, probe), exact
            )
            record(
                "mrl_rerank",
                {
                    "dims": MRL_DIM,
                    "cells": cells,
                    "probe": probe,
                    "rerank_c": RERANK_C_SCALE,
                },
                {
                    **mfull,
                    "stages": {
                        "coarse_truncated_topc": {
                            "cum_sec": t_mcands,
                            "rows": n_mcands,
                        },
                        "exact_rerank": {
                            "cum_sec": mfull["sec"],
                            "delta_sec": round(
                                mfull["sec"] - t_mcands, 2
                            ),
                        },
                    },
                },
            )

        # binary (1-bit sign) quantization + Hamming + rescore — the
        # smallest-state serving form (8 B/vector sign words + cell):
        # same IVF routing, collision-derived adaptive budget, exact
        # tail.  Round-10 addition (ann_binary_hamming_rerank).
        if want("binary_hamming_rerank"):
            record(
                "binary_hamming_rerank",
                {
                    "cells": cells,
                    "probe": probe,
                    "rerank_c": "adaptive",
                    "margin": RERANK_MARGIN,
                    "state": {
                        "sign_bytes": n * 8,
                        "cell_assign_bytes": n * 4,
                    },
                },
                measure(
                    exact_rerank_tail(
                        rung,
                        binary_hamming_cands_from(
                            rung,
                            n_cells=cells,
                            n_probe=probe,
                            margin=RERANK_MARGIN,
                        ),
                    ),
                    exact,
                ),
            )
        shutil.rmtree(scratch, ignore_errors=True)
        spark.catalog.clearCache()

    # merge with an existing artifact (re-runs extend, keyed by
    # corpus+path+params; a re-measured key replaces the old row)
    old: list[dict] = []
    if os.path.exists(out_path):
        try:
            old = json.load(open(out_path)).get("measurements", [])
        except (OSError, ValueError):
            old = []
    key = lambda r: (r["corpus"], r["path"], json.dumps(r["params"], sort_keys=True))  # noqa: E731
    merged = {key(r): r for r in old}
    merged.update({key(r): r for r in results})
    artifact = {
        "topk": TOPK,
        "recall_def": "pooled |approx ∩ exact| / |exact|; exact = "
        "brute-force cosine top-k (driver-side float64 BLAS over "
        "the collected rung), ties cos DESC n_id ASC",
        "noise": NOISE,
        "measurements": list(merged.values()),
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"wrote {out_path} ({len(merged)} measurements)")


if __name__ == "__main__":
    main()
