#!/usr/bin/env python
"""Stage-break of the containment ensemble on the adversarial
(marginal-mix / collided-suffix) corpus — VERDICT r10 #6.

DEDUP_LADDER_r10 measured `containment_ensemble` at 224.6 s on the
100k-doc marginal-mix corpus vs its exact twin's 93.7 s, while on
the bounded certification geometry at 1M docs the ensemble BEATS
exact (55.2 vs 68.1 s).  This script times each stage of the
prefix-filter pipeline on that adversarial geometry and counts the
rows each stage emits, so the blowup is attributable to a specific
stage (probe volume? posting volume? collision rows before the
ppjoin positional filter? the distinct? the verify join?).

Method: cumulative-timing protocol of ann_recall_scale — each stage
is materialized as its own action on the shared cached shingle
relation, so per-stage deltas are subtractive and the recorded
`cum_sec` values are ground truth.  The exact twin's single stage
(shingle self-join + group) is timed on the same corpus for the
denominator.

Writes rows into $DEDUP_LADDER_OUT (default DEDUP_LADDER_r11.json)
under family `containment_ensemble_stageprof_marginal_mix`.

Usage: python scripts/ensemble_stage_profile.py [copies]  (default 20)
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

from pyspark.sql import functions as F

from db_mapreduce_project_spark.io import load_table
from db_mapreduce_project_spark.operators.dedup import (
    CONTAIN_THRESHOLD,
    _capped_shingle_hashes,
    _oriented_containment,
    _verify_overlap,
    containment_pairs_from,
    ensemble_candidate_parts,
)
from db_mapreduce_project_spark.session import get_spark
from scripts.dedup_ladder_scale import (
    SF_DIR,
    _merge_dump,
    expand_families,
)


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark("ensemble-stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    scratch = tempfile.mkdtemp(prefix=f"ens_prof_{copies}x_")
    expand_families(base, copies, marginal=True).repartition(
        32
    ).write.mode("overwrite").parquet(
        os.path.join(scratch, "documents.parquet")
    )
    docs = spark.read.parquet(os.path.join(scratch, "documents.parquet"))
    n_docs = docs.count()
    print(f"== marginal corpus: {n_docs} docs", flush=True)

    stages: dict[str, dict] = {}

    def stage(name: str, df) -> None:
        t0 = time.perf_counter()
        n = df.count()
        stages[name] = {
            "rows": n,
            "cum_sec": round(time.perf_counter() - t0, 2),
        }
        print(f"   {name}: {stages[name]}", flush=True)

    t_all0 = time.perf_counter()
    sh = _capped_shingle_hashes(docs).cache()
    stage("shingles_cached", sh)
    probes, postings, ranked = ensemble_candidate_parts(sh)
    stage("ranked_cached", ranked)
    stage("probes", probes)
    stage("postings", postings)

    t = CONTAIN_THRESHOLD
    orientation = (F.col("p_n") < F.col("s_n")) | (
        (F.col("p_n") == F.col("s_n"))
        & (F.col("p_doc") < F.col("s_doc"))
    )
    positional = F.col("s_rk") <= F.col("s_n") - F.ceil(
        F.lit(t) * F.col("p_n")
    ) + 1
    joined = probes.join(postings, ["q_stratum", "h1", "h2"])
    stage("collisions_oriented", joined.where(orientation))
    stage(
        "collisions_after_positional",
        joined.where(orientation & positional),
    )
    cand = (
        joined.where(orientation & positional)
        .select(
            F.least("p_doc", "s_doc").alias("doc_a"),
            F.greatest("p_doc", "s_doc").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    stage("candidates_distinct", cand)
    stage(
        "verified",
        _oriented_containment(_verify_overlap(cand, sh, "doc_a", "doc_b")),
    )
    total_sec = round(time.perf_counter() - t_all0, 2)
    ranked.unpersist()
    sh.unpersist()

    t0 = time.perf_counter()
    n_exact = containment_pairs_from(docs).count()
    exact_sec = round(time.perf_counter() - t0, 2)
    print(f"   exact twin: {n_exact} rows in {exact_sec}s", flush=True)

    row = {
        "family": "containment_ensemble_stageprof_marginal_mix",
        "copies": copies,
        "docs": n_docs,
        "stages": stages,
        "total_sec": total_sec,
        "exact_twin_sec": exact_sec,
        "exact_rows": n_exact,
        "note": "cumulative per-stage actions over the cached "
        "shingle relation; collisions_oriented vs "
        "collisions_after_positional isolates the ppjoin filter's "
        "cut; candidates_distinct vs collisions isolates the "
        "distinct's reduction",
        "sf": SF_DIR,
    }
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        os.environ.get("DEDUP_LADDER_OUT", "DEDUP_LADDER_r11.json"),
    )
    _merge_dump([row], out_path)
    print(json.dumps(row, indent=1), flush=True)
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
