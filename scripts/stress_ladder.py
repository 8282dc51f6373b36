#!/usr/bin/env python
"""1x/10x/100x scaling ladder for the three scale-risk dedup
families (round-5 verdict item): full MinHash+LSH verified pairs,
large-star connected components, and exact vs banded directional
containment.

The corpus expands by unioning key-shifted copies (same mechanism
as stress_scale.py), so at `copies=c` every original document has
c exact near-duplicates: per-doc stages (shingles, signatures,
banding) scale linearly in c, while the PAIR OUTPUT of every
near-dup family is C(c,2)/c2-quadratic BY CONSTRUCTION of this
stress corpus — each rung therefore records the output row count
alongside wall time so output-bound cost is separable from
overhead.  (Real corpora have bounded duplicate-cluster sizes;
there the same pipelines are linear in corpus x cluster size.)

Default base fixture is sf0.01 (500 docs), so the 100x rung
(50 000 docs) matches the sf0.1 x 10 workload of stress_scale.py —
the two ladders share a rung for cross-calibration.

Usage: python scripts/stress_ladder.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from db_mapreduce_project_spark.io import load_table
from db_mapreduce_project_spark.operators.dedup import (
    clusters_from,
    containment_pairs_bottomk_from,
    containment_pairs_ensemble_from,
    containment_pairs_from,
    containment_pairs_lsh_from,
    jaccard_pairs_from,
    minhash_pairs_from,
)
from db_mapreduce_project_spark.operators.lm import (
    kn3_worst_from,
    kn_worst_from,
)
from db_mapreduce_project_spark.operators.curation import (
    _doc_segments,
    dsir_importance_weights_from,
    line_dedup_from,
)
from db_mapreduce_project_spark.operators.sketches import (
    bloom_from,
    kmv_from,
)
from db_mapreduce_project_spark.session import get_spark
from scripts.stress_scale import expand

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

FAMILIES = {
    "minhash_lsh_pairs": minhash_pairs_from,
    "jaccard_pairs_exact": jaccard_pairs_from,
    "largestar_cc": clusters_from,
    "containment_exact": containment_pairs_from,
    "containment_lsh": containment_pairs_lsh_from,
    "containment_bottomk": containment_pairs_bottomk_from,
    "containment_ensemble": containment_pairs_ensemble_from,
    # round-7 additions: held-out KN scoring + corpus sketches
    # (key-shift keeps doc_id parity, so the KN train/eval split
    # stays balanced at every rung)
    "kn_heldout": kn_worst_from,
    "kn3_heldout": kn3_worst_from,
    "sketch_kmv": kmv_from,
    "sketch_bloom": bloom_from,
    # round-7 late additions: C4 span dedup (the key-shifted copies
    # make EVERY span a corpus-wide duplicate — the worst-case hot
    # span geometry; the global footer key alone folds docs-many
    # occurrences through one combiner cell) and DSIR scoring (the
    # bucket-weight table stays <= 4096 rows at every rung)
    "line_dedup": lambda docs: line_dedup_from(_doc_segments(docs)),
    "dsir_weights": dsir_importance_weights_from,
}


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    # optional overrides for big single rungs (e.g. the 500k-doc
    # runs at sf0.1 x 100): comma-separated family and copies lists
    fams = os.environ.get("SPARK_GRAFT_LADDER_FAMILIES")
    families = (
        {k: FAMILIES[k] for k in fams.split(",")} if fams else FAMILIES
    )
    rungs = tuple(
        int(c)
        for c in os.environ.get("SPARK_GRAFT_LADDER_COPIES", "1,10,100").split(",")
    )
    spark = get_spark("stress_ladder")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    n_base = base.count()

    # warm-up absorbs JVM/session startup + parquet footer reads so
    # the 1x rung measures the operator, not process boot
    jaccard_pairs_from(base).count()
    spark.catalog.clearCache()

    records = []
    import shutil
    import tempfile

    for copies in rungs:
        # Round-8 harness fix (verdict item 6): MATERIALIZE the
        # expanded corpus to parquet before timing.  The old 100-way
        # union fixture put ~100 scan branches into every measured
        # plan, so cheap operators (DSIR's two passes) measured the
        # fixture constructor, not the operator — the 50k rung read
        # union-overhead-bound at 23.1 s vs 24.2 s at 500k.  A real
        # on-disk table also gives multiple row groups, so the scan
        # parallelizes like a production input.
        scratch = None
        if copies == 1:
            docs = base
        else:
            scratch = tempfile.mkdtemp(prefix=f"ladder_{copies}x_")
            expand(base, ["doc_id"], copies).write.mode("overwrite").parquet(
                os.path.join(scratch, "documents.parquet")
            )
            docs = spark.read.parquet(
                os.path.join(scratch, "documents.parquet")
            )
        for fam, fn in families.items():
            t0 = time.perf_counter()
            n = fn(docs).count()
            sec = round(time.perf_counter() - t0, 2)
            rec = {
                "family": fam,
                "copies": copies,
                "docs": n_base * copies,
                "sec": sec,
                "out_rows": n,
                "sf": SF_DIR,
            }
            records.append(rec)
            print(json.dumps(rec), flush=True)
            spark.catalog.clearCache()
        if scratch:
            shutil.rmtree(scratch, ignore_errors=True)
    if out_path:
        json.dump(records, open(out_path, "w"), indent=1)


if __name__ == "__main__":
    main()
