#!/usr/bin/env python
"""Benchmark driver: runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is fully materialized with the no-op sink (format
"noop") — real execution, no driver collect bottleneck, no disk
write skew.  One warm-up of a trivial query absorbs JVM/session
startup so timings measure the engine, not process boot.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from db_mapreduce_project_spark import registry
from db_mapreduce_project_spark.session import get_spark

# Headline suite: one representative per operator family, weighted
# toward the scale-relevant shapes (fact joins, window aggs, text
# pipeline, sketch-based dedup, vector search).
HEADLINE = [
    "wordcount",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "join_range",
    "rollup_sales",
    "window_moving_sum",
    "events_session",
    "json_extract_stats",
    "text_quality",
    "text_fingerprint",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_cosine_topk_bruteforce",
    "ann_lsh_bucketed",
    "ann_ivf_topk",
    "ann_sq8_adc",
    "dedup_embedding_cosine_bruteforce",
    "dedup_embedding_lsh",
    "multimodal_features",
    "q10_returned_items",
    "q7_volume_shipping",
    "q18_large_orders",
    "text_tfidf_top_terms",
    "doc_lm_quality_score",
    "events_user_totals",
    "join_asof",
    "sessionize_events",
    "q13_customer_distribution",
    "q9_product_profit",
    "doc_ngram_repetition",
    "doc_ngram_repetition_arrow",
    "timeseries_gapfill",
    "embedding_quantize_int8",
    "dedup_substring_spans",
    "heavy_hitters_users",
    "frequent_pairs_apriori",
    "pagerank_trade",
    "transit_inventory_sweepline",
    "range_join_bucketed_transit",
    "exact_median_twopass",
    "kmeans_embeddings",
    "user_value_ewma",
    "incremental_agg_merge",
    "dedup_clusters_largestar",
    "window_time_range_rolling",
    "training_shard_assignment",
    "dedup_incremental_delta",
    "text_bm25_topk",
    "ann_two_stage_rerank",
    "doc_char_entropy",
    "corpus_source_overlap",
    "tokenizer_vocab_coverage",
    "sample_reservoir_per_group",
    "dedup_containment",
    "dedup_containment_lsh",
    "dedup_containment_bottomk",
    "dedup_containment_ensemble",
    "multimodal_decode_png_stats",
    "multimodal_decode_wav_stats",
    "multimodal_decode_jpeg_stats",
    "ann_lsh_multitable",
    "ann_pq_adc",
    "ann_ivfadc_topk",
    "ann_ivfadc_rerank",
    "dedup_substring_maximal_spans",
    "dedup_materialize_corpus",
    "bpe_learn_merges",
    "wordpiece_learn_merges",
    "unigram_segment_words",
    "ohlc_bars",
    "time_weighted_avg_per_user",
    "doc_kn_perplexity",
    "doc_kn3_perplexity",
    "stream_sink_left_outer_join",
    "ann_ivf_filtered",
    "sketch_kmv_distinct",
    "sketch_cms_frequency",
    "sketch_bloom_decontaminate",
    # round-7 late additions
    "sketch_quantile_hist",
    "quality_gopher_rules",
    "quality_rep_lines",
    "text_redact_pii",
    "text_hybrid_rrf_topk",
    "text_html_extract",
    "curate_dsir_weights",
    "curate_line_dedup",
    "multimodal_phash_neardup",
    "multimodal_phash_hamming_pairs",
    "c4_pipeline_end_to_end",
    "ann_mrl_rerank",
    "stream_sink_quantile_hist",
    # round-8 additions
    "fuzzy_join_names",
    "sketch_tdigest_quantiles",
    "stream_sink_full_outer_join",
    "stream_sink_dedup_within_watermark",
    "fuzzy_jaro_winkler",
    "multimodal_decode_gif_stats",
    "multimodal_video_frame_stats",
    "multimodal_decode_flac_stats",
    "sql_defined_functions",
    "window_nulls_navigation",
    "approx_percentile_builtin",
    "dedup_keepers_by_quality",
    # round-9 additions (ann_ivfadc_rerank, already a headliner
    # above, became the adaptive-budget serving form)
    "multimodal_mp3_frame_stats",
    "ann_ivfadc_incremental_delta",  # add-after-train index maintenance
    # round-10 additions
    "ann_ivfadc_filtered_rerank",  # filtered quantized serving form
    "ann_ivfadc_incremental_upsert",  # tombstone deletes + compaction
    "multimodal_video_avi_mjpeg_stats",  # AVI/RIFF + MJPEG video
    "ann_binary_hamming_rerank",  # 1-bit sign index + Hamming + rescore
    # round-11 additions
    "dedup_minhash_lsh_j03",  # 32x2 banding preset (J>=0.3 regime)
    "dedup_minhash_lsh_j04",  # 16x2 banding preset (J>=0.41 regime)
    # round-12 additions
    "ann_mrl_rerank_adaptive",  # MRL with the sign-word collision budget
    # the three `_fast` names run their sibling's function (one
    # coarse assign); kept so round-over-round totals stay comparable
    "ann_binary_hamming_rerank_fast",
    "ann_ivfadc_rerank_fast",
    "ann_binary_hamming_rerank_trained",  # k-means++ cluster-tier config
    "ann_mrl_rerank_adaptive_fast",
    # round-13 additions
    "ann_ivfadc_rerank_trained",  # trained quantized serving form
    "ann_mrl_rerank_adaptive_trained",  # trained MRL SLA form
    "dedup_embedding_signword",  # verified SimHash embedding dedup
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- contention-robust retry protocol (round 12, VERDICT r11 #3) ---
# Two consecutive rounds of driver-bench inflation on untouched code
# (+8.6%, +18%) were attributed to host-level memory-bandwidth
# interference (BENCH_DRIFT_r11.json), but attribution is not
# comparability: the committed min-of-n must DEFEND itself.  A fixed
# effective-parallelism floor cannot be the trigger — healthy queries
# span jvm_cpu/wall 0.77 (bpe_learn_merges: vocab-sized driver loop)
# to 14.8 (frequent_pairs_apriori), and Python-heavy queries burn
# their CPU outside the JVM.  Instead a CANARY — a fixed pure-JVM
# probe (small range -> hash -> groupBy shuffle) measured min-of-3 at
# bench start — is the arbiter: its work never changes, so
# canary_now / canary_base > CANARY_BAND means the BOX is degraded,
# whatever any query's own profile looks like.
#
# Rule: a query whose n runs spread past RETRY_BAND (max/min) asks
# the canary; while the canary reads contended (and the retry budget
# lasts) the query gets extra runs, and the committed statistic stays
# the min over ALL runs.  Every 10th query also samples the canary
# into env.canary_series, so the artifact carries a contention
# timeline even when no query triggered.
RETRY_BAND = 1.6  # in-run max/min spread that triggers a canary check
# contended threshold for canary_now / canary_base: a single ~0.5 s
# probe carries ~2x intrinsic noise against a running-min base
# (measured: healthy same-box samples read 1.0-1.97 of the best-ever
# sample), while the membw failure mode degrades this machinery
# 3-7x (BENCH_DRIFT_r11) — 2.0 sits above the noise and well below
# the signal; each observation is itself a min-of-2 to cut the noise
CANARY_BAND = 2.0
MAX_EXTRA_RUNS = 2  # per-query retry budget under sustained contention
CANARY_EVERY = 10  # periodic canary sample cadence (queries)


def _canary_once(spark) -> float:
    """One canary observation: the MIN of two timed runs of the
    fixed probe (20M-row range -> xxhash64 -> 997-key groupBy,
    fully materialized).  Pure JVM (no Python workers, no input
    files), touches codegen, hash aggregation and a small shuffle —
    the machinery the membw probe degraded 3-7x while CPU-spin hogs
    left it flat.  Min-of-2 because a single ~0.5 s sample is too
    noisy to compare against a running-min baseline."""
    return min(_canary_raw(spark) for _ in range(2))


def _canary_raw(spark) -> float:
    """A single timed run of the canary probe."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    materialize(
        spark.range(20_000_000)
        .groupBy((F.col("id") % 997).alias("k"))
        # pmod before the sum: 20M raw 64-bit hashes overflow a
        # long sum under ANSI mode
        .agg(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_000))).alias("h")
        )
    )
    return time.perf_counter() - t0


def _jvm_cpu_sec(pid: int | None) -> float | None:
    """Cumulative CPU seconds (utime+stime) of the local-mode JVM
    from /proc/<pid>/stat.  Deltas around a query give its real
    compute cost independent of wall clock: if wall inflates while
    cpu stays flat, the box was contended (external steal), not the
    plan — the round-10 drift diagnostic."""
    if pid is None:
        return None
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            fields = f.read().rsplit(b")", 1)[1].split()
        hz = os.sysconf("SC_CLK_TCK")
        return (int(fields[11]) + int(fields[12])) / hz
    except (OSError, IndexError, ValueError):
        return None


def _loadavg1() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    registry.load_all_queries()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    load1_start = _loadavg1()

    # warm-up: JVM + parquet footer reads
    materialize(registry.QUERIES["wordcount"](spark, sf_dir))

    # round-11 drift instrumentation: the JVM's cumulative CPU time
    # (from /proc) and the 1-min loadavg are sampled around every
    # query, so a driver-run wall inflation is attributable from the
    # artifact alone — cpu/wall ≈ effective parallelism; flat cpu
    # with inflated wall = external CPU steal, not a plan change.
    try:
        jvm_pid: int | None = spark.sparkContext._gateway.proc.pid
    except AttributeError:
        jvm_pid = None

    n_iter = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))

    # canary baseline: min of 3 (the same statistic the queries
    # use), then a RUNNING minimum over every later observation —
    # the start-of-bench samples can be biased high (JIT tails,
    # residual pressure from whatever ran before), and a
    # too-high base would under-read contention ratios; a running
    # min only ever tightens the arbiter, never loosens it
    canary_base = min(_canary_once(spark) for _ in range(3))
    canary_series: list[dict] = []

    def canary_ratio_now() -> float:
        nonlocal canary_base
        c = _canary_once(spark)
        canary_base = min(canary_base, c)
        return round(c / canary_base, 2)

    timings: dict[str, float] = {}
    spreads: dict[str, dict[str, float]] = {}
    for qi, name in enumerate(HEADLINE):
        if qi % CANARY_EVERY == 0:
            canary_series.append(
                {
                    "after_query_idx": qi,
                    "ratio": canary_ratio_now(),
                    "load1": _loadavg1(),
                }
            )
        runs = []
        load_before = _loadavg1()
        cpu0 = _jvm_cpu_sec(jvm_pid)
        for _ in range(n_iter):
            t0 = time.perf_counter()
            materialize(registry.QUERIES[name](spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        cpu1 = _jvm_cpu_sec(jvm_pid)
        # contention-robust retries (see protocol block above): a
        # wide in-run spread asks the canary whether the BOX is
        # degraded; only a contended canary buys extra runs, so
        # plan-noise spreads (GC, AQE re-plans) don't inflate the
        # bench wall, and sustained interference can't freeze a
        # polluted min into the committed artifact.
        retries = 0
        canary_ratio = None
        retry_cpu = 0.0
        while (
            len(runs) < n_iter + MAX_EXTRA_RUNS
            and max(runs) / max(min(runs), 1e-9) > RETRY_BAND
        ):
            canary_ratio = canary_ratio_now()
            if canary_ratio <= CANARY_BAND:
                break  # box healthy: the spread is the query's own
            # CPU is re-sampled around EACH retry run so the
            # canary probes between runs don't count toward this
            # query's jvm_cpu_sec (round-12 ADVICE: cpu1 used to be
            # captured before the retry loop, understating cpu/wall
            # for exactly the retried — i.e. diagnostically
            # interesting — queries).
            rc0 = _jvm_cpu_sec(jvm_pid)
            t0 = time.perf_counter()
            materialize(registry.QUERIES[name](spark, sf_dir))
            runs.append(time.perf_counter() - t0)
            rc1 = _jvm_cpu_sec(jvm_pid)
            if rc0 is not None and rc1 is not None:
                retry_cpu += rc1 - rc0
            retries += 1
        # isolation BETWEEN queries: cached intermediates must not
        # crowd the block manager for later queries.  Repeats of the
        # SAME query stay warm on purpose.
        # SPARK_GRAFT_BENCH_NO_ISOLATION=1 reproduces the pre-round-4
        # methodology (no cross-query cache clearing) for A/B
        # comparisons: under it, a query whose subplan matches an
        # EARLIER query's cached frame silently reads that cache and
        # under-reports its true cost.
        if not os.environ.get("SPARK_GRAFT_BENCH_NO_ISOLATION"):
            spark.catalog.clearCache()
        runs.sort()
        # the committed per-query statistic is the MIN of the n runs
        # (round-8 protocol fix): the min is the run least polluted
        # by box drift/GC, so round-over-round comparisons measure
        # the code, not the machine.  median/max ride in `spread`.
        timings[name] = round(runs[0], 3)
        spreads[name] = {
            "median": round(runs[len(runs) // 2], 3),
            "max": round(runs[-1], 3),
        }
        if retries:
            spreads[name]["retries"] = retries
        if canary_ratio is not None:
            spreads[name]["canary_ratio"] = canary_ratio
        if cpu0 is not None and cpu1 is not None:
            # JVM CPU seconds across ALL n runs of this query (the
            # per-run split isn't observable without a listener);
            # compare against sum(runs) for effective parallelism
            spreads[name]["jvm_cpu_sec"] = round(
                cpu1 - cpu0 + retry_cpu, 2
            )
            spreads[name]["wall_sum"] = round(sum(runs), 2)
        if load_before is not None:
            spreads[name]["load1_before"] = load_before

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_suite_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "stat": "min",  # per-query value = min of n runs (round 8+)
        "n": n_iter,
        "sf": sf,
        # self-describing methodology stamp: a non-isolated (A/B) run
        # must be distinguishable from a proper BENCH_LOCAL artifact,
        # or it could silently be compared against isolated baselines
        "isolation": not os.environ.get("SPARK_GRAFT_BENCH_NO_ISOLATION"),
        # run-environment stamp (round-11 drift protocol): a bench
        # artifact is only comparable to another when these match
        "env": {
            "cpu_count": os.cpu_count(),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "load1_start": load1_start,
            "load1_end": _loadavg1(),
            # contention timeline (round-12 protocol): the fixed
            # canary probe's wall ratio vs its start-of-bench
            # baseline, sampled every CANARY_EVERY queries — ratios
            # near 1.0 certify the run as clean; a window of >1.5
            # marks the queries measured inside it as suspect even
            # if none individually triggered a retry
            "canary_base_sec": round(canary_base, 3),
            "canary_series": canary_series,
        },
    }
    # Self-archive the COMPLETE per-query artifact in-repo: the
    # driver's BENCH_r*.json captures only the tail of stdout, which
    # has truncated past ~2 KB — this file is the durable record.
    archive = os.environ.get(
        "SPARK_GRAFT_BENCH_ARCHIVE",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        ),
    )
    try:
        with open(archive, "w", encoding="utf-8") as f:
            json.dump(payload, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # archiving must never fail the bench
    print(json.dumps(payload))
    # The driver captures only the TAIL of stdout (~2 KB): the full
    # payload line above truncates mid-JSON once the registry passed
    # ~100 queries (BENCH_r12.json read parsed:null).  The FINAL
    # stdout line is therefore a compact, self-sufficient summary
    # that always survives tail capture; the complete per-query map
    # lives in the line above and in the BENCH_LOCAL.json archive.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:8]
    )
    print(
        json.dumps(
            {
                "metric": "headline_suite_total_runtime",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "stat": "min",
                "n": n_iter,
                "sf": sf,
                "queries": slowest,
                "queries_shown": "8 slowest",
                "queries_full_in": "BENCH_LOCAL.json",
            }
        )
    )


if __name__ == "__main__":
    main()
