"""Physical-plan discipline (SURVEY.md §4 + the 100 TB checklist):
broadcast joins stay broadcast, filters and column pruning reach
the parquet scan, shuffle counts don't silently regress, hot paths
stay inside WholeStageCodegen."""

import re

from db_mapreduce_project_spark import registry
from db_mapreduce_project_spark.plans.inspect import (
    count_exchanges,
    has_broadcast_join,
    has_sort_merge_join,
    has_wholestage_codegen,
    physical_plan,
    pushed_filters,
    read_schema_columns,
)

SF = "/root/testdata/sf0.01"


def test_dim_joins_are_broadcast(spark):
    df = registry.QUERIES["join_broadcast_dims"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_q5_broadcasts_dims(spark):
    df = registry.QUERIES["q5_regional_revenue"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_q1_filter_pushdown(spark):
    df = registry.QUERIES["q1_pricing_summary"](spark, SF)
    assert "l_shipdate" in pushed_filters(df)


def test_q1_column_pruning(spark):
    df = registry.QUERIES["q1_pricing_summary"](spark, SF)
    cols = read_schema_columns(df)
    # only the 7 referenced lineitem columns are read, not all 11
    assert set(cols) <= {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }


def test_wordcount_shuffle_budget(spark):
    """The flagship plan: ONE hash shuffle for the aggregate plus
    ONE range shuffle for the ordered sink — exactly the reference's
    merge+reduce structure, nothing more.  Tokenizing is one Arrow
    kernel (one MapInArrow node), not an explode (Generate) feeding
    per-token Catalyst expressions."""
    df = registry.QUERIES["wordcount"](spark, SF)
    assert count_exchanges(df) <= 2
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) MapInArrow\b", plan)) == 1
    assert not re.search(r"\(\d+\) Generate\b", plan)


def test_filter_project_stays_codegen(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.QUERIES["filter_project_math"](spark, SF)
        assert has_wholestage_codegen(df)
        assert "l_quantity" in pushed_filters(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_semi_join_no_fact_duplication(spark):
    df = registry.QUERIES["join_semi"](spark, SF)
    plan = physical_plan(df)
    assert "LeftSemi" in plan


def test_anti_join_plan(spark):
    df = registry.QUERIES["join_anti"](spark, SF)
    assert "LeftAnti" in physical_plan(df)


def test_q10_uses_takeordered_not_global_sort(spark):
    df = registry.QUERIES["q10_returned_items"](spark, SF)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_q3_pushes_both_date_filters(spark):
    df = registry.QUERIES["q3_shipping_priority"](spark, SF)
    pf = pushed_filters(df)
    assert "l_shipdate" in pf and "o_orderdate" in pf


def test_salted_agg_exchange_budget(spark):
    # partial (user, salt) -> final (user) -> orderBy: exactly 3
    df = registry.QUERIES["salted_agg_user_stats"](spark, SF)
    assert count_exchanges(df) == 3


def test_corr_subquery_threshold_is_broadcast(spark):
    df = registry.QUERIES["corr_subquery_nation_avg"](spark, SF)
    assert has_broadcast_join(df)


def test_ivf_centroid_assignment_is_broadcast_nlj(spark):
    # centroid cross join must be a broadcast nested-loop, never a
    # shuffled cartesian
    df = registry.QUERIES["ann_ivf_topk"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_wordcount_reads_only_text_column(spark):
    df = registry.QUERIES["wordcount"](spark, SF)
    assert read_schema_columns(df) == ["text"]


def test_wordcount_global_sort_is_range_partitioned(spark):
    # the reference's external merge sort (maprdeuce.cpp:334-426)
    # maps to a range-partitioned sort in the final orderBy
    df = registry.QUERIES["wordcount"](spark, SF)
    assert "rangepartitioning" in physical_plan(df)


def test_asof_join_has_no_join_operator(spark):
    # the union+window as-of form must compile to window + exchange
    # only — a join operator here would mean the O(events x orders)
    # range-explosion form snuck back in
    df = registry.QUERIES["join_asof"](spark, SF)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # dedupe agg + window-on-user_id + final orderBy
    assert count_exchanges(df) <= 4


def test_ngram_jaccard_carries_sizes_without_rejoin(spark):
    # shingle-set sizes must ride the shingle rows (window over
    # doc_id) — the old shape re-joined a doc-cardinality sizes
    # table onto the PAIR set twice, two extra big-big shuffles at
    # scale.  Expected exchanges: window(doc_id), join(h1,h2) both
    # sides feed one shuffle each... = self-join (2) + pair agg +
    # final sort, window reuses the cached side.
    import re

    df = registry.QUERIES["dedup_ngram_jaccard"](spark, SF)
    plan = physical_plan(df)
    assert "Window" in plan
    # exactly two distinct join nodes remain: the hot-shingle
    # LeftAnti cap and the inverted-index Inner self-join — the two
    # old sizes joins are gone (numbered nodes dedupe the tree
    # rendering of shared cached subtrees)
    joins = {
        (n, op) for n, op in re.findall(r"\((\d+)\) (\w*Join)\b", plan)
    }
    kinds = sorted(op for _n, op in joins)
    assert len(joins) == 2, plan
    inner = [j for j in re.findall(r"Join type: (\w+)", plan)]
    assert sorted(set(inner)) == ["Inner", "LeftAnti"], (kinds, inner)


def test_q4_is_semi_join(spark):
    df = registry.QUERIES["q4_order_priority"](spark, SF)
    plan = physical_plan(df)
    assert "LeftSemi" in plan
    assert "o_orderdate" in pushed_filters(df)


def test_q15_max_is_broadcast(spark):
    # the 1-row global max joins back as a broadcast, never a shuffle
    df = registry.QUERIES["q15_top_supplier"](spark, SF)
    assert has_broadcast_join(df)


def test_q22_anti_join_plan(spark):
    df = registry.QUERIES["q22_idle_customers"](spark, SF)
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert has_broadcast_join(df)  # 1-row avg_bal broadcast


def test_q6_all_filters_pushed(spark):
    df = registry.QUERIES["q6_forecast_revenue"](spark, SF)
    pf = pushed_filters(df)
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf
    # scan -> partial agg -> 1-row final agg: a single exchange
    assert count_exchanges(df) <= 1


def test_funnel_is_single_shuffle_per_level(spark):
    # user fold + global fold: two exchanges, no joins
    df = registry.QUERIES["funnel_conversion"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert count_exchanges(df) <= 2


def test_pack_sequences_reads_two_columns_one_partitioned_window(spark):
    # packing must be a per-shard window (no global single-partition
    # sort) and must not read the text column twice
    df = registry.QUERIES["pack_sequences"](spark, SF)
    plan = physical_plan(df)
    assert "Window" in plan
    # partitioned window: the window exchange hashes on lang, it is
    # never a SinglePartition exchange
    assert "SinglePartition" not in plan.split("Sort")[0]
    cols = read_schema_columns(df)
    assert set(cols) <= {"doc_id", "lang", "text"}


def test_quality_quantile_filter_broadcasts_thresholds(spark):
    # per-lang p5/p95 is a tiny aggregate: it must come back as a
    # broadcast join, never a shuffle of the documents scan
    df = registry.QUERIES["quality_quantile_filter"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_bigram_counts_partial_agg_before_topk(spark):
    # count shuffle is keyed (lang, bigram) with map-side combine;
    # the top-k window runs over the counts, not the exploded corpus
    df = registry.QUERIES["text_bigram_counts"](spark, SF)
    plan = physical_plan(df)
    assert "HashAggregate" in plan
    assert "Window" in plan


def test_merge_upsert_is_single_shuffle(spark):
    # union + latest-wins window: one exchange on the key, no join
    df = registry.QUERIES["merge_upsert_customers"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert "Window" in plan


def test_histogram_is_tiny_groupby(spark):
    # bucket assignment is map-side; the only wide op is the 10-row agg
    df = registry.QUERIES["histogram_order_prices"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan and "Window" not in plan
    assert count_exchanges(df) <= 2  # partial->final agg + output sort


# Queries that legitimately contain an unkeyed join: brute-force
# exactness baselines (named so), and broadcast-centroid/plane scans
# where the build side is a tiny fixed set.
_UNKEYED_JOIN_OK = {
    "ann_cosine_topk_bruteforce",
    "dedup_embedding_cosine_bruteforce",
    "ann_ivf_topk",          # broadcast NLJ against N_CELLS centroids
    "join_range",            # theta join (documented range predicate)
    "sql_subqueries",        # 1-row scalar subquery comparison
    "sql_defined_functions", # 1-row token-stats scalar cross join
    "q19_disjunctive_predicates",  # OR-of-ANDs join predicate
    "sql_api_revenue",
    "q22_idle_customers",    # 1-row scalar avg broadcast comparison
    "text_tfidf_top_terms",  # 1-row total-docs scalar broadcast
    "q11_important_stock",   # 1-row global-threshold scalar broadcast
    "embedding_quantize_int8",  # 1-row dim-stats array broadcast
    "text_pmi_collocations",    # 1-row corpus-total scalar broadcasts
    "zorder_zvalues",           # 1-row key-bounds broadcast
    "heavy_hitters_users",      # 1-row total-count scalar broadcast
    "frequent_pairs_apriori",   # 1-row support-floor scalar broadcast
    "triangle_count_trade",     # 1-row edge-count x triangle-count join
    "corpus_mix_rebalance",     # 1-row global-min scalar broadcast
    "corpus_mix_temperature",   # 1-row totals scalar broadcast
    "exact_median_twopass",     # 1-row rank-target scalar broadcast
    "drift_chisq_by_source",    # 1-row corpus-total scalar broadcast
    "sample_weighted_lineitem", # 1-row max-weight scalar broadcast
    "equidepth_histogram_prices",  # 1-row decile-thresholds broadcast
    "ann_sq8_adc",              # 1-row dim-stats array broadcast
    "ann_two_stage_rerank",     # 1-row dim-stats array broadcast
    "text_bm25_topk",           # 1-row (N, avgdl) scalar broadcast
    "bpe_learn_merges",         # 4x 1-row argmax merge-choice broadcasts
    "bpe_tokenize_corpus",      # same unrolled argmax broadcasts
    "wordpiece_learn_merges",   # same unrolled argmax broadcasts
    # <= CONTAIN_STRATUM_MAX-row strata table range-joined (stratum >=
    # q_stratum) onto the posting index — broadcast NLJ by construction
    "dedup_containment_ensemble",
    "text_hybrid_rrf_topk",     # 1-row query-vector + 1-row BM25 stats
    "curate_dsir_weights",      # 1-row corpus-totals scalar broadcast
    "sketch_quantile_hist",     # 3-row permille x <=256-row bin probes
    "ann_ivfadc_topk",          # broadcast NLJ against N_CELLS centroids
    "ann_ivfadc_rerank",        # same centroid/codebook broadcasts
    "ann_ivfadc_incremental_delta",  # same + 1-row budget broadcast
    "ann_ivfadc_filtered_rerank",  # same + 1-row budget broadcast
    "ann_ivfadc_incremental_upsert",  # same + 1-row budget/compaction
    "ann_binary_hamming_rerank",  # same centroid + 1-row budget bcasts
    "ann_ivf_filtered",         # same centroid broadcasts
    "ann_mrl_rerank",           # same centroid broadcasts (truncated dims)
    "ann_mrl_rerank_adaptive",  # same + 1-row sign-word budget broadcast
    "sketch_kmv_distinct",      # 1-row sketch x 1-row exact-count join
    "unigram_piece_probs",      # 1-row corpus-total + piece-table broadcasts
    "unigram_segment_words",    # same piece-table broadcasts
}

# Queries whose construction triggers eager execution (iterative
# loops / bounded driver collects) — skipped to keep the sweep fast.
_EAGER = {
    "dedup_clusters",
    "dedup_clusters_largestar",
    "dedup_apply_keepers",  # runs the label-propagation loop eagerly
    "dedup_materialize_corpus",  # same label-propagation loop
    "ann_cosine_topk_matmul",
    "pagerank_trade",
    "kmeans_embeddings",
    "dedup_semantic_clusters",  # runs the Lloyd loop eagerly
    "stream_sink_latest_per_user",  # runs a streaming job eagerly
    "stream_sink_hourly_counts",  # runs a streaming job eagerly
    "stream_sink_sessions",  # runs a streaming job eagerly
    "stream_sink_dedup_pairs",  # runs a streaming job eagerly
    "bfs_hops_trade",  # frontier loop counts per round
    # eager localCheckpoint releases the two mid-pipeline caches
    # (round-7 ADVICE); the candidate pipeline's plan is asserted
    # lazily in test_ensemble_candidate_plan_shape below
    "dedup_containment_ensemble",
    # localCheckpoints the doc-count-sized rewrite stage so the
    # gate+dedup chain runs once per job, not per consumer
    "c4_pipeline_end_to_end",
    # localCheckpoints the fingerprint table so the band self-join
    # does not run the JPEG+pHash kernel once per side
    "multimodal_phash_hamming_pairs",
    # ivf_assign_arrow collects the bounded centroid table at plan
    # construction (the BLAS closure); plans otherwise match their
    # oracled siblings', whose shapes the sweep already covers
    "ann_binary_hamming_rerank_fast",
    "ann_ivfadc_rerank_fast",
    # + the bounded k-means training sample collect
    "ann_binary_hamming_rerank_trained",
    "ann_mrl_rerank_adaptive_fast",
    # round-13 trained twins: same bounded training collect at plan
    # construction, same centroid/codebook + 1-row budget broadcasts
    # as their oracled siblings (ann_ivfadc_rerank /
    # ann_mrl_rerank_adaptive in _UNKEYED_JOIN_OK)
    "ann_ivfadc_rerank_trained",
    "ann_mrl_rerank_adaptive_trained",
}


def test_ensemble_candidate_plan_shape(spark):
    """The registered ensemble query checkpoints its (small)
    verified-pair output to release caches, which hides its plan —
    so pin the plan evidence on the LAZY candidate pipeline: exactly
    one BroadcastNestedLoopJoin (the <= CONTAIN_STRATUM_MAX-row
    strata range join), no CartesianProduct, and the probe><posting
    join keyed by (q_stratum, h1, h2)."""
    from db_mapreduce_project_spark.io import load_table
    from db_mapreduce_project_spark.operators.dedup import (
        _capped_shingle_hashes,
        ensemble_candidate_parts,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    probes, postings, ranked = ensemble_candidate_parts(
        _capped_shingle_hashes(d)
    )
    cand = probes.join(postings, ["q_stratum", "h1", "h2"])
    plan = physical_plan(cand)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan
    ranked.unpersist()


def test_no_accidental_cartesian_products(spark):
    registry.load_all_queries()
    offenders = []
    for name, fn in sorted(registry.QUERIES.items()):
        if name in _UNKEYED_JOIN_OK or name in _EAGER:
            continue
        plan = physical_plan(fn(spark, SF))
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert not offenders, f"unkeyed joins in: {offenders}"


def test_repetition_is_mapside_no_join(spark):
    # Gopher repetition score is a per-row array computation: the
    # gram stream never shuffles (the only Generate is the 1-element
    # materialization barrier, not a corpus explode); the only
    # exchanges feed the 5-row lang rollup and the output sort
    df = registry.QUERIES["doc_ngram_repetition"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert count_exchanges(df) <= 3  # partial->final lang agg + sort


def test_boilerplate_no_count_distinct_expand(spark):
    # distinct-doc counting via two-level cascade, not Expand
    df = registry.QUERIES["boilerplate_ngrams"](spark, SF)
    plan = physical_plan(df)
    assert "Expand" not in plan and "Join" not in plan


def test_split_assignment_is_map_plus_tiny_agg(spark):
    df = registry.QUERIES["split_assignment"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan and "Window" not in plan
    cols = read_schema_columns(df)
    assert set(cols) <= {"doc_id", "lang", "n_chars"}


def test_gapfill_densifies_after_aggregation(spark):
    # the spine explode must run over the (user, hour) aggregate,
    # never the raw event stream: Generate appears above an
    # Aggregate in the plan, and the fill window is partitioned
    df = registry.QUERIES["timeseries_gapfill"](spark, SF)
    plan = physical_plan(df)
    assert "Generate" in plan and "Window" in plan
    assert "CartesianProduct" not in plan


def test_pmi_vocabulary_joins_are_broadcast(spark):
    # unigram vocab + scalar totals broadcast onto the bigram
    # counts; the top-k is a TakeOrdered over counts, not a global
    # sort of the corpus
    df = registry.QUERIES["text_pmi_collocations"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("BroadcastExchange") >= 2
    assert "TakeOrderedAndProject" in plan
    assert not has_sort_merge_join(df)


def test_rolling_active_users_no_range_join(spark):
    # WAU via bounded fan-out: every join/agg is an equi-shuffle;
    # the naive range-join formulation would show BroadcastNestedLoop
    df = registry.QUERIES["rolling_active_users"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mad_thresholds_broadcast_corpus_never_shuffles(spark):
    df = registry.QUERIES["mad_outlier_filter"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_pipeline_end_to_end_stage_shapes(spark):
    # five chained stages, one job: quality thresholds + benchmark
    # set broadcast, dedup is a partitioned window, decontamination
    # closes with a LeftAnti — and Catalyst fuses it all without a
    # cartesian anywhere
    df = registry.QUERIES["pipeline_end_to_end"](spark, SF)
    plan = physical_plan(df)
    assert has_broadcast_join(df)
    assert "LeftAnti" in plan and "Window" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark_set(spark):
    # the corpus side must reach the contamination join WITHOUT an
    # exchange: benchmark shingles broadcast, only the hits shuffle
    df = registry.QUERIES["decontaminate_overlap"](spark, SF)
    plan = physical_plan(df)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_quantize_broadcasts_dim_stats(spark):
    # corpus never shuffles: the only exchanges feed the 64-row
    # dim-stats aggregate; codes are computed map-side after a
    # 1-row broadcast
    df = registry.QUERIES["embedding_quantize_int8"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_q12_date_filter_pushed_to_scan(spark):
    df = registry.QUERIES["q12_priority_split"](spark, SF)
    assert "l_shipdate" in pushed_filters(df)
    cols = read_schema_columns(df)
    assert "l_extendedprice" not in cols  # pruned: only status+keys read


def test_dq_checks_are_anti_joins_not_cartesian(spark):
    df = registry.QUERIES["dq_constraint_checks"](spark, SF)
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q9_dims_broadcast_single_fact_pass(spark):
    # part/supplier/nation broadcast; only partsupp-derivation and
    # orders join shuffle the wide side
    df = registry.QUERIES["q9_product_profit"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q2_min_cost_join_is_broadcast(spark):
    df = registry.QUERIES["q2_min_cost_supplier"](spark, SF)
    assert has_broadcast_join(df)


def test_q8_all_dims_broadcast(spark):
    # six dimension joins, all broadcast — the fact table shuffles
    # only for the orders join and final agg
    df = registry.QUERIES["q8_market_share"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 5


def test_heavy_hitters_recount_is_broadcast_pruned(spark):
    # the Misra-Gries candidate set broadcasts back onto events as a
    # semi-join: the recount shuffles candidate rows only, and the
    # 1-row total is a broadcast, never a shuffle-join
    df = registry.QUERIES["heavy_hitters_users"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_frequent_pairs_prune_before_pair_join(spark):
    # A-priori: the frequent-item broadcast semi-join must sit BELOW
    # the basket self-join, so the quadratic pair space is built from
    # pruned baskets only; the self-join itself is keyed (no NLJ on
    # the big side)
    df = registry.QUERIES["frequent_pairs_apriori"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # item prune (x2 sides)
    assert "CartesianProduct" not in plan


def test_triangle_edge_joins_are_keyed(spark):
    # both triangle-closing joins are equi-joins on node keys; the
    # only unkeyed join is the final 1-row count x count combine
    df = registry.QUERIES["triangle_count_trade"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") >= 2


def test_substring_spans_no_join_single_keyed_shuffle(spark):
    # the span stream groups by its hash pair — no join anywhere,
    # and the shuffle carries two bigints per span, not the text
    df = registry.QUERIES["dedup_substring_spans"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_scd2_is_single_partitioned_window(spark):
    # SCD2 build: one hash exchange on the key feeding the window;
    # no join, no single-partition sort
    df = registry.QUERIES["scd2_user_value_history"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert "Window" in plan


def test_mix_rebalance_corpus_never_shuffles(spark):
    # the lang-count aggregate and 1-row min broadcast back onto the
    # scan; the only exchanges feed the tiny per-lang audit agg
    df = registry.QUERIES["corpus_mix_rebalance"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_sweepline_no_single_partition_daily_window(spark):
    # the prefix sum is two-phase: the daily-stream window partitions
    # by month; only the months-cardinality offset table is global
    df = registry.QUERIES["transit_inventory_sweepline"](spark, SF)
    plan = physical_plan(df)
    assert "Join" in plan  # broadcast offset join
    assert has_broadcast_join(df)


def test_bucketed_range_join_is_equi_join(spark):
    # the unkeyed range predicate must compile to an equi-join on the
    # month bucket with a residual filter — never NLJ/cartesian
    df = registry.QUERIES["range_join_bucketed_transit"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_exact_median_never_globally_sorts_corpus(spark):
    # histogram selection: no range-partitioned (global) sort of the
    # price stream anywhere — the only window orders the bucket
    # table and the one selected bucket's rows
    df = registry.QUERIES["exact_median_twopass"](spark, SF)
    plan = physical_plan(df)
    assert "rangepartitioning" not in plan
    assert has_broadcast_join(df)


def test_per_group_median_fully_partitioned(spark):
    # the grouped selection must never build a SinglePartition
    # window: every Sort/Window partitions by the group key
    df = registry.QUERIES["exact_median_per_group"](spark, SF)
    plan = physical_plan(df)
    # no single-partition exchange feeding a Window
    import re
    assert not re.search(r"Exchange SinglePartition[^\n]*\n[^\n]*Window", plan)
    assert has_broadcast_join(df)


def test_drift_chisq_broadcast_dims(spark):
    # vocabulary and per-source totals broadcast back; the token
    # stream shuffles once for the (source, word) count
    df = registry.QUERIES["drift_chisq_by_source"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_runtime_bloom_filter_injection(spark):
    # Spark's runtime row-level filtering: a selective filter on the
    # build side injects a bloom-filter semi-filter into the probe
    # scan (BloomFilterMightContain). The fixture is far below the
    # 10GB application-side default, so the thresholds are lowered
    # to demonstrate the mechanism — at 100 TB the defaults fire on
    # their own and prune shuffle input before the join.
    from db_mapreduce_project_spark.io import load_table
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = physical_plan(j)
        assert "might_contain" in plan.lower() or "bloom" in plan.lower()
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_bm25_topk_is_takeordered_with_broadcasts(spark):
    # the final top-10 must be TakeOrderedAndProject (no global
    # sort of the scored relation) and every join side that can
    # broadcast (df, dlen stats) does
    df = registry.QUERIES["text_bm25_topk"](spark, SF)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert not has_sort_merge_join(df)


def test_vocab_coverage_broadcasts_vocab(spark):
    # the K-row vocabulary must ride a broadcast hash join onto the
    # token stream; nothing sort-merges
    df = registry.QUERIES["tokenizer_vocab_coverage"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_char_entropy_is_joinless_two_aggs(spark):
    # per-(doc,char) then per-doc aggregation plus the output sort:
    # no join anywhere, bounded exchange count
    df = registry.QUERIES["doc_char_entropy"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert count_exchanges(df) <= 3


def test_aqe_skew_join_splits_hot_partition(spark):
    """Scale-posture evidence: with AQE's skew-join rule (on in
    session.py), a sort-merge join whose build side concentrates
    90% of rows on one key gets its hot partition SPLIT at runtime
    — 'skew=true' in the final adaptive plan — instead of one
    straggler task carrying the whole key.  Thresholds are lowered
    to make fixture-scale data exceed them; at 100 TB the defaults
    (256 MB, factor 5) trigger on real skew.  This is the
    complementary mechanism to the explicit salting operators
    (operators/skew.py): salting for deterministic pre-planned
    keys, AQE for skew discovered at runtime."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(400000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(
                F.lit("p"), F.col("id").cast("string"), F.lit("-" * 64)
            ).alias("pad"),
        )
        dim = spark.range(50000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k").select("k", "w", "pad")
        j.foreach(lambda r: None)  # execute THIS plan (AQE finalizes)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        # and the split changes nothing semantically
        assert j.count() == 365000
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_plans_md_covers_full_registry():
    """PLANS.md is regenerated by scripts/plan_report.py over the
    FULL registry (round-8 verdict #5); this guards the bookkeeping:
    every registered query has a row (analyzed, `iterative`, or
    `streaming`), so RESULTS can never again cite a row that does
    not exist."""
    import os
    import re

    registry.load_all_queries()
    text = open(
        os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    ).read()
    rows = {
        m.group(1).rstrip("*")
        for m in re.finditer(r"^\| (\S+) \|", text, flags=re.M)
    } - {"query"}
    missing = set(registry.QUERIES) - rows
    assert not missing, f"PLANS.md missing rows for: {sorted(missing)}"
