"""Physical-plan audits: the scale properties the engine is designed around
must be visible in `.explain` output — pushdown, pruning, broadcast
strategy, top-k without global sort, whole-stage codegen.

These tests pin the PLAN SHAPE, not timings: a regression that silently
turns a broadcast join into a sort-merge join or drops a pushed filter
would pass every correctness test and still be 100x slower at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from vectordbfaiss_spark import registry
from vectordbfaiss_spark.session import load_table

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    q = registry.queries()["in_list_lookup"](spark, SF_DIR)
    plan = _plan(q)
    assert re.search(r"PushedFilters: \[.*In\(doc_id", plan), plan[:2000]


def test_q1_pushes_shipdate_and_prunes_columns(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    q = li.filter(F.col("l_shipdate") <= "1997-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan
    read = plan.split("ReadSchema:")[-1]
    assert "l_extendedprice" not in read  # unreferenced columns never leave parquet


def test_star_join_is_all_broadcast_no_sort_merge(spark):
    q = registry.queries()["star_join_rollup"](spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_topn_uses_take_ordered_not_global_sort(spark):
    q = registry.queries()["topn_orders"](spark, SF_DIR)
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan


def test_flagship_topk_has_no_sort_merge_join(spark):
    q = registry.queries()["topk_search"](spark, SF_DIR)
    plan = _plan(q)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # hydration joins broadcast


def test_aggregation_runs_in_whole_stage_codegen(spark):
    q = registry.queries()["q1_pricing_summary"](spark, SF_DIR)
    # partial (map-side) aggregation before the exchange
    assert _plan(q).count("HashAggregate") >= 2
    q.collect()  # AQE finalizes the plan only on execution
    final = _plan(q)
    # "*(n)" prefixes mark WholeStageCodegen stages in the tree string
    assert re.search(r"\*\(\d+\) HashAggregate", final) and "isFinalPlan=true" in final


def test_semi_and_anti_joins_planned_as_hash_joins(spark):
    semi = registry.queries()["semi_join_big_spenders"](spark, SF_DIR)
    anti = registry.queries()["anti_join_no_orders"](spark, SF_DIR)
    assert "LeftSemi" in _plan(semi)
    assert "LeftAnti" in _plan(anti)
    assert "SortMergeJoin" not in _plan(semi)


def test_q6_pushes_all_filters_and_reads_narrow(spark):
    q = registry.queries()["q6_forecast_revenue"](spark, SF_DIR)
    plan = _plan(q)
    pushed = plan.split("PushedFilters:")[-1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    read = plan.split("ReadSchema:")[-1]
    assert "l_returnflag" not in read and "l_orderkey" not in read


def test_q10_broadcasts_nation_and_takes_ordered(spark):
    q = registry.queries()["q10_returned_item_revenue"](spark, SF_DIR)
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # returnflag filter must prune the fact scan before any join
    assert re.search(r"PushedFilters: \[.*EqualTo\(l_returnflag,R\)", plan), plan[:3000]


def test_range_join_is_hash_join_with_residual_not_cartesian(spark):
    q = registry.queries()["range_join_orders_events"](spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q7_broadcasts_dims_single_fact_shuffle(spark):
    q = registry.queries()["q7_volume_shipping"](spark, SF_DIR)
    plan = _plan(q)
    # supplier + 2x nation broadcast; lineitem<->orders/customer shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q9_like_filter_stays_on_broadcast_build_side(spark):
    q = registry.queries()["q9_product_type_profit"](spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("BroadcastHashJoin") >= 3
    # the LIKE lands as a Contains filter on the part scan, not post-join
    assert re.search(r"PushedFilters: \[.*StringContains\(p_name,bolt\)", plan), (
        plan[:3000]
    )


def test_q19_derives_pushable_quantity_envelope_from_or(spark):
    q = registry.queries()["q19_disjunctive_revenue"](spark, SF_DIR)
    plan = _plan(q)
    # Catalyst factors the OR into a scan-pushable l_quantity range
    assert re.search(r"PushedFilters: \[.*l_quantity", plan), plan[:3000]
    assert "BroadcastHashJoin" in plan


def test_q21_is_one_aggregate_no_lineitem_self_join(spark):
    q = registry.queries()["q21_lone_fault_supplier"](spark, SF_DIR)
    plan = _plan(q)
    # the EXISTS/NOT-EXISTS pair is ONE per-order aggregate, so lineitem
    # is scanned once -- not three times as in the textbook self-join plan
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert "TakeOrderedAndProject" in plan


def test_q22_anti_join_prunes_orders_scan(spark):
    q = registry.queries()["q22_dormant_customers"](spark, SF_DIR)
    plan = _plan(q)
    assert "LeftAnti" in plan
    # date filter pushed to the orders scan feeding the anti join
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate", plan), (
        plan[:3000]
    )


def test_interval_join_no_cartesian(spark):
    q = registry.queries()["interval_join_click_purchase"](spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_filtered_topk_pushes_metadata_predicates(spark):
    q = registry.queries()["filtered_topk_search"](spark, SF_DIR)
    plan = _plan(q)
    # the lang/n_chars predicates reach the documents parquet scan: the
    # corpus is pruned BEFORE the cosine kernel, not after
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,en\)", plan), plan[:3000]
    assert re.search(r"GreaterThanOrEqual\(n_chars,200\)", plan)
    assert "SortMergeJoin" not in plan


def test_bm25_broadcasts_stats_no_sort_merge(spark):
    q = registry.queries()["bm25_doc_ranking"](spark, SF_DIR)
    plan = _plan(q)
    # df (vocab-sized) and the scalar stats row join as broadcasts; the
    # only shuffles are the hash aggregates
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_weighted_sample_is_single_topk_no_full_sort(spark):
    q = registry.queries()["weighted_sample_docs"](spark, SF_DIR)
    plan = _plan(q)
    # the key computation is map-side; the global rnk<=50 costs at most the
    # single-partition exchange for the unpartitioned window — no extra
    # shuffles may creep in
    assert plan.count("Exchange") <= 2, plan[:3000]


def test_incremental_merge_shuffles_view_keys_only(spark):
    q = registry.queries()["incremental_daily_agg"](spark, SF_DIR)
    plan = _plan(q)
    # partial_aggregate -> exchange -> final per chunk, then the merge agg:
    # every exchange is hashpartitioning on the view key, never on event_id
    assert "SortMergeJoin" not in plan
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "event_type" in m.group(1), m.group(0)


def test_hybrid_rrf_fusion_joins_stay_hash_or_broadcast(spark):
    q = registry.queries()["hybrid_rrf_fusion"](spark, SF_DIR)
    plan = _plan(q)
    # the Q*20-row fused lists must never sort-merge; the full-outer fusion
    # join of two bounded lists is a hash join
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_cms_probe_join_broadcasts_sketch(spark):
    q = registry.queries()["cms_heavy_hitters"](spark, SF_DIR)
    plan = _plan(q)
    # the d*w-counter sketch is broadcast to the vocab probes
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Partition-pruning at runtime (DPP): joining a day-partitioned fact
    table against a filtered dim must inject a dynamicpruning subquery so
    only the matching day directories are scanned — the mechanism that
    turns a date-dimension filter into file skipping on a 100 TB fact
    table without the filter appearing on the fact side at all."""
    ev = load_table(spark, SF_DIR, "events")
    fact = str(tmp_path / "events_by_day")
    ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")).write.partitionBy(
        "day"
    ).parquet(fact)

    # the dim must be independent of the fact and carry a selective filter
    # for the DPP heuristic to fire
    dim = spark.createDataFrame(
        [(f"2024-01-{d:02d}", d) for d in range(1, 32)], "day STRING, dnum INT"
    )
    f = spark.read.parquet(fact)
    joined = (
        f.join(F.broadcast(dim.filter(F.col("dnum") <= 2)), "day")
        .groupBy("day")
        .count()
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_repetition_filter_has_no_expand(spark):
    q = registry.queries()["text_repetition_filter"](spark, SF_DIR)
    plan = _plan(q)
    # the Gopher metrics must come from the two-level agg, never the
    # Expand that a mixed count+countDistinct agg would plan
    assert "Expand" not in plan


def test_crossdoc_span_dedup_single_agg_no_join(spark):
    q = registry.queries()["crossdoc_span_dedup"](spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("Exchange") <= 2  # fan_out repartition + span hash-agg
    assert "Join" not in plan


def test_distinct_stats_queries_have_no_expand(spark):
    for name in ["approx_distinct_sketch", "dedup_exact_stats"]:
        plan = _plan(registry.queries()[name](spark, SF_DIR))
        assert "Expand" not in plan, name


def test_ngram_jaccard_standalone_does_not_force_broadcast_counts(spark):
    """Standalone n-gram Jaccard must NOT hint-broadcast the per-doc shingle
    counts (one row per corpus document — corpus-sized at 100 TB). With the
    auto threshold forced tiny, a hint-free plan falls back to shuffle joins;
    a lingering F.broadcast hint would still plan BroadcastExchange."""
    from vectordbfaiss_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        standalone = D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=10_000
        )
        assert "BroadcastExchange" not in _plan(standalone)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_sequence_packing_window_is_sharded(spark):
    """The packing cumsum must carry a partition key — an empty window
    partition spec funnels the entire corpus through ONE task. The sharded
    registry form partitions on `shard`; the global form (kept only as a
    cross-check) is the shape being guarded against."""
    from vectordbfaiss_spark.queries.curation import packing_binned

    docs = load_table(spark, SF_DIR, "documents")
    sharded = _plan(packing_binned(docs))
    assert re.search(r"windowspecdefinition\(shard", sharded), sharded[:3000]
    global_form = _plan(packing_binned(docs, shards=None))
    assert not re.search(r"windowspecdefinition\(shard", global_form)


def test_pii_redact_prunes_to_referenced_columns(spark):
    """The scrub map must let Catalyst prune the scan to the columns the
    derivation actually references — a scrub that drags all columns
    through is wrong at 100 TB."""
    q = registry.queries()["pii_redact_docs"](spark, SF_DIR)
    read = _plan(q).split("ReadSchema:")[-1]
    assert "text" in read and "n_chars" not in read and "lang" not in read


def test_hard_negative_mining_broadcasts_anchors_no_global_sort(spark):
    plan = _plan(registry.queries()["hard_negative_mining"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # rank window partitions by anchor: no global (non-window) Sort of the
    # scored pairs and certainly no cartesian product
    assert "CartesianProduct" not in plan


def test_crossdoc_span_scrub_is_hash_join_not_cartesian(spark):
    plan = _plan(registry.queries()["crossdoc_span_scrub"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the span->keeper table joins back on the span key as a hash join
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_dsir_bucket_distributions_are_broadcast(spark):
    """The two 256-row bucket distributions must come back to the per-doc
    counts as broadcast joins — shuffling the corpus against a 256-row
    side would be the classic scale mistake."""
    plan = _plan(registry.queries()["dsir_importance_weights"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 1 or plan.count("BroadcastExchange") >= 2


# ---------------------------------------------------------------------------
# Session-3 lifecycle queries: scan-level efficiency pins
# ---------------------------------------------------------------------------

def test_ivf_tombstone_is_broadcast_anti_join_not_modulo_scan(spark):
    """Deletes are served as a broadcast anti-join of the bounded tombstone
    id table against the index scan (the round-3 verdict's prescribed fix):
    the big side keeps row-group pruning (no modulo predicate on it), the
    delete log broadcasts, and the plan stays SMJ/cartesian-free. The only
    modulo in the plan belongs to the tiny id-log derivation scan."""
    q = registry.queries()["ivf_tombstone_search"](spark, SF_DIR)
    plan = _plan(q)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan[:3000]
    idx_scan = [ln for ln in plan.splitlines() if "ivf_index" in ln]
    assert idx_scan, plan[:3000]
    assert not any("% 5" in ln for ln in idx_scan)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_schema_evolution_prunes_columns(spark):
    """mergeSchema must not defeat column pruning: the merged-footer scan
    reads only the projected columns, and o_orderdate (present in BOTH
    generations' source rows but never projected) stays out of ReadSchema."""
    q = registry.queries()["schema_evolution_read"](spark, SF_DIR)
    plan = _plan(q)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan[:3000]
    assert "o_orderdate" not in m.group(1)
    assert "o_totalprice" in m.group(1)


def test_vector_crud_plan_shape(spark):
    """The CRUD store is three scans + a no-shuffle union feeding the BLAS
    kernel — no join of any kind before the final Q*k window."""
    q = registry.queries()["vector_store_crud_search"](spark, SF_DIR)
    plan = _plan(q)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Union" in plan


def test_ivf_append_no_joins_before_window(spark):
    q = registry.queries()["ivf_append_search"](spark, SF_DIR)
    plan = _plan(q)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_maxsim_interaction_plan_shape(spark):
    """The late-interaction join must be a hash equi-join on bucket with
    the query side broadcast — never a cartesian over chunk pairs."""
    q = registry.queries()["maxsim_late_interaction"](spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_incremental_er_store_side_is_equi_join(spark):
    """Incremental ER's store lookup is an equi-join on the blocking key
    (levenshtein only as a residual filter inside the block) — the
    |batch|-proportional contract."""
    q = registry.queries()["entity_resolution_incremental"](spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan
    # the edit-distance verify must be a join residual, not a join-free
    # all-pairs filter stage
    assert re.search(r"Join.*levenshtein", plan, re.IGNORECASE) or (
        "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    )


def test_fertility_dictionary_grain_join(spark):
    """BPE fertility joins two dictionary-grain frames — no cartesian, no
    per-rule shuffle (merges are literal folds)."""
    q = registry.queries()["bpe_fertility_by_lang"](spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan


def test_pq_recall_bound_no_corpus_shuffle_joins(spark):
    """The PQ bound twin composes the exact kernel, ADC shortlist, and
    exact re-rank in one plan: every join must be broadcast (query
    matrices, shortlist id sets, per-query hit counts — all bounded),
    never a corpus-shuffling SMJ or a cartesian."""
    q = registry.queries()["pq_recall_bound"](spark, SF_DIR)
    plan = _plan(q)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivfpq_recall_bound_no_corpus_shuffle_joins(spark):
    """Same contract for the composed IVF+PQ bound."""
    q = registry.queries()["ivfpq_recall_bound"](spark, SF_DIR)
    plan = _plan(q)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_open_vocabulary_tables_never_broadcast(spark):
    """The 100x scale step (SCALE.md round 4) showed Catalyst's
    post-aggregate estimates plan corpus-grain frames — span->keeper
    tables, per-doc length/starts tables, open-vocabulary LM/stats
    tables, posting lists — as broadcast builds, which OOM once the
    corpus outgrows the estimate. These queries pin the SHUFFLE_HASH
    hints that keep such joins shuffle-side at any scale; bounded
    broadcasts (query-term df, benchmark shingles, scalar stats) remain
    allowed."""
    expectations = {
        # name -> (max BroadcastHashJoins allowed, min ShuffledHashJoins)
        "crossdoc_span_scrub": (0, 2),
        "ngram_novelty_scoring": (0, 1),
        "unigram_logprob_quality": (0, 1),
        "bigram_logprob_quality": (0, 2),
        "inverted_index_build": (0, 1),
        "phrase_search_postings": (0, 1),
        "search_snippet_extraction": (0, 2),
        # bench-shingle broadcast stays; the corpus-grain totals-hits SHJ
        # was eliminated in round 9 (one aggregate computes both counts)
        "benchmark_decontamination": (1, 0),
        "bm25_doc_ranking": (1, 1),           # query-term df broadcast stays
        "retention_cohorts_weekly": (0, 1),   # user-grain cohort table
        "text_repetition_filter": (0, 1),     # doc-grain stats tables
        "bpe_fertility_by_lang": (0, 1),      # open-vocab word dictionaries
    }
    for name, (max_bhj, min_shj) in expectations.items():
        q = registry.queries()[name](spark, SF_DIR)
        plan = _plan(q)
        assert plan.count("BroadcastHashJoin") <= max_bhj, (name, plan[:2000])
        assert plan.count("ShuffledHashJoin") >= min_shj, (name, plan[:2000])
        assert "SortMergeJoin" not in plan, name


def test_forced_broadcasts_are_bounded_only(spark):
    """Round-4 forced-broadcast audit: `F.broadcast(...)` is un-graduatable
    — unlike stats-based planning, a forced hint still broadcasts when the
    frame has grown 1000x — so every forced broadcast must be on a frame
    whose size is FIXED (nation/region) or bounded by contract (query
    matrices, winner top-k lists, scalar aggregates). Scaling dims
    (customer/supplier/part), post-aggregate id sets, corpus-grain label
    frames and open-vocabulary df tables had their hints removed (planner
    + AQE graduate them) or replaced with SHUFFLE_HASH.

    Pin: with the auto-broadcast threshold disabled, the ONLY
    BroadcastExchange nodes left in each plan are the intended forced
    ones; counts below are the audited contract."""
    expected = {
        "q3_shipping_priority": 0,
        "q5_local_supplier_volume": 2,   # nation, region (25/5 rows, fixed)
        "q14_promo_revenue_pct": 0,
        "q16_supplier_relationship": 0,
        "q18_large_volume_orders": 0,    # post-agg id set: AQE's call now
        "q7_volume_shipping": 2,         # n1, n2
        "q8_market_share": 3,            # n1, n2, region
        "q9_product_type_profit": 1,     # nation
        "q15_top_supplier": 2,           # 1-row max + tie-bounded winner
        "q17_small_quantity_revenue": 0,
        "q19_disjunctive_revenue": 0,
        "q20_heavy_shippers": 0,         # part + post-agg heavy: stats/AQE
        "q21_lone_fault_supplier": 0,
        "q2_min_cost_supplier": 1,       # nation
        "fk_integrity_audit": 0,         # distinct customer keys scale
        "expectations_quarantine": 0,    # r4 audit removed broadcast(cust_keys)
        "tfidf_top_terms": 1,            # 1-row corpus count; df is
                                         # open-vocab -> SHUFFLE_HASH
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name, n_forced in expected.items():
            plan = _plan(registry.queries()[name](spark, SF_DIR))
            assert plan.count("BroadcastExchange") == n_forced, (
                name, plan.count("BroadcastExchange"), plan[:3000]
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_rank_window_limits_are_pushed_below_the_window(spark):
    """Inventory pin for every registry query that ranks with a
    `row_number() <= k` filter: the limit must be BOUNDED IN THE PLAN,
    either as a TakeOrderedAndProject pushed below the window
    (LimitPushDownThroughWindow — global windows: only k rows ever
    reach the single-partition WindowExec) or as a WindowGroupLimit
    (partitioned windows: k rows per group forwarded, with a Partial
    pass before the shuffle). Both rules pattern-match a Filter on the
    RAW rank attribute directly over the Window — r5 found that casting
    row_number() to long INSIDE the window projection hid the attribute
    and silently disabled both rules, funneling the whole scored corpus
    through one task on the global-window queries here.
    `ridge_probe_auc` is absent by design: its r5 rewrite removed the
    global window entirely (two-level bucketed prefix sum, pinned in
    tests/test_embedding_analysis.py); `leakage_safe_split_assign`'s
    global form is test-only (the registry uses the sharded window).
    Any NEW query that adds a rank-filtered window should extend this
    list."""
    ranked = [
        # global windows — corpus-cardinality input before the fix
        "bm25_doc_ranking",      # queries/ranking.py top-10 by bm25
        "weighted_sample_docs",  # queries/ranking.py ES sample top-50
        "top_event_paths",       # queries/pipeline_extras.py top-10 paths
        "cms_heavy_hitters",     # queries/sketches_sql.py top-20 by est
        # partitioned windows — bounded per group, map-side Partial pass
        "hybrid_rrf_fusion",     # queries/ranking.py top-10 per query
        "trending_types_daily_top2",  # queries/relational_more.py
    ]
    for name in ranked:
        plan = _plan(registry.queries()[name](spark, SF_DIR))
        assert ("WindowGroupLimit" in plan) or (
            "TakeOrderedAndProject" in plan
        ), (name, plan[:3000])
