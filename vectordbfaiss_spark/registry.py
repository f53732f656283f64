"""Query registry: every implemented operator as a named (PySpark, oracle
SQL) pair — the driver contract surface (see ``__spark_entry__.py``).

Conventions that make the DuckDB hash-compare deterministic:
- every computed column is aliased IDENTICALLY in Spark and SQL;
- float outputs are ``round(x, 6)`` (money ``round(x, 4)``) on BOTH sides —
  double math agrees to ~1e-12 across engines, rounding removes ulp noise;
- rankings round scores BEFORE ranking and tie-break on an id so order is
  engine-independent;
- timestamps in outputs are formatted to strings (UTC) — avoids tz/epoch
  representation drift between Spark and DuckDB.

Query definitions live in ``vectordbfaiss_spark.queries.*`` grouped by
category; importing this module populates the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Queries that are deliberately declared WITHOUT an oracle (non-SQL-
# expressible: ML-backed, streaming-stateful, opaque-binary). The driver
# records a weaker rows-only check for these.
ROWS_ONLY: set[str] = set()


def register(name: str, oracle: str | None = None, rows_only: bool = False):
    """Decorator: add a query (and its DuckDB oracle SQL, or an explicit
    rows-only opt-out)."""
    if oracle is None and not rows_only:
        raise ValueError(f"{name}: provide oracle SQL or set rows_only=True")

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        else:
            ROWS_ONLY.add(name)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _load()
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    _load()
    return dict(ORACLES)


_loaded = False

# Registry iteration order. The driver's correctness gate samples the FIRST
# ~50 of ``queries()`` in dict-insertion order, so the order is ROTATED each
# round to extend cumulative driver-verified coverage rather than re-proving
# the same window:
#   round 1 verified the first 50 of the natural module order;
#   round 2 front-loaded the per-operator primaries (50/50 green);
#   round 3 rotated to the round-3 additions + the never-verified backlog
#   (cumulative driver-sampled after r3: 120/224);
#   round 4: growth frozen (+2 PQ bound twins), window = sentinels + the
#   45 next never-verified rows (cumulative driver-sampled after r4:
#   167/230);
#   round 5 verified 48 more (cumulative 215/230);
#   round 6 verified the last 15 never-sampled + all 19 additions,
#   closing cumulative coverage at 255/255;
#   round 7 rotated to: sentinels + round-7 additions + the stalest
#   round-1/round-2 evidence (cumulative coverage stayed closed);
#   round 8: sentinels + every query whose CODE changed that round
#   (the graph-ANN audit family, quality_prune_tradeoff, the memoized-
#   embedder checksum), then the stalest evidence;
#   round 9 staged its changed queries the same way, and round 10 kept
#   that window;
#   this order: sentinels + the ANN recall-bound family (one published
#   exact truth, one witness helper), + every query whose artifacts moved
#   to the one artifact store (IVF, IVFPQ, kNN-edge, graph-ANN and
#   PQ-codebook families), + the queries still unsampled since the
#   vectorized MinHash kernel, the O(d) vector math and the helpers moved
#   in from the deleted streaming/maintenance modules, then the stalest
#   hash-verified evidence (latest gate sample round 4).
_PRIORITY: tuple[str, ...] = (
    # sentinels: flagship operators re-proven every round
    "topk_search",
    "ingest_index_build",
    # ---- changed queries (need fresh gate rows) ----
    # the ANN bound family reads one published exact truth (top-11 per
    # corpus) through one witness helper; the graph family publishes its
    # traversals through one helper and serves through one guarded kernel
    "ivf_recall_report",
    "ivf_recall_bound",
    "pq_recall_bound",
    "ivfpq_recall_bound",
    "graph_ann_recall_bound",
    "graph_ann_ivf_entries",
    "graph_ann_incremental",
    "graph_ann_delete_serve",
    "graph_ann_compact_serve",
    "graph_ann_beam_curve",
    # MinHash kernel shingles the text itself (one Arrow pass from text
    # to signature); k-center oracle CTEs materialized
    "dedup_minhash_lsh",
    "dedup_minhash_capped",
    "dedup_minhash_incremental",
    "minhash_quality_audit",
    "kcenter_coreset_select",
    # one artifact store: every build-once artifact these queries read is
    # located, keyed and published by artifacts.py; PQ codebooks keyed by
    # corpus content
    "ivf_topk_search",
    "ivf_disk_search",
    "ivf_nprobe_curve",
    "ivf_tombstone_search",
    "ivf_append_search",
    "ivf_compact_search",
    "pq_topk_search",
    "pq_rerank_topk",
    "ivfpq_topk_search",
    "sql_routed_topk",
    "sql_routed_topk_multi",
    "sql_routed_search_hydrated",
    "sql_routed_score_projection",
    "sql_routed_pq_filtered",
    "sql_routed_graph_topk",
    "knn_graph_edges",
    "knn_graph_blocked",
    "knn_graph_blocked_scaled",
    "knn_graph_incremental",
    "mutual_knn_components",
    "kcore_mutual_knn",
    "label_propagation_knn",
    "recursive_cte_knn_bfs",
    "semantic_decontamination",
    "semdedup_prune",
    "semdedup_prune_scaled",
    "semdedup_witness_bound",
    "graph_ann_topk_search",
    "graph_ann_build_bound",
    "label_centroids",             # l2_normalize: one norm per row
    "interval_join_click_purchase",  # helpers moved in from the deleted
    "zorder_layout_audit",           # streaming and maintenance modules
    # refresh block: stalest evidence (latest sample round 4)
    "scd2_event_intervals",
    "funnel_view_click_purchase",
    "retention_cohorts_weekly",
    "daily_gapfill_event_counts",
    "latest_event_per_user",
    "null_safe_join_status",
    "embedding_norm_health",
    "exists_not_exists_customers",
    "ntile_percent_rank_orders",
    "grouping_sets_lineitem",
    "stats_summary_lineitem",
    "regexp_extract_all_docs",
    "median_mode_orders",
    "min_max_by_orders",
    "datetime_functions_orders",
    "null_handling_suppliers",
    "array_set_functions",
    "higher_order_array_funcs",
    "unpivot_lineitem_measures",
    "bitwise_agg_lineitem",
    "trending_types_daily_top2",
    "map_functions_events",
    "decimal_exact_revenue",
    "fuzzy_name_match",
    "explode_outer_long_words",
    "zscore_outlier_events",
)


def _load() -> None:
    global _loaded
    if _loaded:
        return
    _loaded = True
    # import for side effect: each module registers its queries
    from vectordbfaiss_spark.queries import (  # noqa: F401
        analytics_extras,
        bpe,
        curation,
        dedup,
        embedding_analysis,
        graph_cluster,
        ingest_e2e,
        ops_diagnostics,
        pipeline_extras,
        ranking,
        reference_parity,
        relational,
        relational_ext,
        relational_more,
        scrub,
        search_index,
        sketches_sql,
        sources_io,
        text_analysis,
        tpch_extra,
        vector_search,
    )

    ordered = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    for n, fn in QUERIES.items():
        ordered.setdefault(n, fn)
    QUERIES.clear()
    QUERIES.update(ordered)
