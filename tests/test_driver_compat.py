"""The grading driver builds its OWN SparkSession (no engine configs) and
calls entry()/queries() with it. Every query must work — and match the
oracle — on such a vanilla session. Runs in a subprocess so the session is
genuinely fresh (in-JVM getOrCreate would inherit the test session's conf).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_SCRIPT = textwrap.dedent(
    """
    import importlib.util, json, os
    # a non-UTC host timezone, like a real driver box might have
    os.environ["TZ"] = "America/New_York"

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(os.getcwd(), "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[4]").appName("driver-sim")
             .config("spark.ui.enabled", "false").getOrCreate())

    assert mod.entry(spark).count() > 0

    import duckdb
    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ["events", "documents", "embeddings", "lineitem", "orders",
              "customer", "part", "region", "nation", "supplier"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    # the timestamp-sensitive + events-reading queries are the risk surface
    for name in ["window_first_events_per_user", "tumbling_window_daily",
                 "asof_join_click_purchase", "q3_shipping_priority",
                 "session_window_builtin", "scd2_event_intervals",
                 "trending_types_daily_top2", "interval_join_click_purchase",
                 "zscore_outlier_events", "incremental_daily_agg",
                 "profile_orders_table", "variant_json_extract_events",
                 "sqlite_roundtrip_docs", "ewma_daily_counts",
                 "udtf_chunk_spans", "snapshot_pinned_read_docs",
                 "ingest_index_build", "sql_routed_topk", "mmr_rerank_topk",
                 "range_window_last_hour", "text_repetition_filter",
                 "crossdoc_span_dedup",
                 # round-6 additions (first driver rows pending)
                 "knn_graph_blocked_scaled", "semdedup_prune_scaled",
                 "pipeline_scrub_dedup_pack", "sql_routed_pq_filtered",
                 "pipeline_bpe_pack", "contrastive_triplet_mining",
                 "pareto_frontier_docs", "frequent_pairs_market_basket",
                 "benford_first_digit_audit", "acf_daily_counts",
                 "kcore_mutual_knn", "graph_ann_recall_bound",
                 "semantic_decontamination", "theilsen_daily_trend",
                 "weekday_seasonality_anomalies", "k_anonymity_audit",
                 "sql_routed_score_projection", "neyman_allocation_plan",
                 "stratified_sample_neyman", "sampled_token_count_ci",
                 "dedup_cluster_size_histogram", "graph_ann_beam_curve",
                 "equi_depth_buckets_orders", "corr_matrix_lineitem"]:
        mine = mod.queries()[name](spark, sf).toPandas()
        orc = con.sql(mod.oracle_sql()[name]).df()
        assert len(mine) == len(orc), (name, len(mine), len(orc))
        mc = sorted(mine.columns)
        m = mine.reindex(mc, axis=1).sort_values(mc, kind="mergesort").reset_index(drop=True)
        o = orc.reindex(mc, axis=1).sort_values(mc, kind="mergesort").reset_index(drop=True)
        for c in mc:
            assert m[c].astype(str).equals(o[c].astype(str)), (name, c)
    print("DRIVER-SIM-OK")
    spark.stop()
    """
)


def test_queries_work_on_vanilla_driver_session():
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "DRIVER-SIM-OK" in out.stdout


def test_entry_schema_is_stable():
    """The driver smoke-checks entry() for >=0 rows and a STABLE schema —
    pin the exact columns/types so a refactor can't silently change the
    contract surface."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry___schema", os.path.join(repo, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from vectordbfaiss_spark.session import get_spark

    spark = get_spark(app_name="entry-schema", master="local[4]", shuffle_partitions=4)
    df = mod.entry(spark)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("query_id", "bigint"),
        ("vec_id", "bigint"),
        ("score", "double"),
        ("rnk", "bigint"),
        ("text", "string"),
    ]
    assert df.count() > 0


def test_numpy_hugepage_madvise_disabled():
    """Importing the session module must neutralize numpy's
    MADV_HUGEPAGE on large buffers — on this container a THP fault
    costs ~300 ms per 2 MB, which taxed every large-matrix kernel
    10-100x and masqueraded as cross-round host drift (round 8). Both
    layers are pinned: the env var future workers inherit, and the
    runtime switch for this process."""
    import os

    import vectordbfaiss_spark.session  # noqa: F401  (side effect)

    assert os.environ.get("NUMPY_MADVISE_HUGEPAGE") == "0"
    try:
        from numpy._core import multiarray as ma
    except ImportError:
        from numpy.core import multiarray as ma  # type: ignore
    get = getattr(ma, "_get_madvise_hugepage", None)
    if get is not None:
        assert get() is False


def test_load_table_infers_each_file_version_once(spark, tmp_path):
    """load_table infers a table's schema once per file version: a repeat
    read runs no Spark job, and a file rewritten in place is read with
    its new schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vectordbfaiss_spark.session import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    load_table(spark, str(tmp_path), "t")
    sc = spark.sparkContext
    sc.setJobGroup("load-table-repeat", "repeat read")
    try:
        again = load_table(spark, str(tmp_path), "t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("load-table-repeat")) == []
    assert again.columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    rewritten = load_table(spark, str(tmp_path), "t")
    assert rewritten.columns == ["a", "b"]
    assert [tuple(r) for r in rewritten.collect()] == [(3, "x")]
