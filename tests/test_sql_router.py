"""SQL routing onto the IVF layout: exactness at full probe, partition
pruning at low nprobe, transparent fallback for unmatched SQL."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vectordbfaiss_spark.plans.ivf import build_ivf_index
from vectordbfaiss_spark.plans.sql_router import (
    IVF_TABLES,
    ensure_sql_functions,
    register_ivf_table,
    route_topk_sql,
)
from vectordbfaiss_spark.session import load_table

_QV = [round(((i * 37) % 19 - 9) / 10.0, 2) for i in range(64)]
_LITS = ", ".join(repr(x) for x in _QV)


def _ivf(spark, tmp_path, name="t_router"):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    centroids = build_ivf_index(emb, path, n_clusters=4, seed=42)
    register_ivf_table(name, path, centroids)
    return name


def test_full_probe_routed_matches_exact_sql(spark, tmp_path):
    name = _ivf(spark, tmp_path)
    sql = (
        f"SELECT * FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 10"
    )
    routed = route_topk_sql(spark, sql, nprobe=4).collect()

    # exact reference: same cosine over the same stored (normalized) table
    ensure_sql_functions(spark)
    spark.read.parquet(IVF_TABLES[name].path).createOrReplaceTempView("t_exact")
    exact = spark.sql(
        f"SELECT vec_id, cosine_similarity(embedding, array({_LITS})) AS score "
        "FROM t_exact ORDER BY score DESC, vec_id LIMIT 10"
    ).collect()

    assert [r.vec_id for r in routed] == [r.vec_id for r in exact]
    for r, e in zip(routed, exact):
        assert abs(r.score - e.score) < 1e-5


def test_low_nprobe_prunes_partitions(spark, tmp_path):
    name = _ivf(spark, tmp_path, "t_router_prune")
    sql = (
        f"SELECT * FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    routed = route_topk_sql(spark, sql, nprobe=1)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    # the cluster_id equi-join over the partitioned read must surface as a
    # partition-level filter, and never a cartesian
    assert "cluster_id" in plan
    assert "CartesianProduct" not in plan
    assert routed.count() == 5


def test_routed_query_block_is_one_jvm_row(spark, tmp_path):
    """The statement's query vector enters the plan as one JVM-side row in
    one partition, not as a Python-RDD scan: each task of such a scan
    starts a Python worker ahead of the routing kernel."""
    name = _ivf(spark, tmp_path, "t_router_qblock")
    sql = (
        f"SELECT * FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    plan = route_topk_sql(spark, sql, nprobe=1)._jdf.queryExecution().executedPlan()
    assert "ExistingRDD" not in plan.toString()
    assert "Range (0, 1, step=1, splits=1)" in plan.toString()


def test_unmatched_sql_falls_back_verbatim(spark, tmp_path):
    _ivf(spark, tmp_path, "t_router_fb")
    out = route_topk_sql(spark, "SELECT 1 + 1 AS two")
    assert out.collect()[0].two == 2


def test_unregistered_table_falls_back_to_exact_udf(spark, tmp_path):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    emb.createOrReplaceTempView("plain_emb")
    sql = (
        "SELECT vec_id FROM plain_emb ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 3"
    )
    out = route_topk_sql(spark, sql)
    assert out.count() == 3


def test_other_column_projection_falls_back_not_routed(spark, tmp_path):
    name = _ivf(spark, tmp_path, "t_router_proj")
    # 'label' is a real table column but not the routed contract — must run
    # verbatim via spark.sql and return exactly that column
    sql = (
        f"SELECT label FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 3"
    )
    ensure_sql_functions(spark)
    spark.read.parquet(IVF_TABLES[name].path).createOrReplaceTempView(name)
    out = route_topk_sql(spark, sql)
    assert out.columns == ["label"]
    assert out.count() == 3


def test_filtered_routed_matches_exact_sql(spark, tmp_path):
    name = _ivf(spark, tmp_path, "t_router_filter")
    sql = (
        f"SELECT * FROM {name} WHERE label = 3 ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    routed = route_topk_sql(spark, sql, nprobe=4).collect()
    ensure_sql_functions(spark)
    spark.read.parquet(IVF_TABLES[name].path).createOrReplaceTempView("t_fexact")
    exact = spark.sql(
        "SELECT vec_id, cosine_similarity(embedding, array("
        + _LITS
        + ")) AS score FROM t_fexact WHERE label = 3 "
        "ORDER BY score DESC, vec_id LIMIT 5"
    ).collect()
    assert [r.vec_id for r in routed] == [r.vec_id for r in exact]
    for r, e in zip(routed, exact):
        assert abs(r.score - e.score) < 1e-5


def test_unknown_filter_column_raises_unresolved(spark, tmp_path):
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    # no temp view registered: the routed path itself must surface the
    # genuine unresolved-column error, not TABLE_OR_VIEW_NOT_FOUND
    name = _ivf(spark, tmp_path, "t_router_badcol")
    sql = (
        f"SELECT * FROM {name} WHERE no_such_col = 1 ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    with _pytest.raises(AnalysisException) as ei:
        route_topk_sql(spark, sql).collect()
    assert "UNRESOLVED_COLUMN" in str(ei.value)


def test_filtered_routing_pushes_metadata_filter_to_scan(spark, tmp_path):
    name = _ivf(spark, tmp_path, "t_router_push")
    sql = (
        f"SELECT * FROM {name} WHERE label = 3 ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    routed = route_topk_sql(spark, sql, nprobe=2)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    # the metadata equality must reach the parquet reader INSIDE the
    # pushed-filter list (ReadSchema also mentions the column, so the
    # match must stay within the brackets) — scoring never sees the
    # excluded fraction
    import re

    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(label", plan), plan[:2000]
    assert "CartesianProduct" not in plan


def test_multi_predicate_where_routes_and_pushes_down(spark, tmp_path):
    """ANDed IN-list + range predicates must route, filter BEFORE scoring,
    and reach the parquet scan as pushed filters."""
    name = _ivf(spark, tmp_path, "t_router_multi")
    sql = (
        f"SELECT * FROM {name} WHERE label IN (2, 4, 7) AND vec_id >= 50 "
        f"ORDER BY cosine_similarity(embedding, array({_LITS})) DESC LIMIT 10"
    )
    routed = route_topk_sql(spark, sql, nprobe=4)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "In(label" in plan and "GreaterThanOrEqual(vec_id,50" in plan, plan[:3000]
    rows = routed.collect()
    assert rows and all(r.vec_id >= 50 for r in rows)

    ensure_sql_functions(spark)
    spark.read.parquet(IVF_TABLES[name].path).createOrReplaceTempView("t_multi_exact")
    exact = spark.sql(
        "SELECT vec_id FROM t_multi_exact WHERE label IN (2, 4, 7) AND vec_id >= 50 "
        f"ORDER BY cosine_similarity(embedding, array({_LITS})) DESC, vec_id LIMIT 10"
    ).collect()
    assert [r.vec_id for r in rows] == [r.vec_id for r in exact]


def test_string_literal_and_quoted_and_predicates(spark, tmp_path):
    """String literals parse (including one containing the word AND), and
    !=/<> negative predicates filter correctly."""
    from vectordbfaiss_spark.plans.sql_router import _parse_where

    filters = _parse_where("src = 'this AND that' AND label != 3")
    assert filters is not None and len(filters) == 2
    # an IN list with strings
    filters = _parse_where("lang IN ('en', 'fr') AND n >= 10 AND n < 20")
    assert filters is not None and len(filters) == 3


def test_unsupported_where_falls_back_verbatim(spark, tmp_path):
    """OR / LIKE / IS NULL are outside the routed grammar: the statement
    must run verbatim through spark.sql (correct answer, no routing)."""
    name = _ivf(spark, tmp_path, "t_router_fb2")
    spark.read.parquet(IVF_TABLES[name].path).createOrReplaceTempView(name)
    for where in ("label = 2 OR label = 4", "label IS NOT NULL"):
        sql = (
            f"SELECT vec_id FROM {name} WHERE {where} ORDER BY "
            f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 3"
        )
        out = route_topk_sql(spark, sql, nprobe=4)
        assert out.count() == 3
        # verbatim result has only the projected column (routed adds score)
        assert out.columns == ["vec_id"]


def _ivfpq(spark, tmp_path, name="t_pq_router"):
    from vectordbfaiss_spark.plans.ivf import assign_clusters
    from vectordbfaiss_spark.plans.pq import pq_encode, train_pq_codebooks
    from vectordbfaiss_spark.plans.sql_router import register_ivfpq_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    books = train_pq_codebooks(emb, m=16, k_codes=32, seed=42)
    assigned, centroids = assign_clusters(emb, n_clusters=4, seed=42)
    path = str(tmp_path / "ivfpq")
    (
        pq_encode(assigned, books)
        .drop("embedding")
        .repartition("cluster_id")
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(path)
    )
    register_ivfpq_table(name, path, centroids, books)
    return name


def test_pq_routed_serves_from_codes_and_recalls(spark, tmp_path):
    """The same grammar over an IVFPQ artifact: the routed plan reads NO
    raw vector column (the artifact stores codes only), returns k rows
    with the (id, score) contract, and full-probe recall@10 vs the exact
    scan is above the loose PQ floor."""
    name = _ivfpq(spark, tmp_path)
    sql = (
        f"SELECT * FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 10"
    )
    routed = route_topk_sql(spark, sql, nprobe=4)
    assert routed.columns == ["vec_id", "score"]
    rows = routed.collect()
    assert len(rows) == 10
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ensure_sql_functions(spark)
    emb.createOrReplaceTempView("t_pq_exact")
    exact = spark.sql(
        f"SELECT vec_id FROM t_pq_exact ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC, vec_id LIMIT 10"
    ).collect()
    hits = len({r.vec_id for r in rows} & {r.vec_id for r in exact})
    assert hits >= 5, f"PQ-routed recall@10 {hits}/10 under floor"


def test_pq_routed_filters_apply_before_scoring(spark, tmp_path):
    """WHERE conjuncts restrict the encoded index: every hit satisfies
    them, and the scan's PushedFilters carries the metadata predicate."""
    name = _ivfpq(spark, tmp_path, "t_pq_router_f")
    sql = (
        f"SELECT * FROM {name} WHERE label IN (1, 2) AND vec_id >= 100 "
        f"ORDER BY cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    routed = route_topk_sql(spark, sql, nprobe=4)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(vec_id,100" in plan

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "label")
    got = routed.join(emb, "vec_id").collect()
    assert len(got) == 5
    for r in got:
        assert r.label in (1, 2) and r.vec_id >= 100


def test_score_projection_routes_with_alias(spark, tmp_path):
    name = _ivf(spark, tmp_path, "t_router_alias")
    sql = (
        f"SELECT vec_id, cosine_similarity(embedding, array({_LITS})) AS sim "
        f"FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 10"
    )
    routed = route_topk_sql(spark, sql, nprobe=4)
    assert routed.columns == ["vec_id", "sim"]
    got = routed.collect()

    ensure_sql_functions(spark)
    spark.read.parquet(IVF_TABLES[name].path).createOrReplaceTempView("t_alias_exact")
    exact = spark.sql(
        f"SELECT vec_id, cosine_similarity(embedding, array({_LITS})) AS sim "
        "FROM t_alias_exact ORDER BY sim DESC, vec_id LIMIT 10"
    ).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in exact]
    for r, e in zip(got, exact):
        assert abs(r.sim - e.sim) < 1e-5


def test_score_projection_with_different_vector_falls_back(spark, tmp_path):
    name = _ivf(spark, tmp_path, "t_router_alias_fb")
    other = ", ".join(repr(x) for x in reversed(_QV))
    # projected cosine uses a DIFFERENT literal vector than the ORDER BY:
    # not the ranking expression, so it must run verbatim via spark.sql
    sql = (
        f"SELECT vec_id, cosine_similarity(embedding, array({other})) AS sim "
        f"FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 3"
    )
    ensure_sql_functions(spark)
    spark.read.parquet(IVF_TABLES[name].path).createOrReplaceTempView(name)
    out = route_topk_sql(spark, sql)
    assert out.count() == 3  # verbatim execution, not the routed plan


def test_score_projection_on_ivfpq_falls_back_verbatim(spark, tmp_path):
    """An explicitly projected `cosine_similarity(...) AS alias` over an
    IVFPQ-registered table must NOT be routed: the artifact serves ADC
    quantized scores, and an expression the SQL defines exactly may never
    silently come back approximate ('routing is only ever a transparent
    speedup'). The statement runs verbatim against the SQL view instead,
    returning exact cosine values."""
    name = _ivfpq(spark, tmp_path, "t_pq_router_alias")
    # verbatim execution needs the name resolvable as a view with a raw
    # vector column — the base table, as a production catalog would have
    emb = load_table(spark, SF_SMOKE, "embeddings")
    ensure_sql_functions(spark)
    emb.createOrReplaceTempView(name)
    sql = (
        f"SELECT vec_id, cosine_similarity(embedding, array({_LITS})) AS sim "
        f"FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    out = route_topk_sql(spark, sql, nprobe=4).collect()
    exact = spark.sql(sql).collect()
    assert [r.vec_id for r in out] == [r.vec_id for r in exact]
    for r, e in zip(out, exact):
        assert r.sim == e.sim  # exact values, not ADC approximations


def test_score_projection_whitespace_insensitive_vector_match(spark, tmp_path):
    name = _ivf(spark, tmp_path, "t_router_alias_ws")
    spaced = " , ".join(repr(x) for x in _QV)
    sql = (
        f"SELECT vec_id, cosine_similarity(embedding, array({spaced})) AS s2 "
        f"FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    routed = route_topk_sql(spark, sql, nprobe=4)
    assert routed.columns == ["vec_id", "s2"]
    assert routed.count() == 5


def _graph(spark, tmp_path, name="t_graph"):
    """Register a graph table over an exhaustive edge set (every ordered
    pair) so one beam round can reach the true global top-k — the routed
    answer is then exact and comparable to verbatim SQL."""
    from vectordbfaiss_spark.plans.sql_router import register_graph_table

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(60)
    emb_path = str(tmp_path / "graph_emb")
    emb.write.mode("overwrite").parquet(emb_path)
    ids = spark.read.parquet(emb_path).select("vec_id")
    edges = (
        ids.withColumnRenamed("vec_id", "src")
        .crossJoin(ids.withColumnRenamed("vec_id", "dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    edges_path = str(tmp_path / "graph_edges")
    edges.write.mode("overwrite").parquet(edges_path)
    n = spark.read.parquet(emb_path).count()
    register_graph_table(name, emb_path, edges_path, n)
    return name, emb_path


def test_graph_route_matches_exact_on_complete_graph(spark, tmp_path):
    name, emb_path = _graph(spark, tmp_path)
    sql = (
        f"SELECT * FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 10"
    )
    routed = route_topk_sql(spark, sql).collect()
    ensure_sql_functions(spark)
    spark.read.parquet(emb_path).createOrReplaceTempView("t_graph_exact")
    exact = spark.sql(
        f"SELECT vec_id, cosine_similarity(embedding, array({_LITS})) AS score "
        "FROM t_graph_exact ORDER BY score DESC, vec_id LIMIT 10"
    ).collect()
    assert [r.vec_id for r in routed] == [r.vec_id for r in exact]
    for r, e in zip(routed, exact):
        assert abs(r.score - e.score) < 1e-5


def test_graph_route_where_falls_back_verbatim(spark, tmp_path):
    """A metadata filter cannot pre-filter a traversal — any WHERE on a
    graph table must run verbatim-exact through spark.sql."""
    name, emb_path = _graph(spark, tmp_path, "t_graph_where")
    spark.read.parquet(emb_path).createOrReplaceTempView(name)
    sql = (
        f"SELECT vec_id, cosine_similarity(embedding, array({_LITS})) AS s "
        f"FROM {name} WHERE vec_id >= 10 ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    got = route_topk_sql(spark, sql).collect()
    assert all(r.vec_id >= 10 for r in got) and len(got) == 5
    # verbatim means the plan scanned the VIEW, not the edge artifact:
    # equal to executing the same statement directly
    want = spark.sql(sql).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in want]


def test_score_projection_on_graph_falls_back_verbatim(spark, tmp_path):
    """An explicitly projected `cosine_similarity(...) AS alias` over a
    GRAPH table must run verbatim: the graph route serves an approximate
    candidate set with scores rounded to 6dp, and a projected expression
    is something the SQL defines exactly (round-8 advisor finding —
    the alias guard used to reject only PQ tables)."""
    name, emb_path = _graph(spark, tmp_path, "t_graph_alias_fb")
    spark.read.parquet(emb_path).createOrReplaceTempView(name)
    sql = (
        f"SELECT vec_id, cosine_similarity(embedding, array({_LITS})) AS s "
        f"FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    ensure_sql_functions(spark)
    got = route_topk_sql(spark, sql).collect()
    want = spark.sql(sql).collect()
    # bit-identical scores (verbatim execution) — the routed graph path
    # would have returned values rounded to 6dp
    assert [(r.vec_id, r.s) for r in got] == [(r.vec_id, r.s) for r in want]


def _docs_view(spark, name="t_docs"):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    docs.createOrReplaceTempView(name)
    return name


def test_embed_scalar_routes_like_array_literal(spark, tmp_path):
    """embed('<text>') in the base grammar routes onto the layout and
    returns exactly what the same statement returns with the embedding
    written out as array literals (the router resolves embed with the
    scalar reference, bit-identical to the registered UDF)."""
    from vectordbfaiss_spark.functions.text import _hash_embed_text

    name = _ivf(spark, tmp_path, "t_router_embed")
    qt = "spark join filter order"
    lits = ", ".join(repr(float(x)) for x in _hash_embed_text(qt, 64))
    routed = route_topk_sql(
        spark,
        f"SELECT * FROM {name} ORDER BY "
        f"cosine_similarity(embedding, embed('{qt}')) DESC LIMIT 7",
        nprobe=4,
    ).collect()
    lit_routed = route_topk_sql(
        spark,
        f"SELECT * FROM {name} ORDER BY "
        f"cosine_similarity(embedding, array({lits})) DESC LIMIT 7",
        nprobe=4,
    ).collect()
    assert [tuple(r) for r in routed] == [tuple(r) for r in lit_routed]


def test_hydration_routed_matches_verbatim(spark, tmp_path):
    """The full /search statement (embed + hydration join) served by the
    router must equal verbatim spark.sql execution row-for-row at full
    probe — including bit-equal scores."""
    name = _ivf(spark, tmp_path, "t_router_hyd")
    docs = _docs_view(spark, "t_docs_hyd")
    qt = "window order group"
    sql = (
        f"SELECT vec_id, text, cosine_similarity(embedding, embed('{qt}')) AS s "
        f"FROM {name} JOIN {docs} ON {name}.vec_id = {docs}.doc_id "
        f"ORDER BY cosine_similarity(embedding, embed('{qt}')) DESC LIMIT 5"
    )
    routed = route_topk_sql(spark, sql, nprobe=4)
    assert routed.columns == ["vec_id", "text", "s"]
    got = routed.collect()
    ensure_sql_functions(spark)
    spark.read.parquet(IVF_TABLES[name].path).createOrReplaceTempView(name)
    want = spark.sql(sql).collect()
    assert [(r.vec_id, r.text, r.s) for r in got] == [
        (r.vec_id, r.text, r.s) for r in want
    ]
    # the hydration side must enter as a broadcast of the k-row winner
    # frame, never a shuffle of the doc table
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_hydration_with_where_falls_back_verbatim(spark, tmp_path):
    """WHERE is outside the hydration grammar — the statement must run
    verbatim (correct answer, no routing)."""
    name = _ivf(spark, tmp_path, "t_router_hyd_w")
    docs = _docs_view(spark, "t_docs_hyd_w")
    spark.read.parquet(IVF_TABLES[name].path).createOrReplaceTempView(name)
    ensure_sql_functions(spark)
    sql = (
        f"SELECT vec_id, text FROM {name} JOIN {docs} "
        f"ON {name}.vec_id = {docs}.doc_id WHERE vec_id >= 10 "
        f"ORDER BY cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    got = route_topk_sql(spark, sql)
    want = spark.sql(sql)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    assert all(r.vec_id >= 10 for r in got.collect())


def test_hydration_unknown_doc_column_falls_back(spark, tmp_path):
    """A projected column that is neither the index id nor a doc column
    leaves the grammar -> verbatim (here it raises the genuine analysis
    error a plain spark.sql would raise)."""
    import pytest

    name = _ivf(spark, tmp_path, "t_router_hyd_u")
    docs = _docs_view(spark, "t_docs_hyd_u")
    spark.read.parquet(IVF_TABLES[name].path).createOrReplaceTempView(name)
    ensure_sql_functions(spark)
    sql = (
        f"SELECT vec_id, nonexistent_col FROM {name} JOIN {docs} "
        f"ON {name}.vec_id = {docs}.doc_id "
        f"ORDER BY cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    with pytest.raises(Exception):
        route_topk_sql(spark, sql).collect()


def test_hydration_uncovered_winner_falls_back_verbatim(spark, tmp_path):
    """When a top-k winner has no doc row, routed top-k-then-join would
    return fewer/different rows than SQL's join-then-rank — the route
    must detect it and run verbatim."""
    name = _ivf(spark, tmp_path, "t_router_hyd_m")
    # doc table covering only half the ids: some winner will be uncovered
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    docs.filter(F.col("doc_id") % 2 == 0).createOrReplaceTempView("t_docs_half")
    spark.read.parquet(IVF_TABLES[name].path).createOrReplaceTempView(name)
    ensure_sql_functions(spark)
    sql = (
        f"SELECT vec_id, text FROM {name} JOIN t_docs_half "
        f"ON {name}.vec_id = t_docs_half.doc_id "
        f"ORDER BY cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    got = route_topk_sql(spark, sql).collect()
    want = spark.sql(sql).collect()
    assert len(got) == 5 and all(r.vec_id % 2 == 0 for r in got)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_hydration_on_graph_table_serves_traversal_topk(spark, tmp_path):
    """Hydration over a GraphTable routes through the beam traversal
    (approximate set, exact scores) and returns hydrated k rows."""
    name, emb_path = _graph(spark, tmp_path, "t_graph_hyd")
    docs = _docs_view(spark, "t_docs_ghyd")
    sql = (
        f"SELECT vec_id, text FROM {name} JOIN {docs} "
        f"ON {name}.vec_id = {docs}.doc_id "
        f"ORDER BY cosine_similarity(embedding, array({_LITS})) DESC LIMIT 5"
    )
    got = route_topk_sql(spark, sql).collect()
    assert len(got) == 5
    assert all(r.text is not None for r in got)
