"""Graph-ANN beam search semantics: exhaustive-budget equivalence to the
exact scan, visited-set bounds, and entry-point determinism. Registry
oracle parity for graph_ann_recall_bound is covered by
tests/test_registry_oracle.py."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectordbfaiss_spark.operators.graph_ann import graph_beam_search


def _toy_corpus(spark, n=40, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(4, dim))
    rows = []
    for i in range(n):
        v = centers[i % 4] + 0.15 * rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _knn_edges_df(spark, emb_df, k):
    pdf = emb_df.toPandas()
    X = np.stack(pdf.embedding.to_numpy())
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    np.fill_diagonal(S, -2)
    ids = pdf.vec_id.to_numpy()
    rows = []
    for i in range(len(ids)):
        for j in np.argsort(-S[i])[:k]:
            rows.append((int(ids[i]), int(ids[j])))
    return spark.createDataFrame(rows, "src long, dst long")


def test_beam_search_with_exhaustive_budget_matches_exact(spark):
    from vectordbfaiss_spark.operators.topk import score_topk_vectorized

    emb = _toy_corpus(spark)
    edges = _knn_edges_df(spark, emb, k=6)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # budget big enough to visit the whole 40-node corpus: result must
    # EQUAL the exact scan, not just approximate it
    visited = graph_beam_search(queries, edges, emb, beam=40, rounds=12, n_entries=8)
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
    approx = (
        visited.filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "vec_id")
    )
    exact = score_topk_vectorized(queries, emb, k=5, exclude_self=True).select(
        "query_id", "vec_id"
    )
    got = {(r.query_id, r.vec_id) for r in approx.collect()}
    want = {(r.query_id, r.vec_id) for r in exact.collect()}
    assert got == want


def test_beam_search_visited_is_query_bounded(spark):
    emb = _toy_corpus(spark)
    edges = _knn_edges_df(spark, emb, k=4)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    one_round = graph_beam_search(queries, edges, emb, beam=2, rounds=1, n_entries=3)
    per_q = one_round.groupBy("query_id").count().collect()
    # after 1 round: entries + at most beam * out-degree new candidates
    assert all(r["count"] <= 3 + 2 * 4 for r in per_q)
    assert {r.query_id for r in per_q} == {0, 1, 2}


def test_beam_search_scores_are_rounded_cosines(spark):
    emb = _toy_corpus(spark)
    edges = _knn_edges_df(spark, emb, k=4)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    visited = graph_beam_search(queries, edges, emb, beam=8, rounds=3, n_entries=4)
    row = visited.filter(F.col("vec_id") == 0).collect()
    if row:  # self reached: cosine with itself must be exactly 1.0
        assert row[0].score == pytest.approx(1.0, abs=1e-6)
    assert visited.filter(F.col("score") > 1.000001).count() == 0


def test_graph_ann_artifact_uses_own_path(spark, tmp_path):
    # the search graph must not clobber the k=3 analytics artifact: the
    # linear-build publisher writes under its own graph_ann_edges_ prefix
    import inspect

    from vectordbfaiss_spark.queries import embedding_analysis as ea

    src = inspect.getsource(ea.graph_ann_edges_published)
    assert "graph_ann_edges_" in src and "knn_edges_" not in src


def test_ivf_entry_pairs_cover_query_cells(spark):
    from vectordbfaiss_spark.operators.graph_ann import ivf_entry_pairs
    from vectordbfaiss_spark.plans.ivf import assign_clusters

    emb = _toy_corpus(spark)
    assigned, centroids = assign_clusters(
        emb.select("vec_id", F.col("embedding").alias("nvec")),
        vec_col="nvec",
        n_clusters=4,
        seed=7,
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    pairs = ivf_entry_pairs(queries, assigned, centroids, nprobe=2)
    got = pairs.collect()
    assert {r.query_id for r in got} == {0, 1, 2}
    # a corpus-drawn query's own vector lies in its nearest cell, so the
    # seed set must contain (q, q) — the self_found precondition
    selfs = {(r.query_id, r.vec_id) for r in got}
    for q in (0, 1, 2):
        assert (q, q) in selfs
    # entries are exactly the members of the nprobe chosen cells
    amap = {r.vec_id: r.cluster_id for r in assigned.select("vec_id", "cluster_id").collect()}
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(amap[r.vec_id])
    for q, cells in by_q.items():
        assert len(cells) <= 2


def test_beam_search_entry_pairs_override_global_sample(spark):
    emb = _toy_corpus(spark)
    edges = _knn_edges_df(spark, emb, k=4)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    seeds = spark.createDataFrame(
        [(0, 5), (1, 7)], "query_id long, vec_id long"
    )
    one_round = graph_beam_search(
        queries, edges, emb, beam=2, rounds=0, entry_pairs=seeds
    )
    got = {(r.query_id, r.vec_id) for r in one_round.collect()}
    # zero rounds: visited IS the seed set, scored — nothing else
    assert got == {(0, 5), (1, 7)}


def test_tombstoned_edges_are_what_keeps_deleted_ids_out(spark):
    """Mutation test for the delete-serve witness contract (round-7
    advisor): with the FULL embedding store as the scoring side and
    tombstones excluded only from entry seeding, the thing that keeps a
    deleted id out of the answer is apply_tombstones on the EDGE set —
    replace it with a no-op and the deleted id comes back. This pins
    that `no_deleted_hits` in graph_ann_delete_serve actually depends
    on the operator it claims to verify."""
    from vectordbfaiss_spark.operators.graph_ann import graph_beam_search
    from vectordbfaiss_spark.operators.graph_ann_incremental import (
        apply_tombstones,
    )

    emb_df = _toy_corpus(spark, n=30)
    edges = _knn_edges_df(spark, emb_df, k=6)
    # tombstone the id that IS query 0's true nearest neighbor
    from pyspark.sql import functions as F

    pdf = emb_df.toPandas()
    X = np.stack(pdf.embedding.to_numpy())
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    s0 = Xn @ Xn[0]
    s0[0] = -2
    top_dst = int(pdf.vec_id.to_numpy()[np.argmax(s0)])
    tomb = spark.createDataFrame([(top_dst,)], "vec_id long")
    queries = emb_df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def serve(edge_df):
        v = graph_beam_search(
            queries,
            edge_df.select("src", "dst"),
            emb_df,  # FULL store: deleted vectors still present (logical)
            beam=8,
            rounds=4,
            exclude_entry_ids=tomb,
        )
        return {r.vec_id for r in v.orderBy(F.desc("score"), "vec_id").limit(5).collect()}

    # no-op tombstoning (the mutation): the deleted id IS returned
    assert top_dst in serve(edges)
    # real tombstoning: it cannot be proposed by any edge, so it is not
    assert top_dst not in serve(apply_tombstones(edges, tomb))


def test_entry_seed_budget_met_from_survivors(spark):
    """exclude_entry_ids must anti-join the candidate pool BEFORE the
    hash-sample limit, so the seed budget is met from survivors: with
    tombstones covering a third of the store and n_entries below the
    survivor count, exactly n_entries distinct survivors are seeded
    (round-8 advisor finding — excluding after limit() shrank the seed
    set by however many tombstones landed in the sample)."""
    emb_df = _toy_corpus(spark, n=30)
    tomb = spark.createDataFrame(
        [(i,) for i in range(0, 30, 3)], "vec_id long"
    )  # 10 tombstones; 20 survivors
    queries = emb_df.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    edges = spark.createDataFrame([], "src long, dst long")
    # rounds=0: visited IS the scored seed set
    visited = graph_beam_search(
        queries,
        edges,
        emb_df,
        beam=4,
        rounds=0,
        n_entries=15,
        exclude_entry_ids=tomb,
    )
    seeded = {r.vec_id for r in visited.collect()}
    assert len(seeded) == 15
    assert all(v % 3 != 0 for v in seeded)


def test_xxhash64_long_parity(spark):
    """The in-kernel entry-sample hash must equal Spark's xxhash64(BIGINT)
    bit for bit — entry selection order depends on it."""
    import numpy as np

    from vectordbfaiss_spark.operators.graph_ann import _xxhash64_longs

    rng = np.random.default_rng(11)
    vals = np.concatenate(
        [
            np.arange(-5, 2000, dtype=np.int64),
            rng.integers(-(2**63), 2**63 - 1, size=500, dtype=np.int64),
            np.array([0, 1, -1, 2**63 - 1, -(2**63)], dtype=np.int64),
        ]
    )
    df = spark.createDataFrame([(int(v),) for v in vals], "v long")
    want = [r[0] for r in df.select(F.xxhash64("v")).collect()]
    got = _xxhash64_longs(vals).tolist()
    assert got == want


def test_round_half_up6_matches_spark(spark):
    """The in-kernel 6dp rounding must match Spark's round(double, 6) on
    representative score values, including .5-boundary cases and the
    non-finite scores a zero-norm vector produces."""
    import numpy as np

    from vectordbfaiss_spark.operators.graph_ann import _round_half_up6

    rng = np.random.default_rng(7)
    vals = np.concatenate(
        [
            rng.uniform(-1, 1, size=2000),
            np.array([0.1234565, -0.1234565, 0.9999995, -0.9999995, 1.0, -1.0]),
            np.array([2.5e-7, -2.5e-7, 0.5e-6, 1.5e-6]),
            np.array([np.nan, np.inf, -np.inf]),
        ]
    )
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    want = np.array([r[0] for r in df.select(F.round("v", 6)).collect()])
    got = _round_half_up6(vals)
    np.testing.assert_array_equal(got, want)  # NaN == NaN here


def _toy_artifacts(spark, tmp_path):
    """The 60-node toy corpus and its 5-NN edges as frames, also written
    to parquet (the kernel reads the published paths)."""
    emb_df = _toy_corpus(spark, n=60)
    edges = _knn_edges_df(spark, emb_df, k=5)
    emb_path = str(tmp_path / "emb.parquet")
    edges_path = str(tmp_path / "edges.parquet")
    emb_df.write.parquet(emb_path)
    edges.write.parquet(edges_path)
    queries = emb_df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return emb_df, edges, queries, {"emb_path": emb_path, "edges_path": edges_path}


def test_interactive_kernel_bit_identical_to_bsp(spark, tmp_path):
    """The request-path kernel must produce the EXACT visited frame the
    BSP operator produces (same entries, same expansion order, same
    JVM-rounded scores) — it is a latency re-plumbing, not a different
    algorithm — whether the request block is a local relation or a
    parquet scan."""
    from vectordbfaiss_spark.operators.graph_ann import (
        graph_beam_search_interactive,
    )

    emb_df, edges, queries, paths = _toy_artifacts(spark, tmp_path)
    bsp = graph_beam_search(queries, edges, emb_df, beam=6, rounds=5)
    bsp = sorted(map(tuple, bsp.collect()))
    assert len(bsp) > 0
    q_path = str(tmp_path / "queries.parquet")
    queries.write.parquet(q_path)
    for block in (queries, spark.read.parquet(q_path)):
        inter = graph_beam_search_interactive(
            block, edges, emb_df, beam=6, rounds=5, **paths
        )
        assert sorted(map(tuple, inter.collect())) == bsp


def test_interactive_kernel_path_mode_matches_df_mode(spark, tmp_path, monkeypatch):
    """Path mode (the kernel loading the published artifacts) and
    DataFrame mode (the size guard's BSP fallback over the frames it is
    handed) must return the same frame for a scan-fed request block."""
    from vectordbfaiss_spark.operators import graph_ann

    emb_df, edges, queries, paths = _toy_artifacts(spark, tmp_path)
    q_path = str(tmp_path / "queries.parquet")
    queries.write.parquet(q_path)
    q_scan = spark.read.parquet(q_path)
    path_mode = graph_ann.graph_beam_search_interactive(
        q_scan, edges, emb_df, beam=6, rounds=5, **paths
    )
    path_mode = sorted(map(tuple, path_mode.collect()))
    monkeypatch.setattr(graph_ann, "_KERNEL_MAX_BYTES", 0)
    df_mode = graph_ann.graph_beam_search_interactive(
        q_scan, edges, emb_df, beam=6, rounds=5, **paths
    )
    assert sorted(map(tuple, df_mode.collect())) == path_mode and len(path_mode) > 0


def test_interactive_kernel_size_guard(spark, tmp_path, monkeypatch):
    """Under the size bound the whole traversal is one kernel job; above
    it (bound forced to 0) the BSP fallback serves the same frame."""
    from vectordbfaiss_spark.operators import graph_ann

    emb_df, edges, queries, paths = _toy_artifacts(spark, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("kernel-size-guard", "kernel under the bound")
    try:
        kernel = graph_ann.graph_beam_search_interactive(
            queries, edges, emb_df, beam=6, rounds=5, **paths
        )
        kernel = sorted(map(tuple, kernel.collect()))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the request-block collect, then the one kernel job
    assert len(sc.statusTracker().getJobIdsForGroup("kernel-size-guard")) == 2
    monkeypatch.setattr(graph_ann, "_KERNEL_MAX_BYTES", 0)
    fallback = graph_ann.graph_beam_search_interactive(
        queries, edges, emb_df, beam=6, rounds=5, **paths
    )
    assert sorted(map(tuple, fallback.collect())) == kernel and len(kernel) > 0
