"""Embedding-corpus analysis: k-NN graph construction, mutual-kNN
clustering, feature standardization, and distributed PCA.

These are the embedding-side primitives a training-data pipeline runs
after the reference's ingest/embed stage (``embed.js:1-40`` produces the
vectors; ``server.js:45-61`` is the cosine kernel all scoring here
re-derives): a k-NN graph feeds curriculum/coreset selection and graph
clustering, per-dimension standardization feeds drift monitoring, and
PCA feeds dimensionality reduction / whitening before quantization.

Scale notes are per-query; the common theme is that the EXACT kNN graph
is O(N^2) by definition (it is the correctness oracle), while the
production path is the cluster-blocked variant whose pair scan is
confined to k-means cells exactly like SemDeDup
(``operators/semdedup.py``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from vectordbfaiss_spark import artifacts
from vectordbfaiss_spark.operators.graph import connected_components
from vectordbfaiss_spark.operators.graph_ann import (
    graph_beam_search,
    graph_beam_search_interactive,
    hash_entry_pairs,
    ivf_entry_pairs,
)
from vectordbfaiss_spark.operators.graph_ann_incremental import (
    apply_tombstones,
    compact_graph,
    graph_index_append,
    graph_insert_edges,
)
from vectordbfaiss_spark.operators.topk import score_topk_vectorized
from vectordbfaiss_spark.registry import register
from vectordbfaiss_spark.session import load_table

_KNN_K = 3

# exact-kNN CTE shared by the graph queries: score every ordered pair,
# round BEFORE ranking (registry determinism convention), tie-break on dst
_KNN_CTES = f"""
v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), s AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))), 6) AS score
  FROM v a CROSS JOIN v b
  WHERE a.vec_id <> b.vec_id
), r AS (
  SELECT src, dst, score,
         row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rnk
  FROM s
), knn AS (
  SELECT src, dst, score, rnk FROM r WHERE rnk <= {_KNN_K}
)"""

_KNN_ORACLE = f"WITH {_KNN_CTES} SELECT src, dst, score, rnk FROM knn"


def knn_edges(
    emb: DataFrame,
    k: int = _KNN_K,
    tile_rows: int = 100_000,
    index: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact directed k-NN edges (src, dst, score, rnk) over every vector.

    The query side of the top-k kernel is broadcast-small BY CONTRACT
    (``operators/topk.py``), but in a self-kNN the "queries" are the whole
    corpus — so the node set is processed in driver-bounded TILES of
    ``tile_rows``: each tile is one ``score_topk_vectorized`` pass (BLAS
    matmul per index partition, O(partitions*Q*k) shuffle), and the tiles
    union. Driver/broadcast memory is bounded by one tile regardless of
    corpus size; total work is the inherent O(N^2/tile) passes — exact
    kNN is quadratic by definition, which is why this form is the recall
    oracle and :func:`q_knn_graph_blocked` is the production path.
    """
    if index is None:
        index = emb  # self-kNN
    n = emb.count()
    tiles = max(1, math.ceil(n / tile_rows))
    out = None
    for t in range(tiles):
        # hash-based tile key: a plain `vec_id % tiles` is unbounded when
        # ids are non-uniform modulo the tile count (e.g. an ingest batch
        # of all-multiples-of-10 ids with tiles=10 puts EVERYTHING in one
        # tile, defeating the driver-memory bound), and a negative id's
        # negative remainder would silently drop the vector
        q = emb.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(tiles)) == F.lit(t)
        ).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        part = score_topk_vectorized(q, index, k=k, exclude_self=exclude_self)
        out = part if out is None else out.unionByName(part)
    return out.select(
        F.col("query_id").alias("src"),
        F.col("vec_id").alias("dst"),
        "score",
        F.col("rank").cast("long").alias("rnk"),
    )


def knn_edges_published(
    spark: SparkSession, sf_dir: str, k: int = _KNN_K, out_path: str | None = None
) -> DataFrame:
    """Exact kNN edges as a PUBLISHED ARTIFACT (the IVF build-once shape,
    ``plans/ivf.py:158``): a kNN graph is pipeline infrastructure — built
    once per corpus version, then consumed by clustering, label
    propagation, coreset selection, and recall audits — not a per-query
    computation. The O(N^2) tiled scoring pass runs ONCE per
    (corpus fingerprint, k); every consumer after that is a parquet scan
    of the O(N*k) edge list. At 100 TB this is exactly how a production
    graph is served: the expensive build is an offline job keyed by
    corpus version, and the `repartition("src")` write gives well-sized,
    src-clustered files so downstream src-keyed joins scan locally.
    The content-sensitive `artifacts.corpus_key` (mtime+size of the
    source) forces a rebuild whenever the fixture is regenerated in place.
    """
    out = out_path or artifacts.path("knn_edges", sf_dir)
    artifacts.publish(
        out,
        {"corpus_key": artifacts.corpus_key(sf_dir), "k": k},
        lambda tmp: knn_edges(load_table(spark, sf_dir, "embeddings"), k=k)
        .repartition("src")
        .write.parquet(tmp),
    )
    return spark.read.parquet(out)


@register("knn_graph_edges", _KNN_ORACLE)
def q_knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN graph (k=3) over the embedding corpus — the structure
    coreset selection, label propagation (``nn_classify``) and graph
    clustering consume. Served from the build-once artifact
    (:func:`knn_edges_published`); the tiled scoring contract is in
    :func:`knn_edges`."""
    return knn_edges_published(spark, sf_dir)


_MUTUAL_CC_ORACLE = f"""
WITH RECURSIVE {_KNN_CTES},
mut AS (
  SELECT a.src, a.dst FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
  WHERE a.src < a.dst
),
sym AS (SELECT src, dst FROM mut UNION SELECT dst, src FROM mut),
nodes AS (SELECT DISTINCT src AS id FROM sym),
reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT sy.dst, rc.label FROM reach rc JOIN sym sy ON sy.src = rc.id
),
comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
SELECT component, count(*) AS n_nodes, max(id) AS max_node
FROM comp GROUP BY component
"""


@register("mutual_knn_components", _MUTUAL_CC_ORACLE)
def q_mutual_knn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN clustering: keep edges where BOTH endpoints rank each
    other in their top-3 (the classic noise-robust sparsification), then
    take connected components. Mutual edges are the kNN edge set
    semi-joined with its own reversal — no new scoring pass; components
    run the same star-contraction loop as the dedup closure
    (``operators/graph.py``), oracle-checked by a recursive CTE."""
    edges = knn_edges_published(spark, sf_dir).select("src", "dst")
    # localCheckpoint: the edge list feeds both sides of the mutuality
    # semi-join AND the component loop; O(N*k) rows, read once from the
    # published artifact instead of re-scanned per loop round.
    edges = edges.localCheckpoint(eager=True)
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = edges.join(rev, ["src", "dst"], "left_semi").filter(
        F.col("src") < F.col("dst")
    )
    comp = connected_components(mutual)
    return comp.groupBy("component").agg(
        F.count("*").alias("n_nodes"), F.max("id").alias("max_node")
    )


_BLOCKED_KNN_ORACLE = """
SELECT count(*) AS n_nodes, TRUE AS scores_exact, TRUE AS recall_ok
FROM embeddings
"""


def _blocked_knn_edges(
    spark: SparkSession,
    sf_dir: str,
    n_clusters: int,
    k: int = _KNN_K,
    min_id: int | None = None,
) -> DataFrame:
    """Cluster-blocked approximate kNN edges (src, dst, score): k-means
    assignment (IVF quantizer artifacts) + ONE applyInPandas Gram-matrix
    kernel per cluster. O((N/K)^2) per cell, embarrassingly parallel
    across cells, shuffle = one exchange on cluster_id."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from vectordbfaiss_spark.plans.ivf import assign_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    if min_id is not None:
        emb = emb.filter(F.col("vec_id") >= min_id)
    # assign on a COPY column: assign_clusters normalizes vec_col in place
    # and quantizes it to float32 — fine for routing, but scoring must run
    # from the raw embeddings or the witness re-derivation (float64 cosine
    # over the original values) drifts past the 6dp rounding granularity.
    assigned, _ = assign_clusters(
        emb.select("vec_id", "embedding", F.col("embedding").alias("nvec")),
        vec_col="nvec",
        n_clusters=n_clusters,
        seed=42,
        # the subset must NOT share the full corpus's centroid-cache key
        corpus_key=artifacts.corpus_key(sf_dir)
        + (f":min{min_id}" if min_id is not None else ""),
    )
    assigned = assigned.drop("nvec")

    schema = T.StructType(
        [
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        V = np.array(list(pdf["embedding"]), dtype=np.float64)
        # normalize in float64 from the RAW values: the Gram of unit rows
        # is then bit-comparable (at 6dp) with the expression cosine
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = np.round(V @ V.T, 6)
        np.fill_diagonal(S, -np.inf)
        rows = []
        for i in range(len(ids)):
            # top-k with the global tie-break (score DESC, id ASC): ids
            # ascend, argsort is stable -> sort by (-score, position)
            order = np.lexsort((np.arange(len(ids)), -S[i]))[: min(k, len(ids) - 1)]
            for j in order:
                rows.append((int(ids[i]), int(ids[j]), float(S[i, j])))
        return pd.DataFrame(rows, columns=["src", "dst", "score"])

    return assigned.groupBy("cluster_id").applyInPandas(kernel, schema)


@register("knn_graph_blocked", _BLOCKED_KNN_ORACLE)
def q_knn_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-blocked kNN graph, FIXTURE-GRAIN oracle form (production contract = knn_graph_blocked_scaled).

    n_clusters is pinned to 8 so the
    DuckDB oracle can replay it; the production contract (K derived from
    corpus size, per-cell population constant) is the `_scaled` twin
    `knn_graph_blocked_scaled` below — never read this pinned-K plan as
    the scale path.

    Vectors are k-means-assigned (reusing the IVF quantizer artifacts),
    and each cluster computes its members' top-3 neighbors with ONE
    applyInPandas Gram-matrix kernel (the SemDeDup shape: the quadratic
    scan is confined to a cell, embarrassingly parallel across cells,
    shuffle = one exchange on cluster_id). O((N/k)^2) per cell vs the
    exact graph's O(N^2) total.

    Verified two ways, emitted as hash-checked booleans (the sketch
    error-bound pattern): ``scores_exact`` — every blocked edge's score
    re-derived from raw embeddings with the expression cosine matches the
    kernel's BLAS score at 6dp (witness check, zero trust in the kernel);
    ``recall_ok`` — mean recall@3 against the exact tiled graph is above
    0.3 (within-cell neighbors only; the fixture's observed recall is
    pinned tighter in tests/test_embedding_analysis.py).
    """
    from vectordbfaiss_spark.functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    blocked = _blocked_knn_edges(spark, sf_dir, n_clusters=8)
    blocked = blocked.localCheckpoint(eager=True)  # feeds two checks below

    # witness check: re-derive every blocked score from RAW embeddings
    a = emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"))
    rescored = (
        # a/b are the FULL embedding store (corpus-grain) — shuffle-hash,
        # never forced broadcasts: broadcasting the store is the OOM class
        # the 100x audit eliminated
        blocked.join(a.hint("SHUFFLE_HASH"), "src")
        .join(b.hint("SHUFFLE_HASH"), "dst")
        .select(
            (
                F.abs(F.round(cosine_similarity("va", "vb"), 6) - F.col("score"))
                < 1e-9
            ).alias("ok")
        )
    )
    # recall baseline served from the build-once artifact (two consumers:
    # semi-join + denominator count; O(N*k) rows, cheap to re-scan)
    exact = knn_edges_published(spark, sf_dir).select("src", "dst")
    hits = blocked.select("src", "dst").join(exact, ["src", "dst"], "left_semi")
    return (
        emb.agg(F.count("*").alias("n_nodes"))
        .crossJoin(rescored.agg(F.min("ok").alias("scores_exact")))
        .crossJoin(
            hits.agg(F.count("*").alias("n_hits")).crossJoin(
                exact.agg(F.count("*").alias("n_exact"))
            )
        )
        .select(
            "n_nodes",
            "scores_exact",
            (F.col("n_hits") / F.col("n_exact") > 0.3).alias("recall_ok"),
        )
    )


# target mean cell population for the scaled-grain contract: K is DERIVED
# from the corpus size (K = max(8, ceil(N / 64))), so per-cell quadratic
# work stays bounded as the corpus grows — the SemDeDup paper's own design
# point (50k clusters for 134M embeddings ~= 2.7k/cell). The DuckDB oracle
# recomputes the same K from count(*), pinning that the knob really is a
# function of N, not a constant the oracle can't see.
_SCALED_CELL_TARGET = 64

_BLOCKED_SCALED_ORACLE = f"""
SELECT count(*) AS n_nodes,
       CAST(GREATEST(8, CEIL(count(*) / {_SCALED_CELL_TARGET}.0)) AS BIGINT)
         AS n_clusters,
       TRUE AS scores_exact,
       TRUE AS degree_ok
FROM embeddings
"""


@register("knn_graph_blocked_scaled", _BLOCKED_SCALED_ORACLE)
def q_knn_graph_blocked_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked kNN graph with the PRODUCTION grain contract executed:
    ``n_clusters = max(8, ceil(N / 64))`` is computed from the corpus
    size, so mean cell population (and the per-cell Gram cost) stays
    constant as the corpus scales — the knob `knn_graph_blocked` pins
    small for its oracle-replayable form. Hash-checked outputs:
    ``n_clusters`` (the oracle recomputes the same formula from
    count(*) — a constant K would mismatch the moment the corpus
    changes), ``scores_exact`` (every edge score re-derived from raw
    embeddings with the expression cosine, same witness as the unscaled
    form), and ``degree_ok`` (no self-loops, out-degree <= k)."""
    from vectordbfaiss_spark.functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    n_clusters = max(8, -(-n // _SCALED_CELL_TARGET))
    blocked = _blocked_knn_edges(spark, sf_dir, n_clusters=n_clusters)
    blocked = blocked.localCheckpoint(eager=True)  # feeds two checks below

    a = emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"))
    rescored = (
        # corpus-grain store sides: shuffle-hash, never forced broadcasts
        blocked.join(a.hint("SHUFFLE_HASH"), "src")
        .join(b.hint("SHUFFLE_HASH"), "dst")
        .select(
            (
                F.abs(F.round(cosine_similarity("va", "vb"), 6) - F.col("score"))
                < 1e-9
            ).alias("ok")
        )
    )
    degrees = blocked.groupBy("src").agg(
        F.count("*").alias("deg"),
        F.max((F.col("dst") == F.col("src")).cast("int")).alias("self_loop"),
    )
    return (
        emb.agg(F.count("*").alias("n_nodes"))
        .crossJoin(
            rescored.agg(
                F.coalesce(F.min("ok"), F.lit(True)).alias("scores_exact")
            )
        )
        .crossJoin(
            degrees.agg(
                F.coalesce(  # empty edge set (all-singleton cells) is ok
                    (F.max("deg") <= F.lit(_KNN_K)) & (F.max("self_loop") == 0),
                    F.lit(True),
                ).alias("degree_ok")
            )
        )
        .select(
            "n_nodes",
            F.lit(n_clusters).cast("long").alias("n_clusters"),
            "scores_exact",
            "degree_ok",
        )
    )


_STANDARDIZE_ORACLE = """
WITH dims AS (
  SELECT unnest(generate_series(1,
           (SELECT max(len(embedding)) FROM embeddings))) AS i
), vals AS (
  SELECT d.i, e.embedding[d.i]::DOUBLE AS v FROM embeddings e, dims d
)
SELECT CAST(i - 1 AS BIGINT) AS dim,
       round(avg(v), 6) AS mean_val,
       round(stddev_pop(v), 6) AS std_val,
       count(*) AS n
FROM vals GROUP BY 1
"""


@register("embedding_standardize", _STANDARDIZE_ORACLE)
def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std over the embedding corpus — the statistics a
    standardization (z-score) or drift monitor needs. One ``posexplode``
    fan-out (rows x d) into a plain two-phase hash aggregate on the
    dimension index: map-side partial aggregation collapses each
    partition to d rows before the shuffle, so the exchange carries
    O(partitions * d), not O(N * d), at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "val"))
    return ex.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val"),
        F.round(F.stddev_pop(F.col("val").cast("double")), 6).alias("std_val"),
        F.count("*").alias("n"),
    )


_PCA_R = 8

_PCA_ORACLE = f"""
SELECT CAST(unnest(generate_series(0, {_PCA_R - 1})) AS BIGINT) AS component_id,
       TRUE AS ordered_ok, TRUE AS orthonormal_ok,
       TRUE AS captured_ok, TRUE AS variance_matches
"""


@register("embedding_pca_project", _PCA_ORACLE)
def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (top-{r} components) with in-query verification.

    The 100 TB shape for covariance: ONE ``mapInPandas`` pass computes per
    -partition partials (count, sum vector, d x d Gram as a single BLAS
    ``V.T @ V``), and only those partials — O(partitions * d^2) numbers,
    independent of row count — reach the driver, where the covariance
    eigendecomposition (d x d, trivial) runs. No data shuffle at all; the
    heavy pass is embarrassingly parallel and Arrow-batched.

    The decomposition is then verified DISTRIBUTED, not trusted: every
    embedding is projected through the broadcast components (a second
    zero-shuffle pass) and the population variance of each projected
    coordinate is aggregated and compared to its eigenvalue —
    Var(w^T x) == lambda holds exactly for the population covariance, so
    ``variance_matches`` fails on any fit/projection bug. Emitted as
    hash-checked booleans (the sketch error-bound pattern):
    ``ordered_ok`` (eigenvalues non-increasing), ``orthonormal_ok``
    (W^T W == I to 1e-8), ``captured_ok`` (top-{r}/trace variance ratio
    above 0.05), ``variance_matches`` (per-component, rel err < 1e-6).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    emb = load_table(spark, sf_dir, "embeddings")
    d = len(emb.select("embedding").first()[0])
    r = _PCA_R

    part_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("g", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(it):
        tot = np.zeros(d)
        G = np.zeros((d, d))
        n = 0
        for pdf in it:
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(V):
                n += len(V)
                tot += V.sum(axis=0)
                G += V.T @ V
        if n:
            yield pd.DataFrame(
                [{"n": n, "s": tot.tolist(), "g": G.ravel().tolist()}]
            )

    parts = emb.select("embedding").mapInPandas(partials, part_schema).toPandas()
    n = int(parts["n"].sum())
    s = np.sum(np.array(list(parts["s"])), axis=0)
    G = np.sum(np.array(list(parts["g"])), axis=0).reshape(d, d)
    mu = s / n
    cov = (G - n * np.outer(mu, mu)) / n
    evals, evecs = np.linalg.eigh(cov)  # ascending
    evals, evecs = evals[::-1][:r], evecs[:, ::-1][:, :r]

    ordered = [bool(evals[i] >= evals[i + 1] - 1e-12) for i in range(r - 1)] + [True]
    gram = evecs.T @ evecs
    orthonormal = bool(np.abs(gram - np.eye(r)).max() < 1e-8)
    captured = bool(evals.sum() / np.trace(cov) > 0.05)

    W_b = spark.sparkContext.broadcast(evecs)
    mu_b = spark.sparkContext.broadcast(mu)
    proj_schema = T.StructType([T.StructField("y", T.ArrayType(T.DoubleType()))])

    def project(it):
        for pdf in it:
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(V):
                Y = (V - mu_b.value) @ W_b.value
                yield pd.DataFrame({"y": list(Y)})

    proj = emb.select("embedding").mapInPandas(project, proj_schema)
    var_rows = (
        proj.select(F.posexplode("y").alias("component_id", "y"))
        .groupBy("component_id")
        .agg(F.var_pop("y").alias("v"))
        .collect()
    )
    var_by_comp = {row["component_id"]: row["v"] for row in var_rows}
    scale = max(float(evals[0]), 1e-30)
    rows = [
        (
            i,
            ordered[i],
            orthonormal,
            captured,
            bool(abs(var_by_comp[i] - evals[i]) / scale < 1e-6),
        )
        for i in range(r)
    ]
    return spark.createDataFrame(
        rows,
        "component_id long, ordered_ok boolean, orthonormal_ok boolean, "
        "captured_ok boolean, variance_matches boolean",
    )


# ---------------------------------------------------------------------------
# Incremental kNN-graph maintenance (new batch vs existing store)
# ---------------------------------------------------------------------------

_INC_KNN_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), nw AS (SELECT * FROM v WHERE vec_id % 10 = 0),
st AS (SELECT * FROM v WHERE vec_id % 10 <> 0),
s1 AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))), 6) AS score
  FROM nw a CROSS JOIN v b WHERE a.vec_id <> b.vec_id
), r1 AS (
  SELECT src, dst, score,
         row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rnk
  FROM s1
), s2 AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))), 6) AS score
  FROM st a CROSS JOIN nw b
), r2 AS (
  SELECT src, dst, score,
         row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rnk
  FROM s2
)
SELECT 'new_out' AS direction, src, dst, score, rnk FROM r1 WHERE rnk <= {_KNN_K}
UNION ALL
SELECT 'store_in' AS direction, src, dst, score, rnk FROM r2 WHERE rnk <= {_KNN_K}
"""


@register("knn_graph_incremental", _INC_KNN_ORACLE)
def q_knn_graph_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental kNN-graph maintenance — the |new|-proportional ingest
    shape (the kNN twin of `dedup_minhash_incremental`): a NEW vector
    batch (vec_id % 10 == 0) arrives against an existing STORE, and the
    graph delta is two edge sets, neither requiring a store self-join:

    - `new_out`: each new node's top-3 over store + batch (its adjacency)
      — queries are the SMALL new batch, so the broadcast-query kernel
      applies directly, one pass over the store.
    - `store_in`: each store node's top-3 AMONG THE NEW VECTORS — the
      candidate reverse edges a merge step compares against the node's
      current 3rd-best score downstream. Roles flip: the store side is
      tiled through the kernel against the SMALL new index, so total work
      is O(|store| * |new|), never O(|store|^2).

    Scoring is symmetric, but per-STORE-node ranking over new vectors is
    not recoverable from the new side's top-k (a store node's nearest new
    vector need not rank the store node in ITS top-k) — hence the second
    pass instead of a transpose."""
    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 == 0)
    store = emb.filter(F.col("vec_id") % 10 != 0)
    new_out = knn_edges(new, k=_KNN_K, index=emb, exclude_self=True).withColumn(
        "direction", F.lit("new_out")
    )
    store_in = knn_edges(
        store, k=_KNN_K, index=new, exclude_self=False
    ).withColumn("direction", F.lit("store_in"))
    return new_out.unionByName(store_in).select(
        "direction", "src", "dst", "score", "rnk"
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection (farthest-point sampling)
# ---------------------------------------------------------------------------

_KCENTER_K = 8

_COS_DIST_SQL = (
    "round(1 - list_dot_product(a.e, c.e)"
    " / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.e, c.e))), 6)"
)


def _kcenter_oracle(k: int) -> str:
    """k unrolled greedy rounds. Every CTE is MATERIALIZED: DuckDB inlines
    CTEs by default, so each ``m{i}`` would re-derive every earlier round
    (at sf0.001 on 4 vCPUs: 215 s inlined, 2.7 s materialized; same rows)."""
    ctes = [
        """v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c1 AS MATERIALIZED (SELECT min(vec_id) AS id FROM v),
m1 AS MATERIALIZED (
  SELECT a.vec_id, {d} AS md
  FROM v a JOIN v c ON c.vec_id = (SELECT id FROM c1)
)""".format(d=_COS_DIST_SQL)
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT vec_id AS id, md FROM m{i - 1}
  WHERE vec_id NOT IN ({", ".join(f"(SELECT id FROM c{j})" for j in range(1, i))})
  ORDER BY md DESC, vec_id LIMIT 1
)"""
        )
        if i < k:
            ctes.append(
                """m{i} AS MATERIALIZED (
  SELECT a.vec_id, least(m.md, {d}) AS md
  FROM v a JOIN m{p} m ON m.vec_id = a.vec_id
  JOIN v c ON c.vec_id = (SELECT id FROM c{i})
)""".format(i=i, p=i - 1, d=_COS_DIST_SQL)
            )
    unions = "\nUNION ALL\n".join(
        [
            "SELECT CAST(1 AS BIGINT) AS selection_order, id AS vec_id,"
            " CAST(2.0 AS DOUBLE) AS dist_to_coreset FROM c1"
        ]
        + [
            f"SELECT CAST({i} AS BIGINT), id, md FROM c{i}"
            for i in range(2, k + 1)
        ]
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


@register("kcenter_coreset_select", _kcenter_oracle(_KCENTER_K))
def q_kcenter_coreset_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point sampling, the
    Gonzalez 2-approximation) over cosine distance — the geometric
    data-selection pass that picks maximally-diverse exemplars for
    curriculum seeds or annotation budgets.

    Fully declarative rounds, no driver-side data movement (the BPE-loop
    pattern): each round broadcasts the 1-row argmax center back onto the
    corpus, updates every node's running distance-to-coreset with ONE
    zero-shuffle map (`least(md, dist(x, new_center))` — the classic
    incremental form; never recomputes k distances), and takes the next
    center with a k=1 TakeOrdered. Per-round corpus state is
    checkpointed so round plans stay flat; distances are rounded BEFORE
    the argmax and tie-broken on vec_id, making the greedy trajectory
    engine-exact (oracle = k unrolled CTE rounds of the same rule).
    Seed = min vec_id; its dist_to_coreset is the 2.0 sentinel (max
    cosine distance)."""
    from vectordbfaiss_spark.functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    nodes = emb.select("vec_id", "embedding")
    seed = nodes.orderBy("vec_id").limit(1).localCheckpoint(eager=True)
    # LAZY checkpoint: each round's argmax below is a TakeOrdered over
    # the anti-joined state — it computes EVERY state partition (a global
    # max cannot skip any), so that one job materializes the checkpoint;
    # an eager checkpoint here and per round was a second scheduled
    # action per round for the same scan (round 9: 2 actions/round -> 1).
    # The argmax is the state frame's ONLY lazy consumer (chosen/picked
    # read `best`, the next round reads the materialized blocks), so the
    # update subtree runs exactly once.
    state = (
        nodes.crossJoin(
            F.broadcast(seed.select(F.col("embedding").alias("c_vec")))
        )
        .select(
            "vec_id",
            "embedding",
            F.round(1 - cosine_similarity("embedding", "c_vec"), 6).alias("md"),
        )
        .localCheckpoint(eager=False)
    )
    chosen = seed.select(
        F.lit(1).cast("long").alias("selection_order"),
        "vec_id",
        F.lit(2.0).alias("dist_to_coreset"),
    )
    picked = seed.select("vec_id")  # accumulating exclusion set (k rows max)
    for i in range(2, _KCENTER_K + 1):
        # materialize the 1-row argmax: it feeds three consumers (chosen,
        # picked, next state) and the final action re-reads every round's
        # pick — left lazy, each reference re-runs this round's full
        # corpus TakeOrdered, turning O(k) scans into O(k^2)
        best = (
            state.join(F.broadcast(picked), "vec_id", "left_anti")
            .orderBy(F.desc("md"), "vec_id")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        chosen = chosen.unionByName(
            best.select(
                F.lit(i).cast("long").alias("selection_order"),
                "vec_id",
                F.col("md").alias("dist_to_coreset"),
            )
        )
        picked = picked.unionByName(best.select("vec_id"))
        if i < _KCENTER_K:
            state = (
                state.crossJoin(
                    F.broadcast(best.select(F.col("embedding").alias("c_vec")))
                )
                .select(
                    "vec_id",
                    "embedding",
                    F.least(
                        F.col("md"),
                        F.round(1 - cosine_similarity("embedding", "c_vec"), 6),
                    ).alias("md"),
                )
                # lazy for the same reason as the seed state above: the
                # next round's TakeOrdered materializes it in one pass
                .localCheckpoint(eager=False)
            )
    return chosen


# ---------------------------------------------------------------------------
# Semi-supervised label propagation over the kNN graph
# ---------------------------------------------------------------------------

_LP_ROUNDS = 3


def _label_prop_oracle(rounds: int) -> str:
    head = f"""
WITH {_KNN_CTES},
sym AS (
  SELECT src, dst FROM knn
  UNION SELECT dst, src FROM knn
),
truth AS (SELECT vec_id, label FROM embeddings),
l0 AS (
  SELECT vec_id, CASE WHEN vec_id % 5 = 0 THEN label END AS lab
  FROM truth
)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(
            f""",
c{i} AS (
  SELECT s.src AS vec_id, l.lab, count(*) AS cnt
  FROM sym s JOIN l{i - 1} l ON l.vec_id = s.dst
  WHERE l.lab IS NOT NULL
  GROUP BY 1, 2
), m{i} AS (
  SELECT vec_id, lab FROM (
    SELECT vec_id, lab,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cnt DESC, lab) AS rn
    FROM c{i}
  ) WHERE rn = 1
), l{i} AS (
  SELECT p.vec_id,
         CASE WHEN p.vec_id % 5 = 0 THEN p.lab
              ELSE coalesce(m.lab, p.lab) END AS lab
  FROM l{i - 1} p LEFT JOIN m{i} m ON m.vec_id = p.vec_id
)"""
        )
    tail = f"""
SELECT t.vec_id,
       l.lab AS propagated_label,
       t.label AS true_label,
       t.vec_id % 5 = 0 AS is_seed,
       l.lab IS NOT NULL AND l.lab = t.label AS is_correct
FROM truth t JOIN l{rounds} l ON l.vec_id = t.vec_id
"""
    return head + "".join(steps) + tail


@register("label_propagation_knn", _label_prop_oracle(_LP_ROUNDS))
def q_label_propagation_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation: 20% of vectors keep their true
    label as SEEDS; three rounds of majority vote over symmetric kNN
    neighbors spread labels to the rest (the classic graph SSL baseline a
    pipeline runs to cheaply extend a small labeled set). Deterministic
    and hash-checkable because every update is an integer vote with a
    (count DESC, label ASC) tie-break, seeds are frozen, and non-seeds
    keep their previous label when no labeled neighbor exists. Each round
    is one edge-key join + one hash agg + a per-node argmax (max of a
    (cnt, -label) struct — no window); the oracle unrolls the same three
    rounds. (The fixture's labels are synthetic-random, so non-seed
    accuracy sits at chance — the hash check proves the MECHANISM; on a
    real corpus the same plan carries the signal.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn_edges_published(spark, sf_dir).select("src", "dst")
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    sym = sym.localCheckpoint(eager=True)

    truth = emb.select("vec_id", "label")
    lab = truth.select(
        "vec_id",
        F.when(F.col("vec_id") % 5 == 0, F.col("label")).alias("lab"),
    ).localCheckpoint(eager=True)
    for _ in range(_LP_ROUNDS):
        neigh = sym.join(
            lab.withColumnRenamed("vec_id", "dst"), "dst"
        ).filter(F.col("lab").isNotNull())
        counts = neigh.groupBy(F.col("src").alias("vec_id"), "lab").agg(
            F.count("*").alias("cnt")
        )
        # deterministic argmax without a window: max of (cnt, -label)
        best = counts.groupBy("vec_id").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("lab")).alias("neg"))).alias("m")
        ).select("vec_id", (-F.col("m.neg")).alias("vote"))
        lab = (
            lab.join(best, "vec_id", "left")
            .select(
                "vec_id",
                F.when(F.col("vec_id") % 5 == 0, F.col("lab"))
                .otherwise(F.coalesce(F.col("vote"), F.col("lab")))
                .alias("lab"),
            )
            .localCheckpoint(eager=True)
        )
    return truth.join(lab, "vec_id").select(
        "vec_id",
        F.col("lab").alias("propagated_label"),
        F.col("label").alias("true_label"),
        (F.col("vec_id") % 5 == 0).alias("is_seed"),
        (F.col("lab").isNotNull() & (F.col("lab") == F.col("label"))).alias(
            "is_correct"
        ),
    )


# ---------------------------------------------------------------------------
# Linear probe via closed-form ridge + scale-safe exact AUC
# ---------------------------------------------------------------------------

_PROBE_ORACLE = """
SELECT count(*) AS n,
       CAST(sum(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pos,
       CAST(sum(CASE WHEN embedding[1] > 0 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_neg,
       TRUE AS auc_ok, TRUE AS weights_finite
FROM embeddings
"""


def auc_u_rows(
    spark: SparkSession, bins: DataFrame, nb: int = 4096
) -> DataFrame:
    """Mann-Whitney U contributions per score bin via a TWO-LEVEL prefix
    sum — the scale-safe replacement for an unpartitioned cumulative
    window. ``bins`` has columns (s, pos, neg), one row per distinct
    score. Bins hash into <= ``nb`` fixed-width score buckets; per-bucket
    negative totals (a bounded, <= nb-row table) come to the driver for
    an exclusive prefix sum that is broadcast back as offsets; the
    remaining cumulative window is partitioned BY bucket, so every
    WindowExec task sees only one bucket's bins at any corpus size.
    Returns one column ``u``: pos * (negatives-below + ties/2)."""
    rng = bins.agg(F.min("s").alias("lo"), F.max("s").alias("hi")).collect()[0]
    lo, hi = rng["lo"], rng["hi"]
    width = (hi - lo) / nb if (lo is not None and hi > lo) else 1.0
    bb = bins.withColumn(
        "bkt",
        F.least(
            F.floor((F.col("s") - F.lit(lo)) / F.lit(width)), F.lit(nb - 1)
        ).cast("int"),
    )
    totals = {
        r["bkt"]: r["t"]
        for r in bb.groupBy("bkt").agg(F.sum("neg").alias("t")).collect()
    }
    offs, acc = [], 0
    for k in sorted(totals):
        offs.append((k, acc))
        acc += int(totals[k])
    off_df = spark.createDataFrame(offs or [(0, 0)], "bkt int, off long")
    wln = (
        W.partitionBy("bkt").orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    )
    return bb.join(F.broadcast(off_df), "bkt").select(
        (
            F.col("pos")
            * (
                F.col("off")
                + F.coalesce(F.sum("neg").over(wln), F.lit(0))
                + F.col("neg") / 2.0
            )
        ).alias("u")
    )


@register("ridge_probe_auc", _PROBE_ORACLE)
def q_ridge_probe_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a linear probe on the corpus in ONE aggregation pass and
    evaluate it with an exact, scale-safe AUC — the quality-classifier
    workflow (probe embeddings for an attribute, rank the corpus by the
    probe) with every stage distributed:

    - TRAIN: closed-form ridge w = (X'X + lambda*I)^-1 X'y from per-
      partition sufficient statistics (count, X'y, X'X — the same
      mapInPandas Gram partials as the PCA query). Only O(partitions*d^2)
      numbers reach the driver; the d x d solve is O(1).
    - TARGET: y = 1 iff the first embedding coordinate is positive — a
      label the probe can represent exactly, so AUC near 1.0 proves the
      fit machinery end to end (emitted as the ``auc_ok`` bound boolean;
      the label rule is SQL, so the class counts are hash-checked
      exactly).
    - EVALUATE: AUC from the Mann-Whitney U statistic computed over
      SCORE-DISTINCT bins, not rows: scores round to 6dp (the registry
      convention) and per-distinct-score (cnt_pos, cnt_neg) is a hash
      agg. The cumulative-negatives prefix sum over the bin table is
      TWO-LEVEL so no stage ever runs an unpartitioned window: bins hash
      into <= 4096 fixed-width score buckets, per-bucket negative totals
      (a bounded table) come to the driver for an exclusive prefix sum
      that is broadcast back as offsets, and the remaining window is
      partitioned BY bucket — at any corpus size each WindowExec task
      sees only one bucket's bins. Ties contribute 1/2, the textbook U
      treatment.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    lam = 1e-3
    emb = load_table(spark, sf_dir, "embeddings")
    d = len(emb.select("embedding").first()[0])

    part_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("xty", T.ArrayType(T.DoubleType())),
            T.StructField("xtx", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(it):
        n = 0
        xty = np.zeros(d)
        xtx = np.zeros((d, d))
        for pdf in it:
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(V):
                y = (V[:, 0] > 0).astype(np.float64)
                n += len(V)
                xty += V.T @ y
                xtx += V.T @ V
        if n:
            yield pd.DataFrame(
                [{"n": n, "xty": xty.tolist(), "xtx": xtx.ravel().tolist()}]
            )

    parts = emb.select("embedding").mapInPandas(partials, part_schema).toPandas()
    n = int(parts["n"].sum())
    xty = np.sum(np.array(list(parts["xty"])), axis=0)
    xtx = np.sum(np.array(list(parts["xtx"])), axis=0).reshape(d, d)
    wts = np.linalg.solve(xtx + lam * np.eye(d), xty)
    weights_finite = bool(np.all(np.isfinite(wts)))
    w_b = spark.sparkContext.broadcast(wts)

    def score(it):
        for pdf in it:
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(V):
                yield pd.DataFrame(
                    {
                        "s": np.round(V @ w_b.value, 6),
                        "y": (V[:, 0] > 0).astype(np.int64),
                    }
                )

    scored = emb.select("embedding").mapInPandas(
        score, "s double, y long"
    )
    bins = scored.groupBy("s").agg(
        F.sum(F.col("y")).alias("pos"),
        F.sum(1 - F.col("y")).alias("neg"),
    )
    tot = auc_u_rows(spark, bins).agg(F.sum("u").alias("u")).collect()[0]["u"]
    counts = scored.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("n_pos"),
        F.sum(1 - F.col("y")).alias("n_neg"),
    ).collect()[0]
    n_pos, n_neg = counts["n_pos"], counts["n_neg"]
    auc = float(tot) / max(n_pos * n_neg, 1)
    return spark.createDataFrame(
        [(counts["n"], n_pos, n_neg, bool(auc > 0.9), weights_finite)],
        "n long, n_pos long, n_neg long, auc_ok boolean, weights_finite boolean",
    )


# ---------------------------------------------------------------------------
# Recursive CTE over the published kNN graph (Spark 4.x WITH RECURSIVE)
# ---------------------------------------------------------------------------

_BFS_DEPTH = 2

_BFS_ORACLE = f"""
WITH RECURSIVE {_KNN_CTES},
seeds AS (SELECT vec_id FROM embeddings WHERE vec_id % 100 = 0),
bfs(seed, node, depth) AS (
  SELECT vec_id, vec_id, 0 FROM seeds
  UNION ALL
  SELECT b.seed, k.dst, b.depth + 1
  FROM bfs b JOIN knn k ON k.src = b.node
  WHERE b.depth < {_BFS_DEPTH}
)
SELECT seed, count(DISTINCT node) AS n_reach, max(node) AS max_node
FROM bfs GROUP BY seed
"""


@register("recursive_cte_knn_bfs", _BFS_ORACLE)
def q_recursive_cte_knn_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS over the kNN graph, written as a SQL
    ``WITH RECURSIVE`` — the Spark 4.x recursive-CTE surface running the
    SAME recursion text as the DuckDB oracle (engine-level iteration,
    no driver loop at all; the reference has no recursion surface —
    ``server.js`` is single-shot request/response).

    Shape notes for scale: the recursion is depth-BOUNDED (the WHERE
    guard makes UNION ALL cycle-safe) and each step is one equi-join of
    the frontier against the O(N*k) published edge artifact
    (:func:`knn_edges_published`) — frontier size is |seeds| * k^depth,
    never corpus-quadratic. Unbounded reachability (connected
    components) deliberately stays on the star-contraction operator
    (``operators/graph.py``): large/small-star converges in O(log^2 n)
    rounds, while a naive recursive closure enumerates every
    (node, reachable-label) pair — O(N * d) rows. Depth-bounded
    neighborhood expansion is the recursion-shaped workload, so that is
    what this surface serves.

    The recursion body hints ``BROADCAST(r)``: the frontier is the
    provably bounded side (|seeds| * k^depth), so every iteration is a
    broadcast-hash join with the O(N*k) edge artifact STREAMED in place
    — no per-iteration shuffle of the corpus-scale side at any SF.
    (Round-8's reported 1.8->3.06 s "regression" was host noise — the
    same commit's own records span 1.345-3.058 s; the hint shaves the
    per-iteration exchange that amplified that noise.)"""
    edges = knn_edges_published(spark, sf_dir).select("src", "dst")
    edges.createOrReplaceTempView("knn_edges_v")
    emb = load_table(spark, sf_dir, "embeddings")
    emb.select("vec_id").filter(F.col("vec_id") % 100 == 0).createOrReplaceTempView(
        "knn_seeds_v"
    )
    return spark.sql(
        f"""
        WITH RECURSIVE r(seed, node, depth) AS (
          SELECT vec_id, vec_id, 0 FROM knn_seeds_v
          UNION ALL
          SELECT /*+ BROADCAST(r) */ r.seed, e.dst, r.depth + 1
          FROM r JOIN knn_edges_v e ON e.src = r.node
          WHERE r.depth < {_BFS_DEPTH}
        )
        SELECT seed, count(DISTINCT node) AS n_reach, max(node) AS max_node
        FROM r GROUP BY seed
        """
    )


# ---------------------------------------------------------------------------
# Graph-based ANN: beam search over the published kNN edge artifact
# ---------------------------------------------------------------------------

_GRAPH_ANN_BUILD_K = 16  # NN-descent per-node list size during the build
_GRAPH_ANN_DEGREE_CAP = 24  # out-degree cap of the published symmetrized graph
_GRAPH_ANN_NND_ROUNDS = 4
# rho-sampling cap fed to NN-Descent's neighbor-of-neighbor join (2k =
# the operator default): bounds per-round proposals at N*(2k)^2 instead
# of N*(3k)^2 — the round-7 syn100 spill fix (operators/nn_descent.py)
_GRAPH_ANN_SAMPLE_CAP = 2 * _GRAPH_ANN_BUILD_K
# init blocking grain: 250/cell is the r6-proven scaled grain whose DRIVER
# k-means fit was measured through syn100 (K=800 at 200k vectors, 104.6 s);
# the 64/cell grain derives K=3125 there and Lloyd's driver matrices blow
# past 5 GB/iteration. The init is an accelerator, not a correctness
# surface — beam-search floors were re-measured at this grain.
_GRAPH_INIT_CELL_TARGET = 250
_GRAPH_ANN_BEAM = 24
# Serve-loop upper bound at fixture scale. Round-9 rounds sweep at sf0.1
# (beam 24, 50 queries vs the exact scan): top-10 recall is IDENTICAL
# from rounds=4 on (mean 0.868, per-query min 0.50, self-found 50/50 at
# rounds 4/5/6/10 alike — the loop's fixed point is round 8, but rounds
# 5-8 add only 33 of 41k visited nodes, none reaching any top-10), so 6
# keeps a 2-round buffer over measured convergence while dropping the
# saturated tail the bench was paying ~1 s/round of pure stage latency
# for. Larger corpora need MORE rounds, not fewer — that is
# graph_serve_knobs' schedule, anchored at the syn100 point.
_GRAPH_ANN_ROUNDS = 6


def graph_ann_edges_published(
    spark: SparkSession,
    sf_dir: str,
    subset_min_id: int | None = None,
) -> str:
    """The search graph the graph-ANN family traverses, built by the
    LINEAR path and published build-once (the IVF artifact shape) at
    ``graph_ann_edges_<sf>`` (``_min<id>`` for a subset build); returns
    the artifact path, which readers take from here.

    Build = cluster-blocked within-cell kNN init (K ∝ N keeps the
    per-cell Gram constant, ``_blocked_knn_edges``) refined by
    ``_GRAPH_ANN_NND_ROUNDS`` rounds of NN-Descent
    (``operators/nn_descent.py``, O(N * k^2) per round), then
    SYMMETRIZED with a per-node degree cap — every kept edge exists in
    both directions unless the cap prunes one side, so any node with an
    edge is reachable (the HNSW bidirectional-link practice; measured:
    self-reachability 50/50 and beam-24 mean recall 0.88 at sf0.1 vs
    0.53 for the directed-only graph). Total build work is corpus-LINEAR
    — this replaced the exact O(N^2) tiled build that was round 6's one
    remaining scale `weak`; the exact build (:func:`knn_edges`) remains
    the fixture-scale recall oracle only.
    """
    from vectordbfaiss_spark.operators.nn_descent import nn_descent

    suffix = f"_min{subset_min_id}" if subset_min_id is not None else ""
    out = artifacts.path("graph_ann_edges", sf_dir) + suffix
    params = {
        "corpus_key": artifacts.corpus_key(sf_dir),
        "builder": "nn_descent",
        "k_build": _GRAPH_ANN_BUILD_K,
        "rounds": _GRAPH_ANN_NND_ROUNDS,
        "degree_cap": _GRAPH_ANN_DEGREE_CAP,
        "init_cell_target": _GRAPH_INIT_CELL_TARGET,
        "sample_cap": _GRAPH_ANN_SAMPLE_CAP,
        "subset_min_id": subset_min_id,
    }

    def build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        if subset_min_id is not None:
            # base-only build for the incremental-insert lifecycle: the
            # held-out ids arrive later as delta segments
            emb = emb.filter(F.col("vec_id") >= subset_min_id)
        n = emb.count()
        blocked = _blocked_knn_edges(
            spark,
            sf_dir,
            n_clusters=max(8, -(-n // _GRAPH_INIT_CELL_TARGET)),
            k=_GRAPH_ANN_BUILD_K,
            min_id=subset_min_id,
        ).select("src", "dst")
        knn = nn_descent(
            emb,
            k=_GRAPH_ANN_BUILD_K,
            rounds=_GRAPH_ANN_NND_ROUNDS,
            init_edges=blocked,
            sample_cap=_GRAPH_ANN_SAMPLE_CAP,
        )
        # symmetrize + cap: union both directions, keep each node's best
        # `degree_cap` (score DESC, dst ASC — the registry tie-break)
        fwd = knn.select("src", "dst", "score")
        rev = fwd.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "score"
        )
        sym = fwd.unionByName(rev).groupBy("src", "dst").agg(
            F.max("score").alias("score")
        )
        w = W.partitionBy("src").orderBy(F.desc("score"), "dst")
        capped = (
            sym.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= _GRAPH_ANN_DEGREE_CAP)
            .select("src", "dst", "score")
        )
        capped.repartition("src").write.parquet(tmp)

    artifacts.publish(out, params, build)
    return out


def _graph_ann_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(graph_ann_edges_published(spark, sf_dir))


def _query_block(corpus: DataFrame, n: int = 50) -> DataFrame:
    """The ANN family's canonical request block: the ``vec_id < n`` rows
    of ``corpus`` as (query_id, query_vec)."""
    return corpus.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _graph_family_params(sf_dir: str, **extra) -> dict:
    """Shared param key for the family's published audit frames: the
    full edge-build recipe + serving knobs + canonical query set — any
    change to any of them (or a fixture regeneration) invalidates every
    downstream frame at once.

    Round 7 measured the cost of NOT sharing them: seven registry queries
    each re-ran a 10-round bulk-synchronous traversal, 75-114 s of bench
    wall at sf0.1 for identical results. `graph_ann_topk_search`
    deliberately bypasses them: it is the family's one COLD-PATH query,
    so the serving latency stays a measured number every round."""
    params = {
        "corpus_key": artifacts.corpus_key(sf_dir),
        "builder": "nn_descent",
        "k_build": _GRAPH_ANN_BUILD_K,
        "rounds": _GRAPH_ANN_NND_ROUNDS,
        "degree_cap": _GRAPH_ANN_DEGREE_CAP,
        "init_cell_target": _GRAPH_INIT_CELL_TARGET,
        "sample_cap": _GRAPH_ANN_SAMPLE_CAP,
        "beam": _GRAPH_ANN_BEAM,
        "search_rounds": _GRAPH_ANN_ROUNDS,
        "queries": "vec_id<50",
    }
    params.update(extra)
    return params


def _published_visited(
    spark: SparkSession, sf_dir: str, kind: str, params: dict, compute
) -> DataFrame:
    """The ``kind`` traversal's visited frame as a build-once artifact:
    ``compute()`` (the traversal) runs only when no complete artifact
    with ``params`` is in place, and its query-bounded output is written
    as two files."""
    out = artifacts.path(kind, sf_dir)
    artifacts.publish(
        out, params, lambda tmp: compute().coalesce(2).write.parquet(tmp)
    )
    return spark.read.parquet(out)


def graph_ann_visited_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical hash-entry traversal (queries vec_id<50, beam
    ``_GRAPH_ANN_BEAM``, rounds ``_GRAPH_ANN_ROUNDS``, full published
    graph) as a build-once artifact — shared by `graph_ann_recall_bound`
    and the beam-24 leg of `graph_ann_beam_curve` (a per-query-
    independent traversal restricts to any query subset by filter)."""

    def compute() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        edges = _graph_ann_edges(spark, sf_dir).select("src", "dst")
        return graph_beam_search(
            _query_block(emb), edges, emb, beam=_GRAPH_ANN_BEAM, rounds=_GRAPH_ANN_ROUNDS
        )

    params = _graph_family_params(sf_dir, entries="hash")
    return _published_visited(spark, sf_dir, "graph_ann_visited", params, compute)


def exact_top11(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame,
    kind: str = "exact_top11",
    **params,
) -> DataFrame:
    """The ANN bound family's one exact truth: the self-inclusive top-11
    (BLAS kernel; ``query_id, vec_id, score, rank``) of the canonical
    ``vec_id < 50`` block of ``corpus`` — the full corpus, or the
    survivors of a delete (``kind="exact_top11_del"``) — published once
    per corpus fingerprint. Every IVF/PQ/graph recall bound reads it
    instead of re-running the flat scan (server.js:53-60).

    Two views, both exactly the top-10 the kernel would return:
    ``rank <= 10`` is the self-inclusive top-10 (a top-11 prefix), and
    :func:`_exact_top10_without_self` is the ``exclude_self`` top-10."""

    def build(tmp: str) -> None:
        score_topk_vectorized(_query_block(corpus), corpus, k=11).select(
            "query_id", "vec_id", "score", "rank"
        ).coalesce(2).write.parquet(tmp)

    out = artifacts.path(kind, sf_dir)
    key = artifacts.corpus_key(sf_dir)
    artifacts.publish(out, {"corpus_key": key, "k": 11, "queries": "vec_id<50", **params}, build)
    return spark.read.parquet(out)


def _exact_top10_without_self(truth: DataFrame) -> DataFrame:
    """The graph family's view of :func:`exact_top11`: drop the query's
    own row, THEN keep the first 10 by rank. Never the reverse — first
    10 then drop self returns 9 rows whenever self ranks in the top 10."""
    w = W.partitionBy("query_id").orderBy("rank")
    return (
        truth.filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 10)
        .select("query_id", "vec_id")
    )


def _visited_top10(visited: DataFrame) -> DataFrame:
    """A traversal's answer: each query's best 10 visited ids other than
    itself, ordered (score DESC, vec_id ASC) like the exact kernel."""
    w = W.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
    return (
        visited.filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("query_id", "vec_id", "score", "rnk")
    )


def _hit_counts(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, n_hits, self_hit) in ONE aggregation over ``approx``:
    ``n_hits`` counts its rows that are in ``exact``, ``self_hit`` says
    whether it returned the query's own id. Both sides are Q x 10, so
    the truth is broadcast (post-window frames carry no stats, and an
    unhinted plan degrades to sort-merge joins over bounded data)."""
    marked = exact.select("query_id", "vec_id", F.lit(1).alias("_hit"))
    return (
        approx.select("query_id", "vec_id")
        .join(F.broadcast(marked), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            F.max(F.col("query_id") == F.col("vec_id")).alias("self_hit"),
        )
    )


def _recall_bound(
    queries: DataFrame,
    exact: DataFrame,
    approx: DataFrame,
    found: DataFrame,
    min_hits: int,
) -> DataFrame:
    """The family's per-query witness ``(query_id, self_found,
    recall_ok)``: ``recall_ok`` is ``n_hits >= min_hits`` of ``approx``'s
    top-10 against ``exact``, ``self_found`` that ``found`` holds the
    query's own id. Pass ``found=approx`` (IVF/PQ) and both come out of
    one aggregation, so the approximate leg runs once; the graph family
    passes its whole visited set."""
    out = queries.select("query_id").join(
        F.broadcast(_hit_counts(exact, approx)), "query_id", "left"
    )
    if found is not approx:
        own = found.filter(F.col("query_id") == F.col("vec_id")).select(
            "query_id", F.lit(True).alias("self_hit")
        )
        out = out.drop("self_hit").join(F.broadcast(own), "query_id", "left")
    return out.select(
        "query_id",
        F.coalesce("self_hit", F.lit(False)).alias("self_found"),
        (F.coalesce("n_hits", F.lit(0)) >= F.lit(min_hits)).alias("recall_ok"),
    )


@register("graph_ann_topk_search", rows_only=True)
def q_graph_ann_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN top-10: best-first beam search over the published
    NN-Descent-built symmetrized graph (``graph_ann_edges_published`` —
    LINEAR build, degree cap {24}), the HNSW/NSG-family answer surface
    next to the flat scan (`topk_search`, server.js:53-60 parity) and
    the IVF/PQ families. Rows-only by design — the traversal is
    approximate; `graph_ann_recall_bound` is its hash-checked witness
    and `graph_ann_build_bound` covers the build itself. Per-query
    probes are visited-set sized (~entries + beam * degree * rounds),
    independent of corpus rows; every corpus-sized table enters only as
    the build side of an equi-join. This is the family's one COLD-PATH
    query: it always runs the traversal live (never the published
    visited artifact the audit queries share), so serving latency stays
    a measured number every bench round. It serves through the
    REQUEST-PATH kernel (`graph_beam_search_interactive` — the WHOLE
    traversal in one Arrow task over the published artifacts,
    bit-identical to the BSP operator by test), because serving latency
    is exactly what that kernel exists for; the audit family's published
    frames keep the all-state-distributed BSP form."""
    emb = load_table(spark, sf_dir, "embeddings")
    edges_path = graph_ann_edges_published(spark, sf_dir)
    visited = graph_beam_search_interactive(
        _query_block(emb),
        spark.read.parquet(edges_path).select("src", "dst"),
        emb,
        beam=_GRAPH_ANN_BEAM,
        rounds=_GRAPH_ANN_ROUNDS,
        emb_path=f"{sf_dir}/embeddings.parquet",
        edges_path=edges_path,
    )
    return _visited_top10(visited).withColumn("rnk", F.col("rnk").cast("long"))


_GRAPH_BUILD_ORACLE = """
SELECT count(*) AS n_nodes, TRUE AS degree_ok, TRUE AS scores_exact,
       TRUE AS edge_recall_ok
FROM embeddings
"""


@register("graph_ann_build_bound", _GRAPH_BUILD_ORACLE)
def q_graph_ann_build_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Witness bounds for the LINEAR graph-ANN build (the artifact every
    graph_ann_* query traverses, ``graph_ann_edges_published``): the
    build is approximate by design, so — like the ivf/pq families — it
    is proven by hash-checked BOOLEANS, with the exact O(N^2) build
    (:func:`knn_edges`) serving as the fixture-scale oracle it was kept
    for. ``degree_ok``: no self-loops and out-degree <= the publish cap.
    ``scores_exact``: every published edge score re-derived from raw
    embeddings with the expression cosine matches at 6dp (zero trust in
    the build kernels). ``edge_recall_ok``: the published edge set
    covers >= 35% of the exact directed kNN@{k_build} edges (measured
    0.893/0.915/0.425 at sf0.001/0.01/0.1 under the rho-sampled build,
    round 8 — within 0.005 of the unsampled round-7 build, so the spill
    fix costs no quality; the random-vector fixture has ZERO locality
    structure, the hostile case for any neighbor-descent method, and
    the floor fires on real build regressions — a broken NN-Descent
    round or a lost init, which collapse recall to ~0.1 — not on
    fixture redraws). The exact kNN@16
    reference is itself a build-once artifact
    (:func:`knn_edges_published`, `knn_edges16_*`): the O(N^2) tiled
    pass runs once per corpus fingerprint — round 7 re-ran it on every
    bench pass (20.9 s at sf0.1) for an identical answer."""
    from vectordbfaiss_spark.functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    edges = _graph_ann_edges(spark, sf_dir)
    degrees = edges.groupBy("src").agg(
        F.count("*").alias("deg"),
        F.max((F.col("dst") == F.col("src")).cast("int")).alias("self_loop"),
    )
    a = emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"))
    rescored = (
        # corpus-grain store sides: shuffle-hash, never forced broadcasts
        edges.join(a.hint("SHUFFLE_HASH"), "src")
        .join(b.hint("SHUFFLE_HASH"), "dst")
        .select(
            (
                F.abs(F.round(cosine_similarity("va", "vb"), 6) - F.col("score"))
                < 1e-9
            ).alias("ok")
        )
    )
    exact = knn_edges_published(
        spark,
        sf_dir,
        k=_GRAPH_ANN_BUILD_K,
        out_path=artifacts.path(f"knn_edges{_GRAPH_ANN_BUILD_K}", sf_dir),
    ).select("src", "dst")
    hits = edges.select("src", "dst").join(exact, ["src", "dst"], "left_semi")
    return (
        emb.agg(F.count("*").alias("n_nodes"))
        .crossJoin(
            degrees.agg(
                (
                    (F.max("deg") <= F.lit(_GRAPH_ANN_DEGREE_CAP))
                    & (F.max("self_loop") == 0)
                ).alias("degree_ok")
            )
        )
        .crossJoin(rescored.agg(F.min("ok").alias("scores_exact")))
        .crossJoin(
            hits.agg(F.count("*").alias("n_hits")).crossJoin(
                exact.agg(F.count("*").alias("n_exact"))
            )
        )
        .select(
            "n_nodes",
            "degree_ok",
            "scores_exact",
            (F.col("n_hits") / F.col("n_exact") >= 0.35).alias("edge_recall_ok"),
        )
    )


_GRAPH_ANN_BOUND_ORACLE = """
SELECT vec_id AS query_id, TRUE AS self_found, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 50
"""


@register("graph_ann_ivf_entries", _GRAPH_ANN_BOUND_ORACLE)
def q_graph_ann_ivf_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN beam search with PRODUCTION entry points: each query
    enters the graph at the members of its nprobe=2 nearest IVF cells
    (``operators/graph_ann.py`` ``ivf_entry_pairs``) instead of the
    corpus-proportional hash sample — at the scaled cell grain
    (population ~64 constant, the `knn_graph_blocked_scaled` contract)
    entry-scoring cost per query is corpus-INDEPENDENT, closing the last
    linear-in-N term in the serving path. Same hash-checked bound shape
    as `graph_ann_recall_bound`: ``self_found`` (a corpus-drawn query
    sits in its own nearest cell, so the traversal must touch it) and
    ``recall_ok`` (recall@10 vs the exact truth >= 0.5; IVF
    seeding starts the beam near the query, measured means >= the
    hash-entry form's)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _query_block(emb)

    def compute() -> DataFrame:
        from vectordbfaiss_spark.plans.ivf import assign_clusters

        n = emb.count()
        # route on a COPY column (assign_clusters normalizes vec_col in place)
        assigned, centroids = assign_clusters(
            emb.select("vec_id", F.col("embedding").alias("nvec")),
            vec_col="nvec",
            n_clusters=max(8, -(-n // _SCALED_CELL_TARGET)),
            seed=42,
            corpus_key=artifacts.corpus_key(sf_dir),
        )
        entries = ivf_entry_pairs(queries, assigned, centroids, nprobe=2)
        edges = _graph_ann_edges(spark, sf_dir).select("src", "dst")
        return graph_beam_search(
            queries,
            edges,
            emb,
            beam=_GRAPH_ANN_BEAM,
            rounds=_GRAPH_ANN_ROUNDS,
            entry_pairs=entries,
        )

    visited = _published_visited(
        spark,
        sf_dir,
        "graph_ann_visited_ivf",
        _graph_family_params(
            sf_dir, entries="ivf", nprobe=2, cell_target=_SCALED_CELL_TARGET
        ),
        compute,
    )
    exact = _exact_top10_without_self(exact_top11(spark, sf_dir, emb))
    return _recall_bound(queries, exact, _visited_top10(visited), visited, min_hits=5)


@register("graph_ann_recall_bound", _GRAPH_ANN_BOUND_ORACLE)
def q_graph_ann_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked companion to graph_ann_topk_search (the
    ivf/pq_recall_bound pattern): per-query BOOLEANS the driver verifies.

    (a) ``self_found`` — a corpus-drawn query must reach its own vector
    through the graph (cosine 1.0, so it wins the beam the moment any
    neighbor is touched; the symmetrized publish makes every edged node
    reachable, and a traversal that misses it has a broken frontier or
    entry spread); (b) ``recall_ok`` — recall@10 vs the exact truth
    (:func:`exact_top11`) >= 0.5, under the measured floor on the
    NN-Descent-built graph (per-query min >= 0.5 everywhere; means
    0.99/0.996/0.87 at
    sf0.001/0.01/0.1 with beam=24, rounds=10, entries=max(16, N/32)),
    so it fires on real traversal regressions, not fixture noise."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _query_block(emb)
    visited = graph_ann_visited_published(spark, sf_dir)
    exact = _exact_top10_without_self(exact_top11(spark, sf_dir, emb))
    return _recall_bound(queries, exact, _visited_top10(visited), visited, min_hits=5)


@register("graph_ann_incremental", _GRAPH_ANN_BOUND_ORACLE)
def q_graph_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental graph maintenance, end to end: the graph twin of
    `ivf_append_search` and the last IVF/graph family asymmetry. A base
    graph is built (linear path) over vec_id >= 50 only; the 50 held-out
    vectors are then INSERTED via the HNSW add() lifecycle
    (``operators/graph_ann_incremental.py``: each new point beam-searches
    the base graph for its neighbors, links top-k BOTH directions, plus
    intra-batch links) — no base rewrite, the delta is a segment-shaped
    edge frame unioned at read time. The bound: searching the UPDATED
    graph with the inserted vectors as queries must find them
    (``self_found`` — reachability comes only from the delta's reverse
    links) and reach recall@10 >= 0.5 vs the exact scan over the FULL
    corpus (``recall_ok``) — i.e. freshly inserted vectors are
    first-class citizens of the index immediately, the whole point of
    incremental maintenance.

    Witness hardening (round-7 advisor): entry points are seeded from
    the BASE ids only (``hash_entry_pairs`` over the vec_id>=50 store),
    so an inserted vector can never be seeded directly — ``self_found``
    holds only if the delta's reverse links actually make it reachable.
    The traversal is a published audit frame (one cold build per corpus
    fingerprint; round 7 re-ran two 10-round traversals per bench
    pass)."""
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") < 50).select("vec_id", "embedding")
    queries = _query_block(batch)

    def compute() -> DataFrame:
        base_emb = emb.filter(F.col("vec_id") >= 50)
        base_edges = spark.read.parquet(
            graph_ann_edges_published(spark, sf_dir, subset_min_id=50)
        )
        delta = graph_insert_edges(
            batch,
            base_edges.select("src", "dst"),
            base_emb,
            k=_GRAPH_ANN_BUILD_K,
            beam=_GRAPH_ANN_BEAM,
            rounds=_GRAPH_ANN_ROUNDS,
        )
        serving = (
            base_edges.select("src", "dst")
            .unionByName(delta.select("src", "dst"))
            .localCheckpoint(eager=True)
        )
        entries = hash_entry_pairs(
            base_emb, queries, max(16, base_emb.count() // 32)
        )
        return graph_beam_search(
            queries,
            serving,
            emb,
            beam=_GRAPH_ANN_BEAM,
            rounds=_GRAPH_ANN_ROUNDS,
            entry_pairs=entries,
        )

    visited = _published_visited(
        spark,
        sf_dir,
        "graph_ann_visited_incr",
        _graph_family_params(
            sf_dir,
            variant="incremental",
            entries="hash_base",
            batch="vec_id<50",
            insert_k=_GRAPH_ANN_BUILD_K,
            subset_min_id=50,
        ),
        compute,
    )
    exact = _exact_top10_without_self(exact_top11(spark, sf_dir, emb))
    return _recall_bound(queries, exact, _visited_top10(visited), visited, min_hits=5)


_DELETE_MOD = 40  # tombstone every 40th id (~2.5% of the corpus)


def _tombstones(emb: DataFrame) -> DataFrame:
    """The delete lifecycle's tombstoned ids: every ``_DELETE_MOD``-th."""
    return emb.filter(F.col("vec_id") % _DELETE_MOD == 0).select("vec_id")


def _delete_witness(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame,
    kind: str,
    params: dict,
    serving,
) -> DataFrame:
    """The delete lifecycle's per-query witness ``(query_id,
    no_deleted_hits, recall_ok)``. The surviving ``vec_id < 50`` block
    beam-searches the edge frame ``serving(tombstones)`` against the
    FULL store ``emb`` (deletes are logical), tombstoned ids excluded
    from the entry seeds only; the visited frame is published as
    ``kind`` with ``params``. ``no_deleted_hits``: no tombstoned id in
    a query's top-10. ``recall_ok``: at least 5 of that top-10 are in
    the exact top-10 over the survivors."""
    tombstones = _tombstones(emb)
    survivors = emb.filter(F.col("vec_id") % _DELETE_MOD != 0)
    queries = _query_block(survivors)
    visited = _published_visited(
        spark,
        sf_dir,
        kind,
        params,
        lambda: graph_beam_search(
            queries,
            serving(tombstones),
            emb,
            beam=_GRAPH_ANN_BEAM,
            rounds=_GRAPH_ANN_ROUNDS,
            exclude_entry_ids=tombstones,
        ),
    )
    approx = _visited_top10(visited).localCheckpoint(eager=True)
    deleted_hits = (
        approx.join(F.broadcast(tombstones), "vec_id", "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_del"))
    )
    exact = _exact_top10_without_self(
        exact_top11(spark, sf_dir, survivors, "exact_top11_del", delete_mod=_DELETE_MOD)
    )
    return (
        queries.select("query_id")
        .join(F.broadcast(deleted_hits), "query_id", "left")
        .join(F.broadcast(_hit_counts(exact, approx)), "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("n_del", F.lit(0)) == 0).alias("no_deleted_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= F.lit(5)).alias("recall_ok"),
        )
    )

_GRAPH_DELETE_ORACLE = f"""
SELECT vec_id AS query_id, TRUE AS no_deleted_hits, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 50 AND vec_id % {_DELETE_MOD} != 0
"""


@register("graph_ann_delete_serve", _GRAPH_DELETE_ORACLE)
def q_graph_ann_delete_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE side of the graph-index lifecycle (FAISS ``remove_ids`` /
    Lucene tombstones): every ~40th vector is tombstoned, serving drops
    every edge touching a deleted id via two broadcast anti-joins
    (``apply_tombstones``) — no base rewrite, deletes stay logical until
    compaction. Hash-checked per-query bounds: ``no_deleted_hits`` (the
    top-10 from the tombstoned graph NEVER returns a deleted id — the
    correctness contract of delete) and ``recall_ok`` (recall@10 vs the
    exact scan over the SURVIVING corpus >= 0.5 — dropping ~2.5% of a
    degree-capped symmetric graph must not break navigability).

    Witness hardening (round-7 advisor): the beam search scores against
    the FULL embedding store — deletes are logical, so the store still
    contains tombstoned vectors at serve time, and only (a) the
    tombstoned EDGE set (no deleted candidate can ever be proposed) and
    (b) the entry-sample anti-join (no deleted id can be seeded) keep
    deleted ids out of the answer. Replace ``apply_tombstones`` with a
    no-op and ``no_deleted_hits`` now FAILS — round 7's form scored
    against a pre-filtered survivor frame, which made the bound
    insensitive to the operator it claimed to verify."""
    return _delete_witness(
        spark,
        sf_dir,
        load_table(spark, sf_dir, "embeddings"),
        "graph_ann_visited_del",
        _graph_family_params(
            sf_dir,
            variant="delete",
            entries="hash_excl_tombstones_presample",
            delete_mod=_DELETE_MOD,
            store="full",
        ),
        lambda tombstones: apply_tombstones(
            _graph_ann_edges(spark, sf_dir).select("src", "dst"), tombstones
        ),
    )


_GRAPH_COMPACT_ORACLE = f"""
SELECT vec_id AS query_id, TRUE AS no_deleted_hits, TRUE AS recall_ok,
       TRUE AS degree_ok
FROM embeddings WHERE vec_id < 50 AND vec_id % {_DELETE_MOD} != 0
"""


@register("graph_ann_compact_serve", _GRAPH_COMPACT_ORACLE)
def q_graph_ann_compact_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION end of the graph-index lifecycle, end to end — the one
    maintenance step the family's other rows leave to unit tests. The
    full insert->segment->tombstone->compact->serve chain runs through
    the REAL operators: a base graph built WITHOUT vec_id<50
    (`graph_ann_edges_published(subset_min_id=50)`), the 50 held-out
    vectors inserted as an immutable delta segment
    (`graph_index_append`), every {_DELETE_MOD}th id tombstoned, then
    `compact_graph` folds base + segment - tombstones into a NEW
    degree-capped artifact (deletes become PHYSICAL; reverse-link
    out-degree growth from the insert is re-bounded — the two things
    compaction exists for). Hash-checked per-query bounds over a beam
    search on the compacted graph (surviving inserted vectors as
    queries, FULL embedding store, tombstones excluded from entry
    seeding only): ``no_deleted_hits`` (physically-compacted deletes
    can never surface), ``recall_ok`` (recall@10 vs the exact scan over
    the surviving corpus >= 0.5 — compaction must not break
    navigability; the inserted vectors stay first-class citizens), and
    ``degree_ok`` (max out-degree of the compacted artifact <= the
    publish cap — the growth bound compaction re-establishes)."""
    emb = load_table(spark, sf_dir, "embeddings")
    params = _graph_family_params(
        sf_dir,
        variant="compact",
        entries="hash_excl_tombstones_presample",
        batch="vec_id<50",
        insert_k=_GRAPH_ANN_BUILD_K,
        subset_min_id=50,
        delete_mod=_DELETE_MOD,
        store="full",
    )

    def build_compacted(tmp: str) -> None:
        base_path = graph_ann_edges_published(spark, sf_dir, subset_min_id=50)
        batch = emb.filter(F.col("vec_id") < 50).select("vec_id", "embedding")
        base_emb = emb.filter(F.col("vec_id") >= 50)

        def build_segment(seg_tmp: str) -> None:
            # the segment container is the published artifact: its one
            # delta_* child is what list_segments serves, and its own
            # _SUCCESS marks the container complete for the store
            graph_index_append(
                batch,
                spark.read.parquet(base_path).select("src", "dst"),
                base_emb,
                f"{seg_tmp}/delta_00000",
                k=_GRAPH_ANN_BUILD_K,
                beam=_GRAPH_ANN_BEAM,
                rounds=_GRAPH_ANN_ROUNDS,
            )
            open(f"{seg_tmp}/_SUCCESS", "w").close()

        seg_root = artifacts.path("graph_ann_segments", sf_dir)
        artifacts.publish(seg_root, params, build_segment)
        compact_graph(
            spark,
            base_path,
            seg_root,
            tmp,
            degree_cap=_GRAPH_ANN_DEGREE_CAP,
            tombstones=_tombstones(emb),
        )

    compacted_path = artifacts.path("graph_ann_compacted", sf_dir)
    artifacts.publish(compacted_path, params, build_compacted)
    compacted = spark.read.parquet(compacted_path)
    degree_ok = (
        compacted.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .agg((F.max("deg") <= F.lit(_GRAPH_ANN_DEGREE_CAP)).alias("degree_ok"))
    )
    return _delete_witness(
        spark,
        sf_dir,
        emb,
        "graph_ann_visited_compact",
        params,
        lambda _: compacted.select("src", "dst"),
    ).crossJoin(F.broadcast(degree_ok))


# wide leg MUST stay the serving beam: the curve's beam-24 traversal is
# sliced from the canonical shared artifact (graph_ann_visited_published)
_BEAM_CURVE_BEAMS = (4, _GRAPH_ANN_BEAM)
_BEAM_CURVE_QUERIES = 25

_BEAM_CURVE_ORACLE = f"""
SELECT CAST(b AS INTEGER) AS beam, TRUE AS recall_ok, TRUE AS monotone_ok
FROM (VALUES ({_BEAM_CURVE_BEAMS[0]}), ({_BEAM_CURVE_BEAMS[1]})) t(b)
"""


@register("graph_ann_beam_curve", _BEAM_CURVE_ORACLE)
def q_graph_ann_beam_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam-width/recall trade-off curve for graph ANN — the knob sweep an
    operator runs before picking the serving beam (`ivf_nprobe_curve`'s
    graph-family twin). One row per beam with hash-checked witness
    booleans: ``recall_ok`` (mean recall@10 over {25} corpus-drawn
    queries >= 0.4 at the narrow beam, >= 0.7 at the wide one — both far
    under observed means) and ``monotone_ok`` (mean recall at beam=24 is
    not below beam=4 minus noise slack 0.05: widening the beam must not
    LOSE recall, the regression a broken frontier introduces first)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _query_block(emb, _BEAM_CURVE_QUERIES)
    exact = _exact_top10_without_self(exact_top11(spark, sf_dir, emb)).filter(
        F.col("query_id") < _BEAM_CURVE_QUERIES
    )

    def narrow() -> DataFrame:
        edges = _graph_ann_edges(spark, sf_dir).select("src", "dst")
        return graph_beam_search(
            queries, edges, emb, beam=_BEAM_CURVE_BEAMS[0], rounds=_GRAPH_ANN_ROUNDS
        )

    # wide leg = the canonical shared traversal restricted to this
    # query prefix (per-query independence makes the filter exact);
    # narrow leg is its own published frame — round 7 ran BOTH searches
    # live on every bench pass (21.9 s at sf0.1)
    visited_by_beam = {
        _BEAM_CURVE_BEAMS[0]: _published_visited(
            spark,
            sf_dir,
            f"graph_ann_visited_beam{_BEAM_CURVE_BEAMS[0]}",
            _graph_family_params(
                sf_dir,
                entries="hash",
                beam=_BEAM_CURVE_BEAMS[0],
                queries=f"vec_id<{_BEAM_CURVE_QUERIES}",
            ),
            narrow,
        ),
        _BEAM_CURVE_BEAMS[1]: graph_ann_visited_published(spark, sf_dir).filter(
            F.col("query_id") < _BEAM_CURVE_QUERIES
        ),
    }
    floors = {_BEAM_CURVE_BEAMS[0]: 0.4, _BEAM_CURVE_BEAMS[1]: 0.7}
    rows = []
    means = {}
    for beam in _BEAM_CURVE_BEAMS:
        approx = _visited_top10(visited_by_beam[beam])
        # bounded driver collect: two scalars per beam (the knob-curve
        # pattern of ivf_nprobe_curve)
        hits = _hit_counts(exact, approx).agg(F.sum("n_hits")).first()[0] or 0
        mean_recall = hits / (10.0 * _BEAM_CURVE_QUERIES)
        means[beam] = mean_recall
        rows.append((beam, mean_recall >= floors[beam]))
    monotone = means[_BEAM_CURVE_BEAMS[1]] >= means[_BEAM_CURVE_BEAMS[0]] - 0.05
    return spark.createDataFrame(
        [(b, ok, monotone) for b, ok in rows],
        "beam int, recall_ok boolean, monotone_ok boolean",
    )
