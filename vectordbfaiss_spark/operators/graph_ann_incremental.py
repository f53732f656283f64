"""Incremental graph-ANN maintenance: insert new vectors into a
published search graph as immutable DELTA EDGE SEGMENTS — the HNSW
``add()`` lifecycle for the partitioned-parquet layout, closing the last
asymmetry between the IVF family (``plans/ivf.py`` append/compact) and
the graph family.

Insert semantics follow the HNSW insertion algorithm (Malkov & Yashunin
2018, public): each new point SEARCHES the existing graph for its
neighbors (a beam search with the new point as the query — the batch is
query-bounded, so the traversal's broadcast contract holds), links to
its top-k, and the links are added in BOTH directions so the new point
is immediately reachable. Batch-internal structure comes from one exact
top-k pass within the (bounded) batch — the microbatch is the small
side by definition.

Readers union base + completed segments; nothing over the base graph is
rewritten at insert time. Out-degree of old nodes grows by reverse
links until ``compact_graph`` folds segments in and re-applies the
per-node degree cap (score DESC, dst ASC — the registry tie-break).

Per-batch work: one beam traversal (visited-set bounded per new point)
+ one |batch|^2 scoring pass + a |batch * k|-sized write. Nothing is
proportional to the corpus except the equi-join lookups into the
src-partitioned edge artifact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

_SEG_PREFIX = "delta_"


def graph_insert_edges(
    batch: DataFrame,
    base_edges: DataFrame,
    base_emb: DataFrame,
    k: int = 16,
    beam: int = 24,
    rounds: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Delta edges (src, dst, score) linking a new batch into the graph:
    new->base top-k from a beam search over the existing artifact,
    the same pairs REVERSED (base->new, so inserted points are
    discoverable), plus intra-batch top-k both ways."""
    from vectordbfaiss_spark.operators.graph_ann import graph_beam_search
    from vectordbfaiss_spark.operators.topk import score_topk_vectorized

    queries = batch.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    visited = graph_beam_search(
        queries, base_edges.select("src", "dst"), base_emb, beam=beam, rounds=rounds
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
    to_base = (
        visited.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select(
            F.col("query_id").alias("src"), F.col("vec_id").alias("dst"), "score"
        )
    )
    # intra-batch links: the batch is bounded, so the exact kernel's
    # broadcast-query contract holds with the batch on BOTH sides
    intra = score_topk_vectorized(
        queries,
        batch.select(id_col, vec_col),
        k=k,
        index_id=id_col,
        index_vec=vec_col,
        exclude_self=True,
    ).select(F.col("query_id").alias("src"), F.col(id_col).alias("dst"), "score")
    fwd = to_base.unionByName(intra)
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "score")
    return (
        fwd.unionByName(rev)
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max("score").alias("score"))
    )


def graph_index_append(
    batch: DataFrame,
    base_edges: DataFrame,
    base_emb: DataFrame,
    seg_path: str,
    k: int = 16,
    beam: int = 24,
    rounds: int = 10,
) -> None:
    """Materialize one immutable delta segment for ``batch`` (idempotent
    whole-directory overwrite — a replayed batch rewrites ITS OWN
    segment). Name it ``<segments_root>/delta_<n>`` so
    :func:`list_segments` serves it."""
    graph_insert_edges(
        batch, base_edges, base_emb, k=k, beam=beam, rounds=rounds
    ).repartition("src").write.mode("overwrite").parquet(seg_path)


def list_segments(segments_root: str) -> list[str]:
    """Completed segment paths (have a _SUCCESS marker), oldest first."""
    if not os.path.isdir(segments_root):
        return []
    out = []
    for name in sorted(os.listdir(segments_root)):
        p = os.path.join(segments_root, name)
        if name.startswith(_SEG_PREFIX) and os.path.isfile(
            os.path.join(p, "_SUCCESS")
        ):
            out.append(p)
    return out


def read_graph(
    spark: SparkSession, base_path: str, segments_root: str
) -> DataFrame:
    """Serving view: base edge artifact ∪ all completed delta segments."""
    df = spark.read.parquet(base_path).select("src", "dst", "score")
    for seg in list_segments(segments_root):
        df = df.unionByName(spark.read.parquet(seg).select("src", "dst", "score"))
    return df


def apply_tombstones(
    edges: DataFrame, tombstones: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Serving-time DELETE: drop every edge touching a tombstoned id —
    two anti-joins against the (small) tombstone set, so deleted vectors
    can neither be returned nor traversed THROUGH. The FAISS
    ``remove_ids`` analog for the segment layout: deletes are logical
    until ``compact_graph`` folds them in; the base artifact is never
    rewritten at delete time."""
    t = tombstones.select(F.col(id_col).alias("_tomb"))
    return (
        edges.join(
            F.broadcast(t), edges["src"] == F.col("_tomb"), "left_anti"
        ).join(F.broadcast(t), edges["dst"] == F.col("_tomb"), "left_anti")
    )


def compact_graph(
    spark: SparkSession,
    base_path: str,
    segments_root: str,
    out_path: str,
    degree_cap: int = 24,
    tombstones: DataFrame | None = None,
) -> None:
    """Fold delta segments into a new base: union, apply tombstones
    physically (deleted nodes' edges disappear from the artifact), dedup
    on (src, dst) keeping the best score, re-apply the per-node degree
    cap, rewrite src-clustered — the maintenance step that bounds
    out-degree growth from accumulated reverse links and makes logical
    deletes durable."""
    all_edges = read_graph(spark, base_path, segments_root)
    if tombstones is not None:
        all_edges = apply_tombstones(all_edges, tombstones)
    best = all_edges.groupBy("src", "dst").agg(F.max("score").alias("score"))
    w = W.partitionBy("src").orderBy(F.desc("score"), "dst")
    (
        best.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= degree_cap)
        .select("src", "dst", "score")
        .repartition("src")
        .write.mode("overwrite")
        .parquet(out_path)
    )
