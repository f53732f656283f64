"""Graph-ANN delta-segment maintenance
(operators/graph_ann_incremental): two appended batches produce one
segment each, inserted nodes are reachable through the serving view, and
compaction re-applies the degree cap without losing reachability."""

from __future__ import annotations

import pathlib

import numpy as np
from pyspark.sql import functions as F

from vectordbfaiss_spark.operators.graph_ann import graph_beam_search
from vectordbfaiss_spark.operators.graph_ann_incremental import (
    compact_graph,
    graph_index_append,
    list_segments,
    read_graph,
)
from vectordbfaiss_spark.operators.nn_descent import nn_descent


def _corpus(spark, n=90, dim=12, seed=5):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(5, dim)) * 2.5
    rows = []
    for i in range(n):
        v = centers[i % 5] + 0.3 * rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_stream_insert_serves_new_nodes_and_compacts(spark, tmp_path: pathlib.Path):
    emb = _corpus(spark)
    base_emb = emb.filter(F.col("vec_id") >= 30)
    new1 = emb.filter(F.col("vec_id") < 15)
    new2 = emb.filter((F.col("vec_id") >= 15) & (F.col("vec_id") < 30))

    base_path = str(tmp_path / "base_edges")
    nn_descent(base_emb, k=6, rounds=3).select("src", "dst", "score").write.parquet(
        base_path
    )

    segroot = str(tmp_path / "segments")
    base_edges = spark.read.parquet(base_path).select("src", "dst")
    for i, batch in enumerate([new1, new2]):
        graph_index_append(
            batch, base_edges, base_emb, f"{segroot}/delta_{i:05d}",
            k=6, beam=12, rounds=4,
        )
        assert len(list_segments(segroot)) == i + 1

    # every inserted node is reachable through the serving view: search
    # with the inserted vectors as queries and require self-discovery
    serving = read_graph(spark, base_path, segroot).select("src", "dst")
    queries = emb.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    visited = graph_beam_search(queries, serving, emb, beam=12, rounds=6)
    self_hits = (
        visited.filter(F.col("query_id") == F.col("vec_id"))
        .select("query_id")
        .distinct()
        .count()
    )
    assert self_hits == 30

    # compaction: degree cap enforced, no (src, dst) dupes, still serves
    out = str(tmp_path / "compacted")
    compact_graph(spark, base_path, segroot, out, degree_cap=12)
    comp = spark.read.parquet(out)
    assert comp.count() == comp.select("src", "dst").distinct().count()
    deg = comp.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert deg <= 12
    visited2 = graph_beam_search(queries, comp.select("src", "dst"), emb, beam=12, rounds=6)
    self2 = (
        visited2.filter(F.col("query_id") == F.col("vec_id"))
        .select("query_id")
        .distinct()
        .count()
    )
    assert self2 == 30


def test_tombstones_remove_all_touching_edges_and_compact_drops(spark, tmp_path):
    from vectordbfaiss_spark.operators.graph_ann_incremental import (
        apply_tombstones,
        compact_graph,
    )

    emb = _corpus(spark, n=60)
    base_path = str(tmp_path / "base")
    nn_descent(emb, k=5, rounds=3).select("src", "dst", "score").write.parquet(
        base_path
    )
    tombs = spark.createDataFrame([(7,), (13,), (21,)], "vec_id long")
    edges = spark.read.parquet(base_path)
    served = apply_tombstones(edges, tombs)
    got = served.collect()
    dead = {7, 13, 21}
    assert all(r.src not in dead and r.dst not in dead for r in got)
    # non-touching edges all survive
    keep = edges.filter(~F.col("src").isin(*dead) & ~F.col("dst").isin(*dead))
    assert served.count() == keep.count()

    # physical compaction with tombstones: the new base carries none
    out = str(tmp_path / "compacted")
    (tmp_path / "segments").mkdir()
    compact_graph(
        spark, base_path, str(tmp_path / "segments"), out, degree_cap=10,
        tombstones=tombs,
    )
    comp = spark.read.parquet(out)
    assert comp.filter(F.col("src").isin(*dead) | F.col("dst").isin(*dead)).count() == 0
