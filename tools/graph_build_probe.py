#!/usr/bin/env python
"""Wall-clock probe for the LINEAR graph-ANN build at the synthetic
scale ladder (.scratch/syn{1,10,100}: 2k / 20k / 200k embeddings,
original density — see tools/gen_synth_corpus.py).

Round-6's verdict marked the graph-ANN family `weak` because the
published artifact came from the exact O(N^2) tiled build (measured
281-299 s COLD at syn10). Round 7 replaced it with NN-Descent
(`graph_ann_edges_published`: blocked init + NN-Descent rounds +
symmetrize, all corpus-linear) but left two scale items this probe now
covers (round-7 verdict items 4-5):

- the build's per-round candidate volume is rho-SAMPLED
  (operators/nn_descent.py `sample_cap`) — the probe records the new
  build wall and EDGE RECALL vs the exact kNN@k_build artifact, so the
  spill fix is provably not a quality regression;
- serving knobs are SCHEDULED from corpus N
  (operators/graph_ann.py `graph_serve_knobs`) instead of fixed — the
  probe measures recall@10 at both the fixed (24, 10) knobs and the
  scheduled ones per rung.

The edge artifact is built ONCE per rung into .scratch/nnd_probe_{rung}
(param-keyed like every published artifact; pass --rebuild to force) and
every knob setting serves from it. One JSON goes to
.scratch/graph_build_probe.json.

Usage: python tools/graph_build_probe.py [--rebuild] [--knobs B:R,B:R,...]
       [syn1 syn10 syn100]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from vectordbfaiss_spark.operators.graph_ann import (
        graph_beam_search,
        graph_serve_knobs,
    )
    from vectordbfaiss_spark.queries.embedding_analysis import (
        _GRAPH_ANN_BUILD_K,
        _exact_top10_without_self,
        _visited_top10,
        exact_top11,
        graph_ann_edges_published,
        knn_edges_published,
    )
    from vectordbfaiss_spark.session import get_spark, load_table

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    args = sys.argv[1:]
    rebuild = "--rebuild" in args
    args = [a for a in args if a != "--rebuild"]
    explicit_knobs: list[tuple[int, int]] = []
    if "--knobs" in args:
        i = args.index("--knobs")
        explicit_knobs = [
            (int(b), int(r))
            for b, r in (kr.split(":") for kr in args[i + 1].split(","))
        ]
        del args[i : i + 2]
    rungs = args or ["syn1", "syn10", "syn100"]
    spark = get_spark(
        app_name="graph_build_probe",
        master="local[32]",
        shuffle_partitions=32,
        # local mode: one heap for driver + all 32 task threads; the
        # NN-Descent candidate shuffles at syn100 OOM the 1g default
        driver_memory="16g",
    )
    out: dict[str, dict] = {}
    for rung in rungs:
        sf_dir = os.path.join(repo, ".scratch", rung)
        art = os.path.join(repo, ".scratch", f"nnd_probe_{rung}")
        if rebuild:
            shutil.rmtree(art, ignore_errors=True)
        fresh = not os.path.isfile(os.path.join(art, "_SUCCESS"))
        t0 = time.time()
        edges = spark.read.parquet(
            graph_ann_edges_published(spark, sf_dir, out_path=art)
        )
        n_edges = edges.count()  # forces the full cold build + read-back
        t_build = time.time() - t0

        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        queries = emb.filter(F.col("vec_id") < 50).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        exact = _exact_top10_without_self(exact_top11(spark, sf_dir, emb))
        # edge recall vs the exact kNN@k_build artifact (param-keyed,
        # built once per rung) — the build-quality witness for the
        # rho-sampling change. The exact build is O(N^2); affordable
        # through syn10 (20k: ~300 s once), ruinous at syn100 (40B
        # pairs, ~8 h) — there the end-metric serve recall below is the
        # witness.
        edge_recall = None
        if n <= 50_000:
            exact_knn = knn_edges_published(
                spark,
                sf_dir,
                k=_GRAPH_ANN_BUILD_K,
                out_path=os.path.join(
                    repo, ".scratch", f"knn_edges{_GRAPH_ANN_BUILD_K}_{rung}"
                ),
            ).select("src", "dst")
            n_exact = exact_knn.count()
            edge_hits = (
                edges.select("src", "dst")
                .join(exact_knn, ["src", "dst"], "left_semi")
                .count()
            )
            edge_recall = round(edge_hits / max(n_exact, 1), 3)

        knobs = explicit_knobs or sorted({(24, 10), graph_serve_knobs(n)})
        serves = {}
        for beam, rounds in knobs:
            t0 = time.time()
            visited = graph_beam_search(
                queries, edges.select("src", "dst"), emb, beam=beam, rounds=rounds
            )
            approx = _visited_top10(visited).localCheckpoint(eager=True)
            t_serve = time.time() - t0
            hits = exact.join(
                F.broadcast(approx), ["query_id", "vec_id"], "left_semi"
            ).count()
            serves[f"beam{beam}_r{rounds}"] = {
                "serve_s": round(t_serve, 1),
                "recall_at_10": round(hits / 500.0, 3),
            }
            print(rung, beam, rounds, serves[f"beam{beam}_r{rounds}"], flush=True)
        out[rung] = {
            "n": n,
            "n_edges": n_edges,
            "build_cold_s": round(t_build, 1) if fresh else None,
            "edge_recall": edge_recall,
            "scheduled_knobs": list(graph_serve_knobs(n)),
            "serves": serves,
        }
        print(rung, {k: v for k, v in out[rung].items() if k != "serves"}, flush=True)
    path = os.path.join(repo, ".scratch", "graph_build_probe.json")
    existing = {}
    if os.path.isfile(path):
        try:
            with open(path) as fh:
                existing = json.load(fh)
        except json.JSONDecodeError:
            existing = {}
    existing.update(out)
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=1)
    print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
