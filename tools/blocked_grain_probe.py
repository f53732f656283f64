#!/usr/bin/env python
"""Evidence probe for the blocked-kernel scaling knob: cluster-blocked
kNN-graph construction at (corpus, n_clusters) combos.

SCALE.md's honest-density step showed the quadratic-in-cell families
(`knn_graph_blocked`, SemDeDup) growing ~quadratically when the CELL
COUNT is pinned while the corpus scales — the registry pins small K so
the DuckDB oracle can replay the blocking. The production contract says:
scale n_clusters with the corpus so the per-cell population stays
constant, and per-cell quadratic work stays flat. This probe measures
exactly that claim: the blocked kNN edge-list build (assignment + one
applyInPandas Gram kernel per cell, no witness legs) at a fixed corpus
with K scaled, and across corpora with K scaled proportionally.

Usage:
  python tools/blocked_grain_probe.py dir1=K1,K2 dir2=K3 ...
e.g.
  python tools/blocked_grain_probe.py .scratch/syn1=8 .scratch/syn10=8,80

Run ALONE on an idle box (same rule as bench.py / scale_spotcheck.py).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F, types as T

    from vectordbfaiss_spark.artifacts import corpus_key
    from vectordbfaiss_spark.plans.ivf import assign_clusters
    from vectordbfaiss_spark.session import get_spark, load_table

    combos: list[tuple[str, int]] = []
    for arg in sys.argv[1:]:
        d, ks = arg.split("=", 1)
        for k in ks.split(","):
            combos.append((d, int(k)))
    if not combos:
        combos = [(".scratch/syn1", 8), (".scratch/syn10", 8), (".scratch/syn10", 80)]

    spark = get_spark(app_name="blocked-grain-probe")
    load0 = os.getloadavg()[0]
    print(f"load_avg_start={load0:.2f} contaminated={load0 > 1.0}")

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
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = np.round(V @ V.T, 6)
        np.fill_diagonal(S, -np.inf)
        rows = []
        for i in range(len(ids)):
            order = np.lexsort((np.arange(len(ids)), -S[i]))[: min(3, len(ids) - 1)]
            for j in order:
                rows.append((int(ids[i]), int(ids[j]), float(S[i, j])))
        return pd.DataFrame(rows, columns=["src", "dst", "score"])

    for sf_dir, n_clusters in combos:
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            assigned, _ = assign_clusters(
                emb.select("vec_id", "embedding", F.col("embedding").alias("nvec")),
                vec_col="nvec",
                n_clusters=n_clusters,
                seed=42,
                corpus_key=f"{corpus_key(sf_dir)}:probe{n_clusters}",
            )
            edges = assigned.drop("nvec").groupBy("cluster_id").applyInPandas(
                kernel, schema
            )
            n_edges = edges.count()
            times.append(round(time.perf_counter() - t0, 2))
        print(
            f"{sf_dir:18s} N={n:>7} K={n_clusters:>4} per_cell~{n // n_clusters:>6} "
            f"cold={times[0]:7.2f}s warm={times[1]:7.2f}s edges={n_edges}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
