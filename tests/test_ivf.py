"""IVF index build + search: layout, partition pruning, recall vs exact."""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from vectordbfaiss_spark.functions.vector import l2_normalize
from vectordbfaiss_spark.operators.topk import score_pairs, topk
from vectordbfaiss_spark.plans.ivf import assign_clusters, build_ivf_index, ivf_search

SF_DIR = "/root/testdata/sf0.001"


def _queries(emb, n=20):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_ivf_layout_and_pruned_search(spark, tmp_path: pathlib.Path):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = str(tmp_path / "ivf")
    centroids = build_ivf_index(emb, out, n_clusters=8, seed=42)
    assert len(centroids) == 8

    # layout: one directory per cluster -> partition pruning unit
    dirs = {p.name for p in pathlib.Path(out).iterdir() if p.name.startswith("cluster_id=")}
    assert len(dirs) >= 2

    index = spark.read.parquet(out)
    res = ivf_search(index, _queries(emb), centroids, k=5, nprobe=2)
    assert res.count() == 20 * 5
    # filtering on cluster_id must reach the scan as a partition filter
    probe_plan = index.filter(F.col("cluster_id") == 0)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in probe_plan


def test_ivf_recall_against_exact(spark):
    """nprobe=4 of 8 clusters must recover most exact top-10 neighbors;
    nprobe=n_clusters must recover ALL (IVF with full probe == exact)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assigned, centroids = assign_clusters(emb, n_clusters=8, seed=42)
    queries = _queries(emb, 10)

    norm = emb.withColumn("embedding", l2_normalize("embedding").cast("array<float>"))
    qn = queries.withColumn("query_vec", l2_normalize("query_vec").cast("array<float>"))
    exact = topk(
        score_pairs(qn, norm, assume_normalized=True).withColumn(
            "score", F.round("score", 6)
        ),
        k=10,
    )
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact.collect()}

    approx = ivf_search(assigned, queries, centroids, k=10, nprobe=4)
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"recall@10 with nprobe=4/8 too low: {recall}"

    full = ivf_search(assigned, queries, centroids, k=10, nprobe=8)
    full_set = {(r["query_id"], r["vec_id"]) for r in full.collect()}
    assert full_set == exact_set, "full-probe IVF must equal exact search"


def test_build_ivf_index_is_build_once(spark, tmp_path):
    """A completed build with matching (corpus fingerprint, params) must be
    reused — no k-means refit, no rewrite; changed params must rebuild."""
    import os

    from vectordbfaiss_spark.plans.ivf import build_ivf_index, corpus_fingerprint
    from vectordbfaiss_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    out = str(tmp_path / "ivf")
    key = corpus_fingerprint(f"{SF_DIR}/embeddings.parquet")

    c1 = build_ivf_index(emb, out, n_clusters=4, seed=42, corpus_key=key)
    stamp = os.path.getmtime(os.path.join(out, "_SUCCESS"))
    c2 = build_ivf_index(emb, out, n_clusters=4, seed=42, corpus_key=key)
    assert c2 == c1  # same centroids returned from the meta sidecar
    assert os.path.getmtime(os.path.join(out, "_SUCCESS")) == stamp  # no rewrite

    c3 = build_ivf_index(emb, out, n_clusters=8, seed=42, corpus_key=key)
    assert len(c3) == 8  # param change invalidates the artifact
    assert os.path.getmtime(os.path.join(out, "_SUCCESS")) != stamp


def test_ivf_corrupt_meta_sidecar_rebuilds(spark, tmp_path):
    """A truncated _artifact.json next to a valid _SUCCESS (crash mid-
    publish) must trigger a rebuild, not raise forever; the rebuild
    republishes a readable sidecar atomically."""
    import json
    import os

    from vectordbfaiss_spark.plans.ivf import build_ivf_index
    from vectordbfaiss_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = str(tmp_path / "ivf_idx")
    c1 = build_ivf_index(emb, out, n_clusters=4, corpus_key="k1")
    meta_path = os.path.join(out, "_artifact.json")
    with open(meta_path, "w") as fh:
        fh.write('{"params": {"corpus_key"')  # truncated mid-dump
    c2 = build_ivf_index(emb, out, n_clusters=4, corpus_key="k1")
    assert len(c2) == len(c1)
    with open(meta_path) as fh:
        meta = json.load(fh)  # readable again
    assert meta["params"]["corpus_key"] == "k1"


def test_ivf_delta_append_is_build_once(spark, tmp_path):
    """A delta segment with a matching delta_key is left in place; a
    changed key (new batch fingerprint) republishes; a corrupt sidecar
    falls through to a rewrite instead of erroring."""
    import os

    from vectordbfaiss_spark.plans.ivf import build_ivf_index, ivf_index_append
    from vectordbfaiss_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    out = str(tmp_path / "ivf")
    centroids = build_ivf_index(emb, out, n_clusters=4, seed=42)
    delta = emb.filter(F.col("vec_id") % 7 == 0)
    dpath = str(tmp_path / "ivf_delta")

    ivf_index_append(delta, centroids, dpath, delta_key="batch-v1")
    stamp = os.path.getmtime(os.path.join(dpath, "_SUCCESS"))
    ivf_index_append(delta, centroids, dpath, delta_key="batch-v1")
    assert os.path.getmtime(os.path.join(dpath, "_SUCCESS")) == stamp  # reused

    ivf_index_append(delta, centroids, dpath, delta_key="batch-v2")
    stamp2 = os.path.getmtime(os.path.join(dpath, "_SUCCESS"))
    assert stamp2 != stamp  # key change republishes

    with open(os.path.join(dpath, "_artifact.json"), "w") as fh:
        fh.write('{"par')  # truncated sidecar: crash-mid-publish shape
    ivf_index_append(delta, centroids, dpath, delta_key="batch-v2")
    assert os.path.getmtime(os.path.join(dpath, "_SUCCESS")) != stamp2

    # the delta segment is cluster-partitioned like the base
    assert any(
        p.startswith("cluster_id=") for p in os.listdir(dpath)
    )


def test_ivf_compact_rekeys_on_new_segments(spark, tmp_path):
    """Compacting with an unchanged compact_key but MORE segments must
    re-fold (the delta set is part of the build-once params) — a key-only
    check would serve the first fold forever while segments accumulate."""
    from vectordbfaiss_spark.plans.ivf import build_ivf_index, ivf_compact, ivf_index_append
    from vectordbfaiss_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    base = str(tmp_path / "base")
    centroids = build_ivf_index(emb, base, n_clusters=4, seed=42)
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    ivf_index_append(emb.filter(F.col("vec_id") % 7 == 0), centroids, d1)
    out = str(tmp_path / "compacted")
    ivf_compact(spark, base, [d1], out, compact_key="k")
    n1 = spark.read.parquet(out).count()

    ivf_index_append(
        emb.filter(F.col("vec_id") % 7 == 1).withColumn(
            "vec_id", F.col("vec_id") + 10_000
        ),
        centroids, d2,
    )
    # same key, wider delta set -> must re-fold and include d2's rows
    ivf_compact(spark, base, [d1, d2], out, compact_key="k")
    n2 = spark.read.parquet(out).count()
    assert n2 > n1

    # identical (key, delta set) -> reused, no rewrite
    import os
    stamp = os.path.getmtime(os.path.join(out, "_SUCCESS"))
    ivf_compact(spark, base, [d1, d2], out, compact_key="k")
    assert os.path.getmtime(os.path.join(out, "_SUCCESS")) == stamp


def test_ivf_compact_rekeys_on_republished_delta_content(spark, tmp_path):
    """Compacting with an unchanged compact_key and the SAME delta
    basenames must still re-fold when a segment's CONTENT identity
    changed (its delta_key rotated on republish) — a basename-only check
    would silently serve the stale fold."""
    from vectordbfaiss_spark.plans.ivf import (
        build_ivf_index,
        ivf_compact,
        ivf_index_append,
    )
    from vectordbfaiss_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    base = str(tmp_path / "base")
    centroids = build_ivf_index(emb, base, n_clusters=4, seed=42)
    d1 = str(tmp_path / "d1")
    ivf_index_append(
        emb.filter(F.col("vec_id") % 7 == 0), centroids, d1, delta_key="v1"
    )
    out = str(tmp_path / "compacted")
    ivf_compact(spark, base, [d1], out, compact_key="k")
    n1 = spark.read.parquet(out).count()

    # republish the SAME path with more rows under a rotated delta_key
    ivf_index_append(
        emb.filter((F.col("vec_id") % 7 == 0) | (F.col("vec_id") % 7 == 2)),
        centroids, d1, delta_key="v2",
    )
    ivf_compact(spark, base, [d1], out, compact_key="k")
    n2 = spark.read.parquet(out).count()
    assert n2 > n1, "republished delta content was not re-folded"
