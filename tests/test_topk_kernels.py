"""The vectorized BLAS kernel must produce exactly the expression kernel's
results (after 6dp rounding) — including tie-breaks and self-exclusion."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectordbfaiss_spark.operators.topk import (
    score_pairs,
    score_topk_vectorized,
    topk,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _queries(emb, n=25):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_vectorized_equals_expression_kernel(spark):
    emb = _emb(spark)
    q = _queries(emb)
    expr = topk(
        score_pairs(q, emb).withColumn("score", F.round("score", 6)), k=7
    ).select("query_id", "vec_id", "score", "rank")
    vec = score_topk_vectorized(q, emb, k=7).select(
        "query_id", "vec_id", "score", "rank"
    )
    assert sorted(map(tuple, expr.collect())) == sorted(map(tuple, vec.collect()))


def test_vectorized_exclude_self(spark):
    emb = _emb(spark)
    q = _queries(emb, 10)
    res = score_topk_vectorized(q, emb, k=3, exclude_self=True).collect()
    assert all(r["query_id"] != r["vec_id"] for r in res)
    assert len(res) == 30


def test_vectorized_exclude_self_masks_duplicate_ids(spark):
    """A corpus with repeated vec_ids (e.g. appended segments before
    compaction) must never return the query itself: the searchsorted
    mask has to cover the FULL duplicate run, not just its leftmost
    occurrence (round-8 advisor finding)."""
    emb = _emb(spark)
    q = _queries(emb, 10)
    # duplicate every query row THREE times so each query id forms a
    # multi-row run in the id-sorted batch
    dup = emb.filter(F.col("vec_id") < 10)
    corpus = emb.unionByName(dup).unionByName(dup).coalesce(1)
    res = score_topk_vectorized(q, corpus, k=3, exclude_self=True).collect()
    assert all(r["query_id"] != r["vec_id"] for r in res)
    assert len(res) == 30
