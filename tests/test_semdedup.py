"""SemDeDup operator semantics on a constructed corpus
(operators/semdedup.py; registry queries semdedup_prune /
semdedup_witness_bound are sweep-covered)."""

from __future__ import annotations

from pyspark.sql import types as T

from vectordbfaiss_spark.operators.semdedup import semdedup

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def _corpus(spark):
    rows = [
        # group A: three near-identical vectors
        (1, [1.0, 0.01, 0.0, 0.0], 0),
        (2, [1.0, 0.02, 0.0, 0.0], 0),
        (3, [1.0, 0.00, 0.01, 0.0], 0),
        # group B: two near-identical vectors
        (10, [0.0, 1.0, 0.01, 0.0], 1),
        (11, [0.0, 1.0, 0.02, 0.0], 1),
        # singleton
        (20, [0.0, 0.0, 0.0, 1.0], 2),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_keep_first_by_id_within_groups(spark):
    out = {
        r["vec_id"]: r
        for r in semdedup(
            _corpus(spark), n_clusters=3, threshold=0.9, seed=7
        ).collect()
    }
    assert out[1]["keep"] and out[10]["keep"] and out[20]["keep"]
    assert not out[2]["keep"] and not out[3]["keep"] and not out[11]["keep"]
    # witness is always a smaller id and groups never cross
    assert out[2]["witness_id"] == 1
    assert out[3]["witness_id"] in (1, 2)
    assert out[11]["witness_id"] == 10
    assert out[20]["witness_id"] is None and out[20]["n_dup_smaller"] == 0


def test_threshold_above_all_sims_keeps_everything(spark):
    out = semdedup(_corpus(spark), n_clusters=3, threshold=1.01, seed=7)
    rows = out.collect()
    assert all(r["keep"] for r in rows)
    assert all(r["n_dup_smaller"] == 0 for r in rows)


def test_near_identical_vectors_share_a_cluster(spark):
    out = {
        r["vec_id"]: r["cluster_id"]
        for r in semdedup(
            _corpus(spark), n_clusters=3, threshold=0.9, seed=7
        ).collect()
    }
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11]


def test_witness_joins_never_broadcast_the_store(spark):
    """The witness re-derivation joins verdicts against the FULL embedding
    store — corpus-grain, so those joins must plan as shuffle-hash, never
    broadcast (at syn100 the 51 MB store slid under the 64 MB threshold
    and the broadcast build blew a 1g driver heap; caught round 6 at that
    rung, rerun with
    `python tools/ladder.py syn100=.scratch/syn100 semdedup_prune_scaled`)."""
    from tests.conftest import SF_SMOKE
    from vectordbfaiss_spark.queries.vector_search import (
        q_semdedup_prune_scaled,
        q_semdedup_witness_bound,
    )

    for fn in (q_semdedup_witness_bound, q_semdedup_prune_scaled):
        plan = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ShuffledHashJoin") >= 2, fn.__name__
