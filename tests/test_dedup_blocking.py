"""Scale-path candidate generation for simhash / n-gram dedup.

The blocked simhash generator must (a) return EXACTLY the all-pairs result
(pigeonhole blocking is lossless) and (b) plan as equi-joins, never a
cartesian. The shingle df-cap must drop only pairs whose every shared
shingle is above the cap.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vectordbfaiss_spark.operators import dedup as D
from vectordbfaiss_spark.session import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("max_hamming", [1, 6])
def test_simhash_blocked_equals_allpairs(spark, max_hamming):
    docs = load_table(spark, SF_SMOKE, "documents")
    blocked = D.simhash_pairs(docs, "doc_id", "text", max_hamming=max_hamming)
    exact = D.simhash_pairs_allpairs(docs, "doc_id", "text", max_hamming=max_hamming)
    assert _pairs(blocked) == _pairs(exact)
    assert len(_pairs(exact)) > 0  # fixture must actually exercise the path


def test_simhash_blocked_plan_has_no_cartesian(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(D.simhash_pairs(docs, "doc_id", "text", max_hamming=6))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_block_specs_cover_all_bits():
    for bits, b in [(32, 7), (32, 2), (64, 7)]:
        specs = D._block_specs(bits, b)
        assert len(specs) == b
        assert sum(w for _, w in specs) == bits
        # contiguous, disjoint
        off = 0
        for o, w in specs:
            assert o == off
            off += w


def test_ngram_df_cap_above_fixture_df_is_exact(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    capped = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=10_000
    )
    exact = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    assert _pairs(capped) == _pairs(exact)


def test_ngram_df_cap_drops_boilerplate_only_pairs(spark):
    # two docs share ONLY a boilerplate shingle (df=4 > cap); two others
    # are near-identical with rare shingles (df<=2) and must survive
    boiler = "terms of service apply"
    rows = [
        (1, f"alpha one two three four five {boiler}"),
        (2, f"beta six seven eight nine ten {boiler}"),
        (3, f"gamma common text shared here now {boiler}"),
        (4, f"gamma common text shared here too {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    capped = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.05, max_shingle_df=3
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (3, 4) in got  # rare-shingle overlap survives the cap
    assert (1, 2) not in got  # boilerplate-only candidate is dropped


def test_ngram_capped_jaccard_values_unchanged_for_survivors(spark):
    # the cap prunes CANDIDATES only; a surviving pair's Jaccard is still
    # computed over the FULL shingle sets (denominators never shrink)
    rows = [
        (1, "x a b c d e f g"),
        (2, "x a b c d e f h"),
        (3, "x unrelated words entirely different here"),
        (4, "x more unrelated words also different here"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    capped = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=2, threshold=0.1, max_shingle_df=3
    ).filter((F.col("id_a") == 1) & (F.col("id_b") == 2))
    exact = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=2, threshold=0.1
    ).filter((F.col("id_a") == 1) & (F.col("id_b") == 2))
    assert _pairs(capped) == _pairs(exact)
    assert len(_pairs(exact)) == 1


def test_ngram_cap_keeps_numerator_and_denominator_consistent(spark):
    # a pair sharing one boilerplate shingle plus rare ones: the capped
    # metric must equal exact Jaccard computed over the below-cap shingle
    # universe (NOT full-set denominators with a filtered numerator, which
    # silently deflates J)
    rows = [
        (1, "boiler r1 r2"),
        (2, "boiler r1 r3"),
        (3, "boiler z1"),
        (4, "boiler z2"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    capped = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=1, threshold=0.3, max_shingle_df=3
    )
    # below-cap universe: doc1={r1,r2}, doc2={r1,r3} -> J = 1/3
    scrubbed = spark.createDataFrame(
        [(1, "r1 r2"), (2, "r1 r3"), (3, "z1"), (4, "z2")],
        "doc_id LONG, text STRING",
    )
    expected = D.ngram_jaccard_pairs(scrubbed, "doc_id", "text", n=1, threshold=0.3)
    assert _pairs(capped) == _pairs(expected)
    got = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}
    assert got == {(1, 2): 0.333333}


def test_minhash_incremental_rejects_overlapping_ids(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id LONG, text STRING"
    )
    with pytest.raises(ValueError, match="share document ids"):
        D.minhash_lsh_incremental(docs, docs, "doc_id", "text")


def test_minhash_bucket_cap_drops_degenerate_buckets(spark):
    """A corpus of identical texts puts every doc in the same band
    buckets: uncapped banding emits all C(n,2) pairs; with max_bucket
    below n the giant buckets are dropped and no candidates survive.
    On heterogeneous data with small buckets the cap is a no-op."""
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.minhash_band_candidates(df, "doc_id", "text", n=3)
    assert uncapped.count() == 30 * 29 // 2
    capped = D.minhash_band_candidates(df, "doc_id", "text", n=3, max_bucket=10)
    assert capped.count() == 0


def test_minhash_bucket_cap_is_noop_below_cap(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(300)
    a = _pairs(D.minhash_band_candidates(docs, "doc_id", "text", n=3))
    b = _pairs(
        D.minhash_band_candidates(docs, "doc_id", "text", n=3, max_bucket=64)
    )
    assert a == b and len(a) > 0


def test_pair_jaccard_equals_shingle_join_formulation(spark):
    """pair_jaccard (array-intersect per explicit pair) must produce
    bit-identical jaccard values to the shingle-self-join formulation it
    replaced in LSH verification — same distinct-shingle sets, same 6dp
    rounding. The rewrite exists for cost (|pairs|-proportional vs
    Σ df² under shingle saturation), not semantics."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    cand = D.minhash_band_candidates(docs, "doc_id", "text", n=3)
    via_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.pair_jaccard(docs, cand, "doc_id", "text", n=3, threshold=0.0)
        .collect()
    }
    # a pair's J depends only on its own two documents, so the corpus-wide
    # join restricted to the candidate pairs gives the same values
    via_join = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
        .join(cand, ["id_a", "id_b"])
        .collect()
    }
    # the join formulation only emits pairs sharing >= 1 shingle; at
    # threshold 0 pair_jaccard also emits J=0 pairs — compare on the
    # join formulation's support and require nonempty overlap
    assert via_join and all(
        via_pairs[k] == v for k, v in via_join.items()
    )


def test_null_text_semantics(spark):
    """NULL-text docs are DROPPED by the signature/shingle pipelines
    (round-9 advisor): minhash_signatures emits no row (the old
    explode form emitted an all-NULL signature row, which downstream
    even made NULL-text docs mutual J=1 pairs), exploded_shingles emits
    no shingle rows, and ngram_jaccard_pairs emits no pairs involving
    them."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, None), (4, None)],
        "doc_id LONG, text STRING",
    )
    sig = D.minhash_signatures(docs, "doc_id", "text", n=3)
    assert {r.doc_id for r in sig.collect()} == {1, 2}
    ex = D.exploded_shingles(docs, "doc_id", "text", n=3)
    assert {r.doc_id for r in ex.collect()} == {1, 2}
    pairs = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.0
        ).collect()
    }
    assert pairs == {(1, 2)}


def test_simhash_bucket_cap_drops_degenerate_buckets(spark):
    """Identical texts share a signature, so every doc lands in the same
    two block buckets: uncapped blocking emits all C(n,2) pairs; a cap
    below n drops the buckets and no candidates survive."""
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.simhash_pairs(df, "doc_id", "text", max_hamming=1)
    assert uncapped.count() == 30 * 29 // 2
    capped = D.simhash_pairs(df, "doc_id", "text", max_hamming=1, max_bucket=10)
    assert capped.count() == 0


def test_simhash_bucket_cap_is_noop_below_cap(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    a = _pairs(D.simhash_pairs(docs, "doc_id", "text", max_hamming=1))
    b = _pairs(
        D.simhash_pairs(
            docs, "doc_id", "text", max_hamming=1, max_bucket=100_000
        )
    )
    assert a == b and len(a) > 0


def test_simhash_capped_plan_is_aggregate_anti_join_not_window(spark):
    """The bucket guard must stay an aggregate + join, never a window: a
    window count over (blk, val) funnels each degenerate bucket into ONE
    unsplittable task (WindowExec buffers the partition; the MinHash
    twin of this shape OOM'd at the 500k-doc saturated fixture). Round 9
    inverted the join direction — ANTI against the over-cap keys, whose
    row count is bounded by rows/cap, instead of SEMI against the
    below-cap keys, which are ~the whole corpus at healthy densities and
    OOM'd the forced hash build at the syn300 rung."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(300)
    df = D.simhash_pairs(docs, "doc_id", "text", max_hamming=1, max_bucket=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:2000]
    assert "LeftAnti" in plan, plan[:2000]
    assert "LeftSemi" not in plan, plan[:2000]
