"""The MinHash signature kernel (operators.dedup.minhash_signatures) against
the md5 expression the DuckDB oracles use, and the candidate generator's
plan: the kernel must run once per minhash_band_candidates call."""

from __future__ import annotations

from hashlib import md5

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vectordbfaiss_spark.operators import dedup as D
from vectordbfaiss_spark.session import load_table


def _expr_signatures(shingles, num_hashes: int):
    """min(substr(md5('g:' || shingle), 8j+1, 8)) per doc over (doc_id,
    shingle) rows — the oracle's signature, in Spark built-ins."""
    return shingles.groupBy("doc_id").agg(
        *[
            F.min(
                F.substring(F.md5(F.concat(F.lit(f"{s // 4}:"), "shingle")), (s % 4) * 8 + 1, 8)
            ).alias(f"mh{s}")
            for s in range(num_hashes)
        ]
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("num_hashes", [16, 10])
def test_signatures_equal_md5_expression(spark, num_hashes):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    short = spark.createDataFrame(
        [(10**9, "two words"), (10**9 + 1, "one"), (10**9 + 2, "three word text")],
        "doc_id LONG, text STRING",
    )
    docs = docs.unionByName(short)
    sig = D.minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=num_hashes)
    assert sig.columns == ["doc_id"] + [f"mh{s}" for s in range(num_hashes)]
    expected = _expr_signatures(
        D.exploded_shingles(docs, "doc_id", "text", n=3), num_hashes
    )
    got = _rows(sig)
    assert got == _rows(expected)
    assert {r[0] for r in got} >= {10**9, 10**9 + 1, 10**9 + 2}


# Texts on which Python's tokenizer habits and the JVM's split(rtrim(text),
# r"\s+") disagree: Java's \s is exactly [ \t\n\x0B\f\r] and rtrim strips
# U+0020 only, so NBSP, U+2003, U+001C and U+0085 are word characters and a
# leading/trailing tab yields an empty token.
_HOSTILE = [
    "\tlead tab and trail tab\t",
    "\x0bvertical tab words here\x0b",
    "\fform feed words here\f",
    "crlf line one\r\nline two\r\n",
    "  doubled  spaces  inside  and  around  ",
    "trailing spaces only   ",
    "nbsp\u00a0inside one word here",
    "em\u2003space inside one word",
    "file\u001cseparator inside one word",
    "next\u0085line inside one word",
    "\u00a0 \u2003 \u0085 \u001c",
    "",
    " ",
    "\t",
    "\r\n",
    "one",
    "two words",
    "a b c a b c a b c a b c",
    "x x x x x",
    "日本語 の テキスト です 日本語 の テキスト",
    "😀 🎉 😀 🎉 emoji 😀",
    "混合 mixed 😀\u00a0text \tend",
]


@pytest.mark.parametrize("num_hashes", [16, 10])
def test_hostile_texts_tokenize_as_the_jvm_does(spark, num_hashes):
    docs = spark.createDataFrame(list(enumerate(_HOSTILE)), "doc_id LONG, text STRING")
    sig = D.minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=num_hashes)
    expected = _expr_signatures(
        D.exploded_shingles(docs, "doc_id", "text", n=3), num_hashes
    )
    got = _rows(sig)
    assert len(got) == len(_HOSTILE)
    assert got == _rows(expected)


def _md5_signature(gram: str, num_hashes: int = 16) -> tuple:
    return tuple(
        md5(f"{s // 4}:{gram}".encode()).hexdigest()[(s % 4) * 8 : (s % 4) * 8 + 8]
        for s in range(num_hashes)
    )


def test_shortest_texts_sign_their_one_gram(spark):
    """Texts with fewer than n words are ONE shingle, their words joined by
    single spaces: rtrim empties " ", while "\t" splits into two empty
    words joined to " "."""
    one_gram = {"": "", " ": "", "\t": " ", "a": "a", "a b": "a b"}
    docs = spark.createDataFrame(list(enumerate(one_gram)), "doc_id LONG, text STRING")
    shingles = D.exploded_shingles(docs, "doc_id", "text", n=3)
    assert dict(shingles.collect()) == dict(enumerate(one_gram.values()))
    sig = {r[0]: r[1:] for r in D.minhash_signatures(docs, "doc_id", "text", n=3).collect()}
    expr = {r[0]: r[1:] for r in _expr_signatures(shingles, 16).collect()}
    assert sig == expr == {i: _md5_signature(g) for i, g in enumerate(one_gram.values())}


def test_zero_row_input(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(0)
    sig = D.minhash_signatures(docs, "doc_id", "text", n=3)
    assert sig.collect() == []
    assert D.minhash_band_candidates(docs, "doc_id", "text", n=3).count() == 0


def test_int_id_column_keeps_its_type(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    as_int = docs.select(F.col("doc_id").cast("int").alias("doc_id"), "text")
    sig = D.minhash_signatures(as_int, "doc_id", "text", n=3)
    assert dict(sig.dtypes)["doc_id"] == "int"
    assert _rows(sig) == _rows(D.minhash_signatures(docs, "doc_id", "text", n=3))
    cand = D.minhash_band_candidates(as_int, "doc_id", "text", n=3)
    assert dict(cand.dtypes) == {"id_a": "int", "id_b": "int"}
    assert _rows(cand) == _rows(D.minhash_band_candidates(docs, "doc_id", "text", n=3))


def _kernel_evaluations(spark, build) -> int:
    """MapInArrow nodes over every SQL execution that ``build()`` and a
    collect of its result run — one per evaluation of the kernel. Plan
    graphs come from the SQL status store, which AQE updates to each
    execution's final plan (reused exchanges are not re-counted)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids():
        bus.waitUntilEmpty()
        lst = store.executionsList()
        return {lst.apply(i).executionId() for i in range(lst.size())}

    before = ids()
    build().collect()
    n = 0
    for eid in ids() - before:
        nodes = store.planGraph(eid).allNodes()
        n += sum(nodes.apply(j).name() == "MapInArrow" for j in range(nodes.size()))
    return n


def test_uncapped_candidates_plan_one_kernel(spark):
    """Both band self-join sides share one hash exchange: the executed
    plan holds one MapInArrow, the other side reuses its exchange."""
    docs = load_table(spark, SF_SMOKE, "documents")
    cand = D.minhash_band_candidates(docs, "doc_id", "text", n=3, materialize=False)
    cand.collect()
    final = cand._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert final.count("MapInArrow") == 1, final
    assert "ReusedExchange" in final


def test_capped_candidates_run_kernel_once(spark):
    """The capped path checkpoints the signatures: the kernel runs in the
    checkpoint only, not again under the guard or either join side."""
    docs = load_table(spark, SF_SMOKE, "documents")
    assert _kernel_evaluations(
        spark,
        lambda: D.minhash_band_candidates(
            docs, "doc_id", "text", n=3, max_bucket=64, materialize=False
        ),
    ) == 1
