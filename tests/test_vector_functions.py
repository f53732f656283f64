"""functions/vector.py: l2_normalize is bit-identical to a left-to-right
float64 reference, keeps Spark's NULL/empty/NaN/zero-norm semantics, and
stays O(d) per row (its per-element lambda never re-evaluates the norm)."""

from __future__ import annotations

import numpy as np
import pytest

from vectordbfaiss_spark.functions.vector import l2_normalize


def _reference(v):
    """x / sqrt(sum x_i^2), the sum accumulated in index order in float64."""
    x = np.asarray(v, dtype=np.float64)
    acc = 0.0
    for xi in x:
        acc = acc + xi * xi
    return (x / np.sqrt(acc)).tolist()


@pytest.mark.parametrize("elem", ["float", "double"])
def test_l2_normalize_bit_identical_to_sequential_reference(spark, elem):
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 37)) * rng.uniform(1e-3, 1e3, size=(40, 1))
    if elem == "float":
        vecs = vecs.astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, f"id long, v array<{elem}>")
    got = dict(df.select("id", l2_normalize("v").alias("n")).collect())
    for i, v in rows:
        assert got[i] == _reference(v), i


def test_l2_normalize_edge_cases(spark):
    df = spark.createDataFrame(
        [(0, None), (1, []), (2, [3.0, 4.0]), (3, [1.0, float("nan")])],
        "id long, v array<double>",
    )
    got = dict(df.select("id", l2_normalize("v").alias("n")).collect())
    assert got[0] is None
    assert got[1] == []
    assert got[2] == [0.6, 0.8]
    assert len(got[3]) == 2 and all(np.isnan(x) for x in got[3])


def test_l2_normalize_zero_vector_raises_under_ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame([(0, [0.0, 0.0])], "id long, v array<double>")
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            df.select(l2_normalize("v")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def _walk(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def test_l2_normalize_lambda_holds_no_aggregate(spark):
    """O(d) guard: higher-order-function lambdas run per element with no
    common-subexpression elimination, so a norm (an ``aggregate``) inside
    the lambda body would be re-evaluated d times per row."""
    df = spark.createDataFrame([(0, [3.0, 4.0])], "id long, v array<double>")
    expr = (
        df.select(l2_normalize("v").alias("n"))
        ._jdf.queryExecution()
        .analyzed()
        .expressions()
        .apply(0)
    )
    nodes = [n.getClass().getSimpleName() for n in _walk(expr)]
    assert "ArrayAggregate" in nodes  # the norm is computed, once
    lambdas = [
        n for n in _walk(expr) if n.getClass().getSimpleName() == "LambdaFunction"
    ]
    assert lambdas
    for lam in lambdas:
        body = [n.getClass().getSimpleName() for n in _walk(lam.function())]
        assert "ArrayAggregate" not in body, body
