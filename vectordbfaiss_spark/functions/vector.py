"""Vector math as pure column expressions (JVM-side, no Python UDF).

Reference semantics: cosine similarity composed from dot product and L2
norms — ``/root/reference/server.js:45-61`` (`cosineSimilarity` at
server.js:46-51: dot at :47, norms at :48-49, ratio at :50).

Design: all functions take/return Columns over ``ARRAY<FLOAT|DOUBLE>``.
Accumulation is forced to DOUBLE in array index order, which is exactly what
the JS ``reduce`` does (server.js:47) and what the DuckDB oracle's
``list_dot_product`` over ``DOUBLE[]`` does — so results are bit-comparable
after rounding.

Scale note (SURVEY §4.3): at index-build time call :func:`l2_normalize`
once and store normalized vectors; then cosine degenerates to :func:`dot`,
saving two norms per scored pair — the reference recomputes norms per pair.
No Python UDF anywhere in the hot scoring path.

Cost model: ``zip_with``/``transform``/``aggregate`` are ``CodegenFallback``
expressions — they run INTERPRETED, element by element, with no common-
subexpression elimination. A higher-order function's ARGUMENTS evaluate
once per row, but an outer expression referenced inside its lambda BODY
re-evaluates once per element. So every per-row scalar (a norm) is passed
in as an argument, never closed over: one :func:`dot` is O(d) per row, and
a dot inside a lambda body would make the row O(d^2).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two float arrays (reference server.js:47).

    ``aggregate(zip_with(a, b, *), 0.0, +)`` — element-wise multiply then
    left-to-right double accumulation, evaluated interpreted (see the
    module's cost model).
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm (reference server.js:48-49)."""
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity dot/(|a|*|b|) (reference server.js:46-51).

    NULL-safe like the reference's guard-free code is not: zero-norm inputs
    yield NULL (division by zero) rather than NaN; filter upstream.
    """
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column | str) -> Column:
    """Scale an array to unit L2 norm (index-build normalize-once,
    SURVEY §4.3). Returns a DOUBLE array: each element divided by the
    row's norm. The norm is computed ONCE per row and handed to the
    per-element lambda as a repeated array argument, so a row costs O(d).

    NULL stays NULL and ``[]`` stays ``[]``; a NaN element makes every
    element NaN. A zero vector divides by zero: under ANSI mode (the
    session default) that raises ``DIVIDE_BY_ZERO``, with ANSI off its
    elements are NULL. Filter zero-norm rows upstream.
    """
    a = F.col(a) if isinstance(a, str) else a
    return F.zip_with(
        a.cast("array<double>"),
        F.array_repeat(l2_norm(a), F.size(a)),
        lambda x, n: x / n,
    )
