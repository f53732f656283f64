"""The ANN bound family's one exact truth (queries/embedding_analysis.py
``exact_top11``): both of its views equal the exact kernel's own top-10,
and the kernel runs once per corpus across the whole family."""

from __future__ import annotations

import os
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq_io
from pyspark.sql import functions as F

from vectordbfaiss_spark import artifacts

FAMILY = (
    "ivf_recall_report",
    "ivf_recall_bound",
    "pq_recall_bound",
    "ivfpq_recall_bound",
    "graph_ann_recall_bound",
    "graph_ann_ivf_entries",
    "graph_ann_incremental",
    "graph_ann_delete_serve",
    "graph_ann_compact_serve",
    "graph_ann_beam_curve",
)


def _toy_corpus(path: str) -> None:
    """13 identical vectors (ids 0, 2, ..., 24: every tie scores 1.0, so
    query 24's own row ranks 13th, outside its top-11, and queries 2-22
    have tied ids on both sides), one zero-norm row (id 31, itself a
    query) and 60 random rows (ids 25-30, 32-85, half of them queries)."""
    rng = np.random.default_rng(7)
    tied = rng.normal(size=8)
    rows = {i: tied for i in range(0, 26, 2)}
    rows[31] = np.zeros(8)
    for i in [*range(1, 24, 2), *range(25, 31), *range(32, 86)]:
        rows[i] = rng.normal(size=8)
    ids = sorted(rows)
    os.makedirs(path)
    pq_io.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [rows[i].astype(np.float32).tolist() for i in ids],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        os.path.join(path, "embeddings.parquet"),
    )


def test_both_views_equal_the_kernels_top10(spark, tmp_path, monkeypatch):
    from vectordbfaiss_spark.operators.topk import score_topk_vectorized
    from vectordbfaiss_spark.queries.embedding_analysis import (
        _exact_top10_without_self,
        exact_top11,
    )

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "wh"))
    sf_dir = str(tmp_path / "toy")
    _toy_corpus(sf_dir)
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = corpus.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = exact_top11(spark, sf_dir, corpus)

    def rows(df, cols):
        return sorted(map(tuple, df.select(*cols).collect()))

    cols = ("query_id", "vec_id", "score", "rank")
    kernel = rows(score_topk_vectorized(queries, corpus, k=10), cols)
    assert rows(truth.filter(F.col("rank") <= 10), cols) == kernel
    assert len(kernel) == 50 * 10

    top11 = {(q, v) for q, v, _s, _r in rows(truth, cols)}
    assert (24, 24) not in top11 and (12, 12) in top11  # both self cases occur

    cols = ("query_id", "vec_id")
    kernel = rows(score_topk_vectorized(queries, corpus, k=10, exclude_self=True), cols)
    assert rows(_exact_top10_without_self(truth), cols) == kernel
    assert len(kernel) == 50 * 10


def test_the_family_runs_the_exact_kernel_once_per_corpus(spark, tmp_path, monkeypatch):
    """With a fresh artifact root, the first pass over the ten family
    queries builds the full-corpus truth and the survivors' truth (one
    kernel call each); the only other calls are the graph insert builds'
    intra-batch links. A second pass makes no call at all."""
    from tests.conftest import SF_ORACLE
    from vectordbfaiss_spark import registry
    from vectordbfaiss_spark.operators import topk

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "wh"))
    queries = registry.queries()  # imports every module that binds the kernel
    calls: Counter = Counter()
    real = topk.score_topk_vectorized

    def counted(*args, **kwargs):
        caller = sys._getframe(1)
        calls[f"{caller.f_globals['__name__']}.{caller.f_code.co_qualname}"] += 1
        return real(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("vectordbfaiss_spark") and getattr(
            mod, "score_topk_vectorized", None
        ) is real:
            monkeypatch.setattr(mod, "score_topk_vectorized", counted)

    for name in FAMILY:
        queries[name](spark, SF_ORACLE).collect()
    build = "vectordbfaiss_spark.queries.embedding_analysis.exact_top11.<locals>.build"
    insert = "vectordbfaiss_spark.operators.graph_ann_incremental.graph_insert_edges"
    assert calls.pop(build, 0) == 2  # full corpus + delete survivors
    assert set(calls) <= {insert}

    calls.clear()
    for name in FAMILY:
        queries[name](spark, SF_ORACLE).collect()
    assert calls == Counter()
