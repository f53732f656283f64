"""Batched top-k similarity search — the engine's flagship operator.

Reference semantics: ``FAISS.search(queryVector, k)``
/root/reference/server.js:45-61 — exact cosine score against every indexed
vector (:53-56), sort desc (:58-59), take k (:60). The registry's
``topk_search`` query adds the reference's null-preserving text hydration
(server.js:231-248).

Spark-first design (SURVEY §2.8 W1, §3.1):
- the per-request loop becomes ONE DataFrame over (query x index) pairs;
- queries are the small side -> ``broadcast`` -> the score join is a
  map-side nested-loop with NO shuffle of the index table;
- per-query top-k is a ``row_number`` window partitioned by query id. The
  only shuffle in the plan is the window's hash-partition on query_id,
  whose input :func:`score_topk_vectorized` pre-shrinks to each Arrow
  batch's local top-k candidates — so at 100 TB the shuffle carries
  O(batches * k) rows per query, not O(N).
- determinism: JS sort is stable (SURVEY §2.5) -> we order by
  ``(score DESC, id ASC)`` so ties are reproducible on an unstable sort.

Scale notes:
- normalize-at-build (functions.vector.l2_normalize) turns cosine into a
  plain dot product; pass ``assume_normalized=True``.
- for ANN at 100 TB use plans.ivf: KMeans centroids -> cluster_id partition
  column -> nprobe routing join prunes partitions; this operator stays the
  exact-scoring kernel inside each probed cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from vectordbfaiss_spark.functions.vector import cosine_similarity, dot


def score_pairs(
    queries: DataFrame,
    index: DataFrame,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    assume_normalized: bool = False,
) -> DataFrame:
    """Score every (query, index) pair: broadcast nested-loop join + cosine.

    Output: (query_id, vec_id, score DOUBLE). O(Q*N*d) exact work split
    across all index partitions; no shuffle (queries broadcast).
    """
    q = queries.select(F.col(query_id), F.col(query_vec))
    sim = (
        dot(query_vec, index_vec)
        if assume_normalized
        else cosine_similarity(query_vec, index_vec)
    )
    return (
        index.select(F.col(index_id), F.col(index_vec))
        .join(F.broadcast(q))
        .select(query_id, index_id, sim.alias("score"))
    )


def topk(
    scored: DataFrame,
    k: int,
    query_id: str = "query_id",
    index_id: str = "vec_id",
    score: str = "score",
) -> DataFrame:
    """Per-query top-k with deterministic (score DESC, id ASC) tie-break.

    The window's hash-partition on ``query_id`` is the plan's only shuffle.
    """
    order = [F.desc(score), F.asc(index_id)]
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def score_topk_vectorized(
    queries: DataFrame,
    index: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    index_id: str = "vec_id",
    index_vec: str = "embedding",
    round_to: int = 6,
    exclude_self: bool = False,
) -> DataFrame:
    """Vectorized scoring + fused local top-k: the bench/scale kernel.

    The expression kernel (:func:`score_pairs`) materializes Q*N scored rows
    and shuffles them into the ranking window. This kernel instead:

    1. collects the QUERY side to the driver (queries are the broadcast-small
       side by contract — Q rows, not the corpus) and L2-normalizes once;
    2. runs ONE ``mapInPandas`` pass over index partitions: each Arrow batch
       is scored as a single BLAS matmul (cosine == normalized dot) and
       immediately reduced to the batch-local top-k per query with the exact
       global tie-break (score DESC, id ASC on the ROUNDED score);
    3. the surviving O(partitions * Q * k) rows go through the same window
       rank as the expression path.

    So the full Q*N score matrix never exists as rows, the shuffle input is
    ~1000x smaller, and the arithmetic runs in BLAS instead of codegen'd
    per-element lambdas. Results are identical to score_pairs+topk after
    6dp rounding (asserted in tests).

    The query matrix ships to executors as a SparkContext BROADCAST, not a
    task-closure capture: at 100k+ queries the closure would be re-shipped
    with every task (and every retry), while a broadcast is torrent-
    distributed once per executor and survives stage retries.

    The batch top-k selection is O(B) ``argpartition`` per column, not a
    full column sort: a full stable argsort over the (B, Q) score matrix
    is the kernel's wall at self-kNN shapes (measured 315 s for ONE
    10k x 20k batch — 40+ min per syn10 probe task), while argpartition
    + sorting only the take-slice is seconds. Exactness is preserved by
    making each column's keys a STRICT total order before partitioning:
    scores are already rounded to ``round_to`` (adjacent distinct values
    differ by >= 10^-round_to), so subtracting row_position/B scaled to
    a tenth of that quantum breaks score ties by id ASC (rows are
    pre-sorted by id) without ever reordering distinct scores — the
    boundary ties that make raw argpartition nondeterministic cannot
    exist. Emitted scores are the unperturbed rounded values.
    ``exclude_self`` masks via a left/right searchsorted pair on the
    id-sorted rows (O(Q log B)) instead of materializing a (B, Q)
    equality matrix; the pair bounds each matching id's FULL duplicate
    run, so a corpus with repeated vec_ids (e.g. appended segments not
    yet compacted) never returns the query itself.
    """
    import numpy as np

    qrows = queries.select(query_id, query_vec).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0.0] = 1.0
    bc = queries.sparkSession.sparkContext.broadcast((qids, (Q / qn).T))

    out_schema = f"{query_id} long, {index_id} long, score double"

    def kernel(batches):
        import pandas as pd

        qids_, Qn = bc.value  # (Q,), (d, Q)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[index_id].to_numpy(dtype=np.int64)
            by_id = np.argsort(ids, kind="stable")
            ids = ids[by_id]
            V = np.array(list(pdf[index_vec]), dtype=np.float64)[by_id]
            vn = np.linalg.norm(V, axis=1, keepdims=True)
            vn[vn == 0.0] = 1.0
            S = np.round((V / vn) @ Qn, round_to)  # (B, Q)
            masked_max = 0
            if exclude_self:
                # mask EVERY occurrence of a matching id (ids can repeat
                # across appended segments): the left/right searchsorted
                # pair bounds each id's full run in the id-sorted rows
                pos_l = np.searchsorted(ids, qids_, side="left")
                pos_r = np.searchsorted(ids, qids_, side="right")
                runs = pos_r - pos_l
                hit = runs > 0
                if hit.any():
                    rows = np.concatenate(
                        [
                            np.arange(lo, hi)
                            for lo, hi in zip(pos_l[hit], pos_r[hit])
                        ]
                    )
                    cols = np.repeat(np.nonzero(hit)[0], runs[hit])
                    S[rows, cols] = -np.inf
                    masked_max = int(runs.max())
            take = min(k + masked_max, len(ids))
            # strict per-column total order: id-position tie-break at a
            # tenth of the rounding quantum (can never cross distinct
            # rounded scores), then O(B) select + sort the slice only
            tie = (
                np.arange(len(ids), dtype=np.float64)[:, None]
                * (10.0 ** (-round_to) / (10.0 * len(ids)))
            )
            key = tie - S  # ascending == (score DESC, id ASC)
            if take < len(ids):
                part = np.argpartition(key, take - 1, axis=0)[:take]
            else:
                part = np.broadcast_to(
                    np.arange(len(ids))[:, None], (len(ids), key.shape[1])
                )
            sub = np.take_along_axis(key, part, axis=0)
            order = np.argsort(sub, axis=0, kind="stable")
            sel = np.take_along_axis(part, order, axis=0)  # (take, Q)
            out = pd.DataFrame(
                {
                    query_id: np.repeat(qids_, take),
                    index_id: ids[sel].ravel(order="F"),
                    "score": np.take_along_axis(S, sel, axis=0).ravel(order="F"),
                }
            )
            if exclude_self:
                out = out[np.isfinite(out["score"].to_numpy())]
            yield out

    survivors = index.select(index_id, index_vec).mapInPandas(kernel, out_schema)
    return topk(survivors, k, query_id, index_id)
