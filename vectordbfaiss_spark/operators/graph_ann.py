"""Graph-based approximate nearest neighbor search (the HNSW/NSG family,
single-layer form): best-first BEAM SEARCH over a published kNN edge
artifact.

Completes the engine's ANN taxonomy — flat exact scan (operators/topk.py),
IVF partition pruning (plans/ivf.py), PQ/IVFPQ compression (plans/pq.py),
LSH bucketing (operators/lsh.py) — with the graph-traversal family every
modern vector store ships. The reference serves the flat scan only
(server.js:53-60); graph ANN is the standard scale path when the index
must live on disk and queries need sub-linear probes without training a
quantizer.

Spark-first shape: the traversal is bulk-synchronous — each round expands
the current per-query beam through ONE equi-join against the src-
partitioned edge artifact, scores only the newly-discovered candidates
against the (Q-bounded, broadcast) query block, and keeps the top-`beam`
per query with a rank-filter window (WindowGroupLimit-eligible). All
frontier/visited state is O(Q * visited) rows — query-bounded, never
corpus-bounded; the corpus-sized tables (edges, embeddings) are only ever
the build side of candidate-lookup equi-joins. `rounds` is an upper
bound with a FIXED-POINT exit: a round that adds no rows makes every
later round a provable no-op, so the loop stops (bit-identical results,
none of the saturated rounds' stage latency). One eager checkpoint per
executed round keeps lineage flat — the pagerank/BPE loop discipline.

Entry points come in two forms: a hash-spread sample scaled with the
corpus (max(16, N/32) — the honest single-layer default at fixture
scale, but entry scoring grows with N), or the production form —
:func:`ivf_entry_pairs` seeds each query at the members of its nprobe
closest IVF cells (plans/ivf.py supplies centroids and assignment), so
at the scaled cell grain entry cost is corpus-INDEPENDENT. The
`graph_ann_ivf_entries` registry query runs the IVF-seeded form
end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from vectordbfaiss_spark.functions.vector import cosine_similarity


def _score_against_queries(
    nodes: DataFrame, queries: DataFrame, emb: DataFrame
) -> DataFrame:
    """(query_id, vec_id) -> + score: one lookup join into the embedding
    store (candidates are the small probe side) then a broadcast join of
    the Q-bounded query block for the cosine."""
    with_vec = nodes.join(emb.select("vec_id", "embedding"), "vec_id")
    return with_vec.join(F.broadcast(queries), "query_id").select(
        "query_id",
        "vec_id",
        F.round(cosine_similarity("embedding", "query_vec"), 6).alias("score"),
    )


def ivf_entry_pairs(
    queries: DataFrame,
    assigned: DataFrame,
    centroids,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Beam-search entry seeds from the coarse quantizer: (query_id,
    vec_id) pairs covering the members of each query's ``nprobe``
    nearest k-means cells — the production entry-point form the module
    docstring promises. At the scaled cell grain (population ~constant,
    see ``knn_graph_blocked_scaled``) entry-scoring cost per query is
    nprobe * cell_population — CORPUS-INDEPENDENT, unlike the global
    hash sample whose cost grows as N/32.

    ``assigned`` is the (id, cluster_id) assignment frame and
    ``centroids`` the trained centroid list (``plans/ivf.py``
    ``assign_clusters`` supplies both). Centroid routing ranks cells by
    dot product; per-query ranking is invariant to the query's norm, so
    raw query vectors route identically to normalized ones. The Q-bounded
    cell list broadcasts into one equi-join against the corpus-grain
    assignment — never the reverse."""
    from vectordbfaiss_spark.plans.ivf import _nearest_centroids

    qcells = _nearest_centroids(
        queries.select("query_id", "query_vec"), "query_vec", centroids, nprobe
    ).select("query_id", F.explode("cluster_ids").alias("cluster_id"))
    return (
        assigned.select(F.col(id_col).alias("vec_id"), "cluster_id")
        .join(F.broadcast(qcells), "cluster_id")
        .select("query_id", "vec_id")
    )


def graph_serve_knobs(n: int, base_beam: int = 24, base_rounds: int = 6):
    """Corpus-derived serving knobs (beam, rounds): the K-proportional-
    to-N move applied to the search side. Round-7 SCALE.md measured
    recall@10 at FIXED beam=24/rounds=10 decaying 0.88 -> 0.63 -> 0.22
    over 2k -> 200k vectors — constants silently rot as the corpus
    grows, exactly like a fixed IVF cell count. The schedule grows the
    beam as (N/20k)^0.85 past the 20k fixture scale and adds rounds
    logarithmically (frontier depth, not width; diameter of a degree-24
    graph grows as log N). Calibrated on the round-8 syn100 beam sweep
    (SCALE.md: recall@10 at 200k random vectors = 0.218 @ beam 24 /
    0.378 @ 76 / 0.536 @ 160 / 0.658 @ 280, rounds 12): the 0.85
    exponent lands beam 170 at 200k — above the measured 0.5 crossing —
    while fixture scales keep the measured beam-24 default, so registry
    floors are untouched. Per-query serve cost is ~beam * degree *
    rounds: sublinear in N under this schedule, vs the linear
    entry-scoring term the IVF-seeded form already eliminated.

    The rounds schedule interpolates between two MEASURED anchors:
    6 at the 20k fixture (round-9 sweep — top-10 recall identical from
    rounds=4 on, fixed point at 8; 6 keeps a buffer without paying the
    saturated tail) and 12 at syn100's 200k (the operating point the
    round-8 beam sweep calibrated recall 0.55 at), i.e. +6 rounds per
    corpus decade. Steeper than the old +2/decade guess, but both of
    its anchors are measured; the syn300+ ladder rungs refine it."""
    import math

    beam = max(base_beam, math.ceil(base_beam * (n / 20000.0) ** 0.85))
    rounds = base_rounds + max(0, math.ceil(6 * math.log10(max(n, 1) / 20000.0)))
    return beam, rounds


def hash_entry_pairs(
    store: DataFrame, queries: DataFrame, n_entries: int
) -> DataFrame:
    """The hash-spread entry sample as an EXPLICIT (query_id, vec_id)
    seed frame, drawn from ``store`` — for callers whose seedable node
    set is narrower than the scoring corpus. The incremental-insert
    witness needs this: seeding from the FULL corpus can seed an
    inserted id directly, letting ``self_found`` pass without the delta
    reverse links it claims to prove (round-7 advisor finding); drawing
    the sample from the BASE store only makes reachability of inserts
    depend on the delta edges alone."""
    entries = (
        store.select("vec_id")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(n_entries)
    )
    return entries.crossJoin(F.broadcast(queries.select("query_id")))


def graph_beam_search(
    queries: DataFrame,
    edges: DataFrame,
    emb: DataFrame,
    beam: int = 24,
    rounds: int = 10,
    n_entries: int | None = None,
    entry_pairs: DataFrame | None = None,
    exclude_entry_ids: DataFrame | None = None,
) -> DataFrame:
    """All visited-and-scored nodes per query after ``rounds`` of beam
    expansion: (query_id, vec_id, score). Callers take their top-k and/or
    check self-reachability from this one frame.

    ``queries`` is (query_id, query_vec) and must be query-bounded (the
    broadcast contract of operators/topk.py). ``edges`` is the published
    kNN artifact (src, dst). Entry points, in precedence order:
    ``entry_pairs`` — an explicit (query_id, vec_id) seed frame (the
    production form: IVF-seeded entries from the nprobe nearest cells,
    see :func:`ivf_entry_pairs` — entry cost is per-cell, corpus-
    INDEPENDENT at the scaled cell grain); else a hash-spread global
    sample of ``n_entries`` nodes (default max(16, N/32) — honest at
    fixture scale, but entry scoring grows with the corpus).

    ``exclude_entry_ids``: ids that must NOT be seeded as entry points —
    the tombstone half of the serve-time DELETE contract. Dropping a
    deleted id's edges (``apply_tombstones``) keeps it out of every
    expansion round, but the SEED sample comes from the embedding store,
    which still contains tombstoned vectors until compaction (deletes
    are logical); without this anti-join a deleted id could be seeded,
    scored, and returned despite having zero edges (round-7 advisor
    finding). Applied to both entry forms.
    """
    if entry_pairs is not None:
        seed_pairs = entry_pairs.select("query_id", "vec_id")
        if exclude_entry_ids is not None:
            seed_pairs = seed_pairs.join(
                F.broadcast(exclude_entry_ids.select("vec_id")),
                "vec_id",
                "left_anti",
            )
    else:
        pool = emb.select("vec_id")
        if exclude_entry_ids is not None:
            # anti-join BEFORE the sample limit so the seed budget is
            # met from survivors — excluding after limit(n_entries)
            # would shrink the effective entry count by however many
            # tombstones land in the sample (round-8 advisor finding)
            pool = pool.join(
                F.broadcast(exclude_entry_ids.select("vec_id")),
                "vec_id",
                "left_anti",
            )
        if n_entries is None:
            # only pay the corpus scan when the caller didn't size the
            # entry set explicitly
            n_entries = max(16, emb.count() // 32)
        entries = pool.orderBy(F.xxhash64("vec_id"), "vec_id").limit(n_entries)
        seed_pairs = entries.crossJoin(F.broadcast(queries.select("query_id")))
    visited = (
        _score_against_queries(seed_pairs, queries, emb)
        .withColumn("expanded", F.lit(False))
        .localCheckpoint(eager=True)
    )

    rank_w = W.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
    # `rounds` is an UPPER BOUND: the loop exits at the fixed point. If a
    # round adds zero rows, the next round's frontier is the same top-beam
    # of the same visited set, so its candidate set is identical and
    # empty again — every remaining round is provably a no-op. Results
    # are bit-identical to running all `rounds`; what the exit saves is
    # the ~6 scheduler stages a saturated round still costs (at fixture
    # scale the beam saturates its reachable neighborhood in 3-5 rounds,
    # and round 8 measured the full fixed loop at 7-22 s of pure stage
    # latency). The per-round count is one job over the just-checkpointed
    # Q-bounded frame — trivial by the same contract that bounds the
    # frame itself.
    #
    # The `expanded` flag cuts what each round actually JOINS: a node's
    # score never changes and `visited` only grows, so a node's rank can
    # only degrade — beam entrants are always last round's additions,
    # and a frontier node expanded in an earlier round has all its
    # neighbors in `visited` already (N(f) ⊆ visited by the round after
    # f was expanded). Hence N(frontier) \ visited ==
    # N(frontier \ expanded) \ visited: expanding ONLY the unexpanded
    # beam slice produces the identical candidate set while the
    # edges-join input shrinks from beam*Q rows every round to just the
    # new entrants (round 9 measured the full-frontier form re-joining
    # the same ~1,200 rows for 8 rounds at sf0.1; the saturated tail
    # rounds now join near-empty frames).
    prev_n = visited.count()
    for _ in range(rounds):
        # top-`beam` of everything seen so far; filter on the RAW rank so
        # InferWindowGroupLimit bounds the window to beam rows per query
        ranked = visited.withColumn("rnk", F.row_number().over(rank_w))
        frontier_new = ranked.filter(
            (F.col("rnk") <= beam) & ~F.col("expanded")
        ).select("query_id", "vec_id")
        cand = (
            frontier_new.join(
                edges.select(F.col("src").alias("vec_id"), "dst"), "vec_id"
            )
            .select("query_id", F.col("dst").alias("vec_id"))
            .distinct()
            .join(
                visited.select("query_id", "vec_id"),
                ["query_id", "vec_id"],
                "left_anti",
            )
        )
        scored = _score_against_queries(cand, queries, emb).withColumn(
            "expanded", F.lit(False)
        )
        visited = (
            ranked.withColumn(
                "expanded", F.col("expanded") | (F.col("rnk") <= beam)
            )
            .drop("rnk")
            .unionByName(scored)
            .localCheckpoint(eager=True)
        )
        cur_n = visited.count()
        if cur_n == prev_n:
            break
        prev_n = cur_n
    return visited.select("query_id", "vec_id", "score")


# --- exact-arithmetic twins of the JVM scoring expressions -----------------
#
# The request-path kernel below replays the WHOLE traversal in one Python
# task, so every arithmetic decision (score comparisons, 6dp rounding,
# the hash-spread entry sample) must be bit-identical to what the JVM
# expressions produce — these helpers replicate them operation for
# operation, and tests/test_graph_ann.py pins the parity end to end.

_XX_P1 = 0x9E3779B185EBCA87
_XX_P2 = 0xC2B2AE3D27D4EB4F
_XX_P3 = 0x165667B19E3779F9
_XX_P4 = 0x85EBCA77C2B2AE63
_XX_P5 = 0x27D4EB2F165667C5


def _xxhash64_longs(vals):
    """Spark's ``xxhash64(BIGINT)`` (XXH64 of the 8-byte LE long, seed
    42), vectorized over an int64 array — the entry-sample ordering key,
    computed in-kernel so the sample costs no separate Spark job.
    Parity with the JVM is pinned by test_xxhash64_long_parity."""
    import numpy as np

    u = np.uint64
    v = np.asarray(vals).astype(np.int64).view(np.uint64)
    p1, p2, p3, p4, p5 = (u(_XX_P1), u(_XX_P2), u(_XX_P3), u(_XX_P4), u(_XX_P5))
    k1 = v * p2
    k1 = (k1 << u(31)) | (k1 >> u(33))
    k1 = k1 * p1
    h = (u(42) + p5 + u(8)) ^ k1
    h = ((h << u(27)) | (h >> u(37))) * p1 + p4
    h ^= h >> u(33)
    h *= p2
    h ^= h >> u(29)
    h *= p3
    h ^= h >> u(32)
    return h.view(np.int64)


def _seq_sum_cols(a):
    """Left-to-right float64 column accumulation — the op sequence of
    functions.vector.dot's ``aggregate`` lambda (0.0, then +term per
    array index), so the result is the bit-identical double."""
    import numpy as np

    acc = np.zeros(a.shape[0])
    for i in range(a.shape[1]):
        acc = acc + a[:, i]
    return acc


def _round_half_up6(raw):
    """Spark ``round(double, 6)``: HALF_UP on the decimal string
    representation (BigDecimal(Double.toString(d))), replicated with
    ``decimal`` over ``repr``; NaN and +-Inf pass through unchanged, as
    Spark's do (a zero-norm vector scores NaN). Parity pinned by
    test_round_half_up6_matches_spark."""
    import math

    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("0.000001")
    return np.array(
        [
            float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))
            if math.isfinite(x)
            else x
            for x in map(float, raw)
        ],
        dtype=np.float64,
    )


def _list_col_to_mat(col):
    """Arrow list<float|double> column -> contiguous float64 matrix
    (fixed dim; exact upcast)."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    n = len(col)
    return flat.reshape(n, len(flat) // n) if n else flat.reshape(0, 0)


def _beam_search_visited(ids, mat, src, dst, q_ids, q_mat, beam, rounds, n_entries):
    """The full hash-entry beam traversal over in-memory arrays:
    returns the visited (query_id, vec_id, score) rows as two int64
    arrays and one float64 array.

    Exact replay of the BSP operator's selection semantics: seed =
    first ``n_entries`` ids by (xxhash64(id), id); each round expands
    the not-yet-expanded slice of the top-``beam`` by (score DESC, id
    ASC), scores the unvisited neighbors, and exits at the fixed point.
    Scores used for the comparisons are bit-identical to the JVM
    expression cosine: float64 products in array index order,
    left-to-right accumulation, IEEE sqrt/divide, HALF_UP 6dp rounding
    (see the helpers above) — so the visited set AND its scores are the
    ones the per-round JVM jobs produce."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    m64 = np.ascontiguousarray(np.asarray(mat, dtype=np.float64))
    n = len(ids)
    idx_of = {int(v): i for i, v in enumerate(ids)}
    norms = np.sqrt(_seq_sum_cols(m64 * m64))

    # adjacency CSR over row indices; edges whose endpoint is not in the
    # embedding store are dropped (the BSP candidate join is inner)
    s_rows = np.fromiter(
        (idx_of.get(int(x), -1) for x in src), np.int64, count=len(src)
    )
    d_rows = np.fromiter(
        (idx_of.get(int(x), -1) for x in dst), np.int64, count=len(dst)
    )
    keep = (s_rows >= 0) & (d_rows >= 0)
    s_rows, d_rows = s_rows[keep], d_rows[keep]
    perm = np.argsort(s_rows, kind="stable")
    s_sorted, d_sorted = s_rows[perm], d_rows[perm]
    indptr = np.searchsorted(s_sorted, np.arange(n + 1))

    entry_rows = np.lexsort((ids, _xxhash64_longs(ids)))[:n_entries]

    def _score_rows(rows, qv, qnorm):
        c = m64[rows]
        dots = _seq_sum_cols(c * qv[None, :])
        return _round_half_up6(dots / (norms[rows] * qnorm))

    out_q: list = []
    out_v: list = []
    out_s: list = []
    for qi in range(len(q_ids)):
        qid = int(q_ids[qi])
        qv = np.ascontiguousarray(q_mat[qi])
        qnorm = float(np.sqrt(_seq_sum_cols((qv * qv)[None, :])[0]))
        visited: dict[int, float] = {}
        expanded: set[int] = set()
        for r, sc in zip(entry_rows, _score_rows(entry_rows, qv, qnorm)):
            visited[int(ids[r])] = float(sc)
        for _ in range(rounds):
            top = sorted(visited.items(), key=lambda kv: (-kv[1], kv[0]))[:beam]
            frontier = [v for v, _ in top if v not in expanded]
            if not frontier:
                break
            expanded.update(frontier)
            new_rows: list[int] = []
            seen: set[int] = set()
            for v in frontier:
                r0 = idx_of[v]
                for r in d_sorted[indptr[r0] : indptr[r0 + 1]]:
                    vid = int(ids[r])
                    if vid not in visited and vid not in seen:
                        seen.add(vid)
                        new_rows.append(r)
            if not new_rows:
                break
            nr = np.asarray(new_rows, dtype=np.int64)
            for r, sc in zip(nr, _score_rows(nr, qv, qnorm)):
                visited[int(ids[r])] = float(sc)
        out_q.extend([qid] * len(visited))
        out_v.extend(visited.keys())
        out_s.extend(visited.values())
    return (
        np.asarray(out_q, dtype=np.int64),
        np.asarray(out_v, dtype=np.int64),
        np.asarray(out_s, dtype=np.float64),
    )


_VISITED_SCHEMA = "query_id long, vec_id long, score double"

# Largest estimated index the request kernel may load into its one Python
# worker. That worker lives outside the JVM heap, so no Spark memory
# setting bounds or spills it, and it shares the host with the JVM and
# every other task's worker. 1 GiB admits ~330k 64-d vectors at degree
# 24, so the 200k-vector syn100 corpus that graph_serve_knobs is
# calibrated on (estimate 616 MiB, measured peak-RSS growth 582 MiB)
# still takes the one-job path; anything larger serves through the BSP
# traversal, whose state stays distributed.
_KERNEL_MAX_BYTES = 1 << 30


def _kernel_index_bytes(emb_path: str, edges_path: str, vec_col: str):
    """``(bytes, n_vectors)``: the kernel's estimated in-memory index,
    read on the driver from the parquet footers of both artifacts (no
    Spark job, no data page). The embedding column's leaf value count is
    rows x dim. Per element the kernel holds the float32 Arrow column
    and its float64 matrix (12 B); per vector the id arrays, the id->row
    dict and the entry-sample keys (~160 B); per edge the id arrays and
    the sorted adjacency (~96 B)."""
    import pyarrow.dataset as ds

    def footers(path):
        return [f.metadata for f in ds.dataset(path, format="parquet").get_fragments()]

    n_vec = n_elem = 0
    for md in footers(emb_path):
        n_vec += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            n_elem += sum(
                rg.column(c).num_values
                for c in range(rg.num_columns)
                if rg.column(c).path_in_schema.split(".")[0] == vec_col
            )
    n_edges = sum(md.num_rows for md in footers(edges_path))
    return 12 * n_elem + 160 * n_vec + 96 * n_edges, n_vec


def graph_beam_search_interactive(
    queries: DataFrame,
    edges: DataFrame,
    emb: DataFrame,
    beam: int = 24,
    rounds: int = 6,
    n_entries: int | None = None,
    *,
    emb_path: str,
    edges_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Request-path twin of :func:`graph_beam_search`: the SAME
    algorithm (hash-sample entries, top-`beam` best-first expansion,
    fixed-point exit) producing a BIT-IDENTICAL visited frame (pinned by
    tests/test_graph_ann.py), with the ENTIRE traversal in ONE Spark
    job — a per-request Arrow kernel instead of one job per round.

    Serving shape: ANN graph serving is RAM-resident by design (the
    HNSW operating assumption). Here that is one ``mapInArrow`` task
    that reads the published edge artifact and vector store
    (``edges_path`` / ``emb_path``, traversal columns only), replays
    all rounds in-kernel for the collected Q-bounded query block, and
    emits the visited (query_id, vec_id, score) rows. Its scores are the
    doubles the BSP path's rounded JVM cosine gives (the same float64
    operations in the same order, see ``_beam_search_visited``), so no
    re-scoring join follows the kernel.

    ``edges`` and ``emb`` are the same artifacts as frames (``emb``
    with ``id_col``/``vec_col``). They feed the guard's fallback: when
    the footers put the kernel's index above :data:`_KERNEL_MAX_BYTES`,
    the traversal runs as :func:`graph_beam_search` on them instead,
    whose state stays distributed."""
    import numpy as np

    index_bytes, n_vec = _kernel_index_bytes(emb_path, edges_path, vec_col)
    if n_entries is None:
        n_entries = max(16, n_vec // 32)
    if index_bytes > _KERNEL_MAX_BYTES:
        return graph_beam_search(
            queries,
            edges,
            emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
            beam=beam,
            rounds=rounds,
            n_entries=n_entries,
        )

    # collect the Q-bounded request block (the request-path contract)
    # and ship it in the kernel closure over a 1-row range. Feeding
    # the kernel through mapInArrow's own input was measured
    # pathological whenever the query block is driver-local (a routed
    # SQL literal, a hand-built request): the LocalTableScan /
    # parallelized-RDD -> Python runner path cost ~5 s PER EXECUTION
    # at Q=1, vs ~0.5 s for the range-fed form.
    q_rows = queries.select("query_id", "query_vec").collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = (
        np.array([[float(x) for x in r[1]] for r in q_rows])
        if q_rows
        else np.zeros((0, 0))
    )

    def _run(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        for _ in batches:
            pass
        if not len(q_ids):
            return
        et = pq.read_table(emb_path, columns=[id_col, vec_col])
        ids = et.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
        mat = _list_col_to_mat(et.column(vec_col))
        gt = pq.read_table(edges_path, columns=["src", "dst"])
        src = gt.column("src").to_numpy(zero_copy_only=False).astype(np.int64)
        dst = gt.column("dst").to_numpy(zero_copy_only=False).astype(np.int64)
        qarr, varr, sarr = _beam_search_visited(
            ids, mat, src, dst, q_ids, q_mat, beam, rounds, n_entries
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(qarr, pa.int64()),
                pa.array(varr, pa.int64()),
                pa.array(sarr, pa.float64()),
            ],
            ["query_id", "vec_id", "score"],
        )

    # single-partition 1-row driver: exactly ONE kernel task (a
    # multi-partition input would run the closure once per task)
    return queries.sparkSession.range(0, 1, 1, 1).mapInArrow(_run, _VISITED_SCHEMA)
