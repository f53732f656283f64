"""NN-Descent: LINEAR-TIME approximate kNN-graph construction
(Dong, Moses & Li, "Efficient k-nearest neighbor graph construction for
generic similarity measures", WWW 2011).

This is the scale path for building the edge artifact the graph-ANN
family (``operators/graph_ann.py``) traverses. The exact tiled build
(``queries/embedding_analysis.py`` ``knn_edges``) is O(N^2) by
definition — correct, and kept as the fixture-scale recall oracle, but
an all-pairs BLAS pass is the one thing that cannot run over a 100 TB
corpus. NN-Descent replaces it with a fixed number of local-join
rounds whose total work is O(N * k^2) per round:

1. **Init**: a cheap linear edge set — hash-bucket CLIQUES (every node
   joins a deterministic ~``m``-node bucket and links to its bucket
   peers; the paper's random init, made deterministic) optionally
   unioned with cluster-blocked within-cell kNN edges (the SemDeDup
   blocking shape — high-quality local edges, K ∝ N keeps the per-cell
   Gram constant).
2. **Rounds**: "a neighbor of a neighbor is likely a neighbor" — the
   candidate set for each node is its neighbors' neighbors (forward and
   reverse edges both contribute, exactly as in the paper), generated by
   ONE self-equi-join of the symmetrized edge list; candidates are
   folded to unordered pairs, each pair is scored ONCE with the
   expression cosine and applied to both endpoints, and each node keeps
   its top-k. Reverse-degree is CAPPED at ``2k`` per node (the paper's
   reverse sampling) so a hub node cannot make its join group quadratic.

Spark-first shape: every step is an equi-join or a per-key window — no
crossJoin, no driver collect, no UDF in the hot path (scoring is one
JVM ``dot`` per pair over per-node norms). Per-round lineage is cut
with an eager ``localCheckpoint`` (the pagerank/BPE loop discipline).
All shuffles key on node ids, so AQE handles residual skew.

Determinism: bucket assignment and reverse-cap ranks use ``xxhash64``
(seeded by column content only), scores are rounded to 6dp BEFORE
ranking, ties break on dst ascending — same conventions as the exact
build, so results are stable across runs and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from vectordbfaiss_spark.functions.vector import dot, l2_norm

_REV_CAP_MULT = 2  # reverse-degree cap = _REV_CAP_MULT * k (paper: sample)


def clique_init_edges(
    emb: DataFrame,
    m: int = 4,
    salt: int = 0,
    id_col: str = "vec_id",
    n: int | None = None,
) -> DataFrame:
    """Deterministic 'random' sample pairs: bucket nodes by salted hash
    into groups of ~``m`` and link every in-bucket ordered pair
    (src, dst). Linear: N/m buckets x m^2 pairs = O(N * m) edges, one
    equi-join on the bucket key.

    A SINGLE bucketing is useless as NN-Descent exploration — disjoint
    cliques are transitively CLOSED, so the neighbor-of-neighbor join
    never leaves a clique (measured: recall frozen at the random
    baseline). Callers must union bucketings under DIFFERENT ``salt``
    values (and inject a fresh salt each round) so 2-hop composition
    crosses buckets — that is the paper's per-iteration random sampling,
    made deterministic.

    ``n``: corpus row count, when the caller already knows it — a build
    loop calls this once per round, and an unconditional ``count()``
    here would cost rounds+1 full-corpus count jobs per build (the
    round-7 advisor item)."""
    if n is None:
        n = emb.count()
    n_buckets = max(1, n // m)
    nodes = emb.select(
        F.col(id_col).alias("src"),
        F.pmod(F.xxhash64(F.col(id_col), F.lit(salt)), F.lit(n_buckets)).alias(
            "bucket"
        ),
    )
    peers = nodes.select(F.col("src").alias("dst"), "bucket")
    return (
        nodes.join(peers, "bucket")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def _score_edges(
    pairs: DataFrame, emb: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(src, dst) -> + score: two shuffle-hash lookup joins into the
    embedding store (corpus-grain sides are NEVER broadcast — that is
    the OOM class the 100x audit eliminated), then the cosine rounded to
    the registry's 6dp convention. Each node's norm rides next to its
    vector, computed once per node per join side, so a pair costs one
    :func:`dot` — the same ``dot / (|a| * |b|)`` value
    :func:`cosine_similarity` gives, without its two per-pair norms."""
    a = emb.select(
        F.col(id_col).alias("src"),
        F.col(vec_col).alias("_va"),
        l2_norm(vec_col).alias("_na"),
    )
    b = emb.select(
        F.col(id_col).alias("dst"),
        F.col(vec_col).alias("_vb"),
        l2_norm(vec_col).alias("_nb"),
    )
    return (
        pairs.join(a.hint("SHUFFLE_HASH"), "src")
        .join(b.hint("SHUFFLE_HASH"), "dst")
        .select(
            "src",
            "dst",
            F.round(dot("_va", "_vb") / (F.col("_na") * F.col("_nb")), 6).alias(
                "score"
            ),
        )
    )


def _top_k_per_src(scored: DataFrame, k: int) -> DataFrame:
    """Keep each node's k best (score DESC, dst ASC). Filter on the RAW
    row_number so InferWindowGroupLimit bounds the window to k rows per
    key; cast in the output projection only."""
    w = W.partitionBy("src").orderBy(F.desc("score"), "dst")
    return (
        scored.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= k)
        .select("src", "dst", "score", F.col("_rnk").cast("long").alias("rnk"))
    )


def _canonical_pairs(cand: DataFrame) -> DataFrame:
    """Directed candidates -> unordered pairs, one row each as
    (least, greatest). Self pairs are dropped: a node is never its own
    neighbor, whatever the caller's ``init_edges`` hold."""
    return (
        cand.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
    )


def _top_k_mirrored(
    cand: DataFrame, emb: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Score each unordered candidate pair ONCE, then let the comparison
    update BOTH endpoints' lists (cosine is symmetric — the paper applies
    each computed distance to both sides) before the per-node top-k.
    Canonical pairs have src < dst, so the pair and its mirror never
    coincide and the union needs no de-duplication."""
    scored = _score_edges(_canonical_pairs(cand), emb, id_col, vec_col)
    both = scored.unionByName(
        scored.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "score"
        )
    )
    return _top_k_per_src(both, k)


def nn_descent(
    emb: DataFrame,
    k: int,
    rounds: int = 3,
    init_edges: DataFrame | None = None,
    m_init: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int | None = None,
) -> DataFrame:
    """Approximate kNN graph (src, dst, score, rnk) in O(rounds * N * k^2)
    total work — corpus-LINEAR for fixed k and rounds.

    ``init_edges``: optional (src, dst) seed set (e.g. cluster-blocked
    within-cell kNN edges for locality) unioned with the salted-clique
    exploration pairs. Each round injects a FRESH salted bucketing —
    without it, locality-only candidate sets are near-closed under the
    2-hop join and convergence stalls (see :func:`clique_init_edges`).

    ``sample_cap``: per-node list size fed to the neighbor-of-neighbor
    self-join (the paper's rho-sampling; default ``2 * k``). The
    uncapped list is 3k per node (k forward + 2k reverse-capped), making
    the join emit N*(3k)^2 pairs — at 200k nodes that is ~460M rows and
    the per-round distinct spills through every partition (measured: the
    syn100 decade cost 19x wall for 10x data, round-7 SCALE.md). Capping
    BOTH join sides to 2k by fresh-salted hash rank cuts proposal volume
    (2k)^2/(3k)^2 = 2.25x while the rank's per-round salt keeps the
    union of sampled sets across rounds exploring the full neighborhood
    — the paper runs at sampling rates this aggressive (rho ~ 0.5-1.0)
    with negligible recall loss.
    """
    n = emb.count()
    cliques = clique_init_edges(emb, m=m_init, salt=0, id_col=id_col, n=n)
    if sample_cap is None:
        sample_cap = 2 * k
    cand = (
        cliques
        if init_edges is None
        else cliques.unionByName(init_edges.select("src", "dst"))
    )
    edges = _top_k_mirrored(cand, emb, k, id_col, vec_col)
    edges = edges.localCheckpoint(eager=True)

    for r in range(rounds):
        fwd = edges.select("src", "dst")
        # reverse edges, capped at 2k per node by hash rank (the paper's
        # reverse sampling): without the cap a hub with in-degree H makes
        # the neighbor join emit H * k pairs for one node
        rev_w = W.partitionBy("src").orderBy(F.xxhash64("dst"), "dst")
        rev = (
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .withColumn("_r", F.row_number().over(rev_w))
            .filter(F.col("_r") <= _REV_CAP_MULT * k)
            .drop("_r")
        )
        sym = fwd.unionByName(rev).distinct()
        # rho-sampling: cap each node's list to `sample_cap` by a
        # FRESH-salted hash rank before the join — a different sample
        # each round, so across rounds the composition still explores
        # the full 3k-list while each round's join output is bounded.
        # The rank window runs over N*3k rows (seconds even at 200k
        # nodes) — a Bernoulli predicate would be cheaper still, but
        # its per-node list-size variance measurably hurts convergence
        # at small k (the clustered-corpus test drops 1.0 -> 0.85),
        # while the exact cap is loss-free and deterministic.
        samp_w = W.partitionBy("src").orderBy(
            F.xxhash64("dst", F.lit(7000 + r)), "dst"
        )
        samp = (
            sym.withColumn("_s", F.row_number().over(samp_w))
            .filter(F.col("_s") <= sample_cap)
            .drop("_s")
        )
        # neighbor-of-neighbor proposals: one self-equi-join on the
        # middle node (columns renamed, not aliased, so the shared-lineage
        # self-join cannot mis-resolve); O(N * sample_cap^2) pairs,
        # linear in N
        left = samp.select(F.col("src").alias("h_src"), F.col("dst").alias("h_mid"))
        right = samp.select(F.col("src").alias("h_mid"), F.col("dst").alias("h_dst"))
        hops = left.join(right, "h_mid").select(
            F.col("h_src").alias("src"), F.col("h_dst").alias("dst")
        )
        cand = hops.unionByName(fwd).unionByName(
            # fresh exploration pairs every round (paper's rho-sampling)
            clique_init_edges(emb, m=m_init, salt=1000 + r, id_col=id_col, n=n)
        )
        edges = _top_k_mirrored(cand, emb, k, id_col, vec_col)
        edges = edges.localCheckpoint(eager=True)
    return edges
