"""The batch-pipeline workloads.

Each workload calls the program's public functions the way a batch
pipeline would, through ``call(layer, plan, materialize)``: ``plan``
returns the call's result (any eager work inside it included) and
``materialize`` forces a lazy frame (a write, a collect or an eager
checkpoint). The runner times both and, in a traced run, harvests the
call's Spark jobs. ``check`` runs after the timed loop on the last pass's
outputs against driver-side numpy oracles and returns
``(quality, {check_name: passed}, extras)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

K = 10  # top-k of every search and of the kNN graph
N_CLUSTERS = 16
PQ_M, PQ_CODES = 16, 32
NND_K, NND_ROUNDS = 10, 1
NND_INIT_BUCKET = 32  # vectors per NN-Descent seed bucket inside an IVF cell
NPROBE = 4
PQ_REFINE = 4
BEAM, BEAM_ROUNDS = 24, 6
SHINGLE_N, NUM_HASHES, ROWS_PER_BAND, JACCARD = 3, 16, 2, 0.4


def write_parquet(path):
    def materialize(df):
        df.write.parquet(path)  # raises if the path exists: every pass is fresh
        return path

    return materialize


def collect(df):
    return df.toPandas()


def checkpoint(df):
    return df.localCheckpoint(eager=True)


def _unit(m):
    m = np.asarray(m, dtype=np.float64)
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


def _matrix(col) -> np.ndarray:
    return np.stack([np.asarray(v, dtype=np.float64) for v in col])


def _exact_topk(vecs, ids, queries, k):
    """Per query: ids and 6dp scores of the k best (score DESC, id ASC)."""
    S = np.round(_unit(queries) @ _unit(vecs).T, 6)
    order = np.lexsort((np.broadcast_to(ids, S.shape), -S), axis=1)[:, :k]
    return ids[order], np.take_along_axis(S, order, axis=1)


def _topk_is_exact(got_ids, got_scores, truth_ids, truth_scores, all_scores, ids):
    """A returned top-k is exact when it has k rows, every score is the
    oracle's score for that id (6dp), scores never rise, and nothing
    better was left out. Ties at the k-th score may pick either id."""
    pos = {int(v): i for i, v in enumerate(ids)}
    k = len(truth_ids)
    if len(got_ids) != k or len(set(got_ids)) != k:
        return False
    oracle = np.array([all_scores[pos[int(v)]] for v in got_ids])
    got = np.asarray(got_scores, dtype=np.float64)
    return (
        np.all(np.abs(oracle - got) <= 1e-6)
        and np.all(np.diff(got) <= 1e-6)
        and got[-1] >= truth_scores[-1] - 1e-6
    )


def _recall(result, truth_ids, qcol="query_id", icol="vec_id"):
    got = result.groupby(qcol)[icol].apply(set).to_dict()
    return float(
        np.mean([len(got.get(q, set()) & set(t)) / len(t) for q, t in enumerate(truth_ids)])
    )


def build_index(ctx, call, out: str):
    """The batch index build, every artifact written under ``out``: the
    IVF table, PQ codes, and the kNN graph. NN-Descent is seeded with all
    pairs inside ``NND_INIT_BUCKET``-vector buckets of each IVF cell, the
    cluster-blocked seeding the registry's graph build uses.
    Returns (centroids, codebooks)."""
    from pyspark.sql import Window as W, functions as F

    from vectordbfaiss_spark.operators.nn_descent import nn_descent
    from vectordbfaiss_spark.plans.ivf import build_ivf_index
    from vectordbfaiss_spark.plans.pq import pq_encode, train_pq_codebooks

    spark, seed = ctx.spark, ctx.seed
    emb = spark.read.parquet(ctx.input("embeddings"))
    centroids = call(
        "ivf.build_ivf_index",
        lambda: build_ivf_index(
            emb, f"{out}/ivf", n_clusters=N_CLUSTERS, seed=seed, corpus_key=None
        ),
    )
    books = call(
        "pq.train_pq_codebooks",
        lambda: train_pq_codebooks(emb, m=PQ_M, k_codes=PQ_CODES, seed=seed),
    )
    call("pq.pq_encode", lambda: pq_encode(emb, books), write_parquet(f"{out}/pq"))
    # fixed-size buckets (by hash rank inside each cell), so the seed pair
    # count is ~N * NND_INIT_BUCKET whatever the cells' sizes
    rank = F.row_number().over(
        W.partitionBy("cluster_id").orderBy(F.xxhash64("vec_id"), "vec_id")
    )
    cells = spark.read.parquet(f"{out}/ivf").select(
        "vec_id", "cluster_id", F.floor((rank - 1) / NND_INIT_BUCKET).alias("b")
    )
    init = (
        cells.select(F.col("vec_id").alias("src"), "cluster_id", "b")
        .join(cells.select(F.col("vec_id").alias("dst"), "cluster_id", "b"), ["cluster_id", "b"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    call(
        "nn_descent.nn_descent",
        lambda: nn_descent(emb, k=NND_K, rounds=NND_ROUNDS, init_edges=init),
        write_parquet(f"{out}/edges"),
    )
    return centroids, books


class IndexAndSearch:
    name = "index_and_search"
    why = (
        "batch index build (IVF, PQ, NN-Descent, all written) then one query block "
        "through exact, IVF, PQ-rerank, graph and SQL top-k on it; plans layer busy"
    )
    sizes = {"n_docs": 2000, "n_vecs": 2000, "n_queries": 200}
    items = "vectors indexed (each pass also answers the query block)"
    pass_s = 36.0  # nominal (first) pass wall on 4 cores; sets the pass count
    build_layers = (
        "ivf.build_ivf_index",
        "pq.train_pq_codebooks",
        "pq.pq_encode",
        "nn_descent.nn_descent",
    )
    layers = build_layers + (
        "topk.score_topk_vectorized",
        "ivf.ivf_search",
        "pq.pq_search_rerank",
        "graph_ann.graph_beam_search_interactive",
        "sql_router.route_topk_sql",
    )

    def setup(self, ctx) -> None:
        ctx.spark.read.parquet(ctx.input("documents")).createOrReplaceTempView("bench_docs")
        self.n_items = self.sizes["n_vecs"]
        self.qvecs = _matrix(
            pq.read_table(ctx.input("queries")).column("query_vec").to_pylist()
        )

    def run_pass(self, ctx, call, i: int) -> dict:
        from pyspark.sql import Window as W, functions as F

        from vectordbfaiss_spark.operators.graph_ann import graph_beam_search_interactive
        from vectordbfaiss_spark.operators.topk import score_topk_vectorized
        from vectordbfaiss_spark.plans.ivf import ivf_search
        from vectordbfaiss_spark.plans.pq import pq_search_rerank
        from vectordbfaiss_spark.plans.sql_router import register_ivf_table, route_topk_sql

        spark = ctx.spark
        art = ctx.out_dir(f"pass{i}")
        centroids, books = build_index(ctx, call, art)
        # glue, not a layer: the graph serves both directions of each edge
        fwd = spark.read.parquet(f"{art}/edges").select("src", "dst")
        rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        fwd.unionByName(rev).distinct().write.parquet(f"{art}/graph")
        register_ivf_table("bench_ivf", f"{art}/ivf", centroids)

        emb = spark.read.parquet(ctx.input("embeddings"))
        queries = spark.read.parquet(ctx.input("queries"))
        out = {"art": art, "centroids": centroids, "books": books}
        out["exact"] = call(
            "topk.score_topk_vectorized",
            lambda: score_topk_vectorized(queries, emb, K),
            collect,
        )
        out["ivf"] = call(
            "ivf.ivf_search",
            lambda: ivf_search(
                spark.read.parquet(f"{art}/ivf"), queries, centroids, k=K, nprobe=NPROBE
            ),
            collect,
        )
        out["pq"] = call(
            "pq.pq_search_rerank",
            lambda: pq_search_rerank(
                spark.read.parquet(f"{art}/pq"), queries, books, k=K, refine=PQ_REFINE
            ),
            collect,
        )

        def graph():
            visited = graph_beam_search_interactive(
                queries,
                spark.read.parquet(f"{art}/graph"),
                emb,
                beam=BEAM,
                rounds=BEAM_ROUNDS,
                emb_path=ctx.input("embeddings"),
                edges_path=f"{art}/graph",
            )
            w = W.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
            return visited.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= K)

        out["graph"] = call("graph_ann.graph_beam_search_interactive", graph, collect)
        qi = i % len(self.qvecs)
        lits = ", ".join(repr(float(np.float32(x))) for x in self.qvecs[qi])
        sql = (
            "SELECT vec_id, doc_id, text FROM bench_ivf JOIN bench_docs "
            "ON bench_ivf.vec_id = bench_docs.doc_id "
            f"ORDER BY cosine_similarity(embedding, array({lits})) DESC LIMIT {K}"
        )
        out["sql"] = call(
            "sql_router.route_topk_sql",
            lambda: route_topk_sql(spark, sql, nprobe=N_CLUSTERS),
            collect,
        )
        out["sql_query"] = qi
        return out

    def check(self, ctx, out):
        raw = pq.read_table(ctx.input("embeddings"))
        ids = raw.column("vec_id").to_numpy()
        X = _matrix(raw.column("embedding").to_pylist())
        checks = self._check_build(ctx, out, ids, X)

        all_scores = np.round(_unit(self.qvecs) @ _unit(X).T, 6)
        truth_ids, truth_scores = _exact_topk(X, ids, self.qvecs, K)

        def exact_ok(q, rows):
            rows = rows.sort_values(["score", "vec_id"], ascending=[False, True])
            return _topk_is_exact(
                rows["vec_id"].to_numpy(), rows["score"].to_numpy(),
                truth_ids[q], truth_scores[q], all_scores[q], ids,
            )

        exact = out["exact"]
        by_q = dict(tuple(exact.groupby("query_id")))
        checks["exact_topk_equals_numpy_oracle"] = len(by_q) == len(self.qvecs) and all(
            exact_ok(q, by_q[q]) for q in range(len(self.qvecs))
        )
        sql, qi = out["sql"], out["sql_query"]
        docs = pq.read_table(ctx.input("documents"), columns=["doc_id", "text"]).to_pandas()
        text = dict(zip(docs["doc_id"], docs["text"]))
        # the hydrated route projects no score: take the oracle's for each id
        sql_rows = sql.assign(score=[all_scores[qi][int(v)] for v in sql["vec_id"]])
        checks["sql_topk_exact_and_hydrated"] = bool(
            exact_ok(qi, sql_rows)
            and (sql["doc_id"] == sql["vec_id"]).all()
            and all(text[int(d)] == t for d, t in zip(sql["doc_id"], sql["text"]))
        )

        recalls = {m: _recall(out[m], truth_ids) for m in ("ivf", "pq", "graph")}
        extras = {f"recall_at_10.{m}": r for m, r in recalls.items()}
        # IVF work per returned row: index rows in each query's probed cells
        C = np.asarray(out["centroids"], dtype=np.float64)
        cells = pq.read_table(f"{out['art']}/ivf", columns=["cluster_id"]).to_pandas()
        sizes = cells["cluster_id"].value_counts().reindex(range(len(C)), fill_value=0)
        probed = np.argsort(-(_unit(self.qvecs) @ C.T), axis=1, kind="stable")[:, :NPROBE]
        extras["ivf.ivf_search.scored_per_result"] = float(
            sizes.to_numpy()[probed].sum() / max(1, len(out["ivf"]))
        )
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for part in ("ivf", "pq", "edges")
            for d, _, fs in os.walk(f"{out['art']}/{part}")
            for f in fs
            if f.endswith(".parquet")
        )
        extras["run.stored_bytes_ratio"] = stored / ctx.manifest["tables"]["embeddings"]["bytes"]
        return float(np.mean(list(recalls.values()))), checks, extras

    def _check_build(self, ctx, out, ids, X) -> dict:
        art = out["art"]
        rng = np.random.default_rng(ctx.seed)
        sample = rng.choice(len(ids), size=min(256, len(ids)), replace=False)
        checks = {}
        ivf = pq.read_table(f"{art}/ivf").to_pandas()
        checks["ivf_holds_every_vec_id_once"] = np.array_equal(
            np.sort(ivf["vec_id"].to_numpy()), np.sort(ids)
        )
        C = np.asarray(out["centroids"], dtype=np.float64)
        rows = ivf.set_index("vec_id").loc[ids[sample]]
        S = _matrix(rows["embedding"]) @ C.T
        assigned = S[np.arange(len(S)), rows["cluster_id"].astype(int).to_numpy()]
        checks["ivf_rows_carry_nearest_centroid"] = bool(
            np.all(assigned >= S.max(axis=1) - 1e-9)
        )

        enc = pq.read_table(f"{art}/pq", columns=["vec_id", "codes"]).to_pandas()
        codes = np.stack(enc.set_index("vec_id").loc[ids[sample], "codes"].to_numpy())
        books = out["books"]
        sub = X.shape[1] // PQ_M
        V = _unit(X[sample])
        ok = len(enc) == len(ids) and codes.shape[1] == PQ_M
        for s in range(PQ_M):
            d = ((V[:, None, s * sub : (s + 1) * sub] - books[s][None]) ** 2).sum(-1)
            ok = ok and bool(np.all(d[np.arange(len(d)), codes[:, s]] <= d.min(1) + 1e-9))
        checks["pq_codes_are_nearest_codewords"] = ok

        edges = pq.read_table(f"{art}/edges").to_pandas()
        pos = {int(v): j for j, v in enumerate(ids)}
        src = edges["src"].map(pos).to_numpy()
        dst = edges["dst"].map(pos).to_numpy()
        U = _unit(X)
        rescored = np.round(np.einsum("ij,ij->i", U[src], U[dst]), 6)
        checks["knn_edges_rescore_and_degree"] = bool(
            np.all(src != dst)
            and edges.groupby("src").size().max() <= NND_K
            and np.all(np.abs(rescored - edges["score"].to_numpy()) <= 1e-6)
        )
        return checks


def _grams(text: str) -> set:
    w = text.rstrip().split()
    if len(w) < SHINGLE_N:
        return {" ".join(w)}
    return {" ".join(w[i : i + SHINGLE_N]) for i in range(len(w) - SHINGLE_N + 1)}


class DedupCuration:
    name = "dedup_curation"
    why = (
        "the text pipeline: quality score, exact dedup, MinHash-LSH candidates, "
        "Jaccard verify, connected components; shuffle-heavy, plans idle"
    )
    sizes = {"n_docs": 10000, "n_vecs": 0, "n_queries": 0}
    items = "documents curated"
    pass_s = 15.0  # nominal (first) pass wall on 4 cores; sets the pass count
    build_layers = ()
    layers = (
        "textstats.quality_score",
        "dedup.dedup_exact",
        "dedup.minhash_band_candidates",
        "dedup.pair_jaccard",
        "graph.connected_components",
    )

    def setup(self, ctx) -> None:
        self.n_items = self.sizes["n_docs"]

    def run_pass(self, ctx, call, i: int) -> dict:
        from pyspark.sql import functions as F

        from vectordbfaiss_spark.operators.dedup import (
            dedup_exact,
            minhash_band_candidates,
            pair_jaccard,
        )
        from vectordbfaiss_spark.operators.graph import connected_components
        from vectordbfaiss_spark.operators.textstats import quality_score

        docs = ctx.spark.read.parquet(ctx.input("documents"))
        out = {}
        out["quality"] = call(
            "textstats.quality_score", lambda: quality_score(docs, "doc_id", "text"), collect
        )
        survivors = call("dedup.dedup_exact", lambda: dedup_exact(docs, ["text"]), checkpoint)
        cands = call(
            "dedup.minhash_band_candidates",
            lambda: minhash_band_candidates(
                survivors, "doc_id", "text", n=SHINGLE_N,
                num_hashes=NUM_HASHES, rows_per_band=ROWS_PER_BAND,
            ),
        )
        pairs = call(
            "dedup.pair_jaccard",
            lambda: pair_jaccard(
                survivors, cands, "doc_id", "text", n=SHINGLE_N, threshold=JACCARD
            ),
            checkpoint,
        )
        out["components"] = call(
            "graph.connected_components",
            lambda: connected_components(
                pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            ),
            collect,
        )
        out.update(survivors=survivors, cands=cands, pairs=pairs)
        return out

    def check(self, ctx, out):
        docs = pq.read_table(ctx.input("documents"), columns=["doc_id", "text"]).to_pandas()
        text = dict(zip(docs["doc_id"], docs["text"]))
        checks = {}
        q = out["quality"]
        n_words = q["doc_id"].map(lambda d: len(text[d].rstrip().split()))
        checks["quality_scores_every_doc"] = bool(
            len(q) == len(docs)
            and (q["n_tokens"] == n_words).all()
            and q["quality"].between(0.0, 1.0).all()
        )
        surv = out["survivors"].select("doc_id", "text").toPandas()
        checks["survivors_hold_no_identical_texts"] = bool(
            surv["text"].is_unique and len(surv) == docs["text"].nunique()
        )
        pairs = out["pairs"].toPandas()
        rescored = [
            len(_grams(text[a]) & _grams(text[b])) / len(_grams(text[a]) | _grams(text[b]))
            for a, b in zip(pairs["id_a"], pairs["id_b"])
        ]
        checks["pairs_rescore_at_or_above_threshold"] = bool(
            np.all(np.asarray(rescored) >= JACCARD)
            and np.all(np.abs(np.round(rescored, 6) - pairs["jaccard"].to_numpy()) <= 1e-6)
        )
        # components: every node labelled with the least id reachable
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(pairs["id_a"], pairs["id_b"]):
            ra, rb = find(int(a)), find(int(b))
            parent[max(ra, rb)] = min(ra, rb)
        comp = out["components"]
        expected = {x: find(x) for x in list(parent)}
        checks["components_are_least_reachable_id"] = bool(
            len(comp) == len(expected)
            and all(expected.get(int(i)) == int(c) for i, c in zip(comp["id"], comp["component"]))
        )
        reported = set(zip(pairs["id_a"].astype(int), pairs["id_b"].astype(int)))
        injected = [tuple(p) for p in ctx.manifest["near_dup_pairs"]]
        recall = sum(p in reported for p in injected) / len(injected)
        n_cands = out["cands"].count()
        extras = {
            "dedup.minhash_band_candidates.pairs_per_doc": n_cands / max(1, len(surv)),
            "dedup.pair_jaccard.yield": len(pairs) / max(1, n_cands),
        }
        return recall, checks, extras


WORKLOADS = {w.name: w for w in (IndexAndSearch, DedupCuration)}
