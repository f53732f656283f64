"""Vector-search queries — the reference's core capability re-expressed as
batch DataFrame plans (SURVEY §2.3 J3, §2.4 A2-A4, §2.5 K1, §2.8 W1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from vectordbfaiss_spark import artifacts
from vectordbfaiss_spark.operators.topk import score_topk_vectorized, topk
from vectordbfaiss_spark.registry import register
from vectordbfaiss_spark.session import load_table

_TOPK_ORACLE = """
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 10
), s AS (
    SELECT q.query_id, e.vec_id,
           round(
             list_dot_product(q.qv, e.embedding::DOUBLE[])
             / (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
             6) AS score
    FROM q CROSS JOIN embeddings e
), r AS (
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
    FROM s
)
SELECT r.query_id, r.vec_id, r.score, r.rnk, d.text
FROM r LEFT JOIN documents d ON r.vec_id = d.doc_id
WHERE r.rnk <= 5
"""


@register("topk_search", _TOPK_ORACLE)
def q_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: exact cosine top-k + text hydration (W1+J1+J3+A2-A4+K1).

    Reference: the /search read path server.js:217-265; scoring kernel
    server.js:45-61. First 10 embeddings double as the query batch, k=5.
    Scores rounded to 6dp BEFORE ranking for cross-engine determinism.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    winners = score_topk_vectorized(queries, emb, k=5).withColumnRenamed(
        "rank", "rnk"
    )
    # two-step broadcast hydration: an outer join can only broadcast its
    # NON-preserved side, so a semi-join first pulls the Q*k matching doc
    # rows, then a broadcast left-outer preserves winners with missing docs
    # (server.js:231-248 semantics).
    winner_ids = winners.select("vec_id").distinct()
    hits = docs.select("doc_id", "text").join(
        F.broadcast(winner_ids), F.col("doc_id") == winner_ids.vec_id, "left_semi"
    )
    return winners.join(
        F.broadcast(hits), winners.vec_id == hits.doc_id, "left"
    ).select("query_id", "vec_id", "score", F.col("rnk").cast("long").alias("rnk"), "text")


_NN_CLASS_ORACLE = """
WITH q AS (
    SELECT vec_id AS query_id, label AS true_label, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id % 10 = 0
), s AS (
    SELECT q.query_id, q.true_label, e.vec_id, e.label,
           round(
             list_dot_product(q.qv, e.embedding::DOUBLE[])
             / (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
             6) AS score
    FROM q CROSS JOIN embeddings e
    WHERE q.query_id <> e.vec_id
), r AS (
    SELECT query_id, true_label, vec_id AS nn_id, label AS nn_label, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
    FROM s
)
SELECT query_id, true_label, nn_id, nn_label, score
FROM r WHERE rnk = 1
"""


@register("nn_classify", _NN_CLASS_ORACLE)
def q_nn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label assignment excluding self — the similarity-search pattern a
    training pipeline uses for label propagation. Same scoring kernel as
    topk_search (server.js:45-61) with a self-exclusion predicate.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("query_vec"),
    )
    nn = score_topk_vectorized(
        queries.select("query_id", "query_vec"), emb, k=1, exclude_self=True
    ).drop("rank")
    # both label frames are CORPUS-GRAIN (|N| and |N|/10 rows — they scale
    # with the store): shuffle-hash, never forced broadcasts; the nn side
    # has no stats (mapInPandas output), so without the hint the static
    # planner would sort-merge these
    nn_lab = nn.join(
        emb.select(F.col("vec_id"), F.col("label").alias("nn_label")).hint(
            "SHUFFLE_HASH"
        ),
        "vec_id",
    )
    return (
        nn_lab.join(
            queries.select("query_id", "true_label").hint("SHUFFLE_HASH"),
            "query_id",
        )
        .select(
            "query_id",
            "true_label",
            F.col("vec_id").alias("nn_id"),
            "nn_label",
            "score",
        )
    )


_PAIR_COSINE_ORACLE = """
WITH a AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100
)
SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       round(
         list_dot_product(x.v, y.v)
         / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))),
       6) AS cos_sim
FROM a x JOIN a y ON x.vec_id < y.vec_id
WHERE round(
         list_dot_product(x.v, y.v)
         / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))),
       6) >= 0.2
"""


@register("cosine_pairs_threshold", _PAIR_COSINE_ORACLE)
def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine similarity above a threshold (the embedding-cosine
    near-duplicate primitive; SURVEY north-star dedup family). Upper-triangle
    self-join; at scale this becomes the LSH/IVF-blocked variant — this exact
    form is the correctness oracle for those.
    """
    from vectordbfaiss_spark.functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(cosine_similarity("va", "vb"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.2)
    )


def _lsh_oracle(n_planes: int = 4, dim: int = 64, seed: int = 7) -> str:
    """Inline the seeded projection matrix as SQL literals so DuckDB
    recomputes the identical sign-bit buckets (operators/lsh.py)."""
    from vectordbfaiss_spark.operators.lsh import hyperplanes

    P = hyperplanes(n_planes, dim, seed)
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(float(x)) for x in P[i])}]"
        f"::DOUBLE[]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, label, CAST({terms} AS INTEGER) AS bucket FROM e)
SELECT bucket, count(*) AS n_vectors,
       count(DISTINCT label) AS n_labels,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id
FROM b GROUP BY bucket
"""


@register("lsh_bucket_histogram", _lsh_oracle())
def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing over the embeddings table: 4 seeded
    hyperplanes -> 16 buckets; output the bucket histogram with label
    diversity. This is the candidate-blocking layer for embedding-space
    near-dup at scale (candidates = bucket equality, never all-pairs); the
    oracle recomputes the signatures from the same literal projections.
    """
    from vectordbfaiss_spark.operators.lsh import signature_buckets

    emb = load_table(spark, sf_dir, "embeddings")
    b = signature_buckets(emb, "embedding", n_planes=4, dim=64, seed=7)
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
        F.min("vec_id").alias("min_vec_id"),
    )


def _lsh_neardup_oracle(n_planes: int = 4, dim: int = 64, seed: int = 7) -> str:
    """Bucket-blocked cosine near-dup: the full scale-path composition in
    SQL — same literal projections, bucket-equality candidates, cosine
    verification."""
    from vectordbfaiss_spark.operators.lsh import hyperplanes

    P = hyperplanes(n_planes, dim, seed)
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(float(x)) for x in P[i])}]"
        f"::DOUBLE[]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 500
),
b AS (SELECT vec_id, v, CAST({terms} AS INTEGER) AS bucket FROM e),
cand AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.v AS va, y.v AS vb
  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT id_a, id_b,
       round(
         list_dot_product(va, vb)
         / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))),
       6) AS cos_sim
FROM cand
WHERE round(
         list_dot_product(va, vb)
         / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))),
       6) >= 0.2
"""


@register("embedding_near_dup_lsh", _lsh_neardup_oracle())
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, SCALE PATH end-to-end: LSH sign-bit blocking ->
    candidate pairs from bucket equality (never all-pairs) -> exact cosine
    verification at 0.2. The brute-force twin (`cosine_pairs_threshold`)
    is the recall oracle; THIS query is what runs at 100 TB — pair count
    is sum over buckets of |bucket|^2 instead of N^2, and the only shuffle
    is the hash-partition on bucket id."""
    from vectordbfaiss_spark.functions.vector import cosine_similarity
    from vectordbfaiss_spark.operators.lsh import signature_buckets

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    b = signature_buckets(emb, "embedding", n_planes=4, dim=64, seed=7)
    x = b.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "bucket")
    y = b.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "bucket")
    cand = x.join(y, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        cand.select(
            "id_a", "id_b", F.round(cosine_similarity("va", "vb"), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= 0.2)
    )


_QUANT_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
  FROM v
), q AS (
  SELECT vec_id, e, scale,
         list_transform(e, x -> floor(x / scale + 0.5) * scale) AS dq
  FROM s WHERE scale > 0
)
SELECT vec_id,
       round(scale, 6) AS scale,
       round(list_max(list_transform(generate_series(1, len(e)),
                                     i -> abs(e[i] - dq[i]))), 6) AS max_abs_err
FROM q
"""


@register("embedding_int8_quantization", _QUANT_ORACLE)
def q_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization round-trip: per-vector scale =
    max|v|/127, q_i = floor(v_i/scale + 0.5) (half-up on both engines —
    numpy/DuckDB native rounding modes differ), reconstruction error
    reported per vector. The 4x storage cut (float32 -> int8) is the
    standard embedding-at-scale layout; the oracle recomputes the whole
    quantize/dequantize pipeline."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(e, lambda x: F.abs(x))) / 127.0
    with_scale = emb.select("vec_id", e.alias("e"), scale.alias("scale")).filter(
        F.col("scale") > 0
    )
    dq = F.transform(
        F.col("e"), lambda x: F.floor(x / F.col("scale") + 0.5) * F.col("scale")
    )
    err = F.array_max(F.zip_with(F.col("e"), dq, lambda a, b: F.abs(a - b)))
    # round into a DIFFERENT name first: aliasing round(scale) back to
    # "scale" in the same select lets CollapseProject rewire the err
    # expression onto the ROUNDED scale (observed in the physical plan),
    # silently changing the quantization grid vs the oracle.
    out = with_scale.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_rounded"),
        F.round(err, 6).alias("max_abs_err"),
    )
    return out.withColumnRenamed("scale_rounded", "scale")


_CENTROID_ORACLE = """
WITH ex AS (
  SELECT label, i, e[i] AS v
  FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
       unnest(generate_series(1, 64)) AS t(i)
), cent AS (
  SELECT label, i, avg(v) AS c FROM ex GROUP BY label, i
)
SELECT label,
       count(*) AS dims,
       round(sum(c * i), 6) AS checksum,
       round(sqrt(sum(c * c)), 6) AS centroid_norm
FROM cent GROUP BY label
"""


@register("label_centroids", _CENTROID_ORACLE)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes — the building block
    of IVF training, nearest-class-mean classification, and drift checks):
    posexplode -> (label, dim) avg -> checksum projection. Pure built-ins;
    the per-dimension averages are hash-validated via position-weighted
    checksums."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "v")
    ).select("label", (F.col("p") + 1).alias("i"), "v")
    cent = ex.groupBy("label", "i").agg(F.avg("v").alias("c"))
    return cent.groupBy("label").agg(
        F.count("*").alias("dims"),
        F.round(F.sum(F.col("c") * F.col("i")), 6).alias("checksum"),
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"),
    )


# ---------------------------------------------------------------------------
# SQL front door routed onto the IVF layout (plans.sql_router; SURVEY §4.3)
# ---------------------------------------------------------------------------

def _routed_query_vec(dim: int = 64) -> list[float]:
    """Fixed pseudo-random query vector, embedded as literals in BOTH the
    SQL statement and the DuckDB oracle (seeded, engine-independent)."""
    import random

    rng = random.Random(7)
    return [round(rng.uniform(-1.0, 1.0), 4) for _ in range(dim)]


_ROUTED_LITS = ", ".join(repr(x) for x in _routed_query_vec())


def registry_ivf_index(emb: DataFrame, sf_dir: str) -> tuple[str, list]:
    """The registry's shared IVF index over the corpus at ``sf_dir`` (8
    clusters, seed 42), published build-once; returns (path, centroids)."""
    from vectordbfaiss_spark.plans.ivf import build_ivf_index

    out = artifacts.path("ivf_index", sf_dir)
    centroids = build_ivf_index(
        emb, out, n_clusters=8, seed=42, corpus_key=artifacts.corpus_key(sf_dir)
    )
    return out, centroids


# Bit-replication of the routed plan's arithmetic: literals land as
# ARRAY<FLOAT> (::REAL[]), normalization is double math cast back to REAL
# (exactly functions.vector.l2_normalize + the array<float> storage cast),
# scores are double dots of the float32 unit vectors rounded 6dp.
_SQL_ROUTED_ORACLE = f"""
WITH qr AS (SELECT [{_ROUTED_LITS}]::REAL[]::DOUBLE[] AS q),
nq AS (
  SELECT list_transform(q, x -> CAST(x / sqrt(list_dot_product(q, q)) AS REAL))::DOUBLE[] AS qv
  FROM qr
),
nv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
            x -> CAST(x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS REAL))::DOUBLE[] AS v
  FROM embeddings
),
s AS (SELECT vec_id, round(list_dot_product(nq.qv, nv.v), 6) AS score FROM nv, nq)
SELECT vec_id, score FROM s ORDER BY score DESC, vec_id LIMIT 10
"""


@register("sql_routed_topk", _SQL_ROUTED_ORACLE)
def q_sql_routed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ORDER BY cosine_similarity(...) DESC LIMIT k` SQL auto-routed onto
    the cluster-partitioned IVF table (plans.sql_router.route_topk_sql) —
    the SQL surface of the reference's /search path served by the layout
    index instead of a scan (server.js:217-265 vs SURVEY §4.3). Full probe
    (nprobe = n_clusters) here, so the routed answer is EXACT and the
    oracle can hash-check it; production sets nprobe < n_clusters and the
    same plan prunes partitions (see ivf_disk_search + tests/test_ivf.py
    for the recall-bounded pruned path)."""
    from vectordbfaiss_spark.plans.sql_router import (
        register_ivf_table,
        route_topk_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out, centroids = registry_ivf_index(emb, sf_dir)
    register_ivf_table("emb_ivf", out, centroids)
    sql = (
        "SELECT * FROM emb_ivf ORDER BY "
        f"cosine_similarity(embedding, array({_ROUTED_LITS})) DESC LIMIT 10"
    )
    return route_topk_sql(spark, sql, nprobe=8)


_SQL_GRAPH_ORACLE = """
SELECT TRUE AS k_rows, TRUE AS recall_ok, TRUE AS scores_exact
"""


@register("sql_routed_graph_topk", _SQL_GRAPH_ORACLE)
def q_sql_routed_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME `ORDER BY cosine_similarity(...) DESC LIMIT k` statement
    auto-routed onto the published GRAPH-ANN artifact
    (plans/sql_router.py `GraphTable`) — the front door now covers the
    full ANN taxonomy: flat/IVF exact, IVFPQ compressed, graph
    traversal. Serving knobs come from `graph_serve_knobs(n)` at the
    corpus size captured at registration, so THIS code path is where
    the syn-ladder-calibrated schedule runs in production (fixture
    scale resolves to the measured beam 24 / rounds 6; it serves through
    the request-path kernel — the whole traversal in one Arrow task
    over the published artifacts). The route is
    approximate by contract (HNSW-style), so the oracle is the bound
    form: ``k_rows`` (exactly k results), ``recall_ok`` (>= 5 of the
    exact in-plan top-10 — the family floor), and ``scores_exact``
    (every returned score re-derives EXACTLY from raw vectors with the
    expression cosine: graph serving scores real vectors, unlike PQ's
    quantized ADC, so approximation lives only in the candidate SET)."""
    from vectordbfaiss_spark.functions.vector import cosine_similarity
    from vectordbfaiss_spark.plans.sql_router import (
        register_graph_table,
        route_topk_sql,
    )
    from vectordbfaiss_spark.queries.embedding_analysis import (
        graph_ann_edges_published,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    edges_path = graph_ann_edges_published(spark, sf_dir)
    register_graph_table(
        "emb_graph", f"{sf_dir}/embeddings.parquet", edges_path, n
    )
    sql = (
        "SELECT * FROM emb_graph ORDER BY "
        f"cosine_similarity(embedding, array({_ROUTED_LITS})) DESC LIMIT 10"
    )
    routed = route_topk_sql(spark, sql).localCheckpoint(eager=True)
    qvec = _routed_query_vec()
    queries = spark.createDataFrame(
        [(0, qvec)], "query_id LONG, query_vec ARRAY<FLOAT>"
    )
    exact = score_topk_vectorized(queries, emb, k=10).select("vec_id")
    n_hits = routed.join(exact, "vec_id", "left_semi").count()
    # identical arithmetic to the routed scoring (expression cosine on
    # the raw embedding and the float-literal query), so equality at the
    # stored 6dp is exact, not a tolerance
    lit_q = F.array(*[F.lit(float(x)) for x in qvec]).cast("array<float>")
    rescored = routed.join(emb.select("vec_id", "embedding"), "vec_id").select(
        (F.round(cosine_similarity(F.col("embedding"), lit_q), 6)
         == F.col("score")).alias("ok")
    )
    return (
        routed.agg((F.count("*") == 10).alias("k_rows"))
        .crossJoin(spark.createDataFrame([(n_hits >= 5,)], "recall_ok boolean"))
        .crossJoin(rescored.agg(F.min("ok").alias("scores_exact")))
    )


_SQL_ROUTED_MULTI_ORACLE = f"""
WITH qr AS (SELECT [{_ROUTED_LITS}]::REAL[]::DOUBLE[] AS q),
nq AS (
  SELECT list_transform(q, x -> CAST(x / sqrt(list_dot_product(q, q)) AS REAL))::DOUBLE[] AS qv
  FROM qr
),
nv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
            x -> CAST(x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS REAL))::DOUBLE[] AS v
  FROM embeddings
  WHERE label IN (2, 4, 7) AND vec_id >= 50
),
s AS (SELECT vec_id, round(list_dot_product(nq.qv, nv.v), 6) AS score FROM nv, nq)
SELECT vec_id, score FROM s ORDER BY score DESC, vec_id LIMIT 10
"""


@register("sql_routed_topk_multi", _SQL_ROUTED_MULTI_ORACLE)
def q_sql_routed_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered-ANN SQL routing with a MULTI-predicate WHERE (IN-list +
    range, ANDed) — the conjunctive metadata-filter form real retrieval
    queries take. The router parses the conjunction, applies every
    predicate BEFORE scoring (parquet pushdown carries them to the scan;
    pinned in tests/test_sql_router.py), then serves the top-k from the
    IVF layout. Full probe, so the routed answer is exact and
    hash-checkable; anything outside the grammar falls back verbatim."""
    from vectordbfaiss_spark.plans.sql_router import (
        register_ivf_table,
        route_topk_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out, centroids = registry_ivf_index(emb, sf_dir)
    register_ivf_table("emb_ivf", out, centroids)
    sql = (
        "SELECT * FROM emb_ivf WHERE label IN (2, 4, 7) AND vec_id >= 50 "
        "ORDER BY "
        f"cosine_similarity(embedding, array({_ROUTED_LITS})) DESC LIMIT 10"
    )
    return route_topk_sql(spark, sql, nprobe=8)


# ---------------------------------------------------------------------------
# Full /search parity in ONE statement: embed('query text') + hydration join
# ---------------------------------------------------------------------------

_SEARCH_QTEXT = "spark filter join window order"


def _search_query_lits() -> str:
    """The hermetic embedding of the /search query text, as float
    literals — computed ONCE at import with the scalar reference
    embedder (`functions/text._hash_embed_text`, bit-identical to the
    `embed` SQL udf), and embedded in BOTH the oracle SQL and any
    verbatim replay, so DuckDB never needs to reproduce md5 hashing."""
    from vectordbfaiss_spark.functions.text import _hash_embed_text

    return ", ".join(repr(float(x)) for x in _hash_embed_text(_SEARCH_QTEXT, 64))


_SQL_HYDRATED_ORACLE = f"""
WITH qr AS (SELECT [{_search_query_lits()}]::REAL[]::DOUBLE[] AS q),
nq AS (
  SELECT list_transform(q, x -> CAST(x / sqrt(list_dot_product(q, q)) AS REAL))::DOUBLE[] AS qv
  FROM qr
),
nv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
            x -> CAST(x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS REAL))::DOUBLE[] AS v
  FROM embeddings
),
s AS (SELECT vec_id, round(list_dot_product(nq.qv, nv.v), 6) AS score FROM nv, nq),
t AS (SELECT vec_id, score FROM s ORDER BY score DESC, vec_id LIMIT 5)
SELECT t.vec_id, d.text, t.score FROM t JOIN documents d ON t.vec_id = d.doc_id
"""


@register("sql_routed_search_hydrated", _SQL_HYDRATED_ORACLE)
def q_sql_routed_search_hydrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE /search read path as one SQL statement
    (server.js:217-265: embed the query text, cosine top-k, hydrate the
    matching documents): `SELECT vec_id, text, cosine_similarity(...,
    embed('...')) AS score FROM emb_ivf JOIN documents ON ... ORDER BY
    cosine_similarity(embedding, embed('...')) DESC LIMIT 5`, auto-routed
    by plans/sql_router.py — `embed` resolves driver-side to the hermetic
    hash embedding (U1 seam), top-5 serves from the IVF layout at full
    probe (EXACT, so the whole composition hash-checks against DuckDB),
    and the k-row winner frame broadcasts into the documents scan for
    hydration. The same statement runs verbatim via spark.sql on
    unregistered tables (`embed` and `cosine_similarity` are registered
    SQL functions) — routing stays a transparent speedup; equality is
    pinned in tests/test_sql_router.py."""
    from vectordbfaiss_spark.plans.sql_router import (
        register_ivf_table,
        route_topk_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out, centroids = registry_ivf_index(emb, sf_dir)
    register_ivf_table("emb_ivf", out, centroids)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    sql = (
        "SELECT vec_id, text, "
        f"cosine_similarity(embedding, embed('{_SEARCH_QTEXT}')) AS score "
        "FROM emb_ivf JOIN documents ON emb_ivf.vec_id = documents.doc_id "
        "ORDER BY "
        f"cosine_similarity(embedding, embed('{_SEARCH_QTEXT}')) DESC LIMIT 5"
    )
    return route_topk_sql(spark, sql, nprobe=8)


_ROUTED_PQ_K = 10

_SQL_ROUTED_PQ_ORACLE = f"""
SELECT CAST({_ROUTED_PQ_K} AS BIGINT) AS n_hits,
       TRUE AS filters_respected,
       TRUE AS scores_monotone,
       TRUE AS recall_ok
"""


def _ivfpq_artifact(spark: SparkSession, sf_dir: str):
    """Build-once IVFPQ artifact (cluster_id + PQ codes + metadata,
    partitioned by cluster_id) + its deterministic models. Centroids and
    codebooks are seeded retrains keyed by the corpus fingerprint, so a
    fresh process reusing the parquet re-derives identical models."""
    from vectordbfaiss_spark.plans.ivf import assign_clusters
    from vectordbfaiss_spark.plans.pq import pq_encode
    from vectordbfaiss_spark.queries.sources_io import pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, sf_dir)
    key = artifacts.corpus_key(sf_dir)
    assigned, centroids = assign_clusters(
        emb, n_clusters=8, seed=42, corpus_key=key
    )
    out = artifacts.path("ivfpq_index", sf_dir)
    artifacts.publish(
        out,
        {"corpus_key": key, "m": 16, "k_codes": 32, "n_clusters": 8},
        lambda tmp: pq_encode(assigned, books)
        .drop("embedding")  # PQ's point: m bytes per row, not 4d
        .repartition("cluster_id")
        .write.partitionBy("cluster_id")
        .parquet(tmp),
    )
    return out, centroids, books


@register("sql_routed_pq_filtered", _SQL_ROUTED_PQ_ORACLE)
def q_sql_routed_pq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME filtered top-k SQL grammar served from the IVFPQ artifact
    (plans.sql_router IVFPQ_TABLES — codes + cluster layout, no raw
    vectors in the index): WHERE conjuncts restrict the encoded index
    BEFORE the ADC kernel, centroid routing prunes rows, and the ORDER
    BY is served from the lookup-table scores. Routed answers are
    approximate by the PQ contract, so the driver check is witness-bound
    booleans recomputed from RAW embeddings (the pq_recall_bound
    pattern): ``filters_respected`` — every hit satisfies both WHERE
    conjuncts; ``scores_monotone`` — hits are served in non-increasing
    score order with the id tie-break; ``recall_ok`` — recall@10 vs the
    exact filtered scan >= 0.5 (loose floor; observed means are far
    higher, see tests/test_pq.py)."""
    from vectordbfaiss_spark.operators.topk import score_topk_vectorized
    from vectordbfaiss_spark.plans.sql_router import (
        register_ivfpq_table,
        route_topk_sql,
    )

    from vectordbfaiss_spark.session import materialize_concurrently

    out, centroids, books = _ivfpq_artifact(spark, sf_dir)
    register_ivfpq_table("emb_ivfpq", out, centroids, books)
    sql = (
        "SELECT * FROM emb_ivfpq WHERE label IN (1, 3, 5) AND vec_id >= 20 "
        "ORDER BY "
        f"cosine_similarity(embedding, array({_ROUTED_LITS})) DESC "
        f"LIMIT {_ROUTED_PQ_K}"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    # exact filtered baseline from RAW embeddings, same query vector
    qdf = spark.createDataFrame(
        [(0, _routed_query_vec())], "query_id LONG, query_vec ARRAY<FLOAT>"
    )
    # the routed ADC pipeline and the exact-rerank witness baseline are
    # INDEPENDENT heavy legs — overlap their materializations (guide
    # §2.6) instead of running them back to back
    hits, exact = materialize_concurrently(
        route_topk_sql(spark, sql, nprobe=8),
        score_topk_vectorized(
            qdf,
            emb.filter(F.col("label").isin(1, 3, 5) & (F.col("vec_id") >= 20)),
            k=_ROUTED_PQ_K,
        ).select("vec_id"),
    )

    meta = emb.select("vec_id", "label")
    checked = hits.join(F.broadcast(meta), "vec_id", "left").select(
        (F.col("label").isin(1, 3, 5) & (F.col("vec_id") >= 20)).alias("flt_ok")
    )
    # the served ORDER is a collect-time property of a k-row result
    # (k-bounded BY CONTRACT — LIMIT k upstream), so it is checked at the
    # driver like every other bounded-by-contract collect in this engine
    served = hits.collect()
    scores_monotone = all(
        (a.score, -a.vec_id) >= (b.score, -b.vec_id)
        for a, b in zip(served, served[1:])
    )
    n_match = hits.join(exact, "vec_id", "left_semi").count()
    return (
        hits.agg(F.count("*").alias("n_hits"))
        .crossJoin(
            checked.agg(F.min("flt_ok").alias("filters_respected"))
        )
        .select(
            "n_hits",
            "filters_respected",
            F.lit(scores_monotone).alias("scores_monotone"),
            F.lit(n_match / _ROUTED_PQ_K >= 0.5).alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding drift report (distribution-shift monitoring between cohorts)
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = """
WITH ex AS (
  SELECT label, vec_id % 2 AS cohort, i, e[i] AS v
  FROM (SELECT label, vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       unnest(generate_series(1, 64)) AS t(i)
), cent AS (
  SELECT label, cohort, i, avg(v) AS c FROM ex GROUP BY label, cohort, i
), wide AS (
  SELECT a.label, a.i, a.c AS c0, b.c AS c1
  FROM cent a JOIN cent b ON a.label = b.label AND a.i = b.i
  WHERE a.cohort = 0 AND b.cohort = 1
), sums AS (
  SELECT label,
         sum(c0 * c1) AS dot01,
         sqrt(sum(c0 * c0)) AS n0,
         sqrt(sum(c1 * c1)) AS n1
  FROM wide GROUP BY label
), counts AS (
  SELECT label,
         count(*) FILTER (WHERE vec_id % 2 = 0) AS n_cohort0,
         count(*) FILTER (WHERE vec_id % 2 = 1) AS n_cohort1
  FROM embeddings GROUP BY label
)
SELECT s.label,
       c.n_cohort0, c.n_cohort1,
       round(s.dot01 / (s.n0 * s.n1), 6) AS centroid_cosine,
       (s.dot01 / (s.n0 * s.n1)) >= 0.5 AS stable
FROM sums s JOIN counts c ON s.label = c.label
"""


@register("embedding_drift_report", _DRIFT_ORACLE)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution-drift report: split each label's vectors into
    two cohorts (even/odd vec_id standing in for old/new corpus versions),
    compare per-label centroids by cosine, and flag labels whose prototype
    moved — the standard shift monitor between corpus or embedder versions.
    Plan: one posexplode -> (label, cohort, dim) avg -> per-label fold; all
    expression-side, two narrow hash-aggs, no Python."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "v"),
    ).select("label", "cohort", (F.col("p") + 1).alias("i"), "v")
    cent = ex.groupBy("label", "cohort", "i").agg(F.avg("v").alias("c"))
    wide = (
        cent.groupBy("label", "i")
        .agg(
            F.max(F.when(F.col("cohort") == 0, F.col("c"))).alias("c0"),
            F.max(F.when(F.col("cohort") == 1, F.col("c"))).alias("c1"),
        )
    )
    sums = wide.groupBy("label").agg(
        F.sum(F.col("c0") * F.col("c1")).alias("dot01"),
        F.sqrt(F.sum(F.col("c0") * F.col("c0"))).alias("n0"),
        F.sqrt(F.sum(F.col("c1") * F.col("c1"))).alias("n1"),
    )
    counts = emb.groupBy("label").agg(
        F.count(F.when(F.col("vec_id") % 2 == 0, 1)).alias("n_cohort0"),
        F.count(F.when(F.col("vec_id") % 2 == 1, 1)).alias("n_cohort1"),
    )
    cos = F.col("dot01") / (F.col("n0") * F.col("n1"))
    return (
        sums.join(counts, "label")
        .select(
            "label",
            "n_cohort0",
            "n_cohort1",
            F.round(cos, 6).alias("centroid_cosine"),
            (cos >= 0.5).alias("stable"),
        )
        # a label present in only one cohort has no drift to measure —
        # drop it (NULL cosine), matching the oracle's inner cohort join
        .filter(F.col("centroid_cosine").isNotNull())
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup via k-means blocking (operators/semdedup.py)
# ---------------------------------------------------------------------------

_SEMDEDUP_K = 8
_SEMDEDUP_TAU = 0.3  # fixture embeddings are near-random (max pairwise
# cosine ~0.48), so the production-style 0.95 would never fire; 0.3
# exercises both keep and remove branches with identical semantics


def _semdedup_df(spark: SparkSession, sf_dir: str):
    from vectordbfaiss_spark.operators.semdedup import semdedup
    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(
        emb,
        n_clusters=_SEMDEDUP_K,
        threshold=_SEMDEDUP_TAU,
        corpus_key=artifacts.corpus_key(sf_dir),
    )


@register("semdedup_prune", rows_only=True)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023), FIXTURE-GRAIN form (production contract = semdedup_prune_scaled).

    K-means clusters as blocking, then
    keep-first-by-id removal of within-cluster vectors whose cosine to a
    smaller-id member exceeds the threshold. Rows-only (k-means is not
    SQL-expressible); every removal carries a witness_id that
    ``semdedup_witness_bound`` re-checks from raw embeddings, and
    tests/test_semdedup.py pins exact behavior on a constructed corpus.

    FIXTURE-GRAIN form: the cluster count is pinned for replayability;
    the production contract (K = max(8, ceil(N/64)) derived from the
    corpus size, per-cell population constant) is the `_scaled` twin
    `semdedup_prune_scaled` — never read this pinned-K plan as the
    scale path."""
    return _semdedup_df(spark, sf_dir)


_SEMDEDUP_BOUND_ORACLE = """
SELECT vec_id, TRUE AS self_consistent, TRUE AS witness_ok
FROM embeddings
"""


@register("semdedup_witness_bound", _SEMDEDUP_BOUND_ORACLE)
def q_semdedup_witness_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked companion to semdedup_prune (the sketch error-bound
    pattern): per vector, (a) self_consistent — keep is exactly
    "no smaller-id neighbor above threshold"; (b) witness_ok — for every
    REMOVED vector, the recorded witness pair's cosine is recomputed
    straight from the raw embeddings (no clustering involved) and must
    exceed the threshold and agree with the recorded score to 1e-5. A
    wrong cluster assignment, a broken pair join, or a bogus similarity
    all flip a boolean the driver hash-checks."""
    from vectordbfaiss_spark.functions.vector import cosine_similarity

    verdicts = _semdedup_df(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    wa = emb.select(
        F.col("vec_id").alias("witness_id"), F.col("embedding").alias("w_vec")
    )
    wb = emb.select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v_vec")
    )
    j = (
        # wa/wb are the FULL embedding store (corpus-grain): shuffle-hash,
        # never a broadcast — at syn100 the 51 MB store slid under the
        # 64 MB threshold and the broadcast BUILD blew the driver heap
        # (caught running semdedup_prune_scaled on the syn100 rung, round 6)
        verdicts.join(wa.hint("SHUFFLE_HASH"), "witness_id", "left")
        .join(wb.hint("SHUFFLE_HASH"), "vec_id", "left")
        .withColumn(
            "re_sim", cosine_similarity(F.col("w_vec"), F.col("v_vec"))
        )
    )
    return j.select(
        "vec_id",
        (
            F.col("keep") == (F.col("n_dup_smaller") == 0)
        ).alias("self_consistent"),
        F.when(F.col("keep"), F.lit(True))
        .otherwise(
            (F.col("re_sim") > F.lit(_SEMDEDUP_TAU))
            & (
                F.abs(F.col("re_sim") - F.col("max_sim_smaller"))
                < F.lit(1e-5)
            )
            & (F.col("witness_id") < F.col("vec_id"))
        )
        .alias("witness_ok"),
    )


# K derived from corpus size (same contract constant as
# knn_graph_blocked_scaled): mean cell population stays <= 64 as the
# corpus grows, so per-cell Gram cost is flat — the knob semdedup_prune
# pins small (k=8) for its test-replayable form.
_SEMDEDUP_CELL_TARGET = 64

_SEMDEDUP_SCALED_ORACLE = f"""
SELECT count(*) AS n_vecs,
       CAST(GREATEST(8, CEIL(count(*) / {_SEMDEDUP_CELL_TARGET}.0)) AS BIGINT)
         AS n_clusters,
       TRUE AS self_consistent,
       TRUE AS witness_ok
FROM embeddings
"""


@register("semdedup_prune_scaled", _SEMDEDUP_SCALED_ORACLE)
def q_semdedup_prune_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the PRODUCTION grain contract executed:
    ``n_clusters = max(8, ceil(N / 64))`` is computed from the corpus
    size (the paper's own design point — 50k clusters for 134M
    embeddings keeps the per-cluster Gram bounded), so the quadratic
    per-cell scan stays flat as the corpus scales. Hash-checked
    outputs: ``n_clusters`` (the oracle recomputes the formula from
    count(*)), ``self_consistent`` (every verdict's keep flag agrees
    with its own n_dup_smaller), and ``witness_ok`` (every removal's
    recorded witness pair re-scored from RAW embeddings — no clustering
    involved — must exceed the threshold and match the recorded score,
    same legs as ``semdedup_witness_bound`` collapsed to corpus-level
    booleans)."""
    from vectordbfaiss_spark.functions.vector import cosine_similarity
    from vectordbfaiss_spark.operators.semdedup import semdedup
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    n_clusters = max(8, -(-n // _SEMDEDUP_CELL_TARGET))
    verdicts = semdedup(
        emb,
        n_clusters=n_clusters,
        threshold=_SEMDEDUP_TAU,
        corpus_key=artifacts.corpus_key(sf_dir),
    )
    wa = emb.select(
        F.col("vec_id").alias("witness_id"), F.col("embedding").alias("w_vec")
    )
    wb = emb.select("vec_id", F.col("embedding").alias("v_vec"))
    j = (
        # corpus-grain store sides: shuffle-hash, never broadcast (same
        # OOM class as semdedup_witness_bound — see comment there)
        verdicts.join(wa.hint("SHUFFLE_HASH"), "witness_id", "left")
        .join(wb.hint("SHUFFLE_HASH"), "vec_id", "left")
        .withColumn("re_sim", cosine_similarity(F.col("w_vec"), F.col("v_vec")))
        .select(
            (F.col("keep") == (F.col("n_dup_smaller") == 0)).alias("sc"),
            F.when(F.col("keep"), F.lit(True))
            .otherwise(
                (F.col("re_sim") > F.lit(_SEMDEDUP_TAU))
                & (F.abs(F.col("re_sim") - F.col("max_sim_smaller")) < F.lit(1e-5))
                & (F.col("witness_id") < F.col("vec_id"))
            )
            .alias("wk"),
        )
    )
    return j.agg(
        F.count("*").alias("n_vecs"),
        F.min("sc").alias("self_consistent"),
        F.min("wk").alias("witness_ok"),
    ).select(
        "n_vecs",
        F.lit(n_clusters).cast("long").alias("n_clusters"),
        "self_consistent",
        "witness_ok",
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = """
WITH a AS (
  SELECT vec_id AS anchor_id, label AS a_label, embedding::DOUBLE[] AS av
  FROM embeddings WHERE vec_id < 20
), c AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), p AS (
  SELECT anchor_id, c.vec_id,
         round(list_dot_product(av, v)
               / (sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(v, v))),
               6) AS sim
  FROM a JOIN c ON c.label <> a.a_label
), r AS (
  SELECT anchor_id, vec_id, sim,
         row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, vec_id) AS rnk
  FROM p
)
SELECT anchor_id, vec_id AS negative_id, sim, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 5
"""


@register("hard_negative_mining", _HARDNEG_ORACLE)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each anchor, the top-5 most-cosine-similar
    vectors carrying a DIFFERENT label — the negatives that actually teach
    a contrastive model (SimCLR/DPR training-data prep). Scores are rounded
    BEFORE ranking with an id tie-break (engine-independent order).

    Scale shape: the anchor set is the broadcast side (queries are always
    the bounded side in mining jobs), the corpus streams once; the rank
    window partitions BY ANCHOR so it parallelizes across anchors, and
    row_number+filter plans a per-partition partial sort of k, not a global
    one. The label-exclusion predicate rides inside the join condition —
    no post-hoc filter pass."""
    from vectordbfaiss_spark.functions.vector import cosine_similarity
    from pyspark.sql import Window as W2

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("av"),
    )
    pairs = load_table(spark, sf_dir, "embeddings").join(
        F.broadcast(anchors), F.col("label") != F.col("a_label")
    )
    scored = pairs.select(
        "anchor_id",
        "vec_id",
        F.round(cosine_similarity("av", "embedding"), 6).alias("sim"),
    )
    w = W2.partitionBy("anchor_id").orderBy(F.desc("sim"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            "sim",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


_TRIPLET_ORACLE = """
WITH a AS (
  SELECT vec_id AS anchor_id, label AS a_label, embedding::DOUBLE[] AS av
  FROM embeddings WHERE vec_id < 20
), c AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), p AS (
  SELECT anchor_id, c.vec_id, (c.label = a.a_label) AS same,
         round(list_dot_product(av, v)
               / (sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(v, v))),
               6) AS sim
  FROM a JOIN c ON c.vec_id <> a.anchor_id
), r AS (
  SELECT anchor_id, vec_id, same, sim,
         row_number() OVER (PARTITION BY anchor_id, same
                            ORDER BY sim DESC, vec_id) AS rnk
  FROM p
), t AS (SELECT * FROM r WHERE rnk = 1)
SELECT anchor_id,
       CAST(max(CASE WHEN same THEN vec_id END) AS BIGINT) AS positive_id,
       max(CASE WHEN same THEN sim END) AS pos_sim,
       CAST(max(CASE WHEN NOT same THEN vec_id END) AS BIGINT) AS negative_id,
       max(CASE WHEN NOT same THEN sim END) AS neg_sim,
       round(max(CASE WHEN same THEN sim END)
             - max(CASE WHEN NOT same THEN sim END), 6) AS margin
FROM t GROUP BY anchor_id
HAVING positive_id IS NOT NULL AND negative_id IS NOT NULL
"""


@register("contrastive_triplet_mining", _TRIPLET_ORACLE)
def q_contrastive_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) TRIPLET mining for contrastive
    training: per anchor, the most-similar SAME-label vector (hardest
    positive is the easiest to verify; any positive-selection rule slots
    in) and the most-similar DIFFERENT-label vector (the hard negative),
    plus the margin between them — the quantity a triplet loss actually
    optimizes, and the standard dataset-construction job upstream of
    SimCLR/DPR-style training. `hard_negative_mining` is the
    negatives-only half; this composes both sides in one corpus pass.

    Scale shape: anchors broadcast (the bounded side by contract), the
    corpus streams ONCE — one scored pass with a (anchor, same-label?)
    partitioned rank window (rank filter on the raw rank), then a
    2-rows-per-anchor conditional pivot. No second scan for positives."""
    from pyspark.sql import Window as W2

    from vectordbfaiss_spark.functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("av"),
    )
    scored = (
        load_table(spark, sf_dir, "embeddings")
        .join(F.broadcast(anchors), F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "vec_id",
            (F.col("label") == F.col("a_label")).alias("same"),
            F.round(cosine_similarity("av", "embedding"), 6).alias("sim"),
        )
    )
    w = W2.partitionBy("anchor_id", "same").orderBy(F.desc("sim"), "vec_id")
    top = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") == 1
    )
    agg = top.groupBy("anchor_id").agg(
        F.max(F.when(F.col("same"), F.col("vec_id"))).alias("positive_id"),
        F.max(F.when(F.col("same"), F.col("sim"))).alias("pos_sim"),
        F.max(F.when(~F.col("same"), F.col("vec_id"))).alias("negative_id"),
        F.max(F.when(~F.col("same"), F.col("sim"))).alias("neg_sim"),
    )
    return agg.filter(
        F.col("positive_id").isNotNull() & F.col("negative_id").isNotNull()
    ).select(
        "anchor_id",
        "positive_id",
        "pos_sim",
        "negative_id",
        "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
    )


# ---------------------------------------------------------------------------
# Binary quantization: sign-bit pack -> Hamming prefilter -> exact re-rank
# ---------------------------------------------------------------------------

_BQ_NQ = 8  # query vectors (vec_id < _BQ_NQ)
_BQ_K = 10  # final top-k
_BQ_R = 40  # Hamming prefilter depth (r*k exact re-scores per query)


def _sql_pack_half(offset: int) -> str:
    """32 sign bits of dims [offset+1, offset+32] packed into a BIGINT."""
    return (
        "CAST(list_sum(list_transform(generate_series(0, 31), j -> "
        f"CASE WHEN embedding[j + {offset + 1}] > 0 "
        "THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)"
    )


_BQ_ORACLE = f"""
WITH packed AS (
  SELECT vec_id, {_sql_pack_half(0)} AS lo, {_sql_pack_half(32)} AS hi
  FROM embeddings),
q AS (SELECT vec_id AS q_id, lo AS q_lo, hi AS q_hi FROM packed
      WHERE vec_id < {_BQ_NQ}),
c AS (SELECT * FROM packed WHERE vec_id >= {_BQ_NQ}),
ham AS (SELECT q.q_id, c.vec_id AS cand_id,
               CAST(bit_count(xor(c.lo, q.q_lo))
                    + bit_count(xor(c.hi, q.q_hi)) AS BIGINT) AS hamming
        FROM c CROSS JOIN q),
pre AS (SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY hamming, cand_id) AS rh
        FROM ham),
cand AS (SELECT * FROM pre WHERE rh <= {_BQ_R}),
scored AS (
  SELECT cand.q_id, cand.cand_id, cand.hamming,
         round(list_dot_product(eq.embedding::DOUBLE[], ec.embedding::DOUBLE[])
               / (sqrt(list_dot_product(eq.embedding::DOUBLE[],
                                        eq.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(ec.embedding::DOUBLE[],
                                          ec.embedding::DOUBLE[]))), 6)
           AS cos_sim
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.q_id
  JOIN embeddings ec ON ec.vec_id = cand.cand_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                                        ORDER BY cos_sim DESC, cand_id) AS rnk
           FROM scored)
SELECT q_id, cand_id, rnk AS rank, hamming, cos_sim
FROM ranked WHERE rnk <= {_BQ_K}
ORDER BY q_id, rank
"""


@register("binary_hamming_rerank_topk", _BQ_ORACLE)
def q_binary_hamming_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit vector search: sign-quantize to 64 bits, prefilter by Hamming
    distance, re-rank the survivors against exact vectors.

    The 32x-compression pattern modern vector stores ship (binary
    quantization + oversampled exact re-rank): the fixture embeddings are
    zero-centered, so ``x > 0`` is the canonical sign quantizer — a
    data-INDEPENDENT threshold, no training pass. Packing is a pure
    projection (fold over the array into two 32-bit halves — no explode,
    no shuffle, 16 bytes per vector); Hamming scoring is two xor +
    bit_count integer ops inside whole-stage codegen against a broadcast
    8-row query side; the prefilter rank window plans a WindowGroupLimit
    (top-R per query, never a global sort); only R=4k candidates per
    query ever touch the full-precision vectors. At 10^9 vectors the
    scan side reads 16-byte codes instead of 256-byte floats — the exact
    re-rank join is |Q|*R rows against a broadcast candidate list.
    """
    emb = load_table(spark, sf_dir, "embeddings")

    def pack_half(offset: int):
        return F.expr(
            "CAST(aggregate(sequence(0, 31), 0L, (acc, j) -> acc + "
            f"IF(element_at(embedding, j + {offset + 1}) > 0, "
            "CAST(power(2, j) AS BIGINT), 0L)) AS BIGINT)"
        )

    packed = emb.select(
        "vec_id", pack_half(0).alias("lo"), pack_half(32).alias("hi")
    )
    q = packed.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("q_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    c = packed.filter(F.col("vec_id") >= _BQ_NQ)
    ham = c.crossJoin(F.broadcast(q)).select(
        "q_id",
        F.col("vec_id").alias("cand_id"),
        F.expr(
            "CAST(bit_count(lo ^ q_lo) + bit_count(hi ^ q_hi) AS BIGINT)"
        ).alias("hamming"),
    )
    from pyspark.sql import Window as W

    rh = F.row_number().over(W.partitionBy("q_id").orderBy("hamming", "cand_id"))
    cand = ham.withColumn("rh", rh).filter(F.col("rh") <= _BQ_R)

    from vectordbfaiss_spark.functions.vector import cosine_similarity

    eq = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    ec = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    scored = (
        cand.join(ec, "cand_id")
        .join(F.broadcast(eq), "q_id")
        .select(
            "q_id",
            "cand_id",
            "hamming",
            F.round(cosine_similarity("qv", "cv"), 6).alias("cos_sim"),
        )
    )
    rnk = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.desc("cos_sim"), "cand_id")
    )
    return (
        scored.withColumn("rank", rnk)
        .filter(F.col("rank") <= _BQ_K)
        .select("q_id", "cand_id", "rank", "hamming", "cos_sim")
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# Matryoshka-style dimension truncation audit
# ---------------------------------------------------------------------------

_MRL_DIMS = 16  # truncated prefix length (of 64)
_MRL_NQ = 8
_MRL_K = 10


def _sql_rank_cte(tag: str, vec_expr: str) -> str:
    """Per-query cosine top-k ranking CTE over ``vec_expr`` (full or
    truncated), mirroring the engine's rounded-then-ranked convention."""
    return f"""
q_{tag} AS (SELECT vec_id AS q_id, {vec_expr} AS qv FROM embeddings
            WHERE vec_id < {_MRL_NQ}),
s_{tag} AS (
  SELECT q.q_id, e.vec_id,
         round(list_dot_product(q.qv, {vec_expr.replace('embedding', 'e.embedding')})
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product({vec_expr.replace('embedding', 'e.embedding')},
                                          {vec_expr.replace('embedding', 'e.embedding')}))),
               6) AS score
  FROM q_{tag} q CROSS JOIN embeddings e
  WHERE e.vec_id >= {_MRL_NQ}),
r_{tag} AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY score DESC, vec_id) AS rnk
  FROM s_{tag})"""


_MRL_ORACLE = f"""
WITH {_sql_rank_cte('full', 'embedding::DOUBLE[]')},
{_sql_rank_cte('tr', 'list_slice(embedding, 1, {dims})::DOUBLE[]'.format(dims=_MRL_DIMS))},
ov AS (
  SELECT f.q_id, count(*) AS n_overlap
  FROM (SELECT * FROM r_full WHERE rnk <= {_MRL_K}) f
  JOIN (SELECT * FROM r_tr WHERE rnk <= {_MRL_K}) t
    ON f.q_id = t.q_id AND f.vec_id = t.vec_id
  GROUP BY 1)
SELECT q.q_id AS q_id, coalesce(o.n_overlap, 0) AS overlap_at_k,
       round(coalesce(o.n_overlap, 0) * 1.0 / {_MRL_K}, 4) AS overlap_frac
FROM (SELECT DISTINCT q_id FROM r_full) q
LEFT JOIN ov o ON q.q_id = o.q_id
ORDER BY q_id
"""


@register("matryoshka_truncation_audit", _MRL_ORACLE)
def q_matryoshka_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank agreement between truncated-prefix (16-dim) and full (64-dim)
    cosine rankings — the go/no-go audit for Matryoshka-style dimension
    reduction (store/search the prefix, keep the tail for re-rank only).

    Both rankings run through the same vectorized BLAS kernel
    (score_topk_vectorized); the truncated side just slices the array
    BEFORE the kernel, so its scan/shuffle carries dims/64 of the bytes —
    exactly the saving the truncation buys at 10^9 vectors. Overlap@k is
    a k-row-per-query join. A production decision reads this table:
    overlap high -> truncate the serving index; low -> keep full dims.
    """
    from vectordbfaiss_spark.operators.topk import score_topk_vectorized

    emb = load_table(spark, sf_dir, "embeddings")
    cand = emb.filter(F.col("vec_id") >= _MRL_NQ)

    def ranking(df_q, df_c):
        return score_topk_vectorized(df_q, df_c, k=_MRL_K).select(
            F.col("query_id").alias("q_id"), "vec_id"
        )

    q_full = emb.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    full = ranking(q_full, cand)
    trunc_vec = F.slice(F.col("embedding"), 1, _MRL_DIMS)
    q_tr = emb.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("query_id"), trunc_vec.alias("query_vec")
    )
    cand_tr = cand.select("vec_id", trunc_vec.alias("embedding"))
    trunc = ranking(q_tr, cand_tr)

    # both rankings are Q*k rows by contract, but they come out of
    # mapInPandas+window with no stats — hint the broadcast AQE can't infer
    ov = (
        full.join(F.broadcast(trunc), ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    qids = full.select("q_id").distinct()
    return (
        qids.join(F.broadcast(ov), "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("overlap_at_k"),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0)) / _MRL_K, 4
            ).alias("overlap_frac"),
        )
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------------
# IR evaluation metrics: recall@k / MRR / nDCG@k
# ---------------------------------------------------------------------------

_EVAL_ORACLE = f"""
WITH {_sql_rank_cte('full', 'embedding::DOUBLE[]')},
{_sql_rank_cte('tr', 'list_slice(embedding, 1, {dims})::DOUBLE[]'.format(dims=_MRL_DIMS))},
truth AS (SELECT q_id, vec_id, rnk AS rank_t FROM r_full WHERE rnk <= {_MRL_K}),
sys AS (SELECT q_id, vec_id, rnk AS rank_s FROM r_tr WHERE rnk <= {_MRL_K}),
hits AS (SELECT t.q_id, t.rank_t, s.rank_s
         FROM truth t JOIN sys s ON t.q_id = s.q_id AND t.vec_id = s.vec_id),
per_q AS (SELECT q_id, count(*) AS n_hit, min(rank_s) AS first_hit,
                 sum(({_MRL_K} + 1 - rank_t) / log2(rank_s + 1.0)) AS dcg
          FROM hits GROUP BY 1),
idcg AS (SELECT sum(({_MRL_K} + 1 - i) / log2(i + 1.0)) AS v
         FROM unnest(generate_series(1, {_MRL_K})) t(i)),
qs AS (SELECT DISTINCT q_id FROM truth)
SELECT qs.q_id AS q_id,
       round(coalesce(p.n_hit, 0) / {_MRL_K}.0, 6) AS recall_at_k,
       round(coalesce(1.0 / p.first_hit, 0.0), 6) AS mrr,
       round(coalesce(p.dcg, 0.0) / i.v, 6) AS ndcg_at_k
FROM qs CROSS JOIN idcg i
LEFT JOIN per_q p ON qs.q_id = p.q_id
ORDER BY q_id
"""


@register("ranking_eval_metrics", _EVAL_ORACLE)
def q_ranking_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in retrieval evaluation: recall@k, MRR and nDCG@k of the
    truncated-dimension ranking against the full-precision ranking as
    graded ground truth (grade = k+1-rank of the true list).

    A vector engine without an evaluation harness can't justify its own
    approximations; this is the harness as a query. Both rankings run the
    vectorized BLAS kernel; the metric computation is a k-row-per-query
    join plus one aggregate — evaluation cost is O(Q*k), independent of
    corpus size, so it can run after every index rebuild as a regression
    gate. IDCG is computed in-query from the same series on both engines
    (no cross-engine constant drift).
    """
    from vectordbfaiss_spark.operators.topk import score_topk_vectorized

    emb = load_table(spark, sf_dir, "embeddings")
    cand = emb.filter(F.col("vec_id") >= _MRL_NQ)

    def ranking(vec_expr):
        q = emb.filter(F.col("vec_id") < _MRL_NQ).select(
            F.col("vec_id").alias("query_id"), vec_expr.alias("query_vec")
        )
        c = cand.select("vec_id", vec_expr.alias("embedding"))
        return score_topk_vectorized(q, c, k=_MRL_K).select(
            F.col("query_id").alias("q_id"), "vec_id", "rank"
        )

    truth = ranking(F.col("embedding")).withColumnRenamed("rank", "rank_t")
    sys_r = ranking(F.slice(F.col("embedding"), 1, _MRL_DIMS)).withColumnRenamed(
        "rank", "rank_s"
    )
    # Q*k-bounded kernel outputs carry no stats: hint the broadcast
    hits = truth.join(F.broadcast(sys_r), ["q_id", "vec_id"])
    per_q = hits.groupBy("q_id").agg(
        F.count("*").alias("n_hit"),
        F.min("rank_s").alias("first_hit"),
        F.sum(
            (_MRL_K + 1 - F.col("rank_t")) / F.log2(F.col("rank_s") + 1.0)
        ).alias("dcg"),
    )
    idcg = spark.range(1, _MRL_K + 1).agg(
        F.sum((_MRL_K + 1 - F.col("id")) / F.log2(F.col("id") + 1.0)).alias("v")
    )
    qs = truth.select("q_id").distinct()
    return (
        qs.crossJoin(F.broadcast(idcg))
        .join(F.broadcast(per_q), "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / float(_MRL_K), 6).alias(
                "recall_at_k"
            ),
            F.round(
                F.coalesce(1.0 / F.col("first_hit"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("v"), 6
            ).alias("ndcg_at_k"),
        )
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------------
# Vector-store CRUD lifecycle (FAISS remove_ids/add parity: delete + upsert
# + search over the resulting store)
# ---------------------------------------------------------------------------

_CRUD_ORACLE = """
WITH upd AS (
    SELECT vec_id, list_transform(embedding::DOUBLE[], x -> 0.5 * x + 0.25) AS v
    FROM embeddings WHERE vec_id % 23 = 5
), ins AS (
    SELECT vec_id + 100000 AS vec_id,
           list_transform(embedding::DOUBLE[], x -> -x) AS v
    FROM embeddings WHERE vec_id % 31 = 7
), base AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    WHERE vec_id % 17 <> 3 AND vec_id % 23 <> 5
), store AS (
    SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins
), q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 10
), s AS (
    SELECT q.query_id, st.vec_id,
           round(
             list_dot_product(q.qv, st.v)
             / (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(st.v, st.v))),
             6) AS score
    FROM q CROSS JOIN store st
), r AS (
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
    FROM s
)
SELECT query_id, vec_id, score, rnk,
       (vec_id >= 100000 OR vec_id % 23 = 5) AS from_upsert
FROM r WHERE rnk <= 5
"""


@register("vector_store_crud_search", _CRUD_ORACLE)
def q_vector_store_crud_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store WRITE lifecycle, then search: the FAISS operational
    surface (`remove_ids` + `add`, faiss IndexIDMap semantics the reference
    would reach for to mutate its store) as one declarative plan.

    * tombstone batch: ids with vec_id % 17 == 3 are deleted;
    * upsert batch: ids with vec_id % 23 == 5 are RE-embedded (elementwise
      0.5*x + 0.25 stands in for a new model revision) and ids with
      vec_id % 31 == 7 are INSERTED as new rows (vec_id + 100000, negated
      vector). Deletes apply first, upserts win over deletes.
    * search: the unchanged outside-world query batch (first 10 original
      embeddings), exact cosine top-5 over the post-CRUD store through the
      vectorized BLAS kernel.

    At scale each piece stays shuffle-free until the final Q*k window: the
    tombstone/update predicates are scan filters, the union is a no-shuffle
    concat of three scans of the same parquet, and scoring is the
    mapInPandas kernel (O(partitions*Q*k) shuffle rows). The oracle replays
    the exact double-precision CRUD arithmetic, so a tombstoned id leaking
    into (or an upsert missing from) any top-5 is a hash mismatch.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    embd = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    upd = embd.filter(F.col("vec_id") % 23 == 5).select(
        "vec_id", F.transform("v", lambda x: x * 0.5 + 0.25).alias("v")
    )
    ins = embd.filter(F.col("vec_id") % 31 == 7).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("v", lambda x: -x).alias("v"),
    )
    base = embd.filter(
        (F.col("vec_id") % 17 != 3) & (F.col("vec_id") % 23 != 5)
    )
    store = base.unionByName(upd).unionByName(ins)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    winners = score_topk_vectorized(queries, store, k=5, index_vec="v")
    return winners.select(
        "query_id",
        "vec_id",
        "score",
        F.col("rank").cast("long").alias("rnk"),
        ((F.col("vec_id") >= 100000) | (F.col("vec_id") % 23 == 5)).alias(
            "from_upsert"
        ),
    )


# ---------------------------------------------------------------------------
# Tombstone-aware IVF serving (delete without rebuild)
# ---------------------------------------------------------------------------

_IVF_TOMBSTONE_ORACLE = f"""
WITH qr AS (SELECT [{_ROUTED_LITS}]::REAL[]::DOUBLE[] AS q),
nq AS (
  SELECT list_transform(q, x -> CAST(x / sqrt(list_dot_product(q, q)) AS REAL))::DOUBLE[] AS qv
  FROM qr
),
nv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
            x -> CAST(x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS REAL))::DOUBLE[] AS v
  FROM embeddings
  WHERE vec_id % 5 <> 0
),
s AS (SELECT vec_id, round(list_dot_product(nq.qv, nv.v), 6) AS score FROM nv, nq)
SELECT vec_id, score,
       row_number() OVER (ORDER BY score DESC, vec_id) AS rnk
FROM s ORDER BY score DESC, vec_id LIMIT 10
"""


@register("ivf_tombstone_search", _IVF_TOMBSTONE_ORACLE)
def q_ivf_tombstone_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-aware serving from the PUBLISHED IVF index — FAISS
    ``remove_ids`` semantics without touching the index files. The
    tombstone set is materialized as an explicit id TABLE (here derived
    by a single-column projected scan standing in for the delete log;
    vec_id % 5 == 0 keeps the oracle exactly replayable) and served as a
    BROADCAST ANTI-JOIN against the cluster-partitioned index scan, then
    the standard nprobe search runs over the survivors. This is the
    production shape for deletes between compactions: the delete log is
    bounded (compaction resets it), so it always broadcasts, the index
    scan keeps its partition pruning AND row-group pruning intact (no
    non-pushable predicate on the big side), and the anti-join hash probe
    costs O(1) per surviving row. The periodic `build_ivf_index` rebuild
    (see `ivf_compact_search`) makes deletes physical. Full probe, so the
    routed answer is EXACT and the oracle hash-checks that no tombstoned
    vector leaks into the top-k (complement: `vector_store_crud_search`
    proves the store-level CRUD). Plan pinned in tests/test_plans.py:
    BroadcastHashJoin LeftAnti adjacent to the index scan, no modulo
    predicate on the index side.
    """
    from vectordbfaiss_spark.plans.ivf import ivf_search

    emb = load_table(spark, sf_dir, "embeddings")
    out, centroids = registry_ivf_index(emb, sf_dir)
    # Delete log: bounded id list (projected scan of the id column only —
    # in production this is the tombstone sidecar, not the corpus).
    tombstones = emb.select("vec_id").filter(F.col("vec_id") % 5 == 0)
    index = spark.read.parquet(out).join(
        F.broadcast(tombstones), "vec_id", "left_anti"
    )
    qvec = _routed_query_vec()
    queries = spark.createDataFrame(
        [(0, qvec)], "query_id long, query_vec array<float>"
    )
    hits = ivf_search(index, queries, centroids, k=10, nprobe=8)
    return hits.select(
        "vec_id", "score", F.col("rank").cast("long").alias("rnk")
    )


# ---------------------------------------------------------------------------
# Embedding-store health audit
# ---------------------------------------------------------------------------

_NORM_HEALTH_ORACLE = """
WITH n AS (
  SELECT label,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm,
         len(embedding) AS dim,
         len(list_filter(embedding::DOUBLE[], x -> isnan(x) OR x IS NULL))
           AS n_bad_vals
  FROM embeddings
)
SELECT label,
       count(*) AS n_vectors,
       CAST(count(*) FILTER (WHERE nrm = 0) AS BIGINT) AS n_zero_norm,
       CAST(count(*) FILTER (WHERE n_bad_vals > 0) AS BIGINT) AS n_nonfinite,
       CAST(count(DISTINCT dim) AS BIGINT) AS n_distinct_dims,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       round(avg(nrm), 6) AS avg_norm
FROM n GROUP BY label
"""


@register("embedding_norm_health", _NORM_HEALTH_ORACLE)
def q_embedding_norm_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store health audit: the pre-flight every index build
    wants — zero-norm vectors (undefined cosine; the scoring kernels guard
    them but they should not be indexed), non-finite values (poison a BLAS
    matmul silently), ragged dimensions (break the Arrow batch), and the
    norm range per label (a collapsed or exploded norm distribution is the
    first symptom of a broken embedder revision). One scan, map-side
    combinable aggregates, |labels| output rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ed = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with(ed, ed, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    n_bad = F.size(F.filter(ed, lambda x: F.isnan(x) | x.isNull()))
    m = emb.select(
        "label",
        nrm.alias("nrm"),
        F.size("embedding").alias("dim"),
        n_bad.alias("n_bad_vals"),
    )
    return m.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.count(F.when(F.col("nrm") == 0, 1)).alias("n_zero_norm"),
        F.count(F.when(F.col("n_bad_vals") > 0, 1)).alias("n_nonfinite"),
        F.countDistinct("dim").alias("n_distinct_dims"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(F.avg("nrm"), 6).alias("avg_norm"),
    )


# ---------------------------------------------------------------------------
# IVF nprobe tuning curve (recall bounds per probe width)
# ---------------------------------------------------------------------------

_NPROBE_CURVE_ORACLE = """
SELECT CAST(t.np AS INTEGER) AS nprobe,
       TRUE AS recall_in_range,
       TRUE AS monotone_from_prev,
       (t.np = 8) AS full_probe_exact
FROM unnest([1, 2, 4, 8]) AS t(np)
ORDER BY nprobe
"""


@register("ivf_nprobe_curve", _NPROBE_CURVE_ORACLE)
def q_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF TUNING CURVE: recall@10 at nprobe = 1, 2, 4, 8 (of 8
    clusters) against the FULL-PROBE ranking of the same scoring kernel —
    how an operator picks the probe width for a recall target. Raw recall
    values are k-means-dependent, so the hash-checked contract is the
    sketch-bound pattern: per nprobe, ``recall_in_range`` ([0,1] and
    self-hit present: every query is in the corpus, its own cluster is
    always probed at any nprobe >= 1 — so recall@10 > 0),
    ``monotone_from_prev`` (under one scoring kernel and the
    deterministic (score DESC, id ASC) total order, a candidate that
    displaces a baseline hit from top-10 must itself be a baseline hit —
    so recall is provably non-decreasing in nprobe), and
    ``full_probe_exact`` (nprobe = n_clusters IS the baseline by
    construction — the degeneracy pin). The baseline is deliberately the
    SAME float32-quantized kernel, not the float64 brute-force kernel:
    cross-kernel top-10 agreement can flip on sub-rounding-grid ties
    (this repo's rule: ANN vs exact is recall-MEASURED, never
    hash-asserted — that comparison ships in `ivf_recall_report` /
    `ivf_recall_bound`).

    Scored ONCE, evaluated at every width: each (query, vector) pair is
    scored a single time with the query's centroid-proximity RANK
    attached; "nprobe = p" is then just the filter crank <= p, so the
    whole curve is one scoring join + one windowed ranking over the
    4x-replicated candidate set — not four independent index searches.
    That is also the production tuning shape: re-evaluating the curve
    after a rebuild costs one scan regardless of how many widths are on
    the grid.
    """
    from pyspark.sql import types as T

    from vectordbfaiss_spark.functions.vector import dot, l2_normalize
    from vectordbfaiss_spark.plans.ivf import _nearest_centroids, assign_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assigned, centroids = assign_clusters(
        emb, n_clusters=8, seed=42,
        corpus_key=artifacts.corpus_key(sf_dir),
    )
    widths = (1, 2, 4, 8)

    # full routing ONCE, keeping each probed cluster's proximity rank
    routed = _nearest_centroids(
        queries.withColumn(
            "query_vec", l2_normalize(F.col("query_vec")).cast("array<float>")
        ),
        "query_vec",
        centroids,
        len(centroids),
    ).select(
        "query_id",
        "query_vec",
        F.posexplode("cluster_ids").alias("crank0", "cluster_id"),
    )
    scored = assigned.join(F.broadcast(routed), "cluster_id").select(
        "query_id",
        "vec_id",
        (F.col("crank0") + 1).alias("crank"),
        F.round(dot(F.col("query_vec"), F.col("embedding")), 6).alias("score"),
    )
    nps = spark.createDataFrame([(p,) for p in widths], "np int")
    cands = scored.crossJoin(F.broadcast(nps)).filter(F.col("crank") <= F.col("np"))
    w = Window.partitionBy("np", "query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    top = (
        cands.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .localCheckpoint(eager=True)  # two consumers: baseline + hit counts
    )
    baseline = top.filter(F.col("np") == 8).select("query_id", "vec_id")
    hits = top.join(baseline, ["query_id", "vec_id"], "left_semi")
    counts = {
        r["np"]: r["hits"]
        for r in hits.groupBy("np").agg(F.count("*").alias("hits")).collect()
    }
    n_exact = baseline.count()

    rows, prev = [], -1.0
    for np_ in widths:
        recall = counts.get(np_, 0) / n_exact
        rows.append(
            (
                np_,
                bool(0.0 < recall <= 1.0),
                bool(recall >= prev),
                bool(np_ == 8 and recall == 1.0),
            )
        )
        prev = recall
    schema = T.StructType(
        [
            T.StructField("nprobe", T.IntegerType()),
            T.StructField("recall_in_range", T.BooleanType()),
            T.StructField("monotone_from_prev", T.BooleanType()),
            T.StructField("full_probe_exact", T.BooleanType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Late-interaction retrieval (ColBERT-style MaxSim over chunk vectors)
# ---------------------------------------------------------------------------


def _maxsim_oracle() -> str:
    from vectordbfaiss_spark.queries.reference_parity import _EMBED_DIM, _hexpair
    from vectordbfaiss_spark.queries.text_analysis import _CHUNK_M, _CHUNK_N

    step = _CHUNK_N - _CHUNK_M
    return f"""
WITH w AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS words
           FROM documents),
n AS (
  SELECT doc_id, words,
         greatest(1, CAST(ceil((len(words) - {_CHUNK_N}) / {float(step)}) AS BIGINT) + 1)
           AS n_chunks
  FROM w
),
ch AS (
  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         array_to_string(list_slice(words, i * {step} + 1,
                                    i * {step} + {_CHUNK_N}), ' ') AS chunk
  FROM n, unnest(generate_series(0, n_chunks - 1)) AS t(i)
),
toks AS (
  SELECT doc_id, chunk_idx,
         unnest(string_split_regex(trim(lower(chunk)), '\\s+')) AS tok
  FROM ch
),
hx AS (SELECT doc_id, chunk_idx, md5(tok) AS h FROM toks),
b AS (
  SELECT doc_id, chunk_idx,
         ({_hexpair(1)} + 256 * {_hexpair(3)} + 65536 * {_hexpair(5)}
          + 16777216 * {_hexpair(7)}) % {_EMBED_DIM} AS bucket,
         CASE WHEN {_hexpair(9)} % 2 = 1 THEN 1.0 ELSE -1.0 END AS sign
  FROM hx
),
acc AS (SELECT doc_id, chunk_idx, bucket, sum(sign) AS val
        FROM b GROUP BY 1, 2, 3),
nrm AS (SELECT doc_id, chunk_idx, sqrt(sum(val * val)) AS nn
        FROM acc GROUP BY 1, 2),
vec AS (
  SELECT a.doc_id, a.chunk_idx, a.bucket,
         CAST(a.val / nrm.nn AS REAL) AS v
  FROM acc a JOIN nrm USING (doc_id, chunk_idx)
  WHERE nrm.nn > 0 AND a.val <> 0
),
qv AS (SELECT * FROM vec WHERE doc_id < 3),
dots AS (
  SELECT q.doc_id AS query_doc, q.chunk_idx AS q_chunk,
         v.doc_id, v.chunk_idx AS d_chunk,
         round(sum(CAST(q.v AS DOUBLE) * CAST(v.v AS DOUBLE)), 6) AS dot
  FROM qv q JOIN vec v ON q.bucket = v.bucket
  GROUP BY 1, 2, 3, 4
),
per_qc AS (SELECT query_doc, q_chunk, doc_id, max(dot) AS m
           FROM dots GROUP BY 1, 2, 3),
scores AS (SELECT query_doc, doc_id, round(sum(m), 6) AS maxsim
           FROM per_qc GROUP BY 1, 2),
r AS (
  SELECT query_doc, doc_id, maxsim,
         row_number() OVER (PARTITION BY query_doc
                            ORDER BY maxsim DESC, doc_id) AS rnk
  FROM scores
)
SELECT query_doc, doc_id, maxsim, rnk FROM r WHERE rnk <= 5
"""


@register("maxsim_late_interaction", _maxsim_oracle())
def q_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION retrieval (ColBERT-style MaxSim) — the multi-vector
    upgrade of the reference's single-vector /search: every chunk gets its
    own hash-embed vector (functions.text.hash_embed_udf, the hermetic U1
    embedder), and score(q, d) = sum over q's chunks of the MAX cosine
    against d's chunks. Queries are the first 3 documents (self-retrieval
    at rank 1 = n_chunks sanity anchor).

    Scale shape: chunk vectors live SPARSE ((doc, chunk, bucket, val) —
    the natural layout for an inverted late-interaction index; ColBERT's
    own serving decomposes MaxSim the same way), the query side is
    broadcast, and the interaction join is a bucket equi-join — cost is
    nnz(corpus) x queries' per-bucket density, never |chunks|^2. The
    max-then-sum runs as two map-side-combinable aggregations. Sparse
    semantics (chunk pairs sharing no bucket are absent, not zero) are
    mirrored exactly by the oracle, which replays chunker -> md5 bucket
    embedder -> interaction join digit for digit.
    """
    from vectordbfaiss_spark.functions.text import chunk_text, hash_embed_udf
    from vectordbfaiss_spark.queries.reference_parity import _EMBED_DIM
    from vectordbfaiss_spark.queries.text_analysis import _CHUNK_M, _CHUNK_N

    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        F.posexplode(chunk_text("text", _CHUNK_N, _CHUNK_M)).alias(
            "chunk_idx", "chunk"
        ),
    )
    emb = chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        hash_embed_udf(_EMBED_DIM)(F.col("chunk")).alias("v"),
    )
    sparse = (
        emb.select(
            "doc_id", "chunk_idx", F.posexplode("v").alias("bucket", "val")
        )
        .filter(F.col("val") != 0)
        .localCheckpoint(eager=True)  # two consumers: corpus side + query side
    )
    qv = sparse.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_doc"),
        F.col("chunk_idx").alias("q_chunk"),
        "bucket",
        F.col("val").alias("qval"),
    )
    dots = (
        sparse.join(F.broadcast(qv), "bucket")
        .groupBy("query_doc", "q_chunk", "doc_id", "chunk_idx")
        .agg(
            F.round(
                F.sum(
                    F.col("qval").cast("double") * F.col("val").cast("double")
                ),
                6,
            ).alias("dot")
        )
    )
    per_qc = dots.groupBy("query_doc", "q_chunk", "doc_id").agg(
        F.max("dot").alias("m")
    )
    scores = per_qc.groupBy("query_doc", "doc_id").agg(
        F.round(F.sum("m"), 6).alias("maxsim")
    )
    ranked = topk(
        scores, 5, query_id="query_doc", index_id="doc_id", score="maxsim"
    )
    return ranked.select(
        "query_doc",
        "doc_id",
        "maxsim",
        F.col("rank").cast("long").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# Semantic benchmark decontamination (embedding-space twin of
# benchmark_decontamination's n-gram overlap)
# ---------------------------------------------------------------------------

_SEM_DECON_TAU = 0.35  # flags the top similarity tail of this fixture's
# cluster+noise geometry (p99 of max-cos is 0.384); real corpora tune
# this against a held-out contamination set

_SEM_DECON_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
bench AS (SELECT * FROM v WHERE vec_id % 20 = 0),
corp AS (SELECT * FROM v WHERE vec_id % 20 <> 0),
s AS (
  SELECT c.vec_id, b.vec_id AS bench_id,
         round(list_dot_product(c.e, b.e)
               / (sqrt(list_dot_product(c.e, c.e))
                  * sqrt(list_dot_product(b.e, b.e))), 6) AS score,
         row_number() OVER (PARTITION BY c.vec_id
                            ORDER BY round(list_dot_product(c.e, b.e)
               / (sqrt(list_dot_product(c.e, c.e))
                  * sqrt(list_dot_product(b.e, b.e))), 6) DESC, b.vec_id) AS rnk
  FROM corp c CROSS JOIN bench b
)
SELECT vec_id, bench_id, score AS max_cos, score >= {_SEM_DECON_TAU} AS contaminated
FROM s WHERE rnk = 1
"""


@register("semantic_decontamination", _SEM_DECON_ORACLE)
def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: for every corpus vector,
    its nearest BENCHMARK vector (vec_id % 20 == 0 plays the eval set) and
    a contamination flag at cosine >= tau — the semantic twin of
    `benchmark_decontamination`'s 5-gram overlap, catching paraphrased
    leakage that n-grams miss.

    Asymmetric by construction: benchmark sets are eval-suite-sized
    (thousands), so the scoring reuses the tiled top-k kernel with the
    CORPUS as the tiled query side and the benchmark as the (small) index
    side — per-tile broadcast is corpus-tile-bounded, work is
    O(corpus x bench) BLAS batches, never a corpus x corpus join. The
    LSH/IVF families are the sub-linear path when the benchmark itself is
    large."""
    from vectordbfaiss_spark.queries.embedding_analysis import knn_edges

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corp = emb.filter(F.col("vec_id") % 20 != 0)
    top1 = knn_edges(corp, k=1, index=bench, exclude_self=False)
    return top1.select(
        F.col("src").alias("vec_id"),
        F.col("dst").alias("bench_id"),
        F.col("score").alias("max_cos"),
        (F.col("score") >= F.lit(_SEM_DECON_TAU)).alias("contaminated"),
    )


_SQL_ROUTED_ALIAS_ORACLE = f"""
WITH qr AS (SELECT [{_ROUTED_LITS}]::REAL[]::DOUBLE[] AS q),
nq AS (
  SELECT list_transform(q, x -> CAST(x / sqrt(list_dot_product(q, q)) AS REAL))::DOUBLE[] AS qv
  FROM qr
),
nv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
            x -> CAST(x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS REAL))::DOUBLE[] AS v
  FROM embeddings
),
s AS (SELECT vec_id, round(list_dot_product(nq.qv, nv.v), 6) AS sim FROM nv, nq)
SELECT vec_id, sim FROM s ORDER BY sim DESC, vec_id LIMIT 10
"""


@register("sql_routed_score_projection", _SQL_ROUTED_ALIAS_ORACLE)
def q_sql_routed_score_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grammar step 3 of the SQL front door: the statement PROJECTS the
    similarity expression with an alias (`SELECT vec_id,
    cosine_similarity(...) AS sim ... ORDER BY cosine_similarity(...)
    DESC LIMIT k`) — the shape ORMs and BI tools emit, where the ranking
    expression is repeated in the projection. The router proves the
    projected expression IS the ranking expression (same column, same
    literal vector, whitespace-insensitive) and serves it from the IVF
    layout with the score under the requested alias; any mismatch runs
    verbatim (tests/test_sql_router.py pins both directions). Full probe,
    so the routed answer is exact and hash-checkable."""
    from vectordbfaiss_spark.plans.sql_router import (
        register_ivf_table,
        route_topk_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out, centroids = registry_ivf_index(emb, sf_dir)
    register_ivf_table("emb_ivf", out, centroids)
    sql = (
        f"SELECT vec_id, cosine_similarity(embedding, array({_ROUTED_LITS})) AS sim "
        "FROM emb_ivf ORDER BY "
        f"cosine_similarity(embedding, array({_ROUTED_LITS})) DESC LIMIT 10"
    )
    return route_topk_sql(spark, sql, nprobe=8)
