"""Source/sink edges and composed pipelines as oracle-checked queries:
CSV round-trip (S8/S9), JSON serialize/parse (S10), binary float32
encode/decode (S6/S7), extractive RAG answer assembly (U2 local default),
IVF ANN search (rows-only: KMeans is not SQL-expressible), multimodal
decode metadata (the deterministic fake decode IS SQL-expressible — md5
arithmetic)."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from vectordbfaiss_spark import artifacts
from vectordbfaiss_spark.registry import register
from vectordbfaiss_spark.session import load_table


def _sf_digest(sf_dir: str) -> str:
    """Deterministic 8-hex digest of the sf dir for temp artifact paths.

    Python's builtin ``hash(str)`` is randomized per process
    (PYTHONHASHSEED), so deriving temp paths from it minted a fresh /tmp
    directory every run — orphaned roundtrip artifacts accumulated and
    cross-run reuse was impossible. md5 keeps the path stable per sf_dir.
    """
    import hashlib

    return hashlib.md5(sf_dir.encode()).hexdigest()[:8]


# ---------------------------------------------------------------------------
# S8/S9: CSV sink + source round-trip (embed.js:106-127 / embed.js:2)
# ---------------------------------------------------------------------------

_CSV_ORACLE = """
SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 4) AS total_price
FROM part GROUP BY p_brand
"""


@register("csv_roundtrip_part", _CSV_ORACLE)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write ``part`` to headered CSV, read it back with an explicit schema,
    aggregate. Matching the direct-SQL oracle proves the round-trip is
    lossless (the reference's csv-writer/csv-parser pair, embed.js:2,106-127).
    """
    p = load_table(spark, sf_dir, "part")
    tmp = os.path.join(
        tempfile.gettempdir(), f"vdbf_csv_{_sf_digest(sf_dir)}"
    )
    p.write.mode("overwrite").option("header", "true").csv(tmp)
    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("header", "true").csv(tmp)
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.round(F.sum("p_retailprice"), 4).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# ORC round-trip (columnar source/sink breadth beyond parquet/csv/json)
# ---------------------------------------------------------------------------

_ORC_ORACLE = """
SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 4) AS total_bal
FROM supplier GROUP BY s_nationkey
"""


@register("orc_roundtrip_supplier", _ORC_ORACLE)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write ``supplier`` to ORC, read it back, aggregate — proves the
    second columnar format round-trips losslessly (ORC scans get the same
    vectorized reader + pushdown treatment as parquet in Spark)."""
    s = load_table(spark, sf_dir, "supplier")
    tmp = os.path.join(
        tempfile.gettempdir(), f"vdbf_orc_{_sf_digest(sf_dir)}"
    )
    s.write.mode("overwrite").orc(tmp)
    back = spark.read.orc(tmp)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n"),
        F.round(F.sum("s_acctbal"), 4).alias("total_bal"),
    )


# ---------------------------------------------------------------------------
# S10: JSON serialize -> parse round-trip (express.json analog)
# ---------------------------------------------------------------------------

_JSON_RT_ORACLE = """
SELECT event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_ids
FROM events GROUP BY event_type
"""


@register("json_roundtrip_events", _JSON_RT_ORACLE)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_json(struct) -> from_json -> aggregate; equality with the direct
    aggregation proves serialize/parse is lossless (S10)."""
    e = load_table(spark, sf_dir, "events")
    js = e.select(
        F.to_json(F.struct("event_id", "event_type")).alias("body")
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    parsed = js.select(F.from_json("body", schema).alias("r")).select("r.*")
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("sum_ids")
    )


# ---------------------------------------------------------------------------
# S6/S7: float32 little-endian binary encode/decode (server.js:194, :86)
# ---------------------------------------------------------------------------

_BINARY_RT_ORACLE = "SELECT count(*) AS n_exact FROM embeddings"


@register("binary_roundtrip_vectors", _BINARY_RT_ORACLE)
def q_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every vector to the reference's on-disk format — little-endian
    float32 bytes (Buffer.from(Float32Array), server.js:194) — decode back
    (server.js:86), and count exact matches; the oracle is the table count,
    so ANY lossy vector fails the hash-compare.
    """
    emb = load_table(spark, sf_dir, "embeddings")

    @F.pandas_udf(T.BinaryType())
    def enc(v: pd.Series) -> pd.Series:
        return v.map(lambda a: np.asarray(a, dtype="<f4").tobytes())

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def dec(b: pd.Series) -> pd.Series:
        return b.map(lambda x: np.frombuffer(x, dtype="<f4"))

    rt = emb.select("vec_id", "embedding", dec(enc(F.col("embedding"))).alias("back"))
    return rt.filter(F.col("embedding") == F.col("back")).agg(
        F.count("*").alias("n_exact")
    )


# ---------------------------------------------------------------------------
# U2 (local default) + F5/F9: extractive RAG answer assembly
# ---------------------------------------------------------------------------

_RAG_ORACLE = """
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
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
), hydrated AS (
    SELECT r.query_id, r.rnk, d.text
    FROM r JOIN documents d ON r.vec_id = d.doc_id
    WHERE r.rnk <= 3 AND d.text IS NOT NULL
)
SELECT query_id,
       string_agg(format('{}. {}', rnk, text), chr(10) ORDER BY rnk) AS context,
       min(CASE WHEN rnk = 1 THEN text END) AS answer
FROM hydrated GROUP BY query_id
"""


@register("rag_answer_extractive", _RAG_ORACLE)
def q_rag_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full /search read path with the deterministic local answerer:
    top-3 context assembled as the numbered prompt block ("1. <c>\\n2. <c>"
    — server.js:251-254) and the extractive answer = top-1 context (the
    hermetic U2 default replacing the gpt-4o call, embed.js:160-180).
    """
    from vectordbfaiss_spark.operators.topk import score_topk_vectorized

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    winners = score_topk_vectorized(queries, emb, k=3).withColumnRenamed(
        "rank", "rnk"
    )
    # hydration broadcasts the WINNERS (|queries| x k rows, contract-
    # bounded) into the corpus-grain documents scan — never the reverse:
    # broadcasting doc text is corpus-sized and cannot survive 100 TB
    hydrated = (
        docs.select(F.col("doc_id").alias("vec_id"), "text")
        .join(F.broadcast(winners), "vec_id")
        .filter(F.col("text").isNotNull())
    )
    numbered = F.transform(
        F.array_sort(F.collect_list(F.struct("rnk", "text"))),
        lambda s: F.format_string("%d. %s", s["rnk"], s["text"]),
    )
    return hydrated.groupBy("query_id").agg(
        F.array_join(numbered, "\n").alias("context"),
        F.min(F.when(F.col("rnk") == 1, F.col("text"))).alias("answer"),
    )


# ---------------------------------------------------------------------------
# IVF ANN search (rows-only: KMeans centroids are not SQL-expressible)
# ---------------------------------------------------------------------------

@register("ivf_topk_search", rows_only=True)
def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (plans.ivf): KMeans routing + cluster-pruned exact
    scoring. Rows-only check (ANN correctness is recall-vs-exact, asserted
    in tests/test_ivf.py; SURVEY §7 risk (e))."""
    from vectordbfaiss_spark.plans.ivf import assign_clusters, ivf_search

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = assign_clusters(emb, n_clusters=8, seed=42, corpus_key=artifacts.corpus_key(sf_dir))
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_search(assigned, queries, centroids, k=5, nprobe=4)


# ---------------------------------------------------------------------------
# Multimodal decode metadata — fake decode is md5 arithmetic, so the oracle
# can replicate it in SQL (plumbing: operators/multimodal.py mapInPandas)
# ---------------------------------------------------------------------------

_HEXPAIR = "(strpos('0123456789abcdef', substr(h, {a}, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, {b}, 1)) - 1)"

_MM_ORACLE = f"""
WITH m AS (
  -- DuckDB md5 takes VARCHAR only; its strings are UTF-8, so md5(text)
  -- equals the Python md5 of the UTF-8 payload bytes.
  SELECT doc_id, md5(text) AS h FROM documents
)
SELECT doc_id,
       CAST(64 + ({_HEXPAIR.format(a=1, b=2)}) % 192 AS INTEGER) AS width,
       CAST(64 + ({_HEXPAIR.format(a=3, b=4)}) % 192 AS INTEGER) AS height,
       CAST(1 + ({_HEXPAIR.format(a=5, b=6)}) % 4 AS INTEGER) AS channels,
       'fake' AS format
FROM m
"""


@register("multimodal_decode_meta", _MM_ORACLE)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> typed image metadata via the mapInPandas decode
    stage (deterministic fake decode; real Spark-side plumbing). The oracle
    reproduces the fake's md5 arithmetic in SQL, so the whole
    binary-column -> Arrow batch -> typed struct path is hash-checked."""
    from vectordbfaiss_spark.operators.multimodal import (
        attach_binary_payload,
        decode_image_metadata,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_image_metadata(attach_binary_payload(docs))


_FRAMES_ORACLE = """
WITH m AS (
  SELECT doc_id, length(text) AS blen,
         greatest(1, length(text) // 4) AS step
  FROM documents
)
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(greatest(0, least(step, blen - i * step)) AS BIGINT) AS frame_len
FROM m, unnest(generate_series(0, 3)) AS t(i)
"""


@register("multimodal_frame_sample", _FRAMES_ORACLE)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (operators/multimodal.py
    mapInPandas): 4 evenly-spaced byte-range "frames" per document; the
    oracle recomputes each frame's length from pure arithmetic on the
    payload size, validating the batch iteration + slicing plumbing.
    (Payload is the UTF-8 text, ASCII in this corpus, so byte length ==
    char length on both engines.)"""
    from vectordbfaiss_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_binary_payload(docs), n_frames=4)
    return frames.select(
        "doc_id", "frame_idx", F.length("frame").cast("long").alias("frame_len")
    )


@register("ivf_disk_search", rows_only=True)
def q_ivf_disk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete north-star path, disk-backed: build the IVF index as a
    cluster-PARTITIONED parquet table (plans.ivf.build_ivf_index), read it
    back, and search — the nprobe routing join's cluster_id predicate is
    now a real PARTITION filter, so Catalyst skips the unprobed clusters'
    files on disk (the at-scale read path; in-memory assign_clusters in
    `ivf_topk_search` is the ad-hoc variant). Rows-only: k-means is not
    SQL-expressible; recall is asserted in tests/test_ivf.py."""
    from vectordbfaiss_spark.plans.ivf import ivf_search
    from vectordbfaiss_spark.queries.vector_search import registry_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    out, centroids = registry_ivf_index(emb, sf_dir)
    index = spark.read.parquet(out)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_search(index, queries, centroids, k=5, nprobe=4)


_RESIZE_ORACLE = f"""
WITH m AS (
  SELECT doc_id, length(text) AS blen, md5(text) AS h FROM documents
), dims AS (
  SELECT doc_id, blen,
         64 + ({_HEXPAIR.format(a=1, b=2)}) % 192 AS w,
         64 + ({_HEXPAIR.format(a=3, b=4)}) % 192 AS h2
  FROM m
)
SELECT doc_id,
       CAST(32 AS INTEGER) AS width,
       CAST(32 AS INTEGER) AS height,
       CAST(greatest(1, (blen * 1024) // (w * h2)) AS BIGINT) AS n_bytes
FROM dims
"""


@register("multimodal_resize", _RESIZE_ORACLE)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage over binary payloads (operators/multimodal.py
    mapInPandas): payloads shrink proportionally to the 32x32 target pixel
    count. The oracle recomputes the resized BYTE LENGTH from the fake
    decode's md5 dims, so the actual binary slicing in the kernel is what
    gets checked (n_bytes = length of the produced bytes, not arithmetic).
    (ASCII corpus: byte length == char length on both engines.)"""
    from vectordbfaiss_spark.operators.multimodal import (
        attach_binary_payload,
        resize_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_images(attach_binary_payload(docs), target_w=32, target_h=32)
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.length("resized").cast("long").alias("n_bytes"),
    )


def _canonical_block(spark: SparkSession, sf_dir: str):
    """The corpus, its canonical ``vec_id < 50`` query block, and the
    self-inclusive exact top-10 of that block (the ``rank <= 10`` view
    of the published truth, ``embedding_analysis.exact_top11``)."""
    from vectordbfaiss_spark.queries.embedding_analysis import _query_block, exact_top11

    emb = load_table(spark, sf_dir, "embeddings")
    exact = exact_top11(spark, sf_dir, emb).filter(F.col("rank") <= 10)
    return emb, _query_block(emb), exact.select("query_id", "vec_id")


@register("ivf_recall_report", rows_only=True)
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a first-class query: recall@10 of IVF (nprobe=4 of 8)
    against the exact top-10, computed in one plan. Rows-only (k-means is
    not SQL-expressible) but self-validating: the exact side is the
    published truth (``embedding_analysis.exact_top11``), the SURVEY §7(e)
    way to check ANN operators."""
    from vectordbfaiss_spark.plans.ivf import assign_clusters, ivf_search

    emb, queries, exact = _canonical_block(spark, sf_dir)
    assigned, centroids = assign_clusters(emb, n_clusters=8, seed=42, corpus_key=artifacts.corpus_key(sf_dir))
    approx = ivf_search(assigned, queries, centroids, k=10, nprobe=4).select(
        "query_id", "vec_id"
    )
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi")
    return (
        hits.agg(F.count("*").alias("n_hits"))
        .crossJoin(exact.agg(F.count("*").alias("n_exact")))
        .select(
            "n_hits",
            "n_exact",
            F.round(F.col("n_hits") / F.col("n_exact"), 4).alias("recall_at_10"),
        )
    )


_IVF_RECALL_BOUND_ORACLE = """
SELECT vec_id AS query_id, TRUE AS self_found, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 50
"""


@register("ivf_recall_bound", _IVF_RECALL_BOUND_ORACLE)
def q_ivf_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked companion to ivf_recall_report: per-query BOOLEAN
    bounds the driver can verify (the sketch error-bound pattern — the
    oracle asserts the bound holds, Spark computes whether it does).

    Two pins per query at nprobe=4 of 8: (a) ``self_found`` — a query
    drawn from the corpus must retrieve its own vector (its top-1 probe IS
    its assigned cluster, so this is structurally guaranteed at any
    nprobe >= 1; a routing bug breaks it instantly); (b) ``recall_ok`` —
    recall@10 vs the exact truth >= 0.2, far below the observed
    floor (0.4 at sf0.001, 0.5 at sf0.01; means ~0.75-0.8) so it only
    fires on genuine routing/assignment regressions, not fixture noise."""
    from vectordbfaiss_spark.plans.ivf import assign_clusters, ivf_search
    from vectordbfaiss_spark.queries.embedding_analysis import _recall_bound

    emb, queries, exact = _canonical_block(spark, sf_dir)
    assigned, centroids = assign_clusters(
        emb, n_clusters=8, seed=42,
        corpus_key=artifacts.corpus_key(sf_dir),
    )
    approx = ivf_search(assigned, queries, centroids, k=10, nprobe=4)
    return _recall_bound(queries, exact, approx, approx, min_hits=2)


_AUDIO_ORACLE = """
WITH d AS (
  SELECT doc_id, text, CAST(length(text) // 2 AS BIGINT) AS n_samples
  FROM documents
), w AS (
  SELECT doc_id, text, n_samples, unnest(range(0, n_samples, 128)) AS start
  FROM d
)
SELECT doc_id,
       CAST(start // 128 AS BIGINT) AS window_idx,
       CAST(least(256, n_samples - start) AS BIGINT) AS win_samples,
       md5(substr(text, CAST(start * 2 + 1 AS INT),
                  CAST(least(256, n_samples - start) * 2 AS INT))) AS win_md5
FROM w
"""


@register("multimodal_audio_windows", _AUDIO_ORACLE)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio (PCM16) windowing over binary payloads
    (operators/multimodal.py::window_audio): 256-sample frames every 128
    samples, partial tail kept — STFT framing shape. The oracle recomputes
    every window's md5 from substr arithmetic on the (ASCII) payload, so
    the byte slicing is verified content-exactly, not just by length."""
    from vectordbfaiss_spark.operators.multimodal import (
        attach_binary_payload,
        window_audio,
    )

    docs = load_table(spark, sf_dir, "documents")
    return window_audio(attach_binary_payload(docs))


# Trained PQ codebooks per corpus version (the memoization rationale of
# plans.ivf._CENTROID_CACHE), keyed by content so a corpus regenerated in
# place retrains instead of serving the old codebooks.
_PQ_BOOKS: dict[str, object] = {}


def pq_codebooks(emb: DataFrame, sf_dir: str):
    """The registry's PQ codebooks (m=16, k_codes=32, seed 42) for the
    corpus at ``sf_dir``, trained once per ``artifacts.corpus_key``."""
    from vectordbfaiss_spark.plans import pq

    key = artifacts.corpus_key(sf_dir)
    if key not in _PQ_BOOKS:
        _PQ_BOOKS[key] = pq.train_pq_codebooks(emb, m=16, k_codes=32, seed=42)
    return _PQ_BOOKS[key]


@register("pq_topk_search", rows_only=True)
def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN top-k (plans.pq): per-subspace codebooks ->
    m-byte codes (32x smaller than raw float32, the reference's storage
    format at server.js:194) -> ADC lookup-table scoring with batch-local
    pruning. Rows-only: ANN correctness is recall-vs-exact, asserted in
    tests/test_pq.py (SURVEY §7 risk (e))."""
    from vectordbfaiss_spark.plans.pq import pq_encode, pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, sf_dir)
    encoded = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_search(encoded, queries, books, k=10)


@register("pq_rerank_topk", rows_only=True)
def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + exact re-rank (plans.pq.pq_search_rerank): ADC shortlist of
    refine*k candidates per query, then full-precision re-scoring of ONLY
    the shortlist (broadcast of Q*r*k ids — no corpus shuffle). The FAISS
    IndexRefineFlat refinement step that closes most of the recall gap to
    the reference's flat scan (server.js:53-60) at r*k exact scores per
    query. Rows-only; recall pinned in tests/test_pq.py."""
    from vectordbfaiss_spark.plans.pq import pq_encode, pq_search_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, sf_dir)
    encoded = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_search_rerank(encoded, queries, books, k=10, refine=8)


@register("ivfpq_topk_search", rows_only=True)
def q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed (plans.pq.ivfpq_search): centroid routing prunes
    the ROW count (nprobe/k_clusters of the corpus), PQ codes prune the
    BYTES per row (m bytes vs 4d) — the FAISS IVFPQ index re-expressed as
    layout + broadcast + ADC kernel. Rows-only; recall in tests/test_pq.py."""
    from vectordbfaiss_spark.plans.ivf import assign_clusters
    from vectordbfaiss_spark.plans.pq import ivfpq_search, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, sf_dir)
    assigned, centroids = assign_clusters(
        emb, n_clusters=8, seed=42, corpus_key=artifacts.corpus_key(sf_dir)
    )
    encoded = pq_encode(assigned, books)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivfpq_search(encoded, queries, centroids, books, k=10, nprobe=4)


_PQ_RECALL_BOUND_ORACLE = """
SELECT vec_id AS query_id, TRUE AS self_found, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 50
"""


@register("pq_recall_bound", _PQ_RECALL_BOUND_ORACLE)
def q_pq_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked companion to the rows-only PQ family (the
    ivf_recall_bound pattern): per-query BOOLEAN bounds the driver can
    verify, so PQ quality stops being pytest-only.

    Two pins per corpus-drawn query against pq_search_rerank (m=16,
    k_codes=32, refine=8): (a) ``self_found`` — the query's own vector
    must survive the ADC shortlist and win exact re-rank (its exact
    cosine is 1.0, so this only fails if quantization drops it from the
    top refine*k=80 ADC candidates — a codebook/LUT bug, not noise;
    observed 50/50 at sf0.001/0.01/0.1); (b) ``recall_ok`` — recall@10
    vs the exact truth >= 0.5, far under the observed floor
    (min hits 7/10, means 9.2-9.9 across SFs) so it only fires on real
    encode/ADC regressions. Reference bar: the flat exact scan at
    server.js:53-60."""
    from vectordbfaiss_spark.plans.pq import pq_encode, pq_search_rerank
    from vectordbfaiss_spark.queries.embedding_analysis import _recall_bound

    emb, queries, exact = _canonical_block(spark, sf_dir)
    books = pq_codebooks(emb, sf_dir)
    approx = pq_search_rerank(pq_encode(emb, books), queries, books, k=10, refine=8)
    return _recall_bound(queries, exact, approx, approx, min_hits=5)


@register("ivfpq_recall_bound", _PQ_RECALL_BOUND_ORACLE)
def q_ivfpq_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked bound for the composed IVF+PQ path (routing prunes
    rows, codes prune bytes — both error sources in one plan).

    Pins at nprobe=4 of 8, m=16, k_codes=32: (a) ``self_found`` — a
    corpus query's own cluster is structurally its top probe AND its own
    ADC score must win top-10 within the probed subset (observed 50/50 at
    all three SFs); (b) ``recall_ok`` — recall@10 vs exact >= 0.1
    (observed min 2/10, means 4.4-5.5: IVFPQ compounds routing loss with
    quantization loss, so the floor sits under the IVF-only bound's).
    The floor fires on genuine routing/codebook regressions, not fixture
    noise."""
    from vectordbfaiss_spark.plans.ivf import assign_clusters
    from vectordbfaiss_spark.plans.pq import ivfpq_search, pq_encode
    from vectordbfaiss_spark.queries.embedding_analysis import _recall_bound

    emb, queries, exact = _canonical_block(spark, sf_dir)
    books = pq_codebooks(emb, sf_dir)
    assigned, centroids = assign_clusters(
        emb, n_clusters=8, seed=42,
        corpus_key=artifacts.corpus_key(sf_dir),
    )
    approx = ivfpq_search(
        pq_encode(assigned, books), queries, centroids, books, k=10, nprobe=4
    )
    return _recall_bound(queries, exact, approx, approx, min_hits=1)


_SQLITE_RT_ORACLE = """
WITH first_per_text AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
)
SELECT md5(f.text) AS content_md5,
       CAST(len(e.embedding) AS BIGINT) AS vec_len,
       round(CAST(e.embedding[1] AS DOUBLE), 6) AS v0
FROM first_per_text f JOIN embeddings e ON f.doc_id = e.vec_id
WHERE f.rn = 1
"""


@register("sqlite_roundtrip_docs", _SQLITE_RT_ORACLE)
def q_sqlite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-storage-format roundtrip: documents+embeddings ->
    vectors.db via the sqlite_documents Python DataSource (float32-LE
    blobs, INSERT OR IGNORE like server.js:194,198) -> partitioned read
    back -> per-row checksums. Ids are autoincrement-assigned, so the
    contract is content-addressed: md5 of content plus vector shape and
    first component. Duplicate texts are collapsed to the min-doc_id row
    FIRST (deterministically), matching the UNIQUE-keeps-first semantics
    without depending on insert order. The write coalesces to one task —
    SQLite serializes writers; this sink is the export-back-to-reference
    escape hatch, not a scale sink (see sources/sqlite_source.py)."""
    import os
    import tempfile

    from pyspark.sql import Window as W2

    from vectordbfaiss_spark.sources.sqlite_source import SQLiteDocumentsDataSource

    spark.dataSource.register(SQLiteDocumentsDataSource)
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    first = (
        docs.withColumn(
            "rn", F.row_number().over(W2.partitionBy("text").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    rows = first.join(emb, first.doc_id == emb.vec_id).select(
        F.lit(None).cast("long").alias("id"),
        F.col("text").alias("content"),
        F.col("embedding").alias("vector"),
    )
    db = os.path.join(
        tempfile.gettempdir(), f"vdbf_rt_{_sf_digest(sf_dir)}.db"
    )
    if os.path.exists(db):
        os.remove(db)
    rows.coalesce(1).write.format("sqlite_documents").option("path", db).mode(
        "append"
    ).save()
    back = (
        spark.read.format("sqlite_documents")
        .option("path", db)
        .option("numPartitions", "4")
        .load()
    )
    return back.select(
        F.md5("content").alias("content_md5"),
        F.size("vector").cast("long").alias("vec_len"),
        F.round(F.element_at("vector", 1).cast("double"), 6).alias("v0"),
    )


_SNAPSHOT_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id < 200
GROUP BY lang
"""


@register("snapshot_pinned_read_docs", _SNAPSHOT_ORACLE)
def q_snapshot_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset versioning end-to-end (sources/snapshots.py): publish v1 =
    docs under id 200, publish v2 = the full corpus, then read PINNED
    v1 — the oracle sees only the v1 predicate, so the hash-match proves
    the pin still resolves bit-identically after the table moved on.
    The repro guarantee a training pipeline needs ("model X trained on
    corpus v1") with plain parquet + an atomic pointer file."""
    import os
    import shutil
    import tempfile

    from vectordbfaiss_spark.sources.snapshots import (
        snapshot_read,
        snapshot_write,
    )

    docs = load_table(spark, sf_dir, "documents")
    table = os.path.join(
        tempfile.gettempdir(), f"vdbf_snap_{_sf_digest(sf_dir)}"
    )
    if os.path.exists(table):
        shutil.rmtree(table)
    snapshot_write(docs.filter(F.col("doc_id") < 200), table)
    snapshot_write(docs, table)  # the table moves on...
    pinned = snapshot_read(spark, table, version=1)  # ...the pin does not
    return pinned.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# MERGE INTO (CDC upsert+delete) over a snapshot table
# ---------------------------------------------------------------------------

_MERGE_ORACLE = """
WITH keep AS (
  SELECT * FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 17 <> 0
), upd AS (
  SELECT doc_id, 'UPDATED ' || substr(text, 1, 40) AS text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0 AND doc_id % 17 <> 0
), ins AS (
  SELECT doc_id + 1000000 AS doc_id,
         'INSERTED doc ' || CAST(doc_id AS VARCHAR) AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 25 = 0
), merged AS (
  SELECT * FROM keep UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins
)
SELECT doc_id, md5(text) AS text_md5, lang FROM merged
"""


@register("merge_upsert_docs", _MERGE_ORACLE)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE INTO semantics end-to-end (operators/merge.py): publish
    the corpus as snapshot v1, apply one CDC batch — updates (doc_id%10),
    deletes (doc_id%17, delete-wins on overlap), inserts (shifted ids) —
    as atomic v2, read the current version back. The oracle restates the
    merge result declaratively, so the hash-match proves matched-update /
    matched-delete / unmatched-insert / untouched-keep all landed, through
    the actual parquet write + snapshot pointer swap."""
    import os
    import shutil
    import tempfile

    from vectordbfaiss_spark.operators.merge import merge_upsert
    from vectordbfaiss_spark.sources.snapshots import snapshot_read, snapshot_write

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    table = os.path.join(
        tempfile.gettempdir(), f"vdbf_merge_{_sf_digest(sf_dir)}"
    )
    if os.path.exists(table):
        shutil.rmtree(table)
    snapshot_write(docs, table)
    upd = (
        docs.filter((did % 10 == 0) & (did % 17 != 0))
        .withColumn("text", F.concat(F.lit("UPDATED "), F.substring("text", 1, 40)))
        .withColumn("_delete", F.lit(False))
    )
    dele = docs.filter(did % 17 == 0).withColumn("_delete", F.lit(True))
    ins = docs.filter(did % 25 == 0).select(
        (did + 1000000).alias("doc_id"),
        F.concat(F.lit("INSERTED doc "), did.cast("string")).alias("text"),
        "lang",
        "source",
        "n_chars",
        F.lit(False).alias("_delete"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    merge_upsert(spark, table, changes, key_cols=["doc_id"])
    merged = snapshot_read(spark, table)
    return merged.select("doc_id", F.md5("text").alias("text_md5"), "lang")


# ---------------------------------------------------------------------------
# Z-order layout audit
# ---------------------------------------------------------------------------

_Z_BITS = 8
_Z_BUCKETS = 16


def _interleave_bits(qa, qb, bits: int):
    """Morton/Z-value: interleave ``bits`` bits of two quantized longs —
    pure column arithmetic (shifts + masks), fully codegen'd."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        bit_a = F.shiftright(qa, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(qb, i).bitwiseAND(F.lit(1))
        z = z + F.shiftleft(bit_a, 2 * i) + F.shiftleft(bit_b, 2 * i + 1)
    return z


def _sql_interleave(qa: str, qb: str, bits: int = _Z_BITS) -> str:
    """DuckDB replica of :func:`_interleave_bits` — generated from the
    same Python loop so the bit layout cannot drift."""
    terms = []
    for i in range(bits):
        terms.append(f"((({qa} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qb} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZQ_A = "CAST(least(floor((CAST(o_custkey AS DOUBLE) - lo_a) / (hi_a - lo_a) * 255), 255) AS BIGINT)"
_ZQ_B = "CAST(least(floor((o_totalprice - lo_b) / (hi_b - lo_b) * 255), 255) AS BIGINT)"

_ZORDER_ORACLE = f"""
WITH ext AS (
  SELECT CAST(min(o_custkey) AS DOUBLE) AS lo_a, CAST(max(o_custkey) AS DOUBLE) AS hi_a,
         min(o_totalprice) AS lo_b, max(o_totalprice) AS hi_b
  FROM orders
), z AS (
  SELECT o_custkey, o_totalprice,
         {_sql_interleave(_ZQ_A, _ZQ_B)} AS zval,
         lo_a, hi_a, lo_b, hi_b
  FROM orders CROSS JOIN ext
), zx AS (
  SELECT min(zval) AS lo_z, max(zval) AS hi_z FROM z
), b AS (
  SELECT o_custkey, o_totalprice, lo_a, hi_a, lo_b, hi_b,
         CAST(floor((zval - lo_z) * {_Z_BUCKETS}.0 / (hi_z - lo_z + 1)) AS BIGINT) AS bucket
  FROM z CROSS JOIN zx
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(o_custkey) AS BIGINT) AS min_cust,
       CAST(max(o_custkey) AS BIGINT) AS max_cust,
       round(min(o_totalprice), 4) AS min_price,
       round(max(o_totalprice), 4) AS max_price,
       (min(o_custkey) <= any_value(lo_a) + (any_value(hi_a) - any_value(lo_a)) * 0.2
        AND max(o_custkey) >= any_value(lo_a) + (any_value(hi_a) - any_value(lo_a)) * 0.1)
         AS cust_probe_hit,
       (min(o_totalprice) <= any_value(lo_b) + (any_value(hi_b) - any_value(lo_b)) * 0.2
        AND max(o_totalprice) >= any_value(lo_b) + (any_value(hi_b) - any_value(lo_b)) * 0.1)
         AS price_probe_hit
FROM b
GROUP BY bucket
"""


@register("zorder_layout_audit", _ZORDER_ORACLE)
def q_zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering as an auditable computation: quantize
    (o_custkey, o_totalprice) to an 8-bit grid, interleave to the Morton
    value (the key a Z-order rewrite — Delta/Iceberg OPTIMIZE ZORDER BY —
    range-partitions files on; the oracle SQL is generated from the same
    loop as :func:`_interleave_bits`), split the z range into 16
    equal-width buckets (= prospective files) and report each bucket's
    min/max zone map plus whether a 10%-wide probe on EITHER dimension
    would have to scan it. The hash-check pins the bit layout; the
    pruning effect itself (few buckets hit per single-dimension probe)
    is asserted in tests/test_maintenance.py. Entirely map + one
    hash-agg; extrema come from two broadcast one-row aggregates, no
    window, no single-partition stage."""
    orders = load_table(spark, sf_dir, "orders")
    ext = orders.agg(
        F.min("o_custkey").cast("double").alias("lo_a"),
        F.max("o_custkey").cast("double").alias("hi_a"),
        F.min("o_totalprice").alias("lo_b"),
        F.max("o_totalprice").alias("hi_b"),
    )
    j = orders.crossJoin(F.broadcast(ext))

    def quant(col, lo, hi):
        return F.least(
            F.floor(
                (F.col(col).cast("double") - F.col(lo))
                / (F.col(hi) - F.col(lo))
                * 255
            ),
            F.lit(255),
        ).cast("long")

    z = j.withColumn(
        "zval",
        _interleave_bits(
            quant("o_custkey", "lo_a", "hi_a"),
            quant("o_totalprice", "lo_b", "hi_b"),
            _Z_BITS,
        ),
    )
    zx = z.agg(F.min("zval").alias("lo_z"), F.max("zval").alias("hi_z"))
    b = z.crossJoin(F.broadcast(zx)).withColumn(
        "bucket",
        F.floor(
            (F.col("zval") - F.col("lo_z"))
            * float(_Z_BUCKETS)
            / (F.col("hi_z") - F.col("lo_z") + 1)
        ).cast("long"),
    )
    probe_a_lo = F.any_value("lo_a") + (F.any_value("hi_a") - F.any_value("lo_a")) * 0.1
    probe_a_hi = F.any_value("lo_a") + (F.any_value("hi_a") - F.any_value("lo_a")) * 0.2
    probe_b_lo = F.any_value("lo_b") + (F.any_value("hi_b") - F.any_value("lo_b")) * 0.1
    probe_b_hi = F.any_value("lo_b") + (F.any_value("hi_b") - F.any_value("lo_b")) * 0.2
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.min("o_custkey").cast("long").alias("min_cust"),
        F.max("o_custkey").cast("long").alias("max_cust"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        (
            (F.min("o_custkey") <= probe_a_hi)
            & (F.max("o_custkey") >= probe_a_lo)
        ).alias("cust_probe_hit"),
        (
            (F.min("o_totalprice") <= probe_b_hi)
            & (F.max("o_totalprice") >= probe_b_lo)
        ).alias("price_probe_hit"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff — what changed between two corpus versions
# ---------------------------------------------------------------------------

_SNAPDIFF_ORACLE = """
WITH v1 AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 300
), v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 20 = 0
              THEN 'EDITED ' || substr(text, 1, 40) ELSE text END AS text
  FROM documents
), j AS (
  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN md5(v1.text) <> md5(v2.text) THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id
FROM j GROUP BY status
"""


@register("snapshot_diff_report", _SNAPDIFF_ORACLE)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus version diff: publish v1 (docs under id 300) and v2 (full
    corpus with every 20th doc edited) as REAL snapshot versions, then
    audit added / removed / changed / unchanged between the two pinned
    reads — the release-notes query every dataset publish needs.

    Scale shape: one full-outer join on the key — the only shape a
    corpus-wide diff can take; both sides are version-pinned parquet so
    the join is shuffle-on-key with content compare via md5 (16 bytes
    per row, not full text, once the comparison column is hashed)."""
    import os
    import shutil
    import tempfile

    from vectordbfaiss_spark.sources.snapshots import snapshot_read, snapshot_write

    docs = load_table(spark, sf_dir, "documents")
    table = os.path.join(
        tempfile.gettempdir(), f"vdbf_diff_{_sf_digest(sf_dir)}"
    )
    if os.path.exists(table):
        shutil.rmtree(table)
    snapshot_write(docs.filter(F.col("doc_id") < 300), table)
    v2_df = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(F.lit("EDITED "), F.substring("text", 1, 40)),
        ).otherwise(F.col("text")),
    )
    snapshot_write(v2_df, table)
    v1 = snapshot_read(spark, table, version=1).select(
        F.col("doc_id").alias("id1"), F.md5("text").alias("h1")
    )
    v2 = snapshot_read(spark, table, version=2).select(
        F.col("doc_id").alias("id2"), F.md5("text").alias("h2")
    )
    j = v1.join(v2, v1.id1 == v2.id2, "full_outer").select(
        F.coalesce("id1", "id2").alias("doc_id"),
        F.when(F.col("id1").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return j.groupBy("status").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
    )


_TAR_RT_ORACLE = """
SELECT doc_id, lang, source,
       md5(text) AS content_md5,
       CAST(length(text) AS BIGINT) AS n_chars_rt
FROM documents
WHERE doc_id < 300 AND text IS NOT NULL
"""


@register("webdataset_tar_roundtrip", _TAR_RT_ORACLE)
def q_webdataset_tar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-layout roundtrip: documents -> tar shards ({key}.txt +
    {key}.json samples, shard-per-task, manifest on commit) -> shard-
    parallel read back -> per-row checksums proving losslessness.

    The tar-shard layout is how large multimodal training corpora ship
    (sequential-read shards a dataloader streams); sources/tar_shards.py
    documents the scale shape (N tasks -> N independent shards, atomic
    publish, manifest-gated visibility). The roundtrip here is bounded to
    300 docs — the contract being proven is the FORMAT (bytes in == bytes
    out, metadata intact), not throughput; the write is 4 tasks -> 4
    shards so the shard-per-task path (not a coalesce(1) special case) is
    what's exercised.
    """
    import os
    import shutil
    import tempfile

    from vectordbfaiss_spark.sources.tar_shards import TarShardsDataSource

    spark.dataSource.register(TarShardsDataSource)
    # NULL text is excluded on BOTH sides: tar members are raw bytes with
    # no null/empty distinction (the writer would coerce NULL -> b""), so
    # a NULL-text doc cannot roundtrip losslessly by construction — the
    # format contract is over present payloads
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & F.col("text").isNotNull()
    )
    out = os.path.join(
        tempfile.gettempdir(), f"vdbf_tar_{_sf_digest(sf_dir)}"
    )
    shutil.rmtree(out, ignore_errors=True)
    (
        docs.select("doc_id", "text", "lang", "source")
        .repartition(4)
        .write.format("tar_shards")
        .option("path", out)
        .mode("append")
        .save()
    )
    back = spark.read.format("tar_shards").option("path", out).load()
    return back.select(
        "doc_id",
        "lang",
        "source",
        F.md5("text").alias("content_md5"),
        F.length("text").cast("long").alias("n_chars_rt"),
    )


# ---------------------------------------------------------------------------
# Schema evolution: mergeSchema read over two table generations
# ---------------------------------------------------------------------------

_SCHEMA_EVO_ORACLE = """
SELECT CAST(1 + o_orderkey % 2 AS INTEGER) AS gen,
       count(*) AS n,
       count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END) AS n_status,
       round(sum(o_totalprice), 4) AS total_price
FROM orders
GROUP BY 1
"""


@register("schema_evolution_read", _SCHEMA_EVO_ORACLE)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet GENERATIONS of the same table —
    gen=1 written before a column existed (o_orderkey, o_custkey,
    o_totalprice), gen=2 with the added ``o_orderstatus`` — read back as
    ONE table via partition discovery + ``mergeSchema``. Old files surface
    the new column as NULL, which the per-generation non-null count pins.

    This is the 100 TB reality of long-lived tables: columns get added over
    years of writes and a scan must union schemas without rewriting old
    data. ``mergeSchema`` reconciles footers at planning time (per-file
    footer reads, no data pass); the per-generation aggregate still gets
    normal column pruning — only the three projected columns are read.
    The oracle replays both generations from the source table.
    """
    o = load_table(spark, sf_dir, "orders")
    tmp = os.path.join(
        tempfile.gettempdir(), f"vdbf_schemaevo_{_sf_digest(sf_dir)}"
    )
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    gen1.write.mode("overwrite").parquet(os.path.join(tmp, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(tmp, "gen=2"))
    back = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", tmp)
        .parquet(os.path.join(tmp, "gen=1"), os.path.join(tmp, "gen=2"))
    )
    return back.groupBy(F.col("gen").cast("int").alias("gen")).agg(
        F.count("*").alias("n"),
        F.count("o_orderstatus").alias("n_status"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# IVF delta append (FAISS index.add(): new batch into a trained index)
# ---------------------------------------------------------------------------

# version stamp for the append-batch derivation recipe (mod-13 filter,
# reverse, +200000 offset, planted routed-query row): part of every
# delta/compact key so artifact reuse tracks code, not just fixtures
_DELTA_RECIPE = "rev13+200000planted-v1"


def _ivf_append_oracle() -> str:
    from vectordbfaiss_spark.queries.vector_search import _ROUTED_LITS

    return f"""
WITH qr AS (SELECT [{_ROUTED_LITS}]::REAL[]::DOUBLE[] AS q),
nq AS (
  SELECT list_transform(q, x -> CAST(x / sqrt(list_dot_product(q, q)) AS REAL))::DOUBLE[] AS qv
  FROM qr
),
corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 200000, list_reverse(embedding::DOUBLE[])
  FROM embeddings WHERE vec_id % 13 = 2
  UNION ALL
  SELECT 999999, [{_ROUTED_LITS}]::REAL[]::DOUBLE[]
),
nv AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(x / sqrt(list_dot_product(e, e)) AS REAL))::DOUBLE[] AS v
  FROM corpus
),
s AS (SELECT vec_id, round(list_dot_product(nq.qv, nv.v), 6) AS score FROM nv, nq)
SELECT vec_id, score,
       vec_id >= 200000 AS from_delta,
       row_number() OVER (ORDER BY score DESC, vec_id) AS rnk
FROM s ORDER BY score DESC, vec_id LIMIT 20
"""


@register("ivf_append_search", _ivf_append_oracle())
def q_ivf_append_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index LIFECYCLE: a new ingest batch appended to the PUBLISHED IVF
    index without retraining (plans.ivf.ivf_index_append — FAISS
    ``index.add()``), then one search over base + delta. The delta batch
    (vec_id % 13 == 2, vectors REVERSED so they are genuinely new
    directions, ids offset +200000) is assigned to the frozen centroids
    and written as a cluster-partitioned delta segment; the base artifact
    stays immutable. The search unions the two segment sets — the same
    cluster_id routing predicate partition-prunes BOTH — so serving cost
    is unchanged and append cost is |delta|-proportional. Full probe makes
    the answer exact: the oracle replays base ∪ reversed-delta in SQL, so
    a missing/mis-assigned delta row is a hash mismatch (delta rows DO
    surface in the checked top-20). Completes the index lifecycle:
    build (`ivf_disk_search`) → append (here) → delete
    (`ivf_tombstone_search`) → rebuild-on-drift (`embedding_drift_report`).
    """
    from vectordbfaiss_spark.plans.ivf import ivf_index_append, ivf_search
    from vectordbfaiss_spark.queries.vector_search import (
        _routed_query_vec,
        registry_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    fp = artifacts.corpus_key(sf_dir)
    out, centroids = registry_ivf_index(emb, sf_dir)
    delta_out = f"{out}_delta"
    delta = emb.filter(F.col("vec_id") % 13 == 2).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
        "label",
    ).unionByName(
        # a PLANTED row equal to the query vector: rank-1 by construction
        # at every SF, so the append is always observably load-bearing
        spark.createDataFrame(
            [(999999, _routed_query_vec(), -1)],
            "vec_id long, embedding array<float>, label int",
        )
    )
    # build-once: the segment key fingerprints the source corpus AND the
    # derivation recipe — a recipe edit (modulo, offset, planted vector)
    # must republish even when the fixtures are unchanged, or the stored
    # segment silently diverges from the oracle's replay
    ivf_index_append(delta, centroids, delta_out, delta_key=f"{fp}|{_DELTA_RECIPE}")
    index = spark.read.parquet(out).unionByName(
        spark.read.parquet(delta_out), allowMissingColumns=False
    )
    queries = spark.createDataFrame(
        [(0, _routed_query_vec())], "query_id long, query_vec array<float>"
    )
    hits = ivf_search(index, queries, centroids, k=20, nprobe=8)
    return hits.select(
        "vec_id",
        "score",
        (F.col("vec_id") >= 200000).alias("from_delta"),
        F.col("rank").cast("long").alias("rnk"),
    )


@register("ivf_compact_search", _ivf_append_oracle())
def q_ivf_compact_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index COMPACTION (plans.ivf.ivf_compact — FAISS ``merge_from`` /
    layout ``OPTIMIZE``): fold the delta segment of `ivf_append_search`
    into a fresh single-segment base, then search the compacted artifact.
    The oracle is the SAME SQL as the append query — compaction must be
    content-neutral, and hash-equality against the base∪delta replay
    proves no row was lost, duplicated, or re-assigned in the fold. At
    scale this is the maintenance job that caps per-cluster file counts
    (delta segments accumulate one file set per ingest batch; the fold
    rewrites each cluster in one task) — serving cost returns to one
    file set per cluster and tombstones become physical at the same
    moment. Build-once under (corpus fingerprint)-derived keys end to end.
    """
    from vectordbfaiss_spark.plans.ivf import (
        ivf_compact,
        ivf_index_append,
        ivf_search,
    )
    from vectordbfaiss_spark.queries.vector_search import (
        _routed_query_vec,
        registry_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    fp = artifacts.corpus_key(sf_dir)
    out, centroids = registry_ivf_index(emb, sf_dir)
    delta_out = f"{out}_delta"
    compact_out = f"{out}_compacted"
    delta = emb.filter(F.col("vec_id") % 13 == 2).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
        "label",
    ).unionByName(
        spark.createDataFrame(
            [(999999, _routed_query_vec(), -1)],
            "vec_id long, embedding array<float>, label int",
        )
    )
    ivf_index_append(delta, centroids, delta_out, delta_key=f"{fp}|{_DELTA_RECIPE}")
    ivf_compact(
        spark, out, [delta_out], compact_out, compact_key=f"{fp}|{_DELTA_RECIPE}"
    )
    index = spark.read.parquet(compact_out)
    queries = spark.createDataFrame(
        [(0, _routed_query_vec())], "query_id long, query_vec array<float>"
    )
    hits = ivf_search(index, queries, centroids, k=20, nprobe=8)
    return hits.select(
        "vec_id",
        "score",
        (F.col("vec_id") >= 200000).alias("from_delta"),
        F.col("rank").cast("long").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# Snapshot retention: vacuum audit (GC completes the versioning lifecycle)
# ---------------------------------------------------------------------------

_VACUUM_ORACLE = """
SELECT 1 AS version, 'removed' AS status, CAST(NULL AS BIGINT) AS n_docs
UNION ALL
SELECT 2, 'removed', NULL
UNION ALL
SELECT 3, 'kept',
       (SELECT count(*) FROM documents WHERE doc_id < 300)
UNION ALL
SELECT 4, 'current', (SELECT count(*) FROM documents)
"""


@register("snapshot_vacuum_audit", _VACUUM_ORACLE)
def q_snapshot_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention GC end-to-end (sources/snapshots.py::snapshot_vacuum):
    publish four corpus versions, vacuum keep_last=2, and audit the
    result — removed versions are gone, survivors are still readable
    BIT-FOR-BIT (their row counts must match the oracle's replay of each
    version's defining predicate; a vacuum that touched surviving data
    breaks the hash). Completes the snapshot lifecycle already covered
    by publish (`snapshot_pinned_read`), diff (`snapshot_diff_report`),
    MERGE (`merge_upsert_docs`), and rollback (unit-tested): versions
    stay addressable until retention explicitly reclaims them, and GC
    never races readers of retained versions (deletion is per-version
    directories; the current pointer is excluded by construction).
    """
    import shutil

    from vectordbfaiss_spark.sources.snapshots import (
        current_version,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
        _versions,
    )

    docs = load_table(spark, sf_dir, "documents")
    table = os.path.join(
        tempfile.gettempdir(), f"vdbf_vac_{_sf_digest(sf_dir)}"
    )
    if os.path.exists(table):
        shutil.rmtree(table)
    for bound in (100, 200, 300):
        snapshot_write(docs.filter(F.col("doc_id") < bound), table)
    snapshot_write(docs, table)

    removed = snapshot_vacuum(table, keep_last=2)
    kept = _versions(table)
    cur = current_version(table)

    rows = [(v, "removed", None) for v in removed]
    for v in kept:
        n = snapshot_read(spark, table, version=v).count()
        rows.append((v, "current" if v == cur else "kept", n))
    return spark.createDataFrame(
        sorted(rows), "version int, status string, n_docs long"
    )
