"""vectordbfaiss_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference RAG vector-search service
(johntango/VectorDBFAISS), re-expressed Spark-first and designed for
100 TB-scale batch execution.

Layout
------
- ``session``    : SparkSession factory with scale-aware defaults (AQE, Arrow).
- ``functions``  : columnar scalar functions — vector math (dot / norm /
  cosine), text (tokenize, chunk, HTML-strip, hash embedder).
- ``operators``  : composite DataFrame operators — batched top-k similarity
  search, dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  embedding cosine), text analysis (lang-id, quality, fingerprint).
- ``sources``    : ingest pipelines (text dir -> chunk -> embed -> dedup ->
  parquet), CSV/JSON edges.
- ``plans``      : batch index builds (IVF via KMeans + partition layout).

Design stance (SURVEY.md §4, §7): DataFrame/SQL declarative plans so Catalyst
does pruning/pushdown/broadcast; pandas_udf only where array semantics force
Python; everything deterministic so the DuckDB oracle can check it.
"""

__version__ = "0.1.0"
