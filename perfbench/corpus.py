"""Seeded benchmark inputs in the ``tools/gen_synth_corpus.py`` profile.

The profile is the sf0.1 fixture's documents/embeddings tables, measured
once and frozen here so the benchmark reads nothing outside its checkout:

- documents: a 31-word vocabulary drawn uniformly, lengths uniform over
  [10, 100] words, ``lang`` / ``source`` from the measured marginals,
  256 near-duplicate pairs and 8 exact-duplicate pairs per 5,000 docs
  (a partner copies its base and re-draws the last ~10% of its words,
  which keeps word-3-gram Jaccard near 0.8);
- embeddings: 64-d, 10 label clusters, vector = unit center +
  N(0, 0.35) noise, stored as float32 lists.

Unlike the tool, near- and exact-duplicate ids are drawn disjoint, so
every recorded near-duplicate pair is still a near-duplicate after the
exact copies land; the manifest records them for ``dup_pair_recall``.

Every table is one parquet file with one row group, the layout of the
sf fixtures (Spark cannot split it, so scans start as one task).
Output is a pure function of (seed, sizes): numpy Philox keyed by seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 100
LANGS = {"de": 702, "en": 2059, "es": 744, "fr": 742, "zh": 753}
N_SOURCES = 20
DOCS_PER_UNIT = 5_000
NEARDUP_PAIRS_PER_UNIT = 256
EXACT_PAIRS_PER_UNIT = 8
DIM = 64
N_LABELS = 10
NOISE = 0.35


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[seed, stream]))


def _write_single_group(table: pa.Table, path: str) -> dict:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    meta = pq.ParquetFile(path).metadata
    return {
        "path": os.path.basename(path),
        "rows": meta.num_rows,
        "files": 1,
        "row_groups": meta.num_row_groups,
        "bytes": os.path.getsize(path),
    }


def documents(n_docs: int, seed: int):
    """(table, near_dup_pairs, exact_pairs) for ``n_docs`` documents."""
    rng = _rng(seed, 1)
    vocab = np.array(VOCAB)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_docs)
    lang_names = np.array(sorted(LANGS))
    lang_p = np.array([LANGS[k] for k in lang_names], dtype=float)
    lang_col = rng.choice(lang_names, size=n_docs, p=lang_p / lang_p.sum())
    src_col = np.array([f"src{i}" for i in rng.integers(0, N_SOURCES, size=n_docs)])
    tok = rng.integers(0, len(vocab), size=(n_docs, MAX_WORDS))
    words = [list(vocab[tok[i, : lengths[i]]]) for i in range(n_docs)]

    n_near = max(1, NEARDUP_PAIRS_PER_UNIT * n_docs // DOCS_PER_UNIT)
    n_exact = max(1, EXACT_PAIRS_PER_UNIT * n_docs // DOCS_PER_UNIT)
    picked = rng.permutation(n_docs)[: 2 * (n_near + n_exact)]
    near = picked[: 2 * n_near].reshape(n_near, 2)
    exact = picked[2 * n_near :].reshape(n_exact, 2)
    for base, partner in near:
        tail = max(1, len(words[base]) // 10)
        words[partner] = words[base][:-tail] + list(
            vocab[rng.integers(0, len(vocab), size=tail)]
        )
    for a, b in exact:
        words[b] = list(words[a])
    texts = [" ".join(w) for w in words]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(lang_col, type=pa.string()),
            "source": pa.array(src_col, type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    canon = lambda pairs: sorted((int(min(p)), int(max(p))) for p in pairs)
    return table, canon(near), canon(exact)


def vectors(n_vecs: int, n_queries: int, seed: int):
    """(embeddings table, query matrix): corpus and held-out queries drawn
    from the same clustered distribution (queries are not corpus rows)."""
    rng = _rng(seed, 2)
    centers = rng.normal(0.0, 1.0, size=(N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(n):
        labels = rng.integers(0, N_LABELS, size=n).astype(np.int32)
        vecs = centers[labels] + rng.normal(0.0, NOISE, size=(n, DIM))
        return labels, vecs.astype(np.float32)

    labels, emb = draw(n_vecs)
    _, queries = draw(n_queries)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), type=pa.int64()),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }
    )
    return table, queries


def generate(out_dir: str, seed: int, n_docs: int, n_vecs: int, n_queries: int) -> dict:
    """Write the inputs under ``out_dir`` (once per seed and sizes) and
    return the manifest: per-table row/file/row-group/byte counts and the
    injected duplicate pairs."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    key = {"seed": seed, "n_docs": n_docs, "n_vecs": n_vecs, "n_queries": n_queries}
    if os.path.isfile(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        if manifest.get("key") == key:
            return manifest
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"key": key, "tables": {}}
    emb, queries = vectors(n_vecs, n_queries, seed)
    if n_docs:
        docs, near, exact = documents(n_docs, seed)
        manifest["tables"]["documents"] = _write_single_group(
            docs, os.path.join(out_dir, "documents.parquet")
        )
        manifest["near_dup_pairs"] = near
        manifest["exact_dup_pairs"] = exact
    if n_vecs:
        manifest["tables"]["embeddings"] = _write_single_group(
            emb, os.path.join(out_dir, "embeddings.parquet")
        )
    if n_queries:
        qt = pa.table(
            {
                "query_id": pa.array(np.arange(n_queries), type=pa.int64()),
                "query_vec": pa.array(list(queries), type=pa.list_(pa.float32())),
            }
        )
        manifest["tables"]["queries"] = _write_single_group(
            qt, os.path.join(out_dir, "queries.parquet")
        )
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, manifest_path)
    return manifest
