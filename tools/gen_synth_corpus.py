#!/usr/bin/env python
"""Generate an ORIGINAL-DENSITY synthetic corpus at an arbitrary scale
multiple of the driver's sf0.1 documents/embeddings tables.

Why this exists: `gen_scale_fixture.py` replicates rows, which multiplies
the NEAR-DUPLICATE DENSITY along with the row count (every doc becomes a
C-way duplicate group), so dedup-family ratios measured on the replicated
fixture are upper bounds driven by pair-output growth, not corpus growth
(SCALE.md round-4 caveat). This generator instead re-derives the source
corpus's statistical profile and scales the ROW COUNT while holding the
per-doc duplicate rate fixed:

- vocabulary: the exact word set of the source documents (measured, not
  assumed), uniform draw — matching the source's flat frequency profile;
- doc length: uniform over the measured [min, max] word-count range;
- lang / source columns: sampled from the measured marginals;
- near-duplicates: the source carries 256 injected near-dup pairs per
  5,000 docs (measured by shared-prefix probe; the MinHash query detects
  the same 256). The same RATE is injected here: partner docs copy the
  base's token sequence and perturb the final ~10% of tokens, which
  keeps 3-gram Jaccard well above the 0.6 detection threshold;
- exact duplicates: 8 identical-text groups per 5,000 docs, as measured;
- embeddings: 64-dim, 10 label clusters with the measured per-label
  balance; vector = unit-ish cluster center + N(0, 0.35) noise, so
  cosine structure (cluster blocking, kNN, SemDeDup cells) is realistic.

Everything is numpy Philox, seeded by (seed, row-block), so output is
deterministic for a given (n_docs, seed) on any host.

Usage: python tools/gen_synth_corpus.py [out_dir] [multiplier] [seed]
  multiplier scales sf0.1's 5,000 docs / 2,000 vectors.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
DOCS_PER_UNIT = 5_000
VECS_PER_UNIT = 2_000
NEARDUP_PAIRS_PER_UNIT = 256
EXACT_GROUPS_PER_UNIT = 8
DIM = 64
N_LABELS = 10


def _source_profile():
    import duckdb

    con = duckdb.connect()
    d = f"{SRC}/documents.parquet"
    vocab = [
        r[0]
        for r in con.sql(
            "SELECT DISTINCT unnest(string_split(rtrim(text),' ')) AS w "
            f"FROM '{d}' WHERE text IS NOT NULL ORDER BY w"
        ).fetchall()
    ]
    lmin, lmax = con.sql(
        "SELECT min(len), max(len) FROM (SELECT length(string_split(rtrim(text),' ')) len "
        f"FROM '{d}' WHERE text IS NOT NULL)"
    ).fetchone()
    langs = con.sql(
        f"SELECT lang, count(*) FROM '{d}' GROUP BY lang ORDER BY lang"
    ).fetchall()
    sources = con.sql(
        f"SELECT source, count(*) FROM '{d}' GROUP BY source ORDER BY source"
    ).fetchall()
    return vocab, int(lmin), int(lmax), langs, sources


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, ".scratch", "synth100")
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    os.makedirs(out, exist_ok=True)

    vocab, lmin, lmax, langs, sources = _source_profile()
    vocab_arr = np.array(vocab)
    lang_names = np.array([l[0] for l in langs])
    lang_p = np.array([l[1] for l in langs], dtype=float)
    lang_p /= lang_p.sum()
    src_names = np.array([s[0] for s in sources])
    src_p = np.array([s[1] for s in sources], dtype=float)
    src_p /= src_p.sum()

    n_docs = DOCS_PER_UNIT * mult
    rng = np.random.Generator(np.random.Philox(key=seed))

    lengths = rng.integers(lmin, lmax + 1, size=n_docs)
    lang_col = rng.choice(lang_names, size=n_docs, p=lang_p)
    src_col = rng.choice(src_names, size=n_docs, p=src_p)

    # token matrix drawn once as indices; ragged docs sliced from rows
    tok_idx = rng.integers(0, len(vocab_arr), size=(n_docs, lmax))
    texts: list[str] = [
        " ".join(vocab_arr[tok_idx[i, : lengths[i]]]) for i in range(n_docs)
    ]

    # near-duplicate injection at the SOURCE RATE: pair (base, partner),
    # partner = base tokens with the last ~10% replaced
    n_pairs = NEARDUP_PAIRS_PER_UNIT * mult
    pair_ids = rng.choice(n_docs, size=(n_pairs, 2), replace=False)
    for base, partner in pair_ids:
        toks = texts[base].split(" ")
        tail = max(1, len(toks) // 10)
        repl = vocab_arr[
            rng.integers(0, len(vocab_arr), size=tail)
        ]
        texts[partner] = " ".join(toks[:-tail] + list(repl))

    # exact-duplicate groups at the source rate (pairs of identical text)
    n_exact = EXACT_GROUPS_PER_UNIT * mult
    exact_ids = rng.choice(n_docs, size=(n_exact, 2), replace=False)
    for a, b in exact_ids:
        texts[b] = texts[a]

    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(lang_col, type=pa.string()),
            "source": pa.array(src_col, type=pa.string()),
            "n_chars": pa.array(
                np.array([len(t) for t in texts], dtype=np.int64), type=pa.int64()
            ),
        }
    )
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    print(f"documents: {n_docs} rows, {n_pairs} near-dup pairs, {n_exact} exact pairs")

    n_vecs = VECS_PER_UNIT * mult
    labels = rng.integers(0, N_LABELS, size=n_vecs).astype(np.int32)
    centers = rng.normal(0.0, 1.0, size=(N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    emb = centers[labels] + rng.normal(0.0, 0.35, size=(n_vecs, DIM))
    emb = emb.astype(np.float32)
    embt = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), type=pa.int64()),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }
    )
    pq.write_table(embt, os.path.join(out, "embeddings.parquet"))
    print(f"embeddings: {n_vecs} rows, dim {DIM}, {N_LABELS} clusters")

    # the star/events tables are not re-synthesized: dedup/ANN/scrub are
    # the families whose density this generator exists to hold fixed —
    # give tools/ladder.py a replicated-fixture rung for those
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
