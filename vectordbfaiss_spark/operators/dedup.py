"""Deduplication operator family — the LLM-training-pipeline workhorses.

The reference's dedup is exact-match only: ``content TEXT UNIQUE`` +
``INSERT OR IGNORE`` (/root/reference/server.js:29,198). At 100 TB the
interesting dedup is *near*-duplicate detection; this module provides the
standard ladder, each as a declarative DataFrame pipeline:

- :func:`exact_dedup_stats` / :func:`dedup_exact`  — hash group-by.
- :func:`ngram_jaccard_pairs` — exact all-pairs Jaccard over word-shingle
  sets, pre-filtered by an inner join on shingles (only pairs sharing at
  least one shingle are scored; disjoint pairs have J=0 by definition).
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + LSH
  banding: md5-keyed min-hashes (deterministic, engine-portable), band keys,
  candidate pairs from band buckets, Jaccard verification.
- :func:`simhash` / :func:`simhash_pairs` — 32-bit SimHash from md5 token
  bits, near-dup = small Hamming distance.

Why md5 for every hash: Spark and DuckDB (the correctness oracle) both
expose md5 with identical output, so the whole pipeline is bit-reproducible
across engines — no engine-private hash (xxhash64, DuckDB ``hash``) leaks
into results.

Scale notes: every pipeline is shingle-explode -> hash-aggregate -> join on
a key (shingle / band key / simhash block). The joins are equi-joins on
high-cardinality keys — exactly the shape AQE + hash shuffle handle; the
O(n^2) risk lives only inside a bucket, which is the point of LSH banding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from vectordbfaiss_spark.session import fan_out


def gram_array(text_col, n: int = 3, words=None):
    """ALL n-word grams (with repeats) of a whitespace-tokenized text
    column, in order. Texts shorter than n words yield their full text as
    the only gram (the sequence length clamps to 1 — a negative-length
    sequence would crash slice with start=0).

    Built with ``zip_with`` over n SHIFTED SLICES of the words array, NOT
    a transform whose lambda slices the array per output index. The
    distinction is load-bearing: higher-order-function lambda BODIES are
    evaluated interpreted, per element, with no common-subexpression
    elimination — so the previous form re-ran every expression the body
    referenced (including, for text-fed callers, the regex ``split``
    itself) once per output gram: O(words^2) interpreted regex per
    document. That quadratic was invisible at fixture doc lengths and
    surfaced as multi-minute straggler tasks on the syn300 honest-density
    rung (1.5M docs). HOF ARGUMENTS, by contrast, evaluate once per row,
    so the zip_with form touches ``words`` O(n) times per row and its
    lambda bodies only concatenate the two element strings.

    ``words``: optionally a PRE-PROJECTED words-array column (text_col is
    then ignored) — still worth passing on hot paths to avoid even the
    O(n) per-row re-splits."""
    if words is None:
        text_col = F.col(text_col) if isinstance(text_col, str) else text_col
        words = F.split(F.rtrim(text_col), r"\s+")
    if n == 1:
        return words
    n_sh = F.size(words) - F.lit(n - 1)  # only evaluated when size >= n
    grams = F.slice(words, 1, n_sh)
    for k in range(2, n + 1):
        grams = F.zip_with(
            grams,
            F.slice(words, k, n_sh),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    # shorter-than-n texts: the full text as the only gram (the old
    # sequence-length clamp); CaseWhen evaluates one branch per row, so
    # the negative-length slices above are never touched for these rows
    return F.when(
        F.size(words) < F.lit(n), F.array(F.array_join(words, " "))
    ).otherwise(grams)


def word_shingles(text_col, n: int = 3):
    """Distinct n-word shingles of a whitespace-tokenized text column.

    Column expression: ARRAY<STRING>, each element n words joined by a
    single space. Texts shorter than n words yield their full text as the
    only shingle (see :func:`gram_array`).
    """
    return F.array_distinct(gram_array(text_col, n))


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows, distinct per doc — the normalized form every
    dedup pipeline starts from. ``word_shingles`` already deduplicates
    within a document (array_distinct), so NO extra ``distinct()`` shuffle
    is needed here. The input is fanned out across cores first — the
    explode multiplies rows ~100x and must not run single-task (see
    session.fan_out). The words array is projected as a REAL column
    before the gram transform (see :func:`gram_array` — a split inside
    the lambda re-runs per gram, quadratic per doc)."""
    base = fan_out(df).select(
        F.col(id_col), F.split(F.rtrim(F.col(text_col)), r"\s+").alias("_words")
    )
    return base.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(gram_array(None, n, words=F.col("_words")))
        ).alias("shingle"),
    )


def exact_dedup_stats(df: DataFrame, key_cols: list[str], group_cols: list[str]) -> DataFrame:
    """Per-group exact-duplicate stats: rows, distinct keys, duplicate rows.

    ``dropDuplicates(key_cols)`` is the remove-form (A5, server.js:29,198);
    this is the report-form that makes the same computation oracle-checkable.

    Two-level aggregate, not ``count + countDistinct`` in one agg: the
    mixed form plans an Expand (duplicating every input row per aggregate
    group), while per-(group, key) counts rolled up to the group give the
    same three numbers from one scan and two narrow shuffles. NULL-key
    semantics match ``count(DISTINCT ...)``: a group whose key columns
    contain a NULL is excluded from n_distinct (but its rows still count
    in n_rows, hence as duplicates) — SQL's COUNT(DISTINCT) rule.
    """
    key_not_null = F.lit(True)
    for k in key_cols:
        key_not_null = key_not_null & F.col(k).isNotNull()
    per_key = df.groupBy(*group_cols, *key_cols).agg(F.count("*").alias("cnt"))
    n_distinct = F.sum(F.when(key_not_null, 1).otherwise(0))
    return per_key.groupBy(*group_cols).agg(
        F.sum("cnt").alias("n_rows"),
        n_distinct.alias("n_distinct"),
        (F.sum("cnt") - n_distinct).alias("n_dupes"),
    )


def dedup_exact(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Remove-form exact dedup: in-batch ``dropDuplicates`` (the INSERT OR
    IGNORE analog, server.js:198; SURVEY §2.1 S5)."""
    return df.dropDuplicates(key_cols)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.4,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over n-gram shingle sets for every pair
    sharing >= 1 shingle; keep pairs with J >= threshold.

    Plan: explode -> self-equi-join on shingle (the candidate generator) ->
    count intersections -> join per-doc shingle counts (broadcastable agg) ->
    J = inter / (|A| + |B| - inter). Output (id_a < id_b, jaccard 6dp).

    The intersection join uses ``xxhash64(shingle)`` as the join key: an
    8-byte shuffle key instead of a variable-length string (collisions at
    2^-64 are beyond the result's 6dp precision; the oracle gate would
    surface one). LSH verify does not use this join; it scores its explicit
    candidate pairs with :func:`pair_jaccard`.

    ``max_shingle_df`` (standalone-scale guard): drop shingles whose
    document frequency exceeds the cap BEFORE any other work. A shingle
    shared by f documents contributes f^2/2 join rows, so one boilerplate
    trigram ("terms of service …") at f=10^6 produces a 5*10^11-row bucket
    — the quadratic skew that kills the unrestricted join at 100 TB.
    With a cap, the metric becomes the exact Jaccard over the BELOW-CAP
    shingle universe: numerator AND denominators are computed from the
    same filtered sets (above-cap boilerplate shingles simply don't exist
    for this metric — filtering only the join side would silently deflate
    J for every pair sharing one boilerplate shingle). Pick the cap above
    the corpus' plausible non-boilerplate df and the result is unchanged.

    The per-doc count side is one row PER CORPUS DOCUMENT, so it carries no
    broadcast hint (a forced broadcast of 10^9 rows OOMs every executor);
    AQE picks the strategy from the observed size.
    """
    sh = exploded_shingles(df, id_col, text_col, n)
    hashed = sh.select(F.col(id_col), F.xxhash64("shingle").alias("sh_key"))
    if max_shingle_df is not None:
        # one extra agg on the SAME key the join shuffles on (the exchange
        # is reusable); emits only below-cap keys, bounding every join
        # bucket at max_shingle_df^2 rows. Applied before the per-doc
        # counts so |A| and |B| live in the same filtered universe as the
        # intersection.
        keep = (
            hashed.groupBy("sh_key")
            .agg(F.count("*").alias("sh_df"))
            .filter(F.col("sh_df") <= max_shingle_df)
            .select("sh_key")
        )
        hashed = hashed.join(keep, "sh_key", "left_semi")
    counts = hashed.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = hashed.select(F.col(id_col).alias("id_a"), "sh_key")
    b = hashed.select(F.col(id_col).alias("id_b"), "sh_key")
    inter = (
        a.join(b, "sh_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def pair_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact Jaccard for an EXPLICIT candidate pair list (id_a, id_b).

    Joins each pair to its two documents' DISTINCT shingle arrays and
    computes J = |A∩B| / (|A| + |B| - |A∩B|) with array_intersect —
    O(|pairs| x shingles-per-doc), no shingle self-join anywhere. This is
    the verify kernel for LSH candidates: the shingle-join formulation
    (ngram_jaccard_pairs over the candidate docs) re-generates pairs from
    shingles, which is Σ df² over the candidate docs' shingle universe —
    quadratic when the shingle space saturates (a 31-word-vocabulary
    corpus at 500k docs hung the verify step; SCALE.md honest-density
    section), while this kernel's cost tracks the pair count by
    construction. Values are identical to the join formulation: same
    distinct-shingle sets, same 6dp rounding.

    Round-10 audit note: a bucket-grouped Arrow verify kernel (pairs
    hash-bucketed, docs' arrays shipped per bucket, numpy intersections
    in an applyInPandas cogroup) was built and MEASURED against this
    join form at the syn300 rung (1.5M docs, 11.4M candidate pairs):
    the join form verified in ~18 s warm while the kernel took 83-93 s
    at its best bucketing (and GC-stormed at coarse bucketing — an
    applyInPandas group arrives as ONE Arrow batch, so array-heavy
    buckets allocate tens of MB per task). After round 9's
    xxhash64-long-array payload fix, JVM codegen'd array_intersect
    simply wins; the syn300 MinHash wall lives in CANDIDATE GENERATION
    (signature hashing), not verification. The kernel was removed —
    this join form IS the deliberate strategy choice (guide §3.1).

    Preconditions (NOT enforced here, so a caller that violates them gets
    no error):
    - ``pairs`` must be DISTINCT — a duplicated (id_a, id_b) row emits a
      duplicated output row (this kernel is deliberately a per-pair map;
      dedup the list upstream, where it is cheapest).
    - Pairs whose doc has NULL ``text_col`` are silently DROPPED:
      ``word_shingles`` yields NULL, jaccard evaluates to NULL, and the
      threshold filter removes the row. LSH callers never produce such
      pairs (signatures require text); pass pre-filtered ids otherwise.
    """
    # no forced join strategy anywhere in this kernel (round 9): the
    # shingle-array frames below are candidate-bounded but ARRAY-WIDE
    # (~KBs per row), and a forced SHUFFLE_HASH build of them OOM'd at
    # the syn300 rung under 32-way task concurrency ("Can't acquire ...
    # bytes to build hash relation"). Unhinted, the static planner keeps
    # the spill-safe sort-merge (checkpointed inputs carry no stats, so
    # it never gambles on a broadcast it can't afford) and AQE converts
    # to broadcast/hash at runtime from OBSERVED sizes when the
    # candidate set really is small — adaptive at both ends.
    need = pairs.select(F.explode(F.array("id_a", "id_b")).alias(id_col)).distinct()
    # join sides carry xxhash64 LONG arrays, not the shingle strings: the
    # intersect only needs set identity, and an 8-byte long array is
    # ~2.5x lighter than the text shingles through the two joins (the
    # string form exhausted the 8g local heap at the syn300 rung under
    # 32-way concurrency). Collisions at 2^-64 are the same accepted
    # class as ngram_jaccard_pairs' hashed intersection join; the
    # per-doc set size is taken from the string array BEFORE hashing.
    sh = (
        df.join(need, id_col, "left_semi")
        .select(
            F.col(id_col), F.split(F.rtrim(F.col(text_col)), r"\s+").alias("_words")
        )
        .select(
            F.col(id_col),
            F.array_distinct(gram_array(None, n, words=F.col("_words"))).alias("sh"),
        )
        .select(
            F.col(id_col),
            F.transform("sh", lambda s: F.xxhash64(s)).alias("hs"),
            F.size("sh").alias("n_sh"),
        )
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"), F.col("n_sh").alias("n_a")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"), F.col("n_sh").alias("n_b")
    )
    sized = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("n_inter"),
            "n_a",
            "n_b",
        )
    )
    return sized.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signature per document.

    Hash family: md5 of ('g:' || shingle) for g = 0..ceil(H/4)-1, each
    digest split into four 8-hex-char chunks -> H independent-enough 32-bit
    min-hashes from H/4 md5 evaluations (md5 is the only hash both Spark
    and the DuckDB oracle implement identically; computing one digest per
    GROUP instead of per hash makes the signature aggregate ~4x cheaper).
    PURE MAP form: one Arrow kernel goes from each document's text to its
    signature in a single streamed pass (see below) — NO shingle explode
    and NO exchange anywhere in signature computation. Values are
    identical to the exploded ``min(substr(md5(...)))`` aggregate over
    :func:`exploded_shingles`. The id column keeps its input type.

    Preconditions / NULL semantics: rows with NULL ``text_col`` produce
    NO signature row (an all-NULL signature would make every NULL-text
    doc share every band); pinned by test_null_text_semantics.
    ``id_col`` must be unique per row — the map form emits one signature
    per ROW. Every caller (documents PK, parity splits, exact-deduped
    ingest batches) is unique by construction.
    """
    n_groups = (num_hashes + 3) // 4

    # Arrow kernel (guide §4.2): text -> shingles -> md5 -> per-hash
    # minima, all inside one Python pass per batch. The JVM forms of the
    # shingle build (split + gram_array's zip_with/concat lambdas) and of
    # the signature (~4 md5 + 16 slice/min per shingle) evaluate
    # INTERPRETED — HOF lambda bodies have no codegen — and shipping the
    # shingle arrays to a hash-only kernel cost more JVM CPU than the
    # hashing itself. Measured at the syn300 rung (1.5M docs, 79.4M
    # shingles) for the signature alone: transform+array_min form 359 s,
    # struct-aggregate form 423 s, explode+codegen-md5+groupBy(min) 812 s.
    #
    # Tokenizer parity with ``split(rtrim(text), r"\s+")`` (gram_array),
    # on the UTF-8 bytes: rtrim strips U+0020 only, and Java's ``\s`` is
    # exactly [ \t\n\x0B\f\r] — NOT Python's ``\s``, which also
    # splits on NBSP, U+2003, U+001C-001F and U+0085. All six are ASCII,
    # and no multi-byte UTF-8 sequence contains an ASCII byte, so
    # splitting the bytes is splitting the text. Leading/trailing empty
    # tokens are kept (as Java's split with limit -1 keeps them); a text
    # with fewer than n words is one shingle, its words joined by single
    # spaces. Each document therefore has >= 1 shingle.
    #
    # Min step: Python touches each distinct shingle only for its
    # ceil(H/4) raw md5 digests; everything after is numpy over one
    # buffer per batch. The digests are viewed as big-endian uint32
    # (``>u4``), 4 per digest, and ``np.minimum.reduceat`` over the
    # per-document starts takes each document's per-hash minimum. The
    # oracle's hash j of group g is the 8-hex-char substring j of
    # md5('g:' || shingle), i.e. digest bytes 4j..4j+3 written
    # most-significant nibble first; fixed-width lowercase hex compares
    # in byte order exactly as the number it spells ('0'-'9' < 'a'-'f'
    # in ASCII), so the ``>u4`` minimum IS the string minimum, and
    # formatting it back as %08x is bit-identical to the Spark/DuckDB
    # ``min(substr(md5(...), 8j+1, 8))``. The id column passes through
    # untouched, so the output id type is the input's.
    _n, _nh, _ng = n, num_hashes, n_groups
    names = [id_col] + [f"mh{s}" for s in range(num_hashes)]

    def _sig(batches):
        import re
        from hashlib import md5

        import numpy as np
        import pyarrow as pa

        split = re.compile(rb"[ \t\n\x0b\f\r]+").split
        prefixes = [f"{g}:".encode() for g in range(_ng)]
        for b in batches:
            shingles, starts = [], []
            for text in b.column(1).cast(pa.binary()).to_pylist():
                w = split(text.rstrip(b" "))
                starts.append(len(shingles))
                grams = set(map(b" ".join, zip(*[w[i:] for i in range(_n)])))
                shingles.extend(grams or (b" ".join(w),))
            digests = b"".join([md5(p + s).digest() for s in shingles for p in prefixes])
            words = np.frombuffer(digests, dtype=">u4").reshape(len(shingles), 4 * _ng)
            mins = np.minimum.reduceat(words[:, :_nh], starts, axis=0)
            # %08x of every minimum, column-major: hash k's strings are
            # the k-th run of 8 * rows hex chars in one buffer (reduceat
            # returns native byte order: convert back to big-endian). Each
            # column gets its own zero-based slice (Arrow IPC assumes
            # offsets start at 0 for an unsliced array)
            rows = len(starts)
            hexed = pa.py_buffer(mins.T.astype(">u4").tobytes().hex().encode())
            offsets = pa.py_buffer(np.arange(0, 8 * rows + 1, 8, dtype=np.int32))
            cols = [
                pa.StringArray.from_buffers(rows, offsets, hexed.slice(8 * rows * k, 8 * rows))
                for k in range(_nh)
            ]
            yield pa.RecordBatch.from_arrays([b.column(0)] + cols, names)

    out_schema = T.StructType(
        [df.schema[id_col]]
        + [T.StructField(f"mh{s}", T.StringType()) for s in range(num_hashes)]
    )
    docs = df.filter(F.col(text_col).isNotNull()).select(id_col, text_col)
    return fan_out(docs).mapInArrow(_sig, out_schema)


def _band_keys(
    sig: DataFrame, id_col: str, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """(id, band, key) rows of a :func:`minhash_signatures` frame: band b's
    key is its ``rows_per_band`` min-hashes joined by '|'."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                ).alias("key"),
            )
            for b in range(num_hashes // rows_per_band)
        ]
    )
    return sig.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_band_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Distinct banded candidate pairs (id_a < id_b) — the LSH pair
    generator shared by :func:`minhash_lsh_pairs` and the recall audit
    (queries/dedup.py::minhash_quality_audit). Materialized eagerly BY
    DEFAULT (see ``materialize=False`` below for callers that manage the
    checkpoint themselves): the candidate set always feeds multiple
    consumers, and it is tiny by design (banding exists to keep it so).

    ``max_bucket`` is the production DEGENERACY GUARD: a band bucket of B
    members emits B^2/2 pairs, so one boilerplate-dominated bucket (empty
    docs, repeated headers, saturated shingle spaces) turns the bounded
    candidate join quadratic — measured as a >77 GB shuffle spill at 500k
    docs when a synthetic corpus saturated its 3-gram space (SCALE.md
    round 5). Buckets larger than the cap are DROPPED before the
    self-join: their signatures are stopword-like (chance collisions, not
    J-driven), so the lost candidates are low-signal by construction, and
    every pair is still verified by exact Jaccard downstream. AQE
    skew-join splits a big bucket's PARTITIONS but cannot reduce its
    quadratic OUTPUT — only the cap does.

    ``materialize=False`` returns the pair frame LAZY (no eager
    checkpoint) for callers that overlap the materialization with an
    independent pipeline (session.materialize_concurrently); such
    callers take over the multiple-consumer checkpoint obligation."""
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    if max_bucket is not None:
        # the bucket guard consumes `banded` twice (count + probe); without
        # this the whole shingle->md5->min-agg pipeline runs once per
        # consumer (~4x the uncapped wall time at sf0.1). The checkpoint is
        # |docs| x num_hashes hex strings — corpus-linear and narrow.
        sig = sig.localCheckpoint(eager=True)
    # hash-partitioned on the join key HERE, once: both self-join sides
    # (and the guard's aggregate) then sit on one identical exchange,
    # which exchange reuse shares — so the signature kernel runs once per
    # call. Without it the planner may broadcast one side and give each
    # side its own round-robin -> shingle -> kernel subtree (two kernel
    # stages per uncapped call).
    banded = _band_keys(sig, id_col, num_hashes, rows_per_band).repartition(
        "band", "key"
    )
    if max_bucket is not None:
        # bucket size via AGGREGATE + SEMI-JOIN, deliberately NOT a window
        # count over (band, key): the degenerate buckets this guard exists
        # to drop are exactly the keys a window would funnel into single
        # tasks (WindowExec buffers each partition and cannot be
        # skew-split; it OOM'd at the 500k-doc saturated-vocabulary
        # fixture), while the aggregate combines map-side and AQE can
        # split the semi-join's skewed probe partitions.
        # guard INVERTED (round 9): anti-join against the OVER-cap keys
        # instead of semi-join against the below-cap ones. The below-cap
        # key set is ~the whole corpus at healthy densities (the syn300
        # rung measured its forced-hash build exhausting executor memory
        # — "Can't acquire ... bytes to build hash relation" at 1.5M
        # docs), while the over-cap set is structurally bounded by
        # rows/cap (each offending bucket holds > max_bucket members),
        # so the anti build side stays hash-join-sized in EVERY regime.
        # Same surviving rows: ok and bad partition the key space.
        bad = (
            banded.groupBy("band", "key")
            .agg(F.count("*").alias("bsz"))
            .filter(F.col("bsz") > max_bucket)
            .select("band", "key")
        )
        banded = banded.join(bad.hint("SHUFFLE_HASH"), ["band", "key"], "left_anti")
    la = banded.select(F.col(id_col).alias("id_a"), "band", "key")
    lb = banded.select(F.col(id_col).alias("id_b"), "band", "key")
    candidates = (
        la.join(lb, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if not materialize:
        return candidates
    return candidates.localCheckpoint(eager=True)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.4,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup detection, Jaccard-verified.

    Candidates: docs agreeing on ALL rows of >= 1 band (band key =
    concat of that band's min-hashes). Verification: exact Jaccard on the
    candidate pairs only. With b bands of r rows the match probability is
    1-(1-J^r)^b — the classic S-curve; b=8, r=2 targets J >= ~0.4.

    At 100 TB the band-bucket self-join is the only pair generator — the
    full O(n^2) never materializes; skewed buckets (boilerplate shingles)
    are split by AQE skew-join handling, and ``max_bucket`` (see
    :func:`minhash_band_candidates`) drops the degenerate ones whose
    quadratic OUTPUT no partition-splitting can bound.
    """
    candidates = minhash_band_candidates(
        df, id_col, text_col, n, num_hashes, rows_per_band, max_bucket
    )
    # Verify with exact Jaccard computed PER CANDIDATE PAIR via the two
    # docs' shingle arrays (pair_jaccard) — |pairs|-proportional. The
    # earlier restrict-then-shingle-self-join verification re-derived the
    # pairs from shingles, which degenerates when the candidate doc set is
    # large and the shingle space saturated.
    return pair_jaccard(df, candidates, id_col, text_col, n, threshold)


def minhash_lsh_incremental(
    existing: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.4,
    check_disjoint: bool = True,
) -> DataFrame:
    """Incremental near-dup: which NEW documents near-duplicate an
    EXISTING store — the production shape of repeated ingest (daily batch
    vs published corpus), where the corpus self-join never happens.

    Same banding family as :func:`minhash_lsh_pairs`, but the candidate
    join is existing-banded x new-banded (an A x B equi-join, so no pair
    inside the store is ever proposed). Verification runs exact Jaccard
    over the union restricted to candidate docs only. Output:
    (existing_id, new_id, jaccard).

    REQUIRES disjoint id spaces: a doc_id present on both sides would
    merge both texts' shingle sets in the verify union (wrong Jaccard) and
    its self-pair would be silently dropped by the id_a < id_b
    convention. ``check_disjoint`` (default on) runs one cheap semi-join
    count and raises on overlap; callers whose split is disjoint by
    construction (parity, date partitions) may disable it.
    """
    if check_disjoint:
        overlap = (
            new.select(id_col)
            .join(existing.select(id_col), id_col, "left_semi")
            .limit(1)
            .count()
        )
        if overlap:
            raise ValueError(
                "minhash_lsh_incremental: existing and new share document "
                f"ids (column {id_col!r}) — re-keyed or re-ingested docs "
                "must be deduped exactly (write_dedup_append) before "
                "near-dup comparison"
            )
    sig_e = minhash_signatures(existing, id_col, text_col, n, num_hashes)
    sig_n = minhash_signatures(new, id_col, text_col, n, num_hashes)
    be = _band_keys(sig_e, id_col, num_hashes, rows_per_band).select(
        F.col(id_col).alias("existing_id"), "band", "key"
    )
    bn = _band_keys(sig_n, id_col, num_hashes, rows_per_band).select(
        F.col(id_col).alias("new_id"), "band", "key"
    )
    candidates = (
        be.join(bn, ["band", "key"]).select("existing_id", "new_id").distinct()
    )
    candidates = candidates.localCheckpoint(eager=True)
    both = existing.select(id_col, text_col).unionAll(new.select(id_col, text_col))
    # verified pairs are (min_id, max_id); candidates carry role labels —
    # match on the normalized pair. pair_jaccard is |pairs|-proportional
    # (see minhash_lsh_pairs).
    keyed = candidates.select(
        "existing_id",
        "new_id",
        F.least("existing_id", "new_id").alias("id_a"),
        F.greatest("existing_id", "new_id").alias("id_b"),
    )
    verified = pair_jaccard(
        both, keyed.select("id_a", "id_b"), id_col, text_col, n, threshold
    )
    return keyed.join(verified, ["id_a", "id_b"]).select(
        "existing_id", "new_id", "jaccard"
    )


def _hex_bit(hex_col, p: int):
    """Bit p (0..31) of the first 8 hex digits of an md5-hex column —
    portable to the DuckDB oracle as ``(strpos('0123456789abcdef',
    substr(h, 1+p//4, 1)) - 1) >> (p % 4) & 1``."""
    digit = F.conv(F.substring(hex_col, 1 + p // 4, 1), 16, 10).cast("int")
    return F.shiftright(digit, p % 4).bitwiseAND(F.lit(1))


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """32-bit SimHash over distinct whitespace tokens (weight 1).

    For each bit p: sum over tokens of (2*bit_p(md5(token)) - 1); the
    signature sets bit p iff the sum is positive. One explode + one
    aggregate (32 sums) + one projection.

    Per-document token dedup happens INSIDE the row (array_distinct
    before the explode), not as a cross-row ``distinct()``: the old form
    shuffled corpus x tokens-per-doc rows through a full exchange just
    to dedup within documents — measured as the superlinear term at the
    syn300 rung (6.5x wall at 3x docs). Precondition (was implicit in
    the old form's cross-row dedup): ``id_col`` unique per row, which
    every caller satisfies (documents PK).
    """
    toks = fan_out(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.rtrim(F.col(text_col)), r"\s+"))
        ).alias("tok"),
    )
    # project the digest ONCE per row; 32 per-bit extractions read the
    # column instead of re-hashing (Catalyst does not CSE agg children)
    hashed = toks.select(F.col(id_col), F.md5("tok").alias("h"))
    sums = hashed.groupBy(id_col).agg(
        *[
            F.sum(_hex_bit(F.col("h"), p) * 2 - 1).alias(f"s{p}")
            for p in range(bits)
        ]
    )
    sig = None
    for p in range(bits):
        term = F.when(F.col(f"s{p}") > 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sums.select(F.col(id_col), sig.cast("long").alias("simhash"))


def _block_specs(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(bit_offset, width) for ``n_blocks`` disjoint blocks covering
    ``bits`` bits, widths differing by at most one."""
    base, extra = divmod(bits, n_blocks)
    specs: list[tuple[int, int]] = []
    off = 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        specs.append((off, w))
        off += w
    return specs


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bits: int = 32,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming —
    block-joined candidate generation (the 100 TB path), exact result.

    Pigeonhole blocking (Manku et al., WWW'07 flavor): split the signature
    into B = max_hamming + 1 disjoint bit blocks. A pair with Hamming
    distance d <= max_hamming has differing bits in at most d < B blocks,
    so AT LEAST ONE block is bit-identical — candidates are the union of B
    equi-joins on (block_id, block_value), never a cross join, and the
    verified result is IDENTICAL to the all-pairs form (blocking is
    lossless). Selectivity = ~2^(bits/B) distinct values per block: at the
    default 32-bit/6-Hamming that is 2^4..2^5 buckets per block (prefer
    wider signatures or a lower threshold at extreme corpus sizes — the
    registry's ``dedup_simhash`` runs max_hamming=1, i.e. 2x16-bit blocks).
    ``simhash_pairs_allpairs`` keeps the O(n^2) form as the test oracle.

    ``max_bucket`` is the production DEGENERACY GUARD, the SimHash twin of
    :func:`minhash_band_candidates`'s: a block bucket of B members emits
    B^2/2 candidates, and block values are only ~2^(bits/(max_hamming+1))
    distinct, so bucket population grows LINEARLY with the corpus at any
    vocabulary — at 10^9 docs every 16-bit bucket holds ~10^4 members and
    the "lossless" blocking is structurally quadratic. Dropping oversized
    buckets makes the result explicitly LOSSY (pairs whose every shared
    block is oversized are missed) in exchange for bounded candidate
    output; the honest-density step measured the uncapped pair count
    growing ~100x at 10x docs on the saturated-vocabulary profile.
    """
    s = simhash(df, id_col, text_col, bits)
    if max_bucket is not None:
        # two consumers below (bucket count + probe): checkpoint the
        # |docs|-row signature frame so the token explode + bit aggregate
        # doesn't run once per consumer (same rationale as the MinHash
        # guard's signature checkpoint)
        s = s.localCheckpoint(eager=True)
    specs = _block_specs(bits, max_hamming + 1)
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(F.col("simhash"), off)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("val"),
            )
            for i, (off, w) in enumerate(specs)
        ]
    )
    blocked = s.select(F.col(id_col), F.col("simhash"), F.explode(blocks).alias("b"))
    if max_bucket is not None:
        # aggregate + ANTI-join against the OVER-cap blocks, NOT a window
        # over (blk, val): degenerate buckets are single-task partitions
        # under a window (un-splittable, OOM class). Anti-vs-oversized
        # rather than semi-vs-ok for the same reason as the MinHash guard
        # (round 9): the ok set is ~every block at healthy densities,
        # the bad set is bounded by rows/cap — always a safe build side.
        badb = (
            blocked.groupBy(F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
            .agg(F.count("*").alias("bsz"))
            .filter(F.col("bsz") > max_bucket)
            .select("blk", "val")
        )
        blocked = blocked.join(
            badb.hint("SHUFFLE_HASH"),
            (F.col("b.blk") == F.col("blk")) & (F.col("b.val") == F.col("val")),
            "left_anti",
        )
    a = blocked.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("sim_a"),
        F.col("b.blk").alias("blk"),
        F.col("b.val").alias("val"),
    )
    b = blocked.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("sim_b"),
        F.col("b.blk").alias("blk"),
        F.col("b.val").alias("val"),
    )
    return (
        a.join(b, ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # a pair sharing k identical blocks surfaces k times — dedup AFTER
        # the Hamming filter so the distinct shuffle carries survivors only
        .distinct()
    )


def simhash_pairs_allpairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 6, bits: int = 32
) -> DataFrame:
    """All-pairs reference form of :func:`simhash_pairs` — O(n^2) theta
    join, test-oracle only (never the scale path)."""
    s = simhash(df, id_col, text_col, bits)
    a = s.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"))
    b = s.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
