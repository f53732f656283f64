"""Dedup query declarations over the ``documents`` fixture, each with a
DuckDB oracle that replicates the (md5-keyed, engine-portable) pipeline
exactly. Operator implementations: operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from vectordbfaiss_spark.operators import dedup as D
from vectordbfaiss_spark.registry import register
from vectordbfaiss_spark.session import load_table

# Shared oracle fragments -----------------------------------------------------

def _shingle_cte(n: int) -> str:
    """CTE producing (doc_id, shingle) distinct rows — mirrors
    operators.dedup.exploded_shingles (same clamping for short texts)."""
    return f"""
w AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS words FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(0, greatest(1, len(words) - {n - 1}) - 1),
      i -> array_to_string(list_slice(words, i + 1, i + {n}), ' ')))) AS shingle
  FROM w
)"""


def _jaccard_ctes(n: int, max_df: int | None = None) -> str:
    """``max_df`` mirrors ngram_jaccard_pairs(max_shingle_df=...): above-cap
    shingles are dropped from BOTH the intersection and the per-doc counts,
    so the oracle computes the identical capped metric (a fixture with a
    boilerplate shingle over the cap would otherwise silently hash-mismatch)."""
    cap = ""
    if max_df is not None:
        cap = f""",
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {max_df}),
shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle))"""
    src = "shc" if max_df is not None else "sh"
    return f"""WITH {_shingle_cte(n)}{cap},
cnt AS (SELECT doc_id, count(*) AS n_sh FROM {src} GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b, round(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
  FROM inter
  JOIN cnt ca ON ca.doc_id = id_a
  JOIN cnt cb ON cb.doc_id = id_b
)"""


# ---------------------------------------------------------------------------
# Exact dedup (reference semantics: content UNIQUE, server.js:29,198)
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT source,
       count(*) AS n_rows,
       count(DISTINCT text) AS n_distinct,
       CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dupes
FROM documents
GROUP BY source
"""


@register("dedup_exact_stats", _EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate report per source (A5 report-form)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup_stats(docs, ["text"], ["source"])


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact all-pairs with shingle-join candidate gen)
# ---------------------------------------------------------------------------

_NGRAM_ORACLE = (
    _jaccard_ctes(3, max_df=10_000)
    + """
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.8
"""
)


@register("dedup_ngram_jaccard", _NGRAM_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-duplicate pairs (J >= 0.8). The fixture
    plants near-dup document pairs; this is the exact baseline the
    LSH variants are validated against."""
    docs = load_table(spark, sf_dir, "documents")
    # df cap = 10k: far above any fixture shingle frequency (result
    # unchanged at test SF) while bounding every candidate-join bucket at
    # 10k^2 rows at corpus scale
    return D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=10_000
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

_NUM_HASHES = 16
_ROWS_PER_BAND = 2


def _minhash_cand_ctes() -> str:
    """sig/bands/cand CTE chain mirroring operators.dedup
    minhash_signatures + minhash_band_candidates: 4 x 32-bit hex chunks
    per md5('g:' || shingle) digest, banded keys, distinct pairs.
    Appended after :func:`_jaccard_ctes` (needs the ``sh`` CTE)."""
    mh = ",\n       ".join(
        f"min(substr(md5('{s // 4}:' || shingle), {(s % 4) * 8 + 1}, 8)) AS mh{s}"
        for s in range(_NUM_HASHES)
    )
    n_bands = _NUM_HASHES // _ROWS_PER_BAND
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh{b * _ROWS_PER_BAND} || '|' || "
        f"mh{b * _ROWS_PER_BAND + 1} AS key FROM sig"
        for b in range(n_bands)
    )
    return f""",
sig AS (SELECT doc_id, {mh} FROM sh GROUP BY doc_id),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""


def _minhash_oracle() -> str:
    return (
        _jaccard_ctes(3)
        + _minhash_cand_ctes()
        + """
SELECT c.id_a, c.id_b, j.jaccard
FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= 0.4
"""
    )


@register("dedup_minhash_lsh", _minhash_oracle())
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH banding (8 bands x 2 rows) near-dup pairs,
    Jaccard-verified at 0.4 — the 100 TB-scale dedup path (candidates from
    band buckets only, never all-pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        num_hashes=_NUM_HASHES,
        rows_per_band=_ROWS_PER_BAND,
        threshold=0.4,
    )


_MAX_BUCKET = 64


def _minhash_capped_oracle() -> str:
    """Same chain as :func:`_minhash_oracle` plus the bucket-size guard:
    band buckets larger than ``_MAX_BUCKET`` members are dropped before
    the pair join, mirrored here as a HAVING filter."""
    return (
        _jaccard_ctes(3)
        + _minhash_cand_ctes()
        + f""",
okb AS (
  SELECT band, key FROM bands GROUP BY band, key HAVING count(*) <= {_MAX_BUCKET}
),
capped AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN okb o ON o.band = a.band AND o.key = a.key
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, j.jaccard
FROM capped c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= 0.4
"""
    )


@register("dedup_minhash_capped", _minhash_capped_oracle())
def q_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with the production BUCKET-SIZE GUARD: band buckets
    over 64 members are dropped before the candidate self-join. A bucket
    of B members emits B^2/2 pairs, so one boilerplate-dominated bucket
    (empty docs, repeated headers, saturated shingle spaces) makes the
    "bounded" candidate join quadratic — reproduced at 500k docs as a
    >77 GB shuffle spill when a synthetic corpus saturated its 3-gram
    space (SCALE.md round 5). Oversized buckets carry chance collisions,
    not Jaccard signal, so dropping them loses only low-value candidates;
    every surviving pair is still exact-Jaccard-verified. On the fixture
    no bucket approaches the cap, so the output equals
    `dedup_minhash_lsh` and the oracle (which replays the same HAVING
    guard) hash-checks the equivalence."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        num_hashes=_NUM_HASHES,
        rows_per_band=_ROWS_PER_BAND,
        threshold=0.4,
        max_bucket=_MAX_BUCKET,
    )


def _minhash_incremental_oracle() -> str:
    mh = ",\n       ".join(
        f"min(substr(md5('{s // 4}:' || shingle), {(s % 4) * 8 + 1}, 8)) AS mh{s}"
        for s in range(_NUM_HASHES)
    )
    n_bands = _NUM_HASHES // _ROWS_PER_BAND
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh{b * _ROWS_PER_BAND} || '|' || "
        f"mh{b * _ROWS_PER_BAND + 1} AS key FROM sig"
        for b in range(n_bands)
    )
    return (
        _jaccard_ctes(3)
        + f""",
sig AS (SELECT doc_id, {mh} FROM sh GROUP BY doc_id),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS existing_id, b.doc_id AS new_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
)
SELECT c.existing_id, c.new_id, j.jaccard
FROM cand c
JOIN jac j ON least(c.existing_id, c.new_id) = j.id_a
          AND greatest(c.existing_id, c.new_id) = j.id_b
WHERE j.jaccard >= 0.4
"""
    )


@register("dedup_minhash_incremental", _minhash_incremental_oracle())
def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup (the production ingest shape): a NEW batch
    (odd doc_ids) banded against an EXISTING store (even doc_ids), so the
    candidate join is A x B — |new|-proportional — and the corpus never
    self-joins. Same MinHash family as dedup_minhash_lsh; output keeps the
    role labels (existing_id, new_id)."""
    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return D.minhash_lsh_incremental(
        existing,
        new,
        "doc_id",
        "text",
        n=3,
        num_hashes=_NUM_HASHES,
        rows_per_band=_ROWS_PER_BAND,
        threshold=0.4,
        check_disjoint=False,  # parity split is disjoint by construction
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_sig_ctes(bits: int = 32) -> str:
    """The shared toks -> per-bit sums -> signature CTE chain, used by
    BOTH SimHash oracle builders (plain and capped) so neither depends on
    the rendered text of the other (an earlier version sliced the plain
    oracle's SQL string, which broke on any cosmetic reformat)."""
    sums = ",\n       ".join(
        f"sum(((strpos('0123456789abcdef', substr(md5(tok), {1 + p // 4}, 1)) - 1)"
        f" >> {p % 4} & 1) * 2 - 1) AS s{p}"
        for p in range(bits)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN s{p} > 0 THEN {1 << p} ELSE 0 END)" for p in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split_regex(rtrim(text), '\\s+')) AS tok
  FROM documents
),
sums AS (
  SELECT doc_id,
       {sums}
  FROM toks GROUP BY doc_id
),
sig AS (SELECT doc_id, CAST({sig_terms} AS BIGINT) AS simhash FROM sums)
"""


def _simhash_oracle(bits: int = 32, max_hamming: int = 1) -> str:
    return (
        _simhash_sig_ctes(bits)
        + f"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""
    )


@register("dedup_simhash", _simhash_oracle())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash near-dup pairs (Hamming <= 1; the tiny shared
    vocabulary of the synthetic corpus makes looser thresholds meaningless). md5-bit construction is
    engine-portable; see operators.dedup.simhash."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, "doc_id", "text", max_hamming=1).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


_SIMHASH_MAX_BUCKET = 256


def _simhash_capped_oracle(bits: int = 32, max_hamming: int = 1) -> str:
    """Same signature chain as :func:`_simhash_oracle` (shared via
    :func:`_simhash_sig_ctes`) plus the pigeonhole block-bucket guard
    replayed in SQL: blocks whose bucket exceeds ``_SIMHASH_MAX_BUCKET``
    members are dropped before the candidate join (2 x 16-bit blocks at
    max_hamming=1)."""
    return (
        _simhash_sig_ctes(bits).rstrip("\n")
        + f""",
blocks AS (
  SELECT doc_id, 0 AS blk, simhash & 65535 AS val FROM sig
  UNION ALL
  SELECT doc_id, 1 AS blk, (simhash >> 16) & 65535 AS val FROM sig
),
okb AS (
  SELECT blk, val FROM blocks GROUP BY blk, val
  HAVING count(*) <= {_SIMHASH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM blocks a
  JOIN okb o ON o.blk = a.blk AND o.val = a.val
  JOIN blocks b ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON c.id_a = sa.doc_id
JOIN sig sb ON c.id_b = sb.doc_id
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_hamming}
"""
    )


@register("dedup_simhash_capped", _simhash_capped_oracle())
def q_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the production BLOCK-BUCKET GUARD —
    the SimHash twin of `dedup_minhash_capped`. Pigeonhole block values
    are only ~2^16 distinct, so bucket population grows LINEARLY with the
    corpus at ANY vocabulary and the "lossless" blocking is structurally
    quadratic at 10^9 docs (the honest-density step measured uncapped
    pair output growing ~100x at 10x docs, SCALE.md). Buckets over 256
    members are dropped before the candidate join — explicitly LOSSY
    (a pair is missed only if EVERY block it agrees on is oversized) and
    bounded; the oracle replays the same HAVING guard digit for digit,
    so the loss is deterministic and hash-checked, not estimated."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(
        docs, "doc_id", "text", max_hamming=1, max_bucket=_SIMHASH_MAX_BUCKET
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


_TRI_ORACLE = (
    _jaccard_ctes(3)
    + """,
e AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.6),
tri AS (
  SELECT ab.id_a AS a, ab.id_b AS b, bc.id_b AS c
  FROM e ab JOIN e bc ON ab.id_b = bc.id_a
  JOIN e ac ON ab.id_a = ac.id_a AND bc.id_b = ac.id_b
), nodes AS (
  SELECT id_a AS doc_id FROM e UNION ALL SELECT id_b FROM e
), deg AS (
  SELECT doc_id, count(*) AS degree FROM nodes GROUP BY doc_id
), tn AS (
  SELECT v AS doc_id, count(*) AS n_tri
  FROM (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY v
)
SELECT d.doc_id,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_triangles
FROM deg d LEFT JOIN tn ON d.doc_id = tn.doc_id
"""
)


@register("neardup_triangle_count", _TRI_ORACLE)
def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the near-duplicate pair graph: per-node degree
    and triangle participation (J >= 0.6 n-gram edges). Triangles are
    mutual-similarity cliques — the difference between a chain of
    borderline pairs and a genuine duplicate cluster; connected
    components (dedup_cluster_components) can't tell those apart. Plan:
    the edge list is blocking-bounded; the triangle enumeration is two
    self-equi-joins ordered a<b<c so each triangle counts once. At scale
    the standard node-degree-ordering optimization drops the join input
    further; edge sets here are dedup-pair-sized (tiny), not corpus-sized."""
    from vectordbfaiss_spark.operators.dedup import ngram_jaccard_pairs
    from vectordbfaiss_spark.session import fan_out

    docs = load_table(spark, sf_dir, "documents")
    e = (
        ngram_jaccard_pairs(
            fan_out(docs), "doc_id", "text", n=3, threshold=0.6, max_shingle_df=10_000
        )
        .select("id_a", "id_b")
    )
    # the edge list feeds FIVE subtrees (three triangle join legs + both
    # node unions); left lazy the whole shingle-join pipeline runs 5x.
    # Edges are dedup-pair-sized (tiny) — materialize once, break lineage.
    e = e.localCheckpoint(eager=True)
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.id_b") == F.col("bc.id_a"))
        .join(
            ac,
            (F.col("ab.id_a") == F.col("ac.id_a"))
            & (F.col("bc.id_b") == F.col("ac.id_b")),
        )
        .select(
            F.col("ab.id_a").alias("a"),
            F.col("ab.id_b").alias("b"),
            F.col("bc.id_b").alias("c"),
        )
    )
    nodes = e.select(F.col("id_a").alias("doc_id")).unionAll(
        e.select(F.col("id_b").alias("doc_id"))
    )
    deg = nodes.groupBy("doc_id").agg(F.count("*").alias("degree"))
    tn = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"))
    )
    return deg.join(tn, "doc_id", "left").select(
        "doc_id",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_triangles"),
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------

_SETSIM_ORACLE = f"""
WITH {_shingle_cte(3)}, sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 5 * c >= 3 * (sa.sz + sb.sz - c)
"""


@register("setsim_prefix_join", _SETSIM_ORACLE)
def q_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-shingle-set Jaccard >= 0.6 pairs via prefix filtering
    (PPJoin) — the lossless scale path the approximate ladder (MinHash
    banding, SimHash blocks) is benchmarked against, and the exact
    complement of `dedup_ngram_jaccard`'s df-capped candidate join. The
    oracle runs the brute all-pairs shingle join; the Spark plan joins
    only frequency-ascending PREFIXES (|s| - ceil(0.6|s|) + 1 shingles,
    integer arithmetic) plus cross-multiplied length pruning, then
    verifies intersections restricted to candidates — identical output,
    candidate-bounded work (see operators/setsim.py)."""
    from vectordbfaiss_spark.operators.dedup import exploded_shingles
    from vectordbfaiss_spark.operators.setsim import prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    shingles = exploded_shingles(docs, "doc_id", "text", n=3)
    return prefix_filter_jaccard_pairs(shingles, "doc_id", "shingle")


# ---------------------------------------------------------------------------
# MinHash recall audit against the exact set-similarity join
# ---------------------------------------------------------------------------

_AUDIT_ORACLE = (
    _jaccard_ctes(3)
    + _minhash_cand_ctes()
    + """,
ex AS (
  SELECT id_a, id_b FROM inter
  JOIN cnt ca ON ca.doc_id = id_a
  JOIN cnt cb ON cb.doc_id = id_b
  WHERE 5 * n_inter >= 3 * (ca.n_sh + cb.n_sh - n_inter)
),
det AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN ex e ON c.id_a = e.id_a AND c.id_b = e.id_b
)
SELECT (SELECT count(*) FROM ex) AS n_exact,
       (SELECT count(*) FROM det) AS n_detected,
       (SELECT count(*) FROM cand) AS n_candidates,
       round((SELECT count(*) FROM det) * 1.0
             / greatest((SELECT count(*) FROM ex), 1), 4) AS recall,
       round((SELECT count(*) FROM det) * 1.0
             / greatest((SELECT count(*) FROM cand), 1), 4) AS candidate_precision,
       (SELECT count(*) FROM det d
        LEFT JOIN ex e ON d.id_a = e.id_a AND d.id_b = e.id_b
        WHERE e.id_a IS NULL) = 0 AS detected_subset_of_exact
"""
)


@register("minhash_quality_audit", _AUDIT_ORACLE)
def q_minhash_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured quality of the approximate dedup path against exact truth
    — the audit a pipeline runs before trusting MinHash at scale. Ground
    truth is the prefix-filter exact join (J >= 0.6, operators/setsim.py);
    the approximate side is the same banded generator production uses
    (b=8, r=2 — S-curve detection prob 1-(1-J^2)^8, ~0.97 at J=0.6).
    Reports recall (exact pairs the bands caught), candidate precision
    (verification work wasted on sub-threshold candidates), and the
    subset witness (detections are by construction banded AND exact —
    the boolean certifies the join logic). Detection = candidate-pair ∩
    exact-pair with the SAME integer threshold test on both sides — a
    rounded-Jaccard filter here would disagree with the exact join's
    cross-multiplied test for pairs whose true J rounds up to 0.600000
    (reachable once a pair's shingle union exceeds ~400k). Both sides
    are corpus-scale-safe: bands bound one, the frequency-ascending
    prefix bounds the other — nothing here is the all-pairs join (that
    survives only inside the DuckDB oracle)."""
    from vectordbfaiss_spark.operators.dedup import (
        exploded_shingles,
        minhash_band_candidates,
    )
    from vectordbfaiss_spark.operators.setsim import prefix_filter_jaccard_pairs

    from vectordbfaiss_spark.session import materialize_concurrently

    docs = load_table(spark, sf_dir, "documents")
    # candidate-pair-sized frame with two consumers (the detection semi-
    # join and the n_candidates count): materialize once or the whole
    # minhash->band pipeline runs twice. The two legs are INDEPENDENT —
    # the banded leg's kernel shingles the text itself, the exact leg
    # explodes its own shingles — so their materializations overlap
    # (guide-§2.6 back-fill): wall ~= max of the two pipelines instead
    # of their sum.
    cand, exact = materialize_concurrently(
        minhash_band_candidates(
            docs,
            "doc_id",
            "text",
            n=3,
            num_hashes=_NUM_HASHES,
            rows_per_band=_ROWS_PER_BAND,
            materialize=False,
        ),
        prefix_filter_jaccard_pairs(
            exploded_shingles(docs, "doc_id", "text", n=3), "doc_id", "shingle"
        ).select("id_a", "id_b"),
    )
    # explicit hints: both sides are checkpointed RDDs (no stats), so the
    # static planner would sort-merge-join them. SHUFFLE_HASH, not a
    # forced broadcast: the exact pair set tracks the corpus's true
    # duplicate density — data-dependent, so at 100 TB it can be far
    # larger than any broadcast budget while still hashing fine
    # per-partition
    det = cand.join(
        exact.hint("SHUFFLE_HASH"), ["id_a", "id_b"], "left_semi"
    ).localCheckpoint(eager=True)
    outside = det.join(exact.hint("SHUFFLE_HASH"), ["id_a", "id_b"], "left_anti")
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(det.agg(F.count("*").alias("n_detected")))
        .crossJoin(cand.agg(F.count("*").alias("n_candidates")))
        .crossJoin(
            outside.agg((F.count("*") == 0).alias("detected_subset_of_exact"))
        )
        .select(
            "n_exact",
            "n_detected",
            "n_candidates",
            F.round(
                F.col("n_detected") / F.greatest(F.col("n_exact"), F.lit(1)), 4
            ).alias("recall"),
            F.round(
                F.col("n_detected") / F.greatest(F.col("n_candidates"), F.lit(1)), 4
            ).alias("candidate_precision"),
            "detected_subset_of_exact",
        )
    )
