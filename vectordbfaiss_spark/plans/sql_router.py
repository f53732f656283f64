"""SQL front door: route ``ORDER BY cosine_similarity(...) DESC LIMIT k``
onto an IVF-partitioned table (SURVEY §4.3 "stretch" — the one plan shape
the layout-encoded index could not serve through SQL until now).

PySpark cannot inject a Catalyst strategy, so the router works at the SQL
string level with a deliberately tight, documented grammar:

    SELECT * | <id_col>
         [, cosine_similarity(<vec_col>, <qvec>) AS <alias>]
    FROM <table>
    [WHERE <pred> [AND <pred>]*]          -- pred: <col> {=,!=,<>,<,<=,>,>=} <literal>
                                          --     | <col> IN (<literal>, ...)
    ORDER BY cosine_similarity(<vec_col>, <qvec>) DESC
    LIMIT <k>

    <qvec> ::= array(<float literals>) | embed('<query text>')

plus the HYDRATION form — the reference's full /search composition
(embed the query, top-k the index, hydrate document context;
server.js:217-265) as ONE statement:

    SELECT <item> [, <item>]*             -- item: <column name>
                                          --     | cosine_similarity(...) AS <alias>
    FROM <index_table> JOIN <doc_table>
      ON <index_table>.<id_col> = <doc_table>.<key>
    ORDER BY cosine_similarity(<vec_col>, <qvec>) DESC
    LIMIT <k>

``embed`` is the hermetic hash embedder (the U1 pluggable-embedder
seam); the router resolves it DRIVER-side into the literal query vector
(bit-identical to the registered ``embed`` pandas_udf the verbatim path
calls), so routed plans never run a UDF. The hydration route serves
top-k from the index family first and broadcasts the K-ROW winner frame
into the doc-table scan; it only answers when every winner hydrated
(else verbatim — plain SQL joins before ranking, and a context-less
winner would otherwise displace the row verbatim SQL returns).

The optional score projection is routable only when the projected
expression is LITERALLY the ranking expression (same column, same vector
literals, whitespace-insensitive) and the first projected item is the id
column; the routed output then carries the score under the requested
alias. Any other projection pair runs verbatim.

The optional WHERE is the filtered-ANN form — the conjunctive predicate
shapes real metadata filters take (equality, comparisons, IN-lists, ANDed
together). The pre-filter restricts the corpus BEFORE scoring (the
excluded fraction is never scored; parquet pushdown applies). Any WHERE
that doesn't parse into supported conjuncts (OR, functions, subqueries,
NULL tests, ...) falls back verbatim to ``spark.sql`` — never a silently
wrong routed answer. Like every routed query, results are
exact only at ``nprobe >= n_clusters`` — at smaller nprobe the routing is
approximate (standard IVF recall trade-off), including under a WHERE
filter; callers needing exact filtered answers pass full probe or run the
statement verbatim through ``spark.sql``.

- ``cosine_similarity`` is registered as a real Spark SQL function
  (:func:`ensure_sql_functions`), so the SAME statement executes exactly
  via ``spark.sql`` on any table — routing is a transparent optimization,
  not a dialect.
- For a table registered in the :data:`IVF_TABLES` catalog the router
  instead plans: normalize the literal query vector -> nearest ``nprobe``
  centroids (tiny broadcast) -> equi-join on ``cluster_id`` over the
  partition-pruned parquet read -> windowed top-k — the plans.ivf search
  shape where the layout does the pruning.
- With ``nprobe >= n_clusters`` the routed result is EXACT (every
  partition probed), which is what makes the router oracle-checkable;
  smaller nprobe trades recall for pruning exactly like any IVF index.

Ties: SQL ``ORDER BY score DESC LIMIT k`` leaves equal-score order
unspecified; the routed plan pins (score DESC, id ASC) — deterministic,
and a legal instantiation of the SQL semantics.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from vectordbfaiss_spark.plans.ivf import ivf_search


@dataclass
class IvfTable:
    path: str
    centroids: list
    id_col: str = "vec_id"
    vec_col: str = "embedding"


@dataclass
class IvfPqTable:
    """An IVFPQ-encoded artifact served through the same SQL grammar.

    ``vec_col`` is the LOGICAL vector column the statement names — the
    physical artifact stores PQ ``codes`` (+ ``cluster_id``) instead of
    the raw vectors; the router serves the ORDER BY from the ADC kernel.
    Routed answers are APPROXIMATE (PQ quantization error) even at full
    probe, which is the documented IVFPQ contract — callers needing
    exact scores use an IvfTable or run the statement verbatim against
    the raw table."""

    path: str
    centroids: list
    codebooks: object  # np.ndarray (m, k_codes, sub)
    id_col: str = "vec_id"
    vec_col: str = "embedding"


@dataclass
class GraphTable:
    """A published graph-ANN edge artifact served through the same SQL
    grammar — the third member of the ANN taxonomy behind the front
    door (flat/IVF exact, IVFPQ compressed, graph traversal).

    ``path`` is the RAW vector table (the scoring store — graph serving
    scores candidates against real vectors, so returned scores are
    exact cosines even though the top-k SET is approximate, the
    standard HNSW contract); ``edges_path`` the symmetrized edge
    artifact; ``n`` the corpus size captured at registration — it sizes
    the hash entry sample AND derives the serving knobs
    (``graph_serve_knobs``), so a router over a 100x larger corpus
    automatically serves at the wider beam the recall ladder requires
    instead of a silently rotting constant."""

    path: str
    edges_path: str
    n: int
    id_col: str = "vec_id"
    vec_col: str = "embedding"


#: name -> IvfTable; registered by the pipeline that built the index
IVF_TABLES: dict[str, IvfTable] = {}
#: name -> IvfPqTable; same catalog idea for PQ-encoded artifacts
IVFPQ_TABLES: dict[str, IvfPqTable] = {}
#: name -> GraphTable; graph-ANN artifacts behind the same grammar
GRAPH_TABLES: dict[str, GraphTable] = {}


def register_ivf_table(
    name: str,
    path: str,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    IVF_TABLES[name] = IvfTable(path, centroids, id_col, vec_col)


def register_ivfpq_table(
    name: str,
    path: str,
    centroids: list,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    IVFPQ_TABLES[name] = IvfPqTable(path, centroids, codebooks, id_col, vec_col)


def register_graph_table(
    name: str,
    path: str,
    edges_path: str,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    GRAPH_TABLES[name] = GraphTable(path, edges_path, n, id_col, vec_col)


#: dimensionality of the `embed('...')` SQL scalar — the hermetic hash
#: embedder's default, matching the fixture embedding width (U1 seam:
#: a real model embedder slots in with the same signature and dim)
EMBED_DIM = 64


def ensure_sql_functions(spark: SparkSession) -> None:
    """Register ``cosine_similarity(a, b)`` and ``embed(text)`` for
    plain-SQL execution (idempotent). Arrow-batched pandas_udfs — the
    exact-fallback path only; the routed plan never calls them (the
    router resolves ``embed`` driver-side via the bit-identical scalar
    reference ``_hash_embed_text``)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from vectordbfaiss_spark.functions.text import hash_embed_udf

    spark.udf.register("embed", hash_embed_udf(EMBED_DIM))

    def _cos(a, b):
        out = np.empty(len(a))
        for i, (x, y) in enumerate(zip(a, b)):
            xv = np.asarray(x, dtype=np.float64)
            yv = np.asarray(y, dtype=np.float64)
            nx = np.linalg.norm(xv) or 1.0
            ny = np.linalg.norm(yv) or 1.0
            out[i] = float(xv @ yv) / (nx * ny)
        return pd.Series(np.round(out, 6))

    spark.udf.register("cosine_similarity", pandas_udf(_cos, "double"))


#: the literal query-vector argument: an inline float array, or the
#: `embed('<text>')` scalar (resolved driver-side at route time)
_VEC_ARG = (
    r"(?:array\((?P<{v}>[-+0-9eE.,\s]*)\)"
    r"|embed\(\s*'(?P<{t}>[^']*)'\s*\))"
)

_PATTERN = re.compile(
    r"""^\s*SELECT\s+(?P<proj>\*|[A-Za-z_]\w*)
        (?:\s*,\s*cosine_similarity\(\s*(?P<pcol>[A-Za-z_]\w*)\s*,\s*"""
    + _VEC_ARG.format(v="pvec", t="pqt")
    + r"""\s*\)\s+AS\s+(?P<alias>[A-Za-z_]\w*))?\s+
        FROM\s+(?P<tbl>[A-Za-z_]\w*)\s+
        (?:WHERE\s+(?P<where>.+?)\s+)?
        ORDER\s+BY\s+cosine_similarity\(\s*(?P<col>[A-Za-z_]\w*)\s*,\s*"""
    + _VEC_ARG.format(v="vec", t="qt")
    + r"""\s*\)\s+DESC\s+
        LIMIT\s+(?P<k>\d+)\s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)


#: the hydration form — the reference's full /search composition
#: (server.js:217-265: embed query -> top-k -> hydrate doc text) in one
#: statement: top-k over a registered index table, inner-joined to a
#: plain Spark table/view for context columns
_HYDRATE_PATTERN = re.compile(
    r"""^\s*SELECT\s+(?P<items>.+?)\s+
        FROM\s+(?P<tbl>[A-Za-z_]\w*)\s+JOIN\s+(?P<doc>[A-Za-z_]\w*)\s+
        ON\s+(?P<lq>[A-Za-z_]\w*)\.(?P<lc>[A-Za-z_]\w*)\s*=\s*
             (?P<rq>[A-Za-z_]\w*)\.(?P<rc>[A-Za-z_]\w*)\s+
        ORDER\s+BY\s+cosine_similarity\(\s*(?P<col>[A-Za-z_]\w*)\s*,\s*"""
    + _VEC_ARG.format(v="vec", t="qt")
    + r"""\s*\)\s+DESC\s+
        LIMIT\s+(?P<k>\d+)\s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_ITEM_SCORE = re.compile(
    r"cosine_similarity\(\s*(?P<pcol>[A-Za-z_]\w*)\s*,\s*"
    + _VEC_ARG.format(v="pvec", t="pqt")
    + r"\s*\)\s+AS\s+(?P<alias>[A-Za-z_]\w*)",
    re.IGNORECASE,
)
_ITEM_COL = re.compile(r"[A-Za-z_]\w*")
_ITEM_SEP = re.compile(r"\s*,\s*")


def _parse_items(items: str) -> list | None:
    """The hydration SELECT list: plain column names plus at most one
    `cosine_similarity(...) AS alias` expression. Returns a list of
    ("score", match) / ("col", name) entries in statement order, or
    None when anything falls outside the grammar."""
    out: list = []
    pos, n = 0, len(items)
    while pos < n:
        if m := _ITEM_SCORE.match(items, pos):
            if any(kind == "score" for kind, _ in out):
                return None
            out.append(("score", m))
        elif m := _ITEM_COL.match(items, pos):
            out.append(("col", m.group(0)))
        else:
            return None
        pos = m.end()
        if pos >= n:
            break
        sep = _ITEM_SEP.match(items, pos)
        if not sep:
            return None
        pos = sep.end()
    return out or None


def _vec_key(lits: str) -> str:
    """Whitespace-insensitive identity of an array literal list, so the
    projected expression can be compared against the ORDER BY one."""
    return ",".join(tok.strip() for tok in lits.split(",") if tok.strip())


def _resolve_qvec(vec_lits: str | None, qtext: str | None) -> list[float]:
    """The query vector of a matched statement: inline float literals,
    or the hermetic embedding of an `embed('<text>')` argument —
    computed driver-side with the scalar reference `_hash_embed_text`,
    bit-identical to the registered `embed` pandas_udf the verbatim
    path would call (functions/text.py pins the equivalence)."""
    if vec_lits is not None:
        return [float(x) for x in vec_lits.split(",") if x.strip()]
    from vectordbfaiss_spark.functions.text import _hash_embed_text

    return [float(x) for x in _hash_embed_text(qtext or "", EMBED_DIM)]


def _rank_expr_identity(
    pvec: str | None, pqt: str | None, vec: str | None, qt: str | None
) -> bool:
    """True when the projected cosine argument is LITERALLY the ORDER BY
    argument (array-vs-array by whitespace-insensitive literal identity,
    embed-vs-embed by exact text; mixed forms never match — even if they
    denote the same vector, the router only routes what it can prove
    syntactically)."""
    if pvec is not None and vec is not None:
        return _vec_key(pvec) == _vec_key(vec)
    if pqt is not None and qt is not None:
        return pqt == qt
    return False

_LITERAL = r"'[^']*'|[-+]?\d+(?:\.\d+)?"
_PRED_IN = re.compile(
    rf"(?P<col>[A-Za-z_]\w*)\s+IN\s*\(\s*(?P<vals>(?:{_LITERAL})"
    rf"(?:\s*,\s*(?:{_LITERAL}))*)\s*\)\s*",
    re.IGNORECASE,
)
_PRED_CMP = re.compile(
    rf"(?P<col>[A-Za-z_]\w*)\s*(?P<op><=|>=|<>|!=|=|<|>)\s*(?P<val>{_LITERAL})\s*",
    re.IGNORECASE,
)
_AND = re.compile(r"AND\s+", re.IGNORECASE)
_LIT_SPLIT = re.compile(_LITERAL)


def _literal(tok: str):
    if tok.startswith("'"):
        return tok[1:-1]
    return float(tok) if "." in tok else int(tok)


def _parse_where(clause: str) -> list | None:
    """Parse a conjunction of simple predicates into Column filters; None
    when ANY part is outside the grammar (the caller then runs the whole
    statement verbatim). Sequential tokenization, not a split on "AND" —
    string literals may contain the word AND."""
    filters = []
    pos, n = 0, len(clause)
    while pos < n:
        if m := _PRED_IN.match(clause, pos):
            vals = [_literal(t.group(0)) for t in _LIT_SPLIT.finditer(m.group("vals"))]
            filters.append(F.col(m.group("col")).isin(vals))
        elif m := _PRED_CMP.match(clause, pos):
            c, lit = F.col(m.group("col")), F.lit(_literal(m.group("val")))
            op = m.group("op")
            filters.append(
                {
                    "=": c == lit,
                    "!=": c != lit,
                    "<>": c != lit,
                    "<": c < lit,
                    "<=": c <= lit,
                    ">": c > lit,
                    ">=": c >= lit,
                }[op]
            )
        else:
            return None
        pos = m.end()
        if pos >= n:
            break
        ma = _AND.match(clause, pos)
        if not ma:
            return None
        pos = ma.end()
    return filters or None


def _route_hydrated(spark: SparkSession, m, nprobe: int) -> DataFrame | None:
    """Serve a matched hydration statement from the registered index +
    a broadcast join of the k winners into the doc table, or return
    None when anything requires verbatim execution.

    Exactness: the winners come from the family route (exact for IVF at
    full probe, approximate-set for graph/PQ by their documented
    contracts). The routed plan computes top-k FIRST and hydrates
    after; plain SQL joins first and ranks after — those agree exactly
    when every winner hydrates, so the route verifies that all k
    winner ids found a doc row and otherwise returns None (verbatim
    rescue: a winner without context could otherwise silently displace
    the row plain SQL would have returned). Duplicate doc keys are
    handled by re-ranking the hydrated rows under the same
    (score DESC, id ASC) pin and re-applying LIMIT k — plain SQL's
    top-k rows are exactly that prefix.

    The hydration join broadcasts the K-ROW winner frame into the
    corpus-grain doc scan — never doc text the other way (the
    rag_answer_extractive 100-TB contract)."""
    name = m.group("tbl")
    tbl = IVF_TABLES.get(name)
    pq_tbl = IVFPQ_TABLES.get(name) if tbl is None else None
    g_tbl = GRAPH_TABLES.get(name) if tbl is None and pq_tbl is None else None
    any_tbl = tbl or pq_tbl or g_tbl
    if (
        any_tbl is None
        or m.group("col") != any_tbl.vec_col
        # a self-join (doc side == index side) is outside the hydration
        # contract — run verbatim
        or m.group("doc") == name
    ):
        return None
    try:
        doc_df = spark.table(m.group("doc"))
    except Exception:
        return None
    # join condition: one side must be the index table's id column, the
    # other any column of the doc table (qualifiers must name the tables)
    sides = {
        m.group("lq"): m.group("lc"),
        m.group("rq"): m.group("rc"),
    }
    if set(sides) != {name, m.group("doc")}:
        return None
    if sides[name] != any_tbl.id_col or sides[m.group("doc")] not in doc_df.columns:
        return None
    key = sides[m.group("doc")]
    items = _parse_items(m.group("items"))
    if items is None:
        return None
    for kind, it in items:
        if kind == "score":
            # same exactness rule as the single-table grammar: an
            # explicitly projected score expression routes only when it
            # IS the ranking expression and the family serves exact
            # scores (IVF only — PQ serves ADC approximations, graph
            # rounds to 6dp over an approximate candidate set)
            if (
                tbl is None
                or it.group("pcol") != m.group("col")
                or not _rank_expr_identity(
                    it.group("pvec"),
                    it.group("pqt"),
                    m.group("vec"),
                    m.group("qt"),
                )
            ):
                return None
        elif it != any_tbl.id_col and it not in doc_df.columns:
            return None
    qvec = _resolve_qvec(m.group("vec"), m.group("qt"))
    k = int(m.group("k"))
    lits = m.group("vec") or ", ".join(repr(x) for x in qvec)
    base = (
        f"SELECT * FROM {name} ORDER BY "
        f"cosine_similarity({any_tbl.vec_col}, array({lits})) DESC LIMIT {k}"
    )
    winners = route_topk_sql(spark, base, nprobe=nprobe).localCheckpoint(
        eager=True
    )
    hydrated = doc_df.join(
        F.broadcast(winners), doc_df[key] == winners[any_tbl.id_col], "inner"
    )
    if hydrated.select(winners[any_tbl.id_col]).distinct().count() < k:
        return None
    cols = []
    for kind, it in items:
        if kind == "score":
            cols.append(F.col("score").alias(it.group("alias")))
        elif it == any_tbl.id_col:
            cols.append(winners[any_tbl.id_col])
        else:
            cols.append(doc_df[it])
    return (
        hydrated.orderBy(F.desc("score"), F.asc(winners[any_tbl.id_col]))
        .limit(k)
        .select(*cols)
    )


def route_topk_sql(spark: SparkSession, sql: str, nprobe: int = 4) -> DataFrame:
    """Execute ``sql``; if it matches the supported top-k grammar over a
    registered IVF table, serve it from the partition-pruned layout,
    otherwise run it verbatim through ``spark.sql``.

    Routed output column contract: ``(<id_col>, score)`` for both ``*``
    and single-id projections — score is always surfaced because ranked
    retrieval without the score is useless downstream (the exact-fallback
    SQL can add the same expression to its projection).
    """
    hm = _HYDRATE_PATTERN.match(sql)
    if hm:
        routed = _route_hydrated(spark, hm, nprobe)
        if routed is not None:
            return routed
        ensure_sql_functions(spark)
        return spark.sql(sql)
    m = _PATTERN.match(sql)
    if not m:
        ensure_sql_functions(spark)
        return spark.sql(sql)
    where = m.group("where")
    filters = _parse_where(where) if where is not None else []
    name = m.group("tbl")
    tbl = IVF_TABLES.get(name)
    pq_tbl = IVFPQ_TABLES.get(name) if tbl is None else None
    g_tbl = (
        GRAPH_TABLES.get(name) if tbl is None and pq_tbl is None else None
    )
    any_tbl = tbl or pq_tbl or g_tbl
    proj = m.group("proj")
    alias = m.group("alias")
    if (
        any_tbl is None
        or m.group("col") != any_tbl.vec_col
        # only projections whose routed shape is well-defined are served
        # from the layout; anything else (some other column name) must run
        # verbatim so it returns exactly what the SQL says
        or proj not in ("*", any_tbl.id_col)
        # score projection (SELECT <id>, cosine_similarity(...) AS s) is
        # routable only when the projected expression IS the ranking
        # expression — same column, same literal vector — AND the artifact
        # serves exact scores. On IVFPQ the served score is the ADC
        # quantized approximation: fine as a router-added extra column in
        # the bare grammar (ranking contract), but an explicitly projected
        # expression is something the SQL defines exactly, so routing it
        # would silently return approximate values — verbatim instead.
        or (
            alias is not None
            and (
                pq_tbl is not None
                # graph tables serve an approximate candidate set with
                # scores rounded to 6dp — fine for the bare ranking
                # grammar, but an explicitly projected score expression
                # must return exactly what verbatim SQL would, so it
                # falls back (same reasoning as the WHERE guard below)
                or g_tbl is not None
                or proj != any_tbl.id_col
                or m.group("pcol") != m.group("col")
                or not _rank_expr_identity(
                    m.group("pvec"),
                    m.group("pqt"),
                    m.group("vec"),
                    m.group("qt"),
                )
            )
        )
        # a WHERE outside the conjunctive =/!=/range/IN grammar must run
        # verbatim too — routing may only ever be a transparent speedup
        or filters is None
        # graph traversal cannot pre-filter (a metadata filter would have
        # to run POST-traversal, silently shrinking the answer below k) —
        # any WHERE on a graph table runs verbatim-exact instead
        or (g_tbl is not None and filters)
    ):
        ensure_sql_functions(spark)
        return spark.sql(sql)
    qvec = _resolve_qvec(m.group("vec"), m.group("qt"))
    k = int(m.group("k"))
    # one JVM-side row in one partition: a createDataFrame list is a
    # Python-RDD scan over every default partition, and each of those
    # tasks must start a Python worker before the routing kernel runs
    queries = spark.range(0, 1, 1, 1).select(
        F.lit(0).cast("long").alias("query_id"),
        F.array(*[F.lit(x) for x in qvec]).cast("array<float>").alias("query_vec"),
    )
    if g_tbl is not None:
        # graph-ANN route: beam search over the published edge artifact,
        # knobs derived from the registered corpus size (the schedule the
        # syn ladder calibrated — see operators/graph_ann.py)
        from pyspark.sql import Window as W

        from vectordbfaiss_spark.operators.graph_ann import (
            graph_beam_search_interactive,
            graph_serve_knobs,
        )

        emb = spark.read.parquet(g_tbl.path)
        edges = spark.read.parquet(g_tbl.edges_path).select("src", "dst")
        beam, rounds = graph_serve_knobs(g_tbl.n)
        # the request-path kernel (ONE Spark job for the whole traversal
        # — an Arrow task that loads the published index, the RAM-resident
        # serving shape; bit-identical to the BSP operator): a routed SQL
        # statement is a single interactive request, exactly its contract
        visited = graph_beam_search_interactive(
            queries,
            edges,
            emb,
            beam=beam,
            rounds=rounds,
            n_entries=max(16, g_tbl.n // 32),
            emb_path=g_tbl.path,
            edges_path=g_tbl.edges_path,
            id_col=g_tbl.id_col,
            vec_col=g_tbl.vec_col,
        )
        w = W.partitionBy("query_id").orderBy(F.desc("score"), "vec_id")
        return (
            visited.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= k)
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .select(
                F.col("vec_id").alias(g_tbl.id_col),
                F.col("score").alias(alias or "score"),
            )
        )
    index = spark.read.parquet(any_tbl.path)
    for flt in filters:
        # metadata pre-filters (filtered ANN: restrict BEFORE scoring —
        # the excluded fraction is never scored, and parquet pushdown
        # applies). An unknown column raises the genuine UNRESOLVED_COLUMN
        # analysis error here — no fallback, since the routed table need
        # not exist as a Spark view.
        index = index.filter(flt)
    if pq_tbl is not None:
        # PQ-encoded artifact: centroid routing prunes rows, the ADC
        # kernel scores codes — scores are approximate by contract.
        from vectordbfaiss_spark.plans.pq import ivfpq_search

        hits = ivfpq_search(
            index,
            queries,
            pq_tbl.centroids,
            pq_tbl.codebooks,
            k=k,
            nprobe=nprobe,
            id_col=pq_tbl.id_col,
        )
        return hits.orderBy(F.desc("approx_score"), F.asc(pq_tbl.id_col)).select(
            pq_tbl.id_col, F.col("approx_score").alias(alias or "score")
        )
    hits = ivf_search(
        index,
        queries,
        tbl.centroids,
        k=k,
        nprobe=nprobe,
        index_id=tbl.id_col,
        index_vec=tbl.vec_col,
    )
    return hits.orderBy(F.desc("score"), F.asc(tbl.id_col)).select(
        tbl.id_col, F.col("score").alias(alias or "score")
    )
