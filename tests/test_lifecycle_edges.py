"""Edge cases for the session-3 lifecycle operators: empty inputs,
degenerate retention, and the theorems the new queries rely on."""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from vectordbfaiss_spark.plans.ivf import (
    build_ivf_index,
    ivf_compact,
    ivf_index_append,
)
from vectordbfaiss_spark.session import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_append_empty_delta_publishes_readable_segment(spark, tmp_path: pathlib.Path):
    """An empty ingest batch must still publish a well-formed (empty)
    segment — the append API must not corrupt the layout if handed zero
    rows."""
    emb = load_table(spark, SF_DIR, "embeddings")
    base = str(tmp_path / "base")
    centroids = build_ivf_index(emb, base, n_clusters=4, seed=42)
    dpath = str(tmp_path / "delta")
    ivf_index_append(emb.filter(F.lit(False)), centroids, dpath)
    assert spark.read.schema(
        spark.read.parquet(base).schema
    ).parquet(dpath).count() == 0


def test_compact_with_no_deltas_is_identity(spark, tmp_path: pathlib.Path):
    """Folding zero segments = a plain rewrite of the base (the
    small-file-compaction degenerate case): content identical."""
    emb = load_table(spark, SF_DIR, "embeddings")
    base = str(tmp_path / "base")
    build_ivf_index(emb, base, n_clusters=4, seed=42)
    out = str(tmp_path / "out")
    ivf_compact(spark, base, [], out, compact_key="k")
    a = {r["vec_id"] for r in spark.read.parquet(base).select("vec_id").collect()}
    b = {r["vec_id"] for r in spark.read.parquet(out).select("vec_id").collect()}
    assert a == b


def test_vacuum_keeps_everything_when_keep_last_exceeds_versions(spark, tmp_path):
    from vectordbfaiss_spark.sources.snapshots import (
        _versions,
        snapshot_vacuum,
        snapshot_write,
    )

    docs = load_table(spark, SF_DIR, "documents")
    table = str(tmp_path / "snap")
    snapshot_write(docs.filter(F.col("doc_id") < 10), table)
    snapshot_write(docs.filter(F.col("doc_id") < 20), table)
    assert snapshot_vacuum(table, keep_last=5) == []
    assert _versions(table) == [1, 2]


def test_vacuum_never_removes_current_even_if_old(spark, tmp_path):
    """A writer that crashed after its data landed but before the pointer
    swap leaves a published version NEWER than the current one — retention
    must still never delete the current version."""
    from vectordbfaiss_spark.sources.snapshots import (
        _versions,
        current_version,
        snapshot_vacuum,
        snapshot_write,
    )

    docs = load_table(spark, SF_DIR, "documents")
    table = str(tmp_path / "snap")
    for bound in (10, 20, 30, 40):
        snapshot_write(docs.filter(F.col("doc_id") < bound), table)
    docs.write.parquet(f"{table}/v=5")  # data + _SUCCESS, no pointer swap
    removed = snapshot_vacuum(table, keep_last=1)
    assert removed == [1, 2, 3]
    assert current_version(table) == 4
    assert _versions(table) == [4, 5]


def test_maxsim_self_retrieval_is_rank_one(spark):
    """The MaxSim self-score equals the query's chunk count (each chunk
    matches itself at cosine 1.0), which upper-bounds every other
    document's score — so self-retrieval at rank 1 is a theorem, pinned
    here against the live fixture."""
    from vectordbfaiss_spark.queries.vector_search import (
        q_maxsim_late_interaction,
    )

    out = q_maxsim_late_interaction(spark, SF_DIR).toPandas()
    for q in out.query_doc.unique():
        top = out[(out.query_doc == q) & (out.rnk == 1)]
        assert list(top.doc_id) == [q]


def test_incremental_er_assignments_are_consistent_with_batch(spark):
    """Every 'web'/'import' record the incremental path matches must land
    in the SAME entity the batch closure puts it in; 'feed' records must
    all mint new entities."""
    from vectordbfaiss_spark.queries.graph_cluster import (
        q_entity_resolution_incremental,
    )

    inc = q_entity_resolution_incremental(spark, SF_DIR).toPandas()
    web_imp = inc[inc.src.isin(["web", "import"])]
    # the perturbed feeds always match their original: entity_id is the
    # source custkey (rec_id minus the feed offset)
    offs = {"web": 1000000000, "import": 2000000000}
    for _, r in web_imp.iterrows():
        assert r["entity_id"] == r["rec_id"] - offs[r["src"]]
        assert not r["is_new_entity"]
    assert inc[inc.src == "feed"].is_new_entity.all()
