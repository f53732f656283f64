"""Snapshot versioning: publish, pin, vacuum — reproducible corpus
versions over plain parquet."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordbfaiss_spark.session import load_table
from vectordbfaiss_spark.sources.snapshots import (
    current_version,
    snapshot_read,
    snapshot_vacuum,
    snapshot_write,
)

SF_DIR = "/root/testdata/sf0.001"


def test_publish_read_rollback_vacuum(spark, tmp_path):
    table = str(tmp_path / "corpus")
    docs = load_table(spark, SF_DIR, "documents")

    v1 = snapshot_write(docs.filter(F.col("doc_id") < 30), table)
    v2 = snapshot_write(docs.filter(F.col("doc_id") < 50), table)
    assert (v1, v2) == (1, 2)
    assert current_version(table) == 2
    assert snapshot_read(spark, table).count() == 50

    # pinned read: v1 is still bit-addressable after v2 published
    assert snapshot_read(spark, table, version=1).count() == 30

    v3 = snapshot_write(docs, table)
    assert snapshot_read(spark, table).count() == docs.count()
    # vacuum keeps the newest two and never the current
    removed = snapshot_vacuum(table, keep_last=2)
    assert removed == [1]
    assert snapshot_read(spark, table, version=2).count() == 50
    assert current_version(table) == v3


def test_unpublished_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, str(tmp_path / "nope"))


def test_partial_version_not_published_but_numbering_skips_it(spark, tmp_path):
    import os

    from vectordbfaiss_spark.sources.snapshots import _versions, snapshot_write

    table = str(tmp_path / "corpus")
    docs = load_table(spark, SF_DIR, "documents")
    snapshot_write(docs.filter(F.col("doc_id") < 10), table)

    # simulate a writer that crashed mid-write: v=2 exists, no _SUCCESS
    partial = os.path.join(table, "v=2")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as fh:
        fh.write(b"garbage")

    assert _versions(table) == [1]  # unpublished => invisible to readers

    # the next write must NOT collide with the partial directory
    v = snapshot_write(docs.filter(F.col("doc_id") < 20), table)
    assert v == 3
    assert snapshot_read(spark, table).count() == 20


def test_pinned_read_refuses_partial_version(spark, tmp_path):
    import os

    from vectordbfaiss_spark.sources.snapshots import snapshot_write

    table = str(tmp_path / "corpus")
    docs = load_table(spark, SF_DIR, "documents")
    snapshot_write(docs.limit(5), table)
    partial = os.path.join(table, "v=2")
    os.makedirs(partial)
    with pytest.raises(ValueError):
        snapshot_read(spark, table, version=2)


def test_merge_upsert_semantics(spark, tmp_path):
    from vectordbfaiss_spark.operators.merge import merge_upsert

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "id long, v string"
    )
    v1 = snapshot_write(base, table)
    changes = spark.createDataFrame(
        [
            (2, "TWO", False),     # matched update
            (3, None, True),       # matched delete
            (4, "four", False),    # unmatched insert
            (99, None, True),      # unmatched delete -> no-op
        ],
        "id long, v string, _delete boolean",
    )
    v2 = merge_upsert(spark, table, changes, key_cols=["id"])
    assert v2 == v1 + 1
    got = {r["id"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert got == {1: "one", 2: "TWO", 4: "four"}
    # v1 still pinned-readable, bit-identical
    old = {r["id"]: r["v"] for r in snapshot_read(spark, table, version=v1).collect()}
    assert old == {1: "one", 2: "two", 3: "three"}


def test_merge_upsert_no_broadcast_path(spark, tmp_path):
    from vectordbfaiss_spark.operators.merge import merge_upsert

    table = str(tmp_path / "t2")
    snapshot_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), table
    )
    merge_upsert(
        spark,
        table,
        spark.createDataFrame([(2, "B")], "id long, v string"),
        key_cols=["id"],
        broadcast_changes=False,
    )
    got = {r["id"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert got == {1: "a", 2: "B"}
