"""Tests for the WebDataset-style tar-shard sink/source
(sources/tar_shards.py) and its registry roundtrip query."""

from __future__ import annotations

import json
import os
import tarfile

import tests.oracle_harness as H
from vectordbfaiss_spark.session import load_table
from vectordbfaiss_spark.sources import tar_shards as TS

SF_DIR = "/root/testdata/sf0.001"


def _write(spark, out_dir: str, n_parts: int = 3):
    spark.dataSource.register(TS.TarShardsDataSource)
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    (
        docs.repartition(n_parts)
        .write.format("tar_shards")
        .option("path", out_dir)
        .mode("append")
        .save()
    )
    return docs


def test_roundtrip_registry_query_matches_oracle(spark):
    assert H.run_pair(spark, "webdataset_tar_roundtrip", SF_DIR) == []


def test_shard_layout_manifest_and_determinism(spark, tmp_path):
    out = str(tmp_path / "shards")
    docs = _write(spark, out, n_parts=3)
    n_docs = docs.count()

    manifest = json.load(open(os.path.join(out, TS.MANIFEST)))
    shards = manifest["shards"]
    assert len(shards) == 3  # shard-per-task
    assert manifest["total_samples"] == sum(s["n_samples"] for s in shards)
    assert manifest["total_samples"] == n_docs
    # no temp files survive the atomic publish
    assert not [n for n in os.listdir(out) if n.endswith(".tmp")]

    for s in shards:
        with tarfile.open(os.path.join(out, s["shard"])) as tf:
            members = tf.getmembers()
            # each sample contributes {key}.txt + {key}.json, keys are
            # zero-padded doc_ids, mtime pinned for byte-determinism
            assert len(members) == 2 * s["n_samples"]
            for m in members:
                key, ext = m.name.rsplit(".", 1)
                assert ext in ("txt", "json") and len(key) == 9 and key.isdigit()
                assert m.mtime == 0


def test_reader_parallelism_and_manifestless_fallback(spark, tmp_path):
    out = str(tmp_path / "shards")
    docs = _write(spark, out, n_parts=3)
    expect = {(r["doc_id"], r["lang"]) for r in docs.collect()}

    back = spark.read.format("tar_shards").option("path", out).load()
    assert back.rdd.getNumPartitions() == 3  # shard-per-partition
    assert {(r["doc_id"], r["lang"]) for r in back.collect()} == expect

    os.remove(os.path.join(out, TS.MANIFEST))  # glob fallback
    back2 = spark.read.format("tar_shards").option("path", out).load()
    assert back2.count() == len(expect)


def test_text_bytes_survive_roundtrip_exactly(spark, tmp_path):
    out = str(tmp_path / "shards")
    _write(spark, out, n_parts=2)
    orig = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    back = spark.read.format("tar_shards").option("path", out).load().collect()
    assert len(back) == len(orig)
    for r in back:
        assert r["text"] == orig[r["doc_id"]]
