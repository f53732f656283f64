"""Multimodal plumbing tests."""

from __future__ import annotations

from vectordbfaiss_spark.operators import multimodal as MM

SF_DIR = "/root/testdata/sf0.001"


def test_multimodal_decode_features_frames(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    media = MM.attach_binary_payload(docs)
    assert dict(media.dtypes)["payload"] == "binary"

    meta = MM.decode_image_metadata(media)
    rows = meta.collect()
    assert len(rows) == 50
    assert all(64 <= r["width"] <= 255 and 1 <= r["channels"] <= 4 for r in rows)
    # determinism: same payload -> same fake dims
    again = {r["doc_id"]: (r["width"], r["height"]) for r in meta.collect()}
    assert all(again[r["doc_id"]] == (r["width"], r["height"]) for r in rows)

    frames = MM.sample_frames(media, n_frames=4)
    counts = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] == 4 for r in counts)

    # metadata-only read must prune the binary column at the parquet scan
    pruned = media.select("doc_id", "media_type")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan.split("ReadSchema")[-1][:200]
