"""Python DataSource: WebDataset-style tar-shard sink and source.

Large multimodal training runs read their data as sequential tar shards
(the WebDataset convention: each sample is a group of files sharing a key
prefix — ``000000042.txt`` + ``000000042.json`` — and a shard is a few
hundred MB of samples that a loader streams start-to-finish). This source
lets the engine materialize a curated corpus in that exact layout and read
it back as a DataFrame:

    spark.dataSource.register(TarShardsDataSource)
    df.write.format("tar_shards").option("path", out_dir).mode("append").save()
    back = spark.read.format("tar_shards").option("path", out_dir).load()

Scale shape: writing is shard-per-task (each Spark task streams its rows
into ONE tar, named by its partition id, written to a temp file and
os.replace'd into place — a crashed task never leaves a half-shard under
the final name), so a 1000-task write yields 1000 independently-readable
shards with zero coordination. Reading is shard-per-partition: each task
opens one tar and streams members sequentially — the access pattern tar
was built for. The driver-side commit writes a ``manifest.json`` recording
every shard and its sample count, mirroring WebDataset's sidecar metadata.

Sample layout (text corpus flavor): ``{key}.txt`` holds the UTF-8 text,
``{key}.json`` holds the metadata columns; ``key`` is the zero-padded
doc_id so member order is deterministic within a shard.
"""

from __future__ import annotations

import io
import json
import os
import tarfile
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ]
)

MANIFEST = "manifest.json"


def _key(doc_id: int) -> str:
    return f"{doc_id:09d}"


@dataclass
class _Shard(InputPartition):
    path: str


class _TarReader(DataSourceReader):
    def __init__(self, options: dict):
        self.dir = options["path"]

    def partitions(self):
        manifest = os.path.join(self.dir, MANIFEST)
        if os.path.exists(manifest):
            with open(manifest) as fh:
                names = [s["shard"] for s in json.load(fh)["shards"]]
        else:  # manifest-less directory: glob the shards
            names = sorted(
                n for n in os.listdir(self.dir) if n.endswith(".tar")
            )
        return [_Shard(os.path.join(self.dir, n)) for n in names]

    def read(self, partition: _Shard):
        # Arrow batches, not per-row tuples (same rationale as
        # sqlite_source: the columnar bridge is ~100x the row bridge)
        import pyarrow as pa

        ids: list[int] = []
        texts: list[str] = []
        langs: list[str] = []
        sources: list[str] = []

        def flush():
            if not ids:
                return None
            batch = pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(texts, pa.string()),
                    pa.array(langs, pa.string()),
                    pa.array(sources, pa.string()),
                ],
                names=["doc_id", "text", "lang", "source"],
            )
            ids.clear(), texts.clear(), langs.clear(), sources.clear()
            return batch

        with tarfile.open(partition.path, "r") as tf:
            pending: dict[str, dict] = {}
            for member in tf:
                if not member.isfile():
                    continue
                key, ext = member.name.rsplit(".", 1)
                buf = tf.extractfile(member).read()
                slot = pending.setdefault(key, {})
                slot[ext] = buf
                if "txt" in slot and "json" in slot:
                    meta = json.loads(slot["json"])
                    ids.append(int(meta["doc_id"]))
                    texts.append(slot["txt"].decode("utf-8"))
                    langs.append(meta["lang"])
                    sources.append(meta["source"])
                    del pending[key]
                    if len(ids) >= 2048:
                        yield flush()
            if pending:
                raise ValueError(
                    f"{partition.path}: {len(pending)} samples missing their "
                    ".txt or .json member (corrupt shard)"
                )
        batch = flush()
        if batch is not None:
            yield batch


@dataclass
class _ShardDone(WriterCommitMessage):
    shard: str
    n: int


class _TarWriter(DataSourceWriter):
    """Shard-per-task tar writer with atomic publish.

    Each task streams its partition into one tar under a temp name and
    os.replace()s it into place — a mid-write crash leaves only a temp
    file the next run overwrites, never a truncated shard under a name
    the reader would pick up (the write-then-rename rule of
    ``artifacts.publish``).
    The driver commit() writes manifest.json atomically the same way;
    readers treat the manifest as the source of truth, so shards from a
    failed/partial job are invisible until commit.
    """

    def __init__(self, options: dict):
        self.dir = options["path"]

    def write(self, rows: Iterator) -> _ShardDone:
        from pyspark import TaskContext

        os.makedirs(self.dir, exist_ok=True)
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else uuid.uuid4().hex[:8]
        name = f"shard-{pid:05d}.tar" if isinstance(pid, int) else f"shard-{pid}.tar"
        tmp = os.path.join(self.dir, f".{name}.{uuid.uuid4().hex}.tmp")
        n = 0
        with tarfile.open(tmp, "w") as tf:
            for row in rows:
                key = _key(row["doc_id"])
                meta = json.dumps(
                    {
                        "doc_id": row["doc_id"],
                        "lang": row["lang"],
                        "source": row["source"],
                    },
                    sort_keys=True,
                ).encode("utf-8")
                text = (row["text"] or "").encode("utf-8")
                for ext, payload in ((".txt", text), (".json", meta)):
                    info = tarfile.TarInfo(name=key + ext)
                    info.size = len(payload)
                    info.mtime = 0  # deterministic archives
                    tf.addfile(info, io.BytesIO(payload))
                n += 1
        os.replace(tmp, os.path.join(self.dir, name))
        return _ShardDone(name, n)

    def commit(self, messages) -> None:
        manifest = {
            "shards": sorted(
                (
                    {"shard": m.shard, "n_samples": m.n}
                    for m in messages
                    if m is not None
                ),
                key=lambda s: s["shard"],
            ),
        }
        manifest["total_samples"] = sum(s["n_samples"] for s in manifest["shards"])
        tmp = os.path.join(self.dir, f".{MANIFEST}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, os.path.join(self.dir, MANIFEST))

    def abort(self, messages) -> None:
        for m in messages or []:
            if m is not None:
                try:
                    os.remove(os.path.join(self.dir, m.shard))
                except OSError:
                    pass


class TarShardsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tar_shards"

    def schema(self) -> StructType:
        return SCHEMA

    def reader(self, schema: StructType) -> _TarReader:
        return _TarReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> _TarWriter:
        if overwrite:
            raise NotImplementedError(
                "tar_shards appends shards; clear the directory to rewrite"
            )
        return _TarWriter(self.options)
