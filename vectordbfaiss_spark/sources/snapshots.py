"""Snapshot-versioned parquet tables: time travel with no table format.

A training pipeline must be able to say "the model was trained on corpus
v7" and re-read v7 bit-for-bit later, even while ingest keeps appending.
Table formats (Delta/Iceberg) solve this with manifest files; this module
implements the minimal version of the same idea over plain parquet, with
no extra dependency:

- every write lands in a NEW directory ``<table>/v=<n>/`` (immutable once
  written — nothing ever rewrites a published version);
- a tiny ``_CURRENT`` pointer file names the live version; readers resolve
  it at plan time;
- publishing is pointer-swap-last: data is fully written before
  ``_CURRENT`` moves, so a crashed writer leaves the table readable at the
  previous version (readers never see partial data);
- old versions stay addressable (pinned reads) for audits/repro until
  explicitly vacuumed.

Scale notes: the pointer file is O(bytes) and read once per query plan —
never per task. Snapshots share nothing (full copies), which is the
right trade for curated-corpus publishing (weekly/monthly cadence, each
version IS the deliverable); incremental-share-files versioning is what
real table formats add on top.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

_CURRENT = "_CURRENT"
_VDIR = re.compile(r"^v=(\d+)$")


def _versions(table_path: str) -> list[int]:
    """Published versions only: a version directory counts iff it carries
    Spark's ``_SUCCESS`` marker. A writer that crashes mid-write leaves a
    partial ``v=n`` directory with no marker — without this check, a
    pinned ``snapshot_read`` could serve unpublished partial data."""
    if not os.path.isdir(table_path):
        return []
    return sorted(
        int(m.group(1))
        for d in os.listdir(table_path)
        if (m := _VDIR.match(d))
        and os.path.isfile(os.path.join(table_path, d, "_SUCCESS"))
    )


def current_version(table_path: str) -> int | None:
    ptr = os.path.join(table_path, _CURRENT)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return int(fh.read().strip())


def _all_version_dirs(table_path: str) -> list[int]:
    """Every ``v=n`` directory, published or not — used only for numbering
    the next write so it never collides with a crashed writer's partial."""
    if not os.path.isdir(table_path):
        return []
    return sorted(
        int(m.group(1))
        for d in os.listdir(table_path)
        if (m := _VDIR.match(d)) and os.path.isdir(os.path.join(table_path, d))
    )


def snapshot_write(df: DataFrame, table_path: str) -> int:
    """Publish ``df`` as the next version; returns the version number.
    Data is fully materialized before the pointer swaps."""
    vs = _all_version_dirs(table_path)
    new_v = (vs[-1] + 1) if vs else 1
    df.write.mode("errorifexists").parquet(
        os.path.join(table_path, f"v={new_v}")
    )
    tmp = os.path.join(table_path, f"{_CURRENT}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(new_v))
    os.replace(tmp, os.path.join(table_path, _CURRENT))  # atomic publish
    return new_v


def snapshot_read(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read the current (or an explicitly pinned) version."""
    v = current_version(table_path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published version at {table_path}")
    if version is not None and version not in _versions(table_path):
        # a pinned read must never serve a crashed writer's partial v=n
        # directory
        raise ValueError(f"version {version} is not published at {table_path}")
    return spark.read.parquet(os.path.join(table_path, f"v={v}"))


def snapshot_vacuum(table_path: str, keep_last: int = 2) -> list[int]:
    """Delete all but the newest ``keep_last`` versions (never the current
    one). Returns the versions removed."""
    import shutil

    vs = _versions(table_path)
    cur = current_version(table_path)
    victims = [v for v in vs[:-keep_last] if v != cur] if keep_last else []
    for v in victims:
        shutil.rmtree(os.path.join(table_path, f"v={v}"))
    return victims
