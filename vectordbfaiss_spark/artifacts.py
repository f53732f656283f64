"""The build-once artifact store: the one module that knows where
published artifacts live, how they are keyed and how they are published.

An artifact (IVF and IVFPQ indexes, kNN edge lists, graph-ANN edges and
audit frames, IVF delta segments and compactions) is built once per
corpus version and then read by many queries. Each one is a directory
holding its data, Spark's ``_SUCCESS`` marker and one JSON sidecar,
:data:`SIDECAR`, which records the build params (and any payload, such as
IVF centroids).

- **Root:** registry artifacts live under :data:`ROOT`, the repo's
  ``spark-warehouse/``, at :func:`path`.
- **Key:** :func:`corpus_key` fingerprints a corpus by content (mtime and
  size), so regenerating it in place yields a new key and a rebuild.
- **Publish:** :func:`publish` never writes into a live path. It builds
  into a hidden sibling temp dir, writes the sidecar there after the
  data, and renames the directory into place, so a reader sees either no
  artifact or a complete one. Publishers racing with the same params
  converge on one copy. Republishing with CHANGED params moves the live
  copy aside before the new one is renamed in: a reader that already
  listed the old files then fails loudly (file not found); it never reads
  a mix of old and new rows. Digest-versioned directories would close
  that gap; they are not implemented.
"""

from __future__ import annotations

import errno
import json
import os
import pathlib
import shutil
import uuid

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse"
)
SIDECAR = "_artifact.json"

# Every publish in this process, path -> "built" | "reused" ("built" wins
# once any call rebuilt it). bench.py clears it before the timed run and
# reports it afterwards.
RECORD: dict[str, str] = {}


def path(kind: str, sf_dir: str) -> str:
    """Where the ``kind`` artifact of the corpus at ``sf_dir`` lives:
    ``ROOT/<kind>_<sf dir name>``."""
    return os.path.join(ROOT, f"{kind}_{pathlib.Path(sf_dir).name}")


def corpus_fingerprint(path: str) -> str:
    """Content-sensitive key of a file or directory: the path plus the
    mtime and size of every file under it. Regenerating the source in
    place (same path, new data) yields a NEW key, so artifacts rebuild."""
    parts = [path]
    if os.path.isfile(path):
        st = os.stat(path)
        parts.append(f"{st.st_mtime_ns}:{st.st_size}")
    elif os.path.isdir(path):
        for root, _dirs, files in sorted(os.walk(path)):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
    return "|".join(parts)


def corpus_key(sf_dir: str) -> str:
    """The key every registry artifact derives from: the fingerprint of
    the corpus's ``embeddings.parquet``."""
    return corpus_fingerprint(f"{sf_dir}/embeddings.parquet")


def published(path: str, params: dict) -> dict | None:
    """The sidecar of the artifact at ``path`` iff it is complete:
    ``_SUCCESS`` present, the sidecar parses, and its params equal
    ``params``. Anything else (missing, truncated, other params) is
    None, so the caller rebuilds instead of erroring forever."""
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        return None
    try:
        with open(os.path.join(path, SIDECAR)) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    return meta if isinstance(meta, dict) and meta.get("params") == params else None


def publish(path: str, params: dict, build) -> dict:
    """Publish the artifact at ``path`` built with ``params``; return its
    sidecar dict.

    If a complete artifact with these params is in place it is reused and
    ``build`` never runs. Otherwise ``build(tmp)`` writes the data into a
    fresh sibling temp dir (it may return a dict of extra sidecar
    entries), the sidecar is written there, and the directory is renamed
    into place. A stale copy is moved aside first and removed after; a
    matching copy that a concurrent publisher placed meanwhile wins, and
    this build is discarded. A ``build`` that raises leaves the live
    artifact untouched.

    Params holding a ``None`` under any ``*_key`` name are unkeyed: the
    artifact is always rebuilt.
    """
    keyed = all(v is not None for k, v in params.items() if k.endswith("_key"))
    meta = published(path, params) if keyed else None
    if meta is not None:
        RECORD.setdefault(path, "reused")
        return meta
    parent, name = os.path.split(os.path.normpath(path))
    os.makedirs(parent, exist_ok=True)
    # hidden name: Spark listings and artifact_gc's sweep see it as junk
    tmp = os.path.join(parent, f".{name}.tmp-{uuid.uuid4().hex[:12]}")
    try:
        meta = {"params": params, **(build(tmp) or {})}
        with open(os.path.join(tmp, SIDECAR), "w") as fh:
            json.dump(meta, fh)
        while True:
            try:
                os.rename(tmp, path)
                break
            except OSError as e:
                if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
                    raise
            current = published(path, params) if keyed else None
            if current is not None:
                meta = current  # a concurrent publisher won the race
                break
            aside = os.path.join(parent, f".{name}.old-{uuid.uuid4().hex[:12]}")
            try:
                os.rename(path, aside)
            except FileNotFoundError:
                continue  # another publisher moved it first
            shutil.rmtree(aside, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # gone already after a rename
    RECORD[path] = "built"
    return meta
