#!/usr/bin/env python
"""Lifecycle audit for build-once artifacts under the store's root
(``vectordbfaiss_spark.artifacts.ROOT``).

Every published artifact (IVF/IVFPQ indexes, kNN edge lists, graph-ANN
edges/visited/compacted frames, delta segments) is keyed by a
content-sensitive ``corpus_fingerprint`` recorded in its JSON sidecar —
a regenerated fixture yields a new fingerprint and consumers rebuild.
What the keying does NOT do is delete the superseded directory: after a
fixture regeneration the old artifact sits orphaned on disk, masking
rebuild cost in listings and slowly growing the warehouse (round-8
verdict item 7). This tool closes that loop:

    python tools/artifact_gc.py list            # audit every artifact
    python tools/artifact_gc.py sweep           # dry-run: what would go
    python tools/artifact_gc.py sweep --delete  # actually remove

Statuses:
- ``current``  — sidecar parses and its corpus_key re-derives from the
  source path recorded inside it (first ``|``-segment of the key);
- ``stale``    — source exists but its fingerprint changed (fixture was
  regenerated in place; consumers already rebuild elsewhere — the dir
  is dead weight);
- ``orphaned`` — the source path no longer exists;
- ``corrupt``  — no parseable sidecar / missing _SUCCESS (an interrupted
  publish, including a temp dir a crashed build left behind, or a
  segment container written before containers went through the store;
  the build-once check already treats it as absent);
- ``unkeyed``  — sidecar has no corpus_key (not fingerprint-guarded;
  listed, never swept).

``sweep`` removes stale + orphaned + corrupt only. Current and unkeyed
artifacts are never touched.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vectordbfaiss_spark.artifacts import ROOT, SIDECAR, corpus_fingerprint  # noqa: E402

SWEEPABLE = ("stale", "orphaned", "corrupt")


def _sidecar(path: str) -> dict | None:
    """The artifact dir's parsed sidecar, or None."""
    try:
        with open(os.path.join(path, SIDECAR)) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def _dir_size(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def audit(warehouse: str = ROOT) -> list[dict]:
    """One record per top-level artifact dir: name, size, status, and
    the source path its fingerprint points at."""
    out: list[dict] = []
    if not os.path.isdir(warehouse):
        return out
    for name in sorted(os.listdir(warehouse)):
        path = os.path.join(warehouse, name)
        if not os.path.isdir(path):
            continue
        rec = {"name": name, "bytes": _dir_size(path), "source": None}
        meta = _sidecar(path)
        if meta is None or not os.path.isfile(os.path.join(path, "_SUCCESS")):
            rec["status"] = "corrupt"
            out.append(rec)
            continue
        params = meta.get("params") or {}
        # corpus_key, or any *_key param carrying a fingerprint-prefixed
        # value (delta segments append a revision suffix after it)
        key = params.get("corpus_key") or next(
            (
                v
                for k, v in sorted(params.items())
                if k.endswith("_key") and isinstance(v, str) and "|" in v
            ),
            None,
        )
        if not key:
            rec["status"] = "unkeyed"
            out.append(rec)
            continue
        src = key.split("|", 1)[0]
        rec["source"] = src
        if not os.path.exists(src):
            rec["status"] = "orphaned"
        else:
            fp = corpus_fingerprint(src)
            if key == fp or key.startswith(fp + "|"):
                rec["status"] = "current"
            else:
                rec["status"] = "stale"
        out.append(rec)
    return out


def sweep(warehouse: str = ROOT, delete: bool = False) -> list[dict]:
    """Remove (or, dry-run, report) every sweepable artifact."""
    victims = [r for r in audit(warehouse) if r["status"] in SWEEPABLE]
    if delete:
        for r in victims:
            shutil.rmtree(os.path.join(warehouse, r["name"]), ignore_errors=True)
    return victims


def main() -> None:
    args = sys.argv[1:]
    cmd = args[0] if args else "list"
    if cmd == "list":
        recs = audit()
        for r in recs:
            print(
                f"{r['status']:<9} {r['bytes'] / 1e6:9.1f} MB  {r['name']}"
                + (f"  <- {r['source']}" if r["source"] else "")
            )
        by = {}
        for r in recs:
            by[r["status"]] = by.get(r["status"], 0) + 1
        print(json.dumps({"total": len(recs), **by}))
    elif cmd == "sweep":
        delete = "--delete" in args
        victims = sweep(delete=delete)
        verb = "removed" if delete else "would remove (pass --delete)"
        for r in victims:
            print(f"{verb}: {r['name']} [{r['status']}, {r['bytes'] / 1e6:.1f} MB]")
        print(
            json.dumps(
                {
                    "swept" if delete else "sweepable": len(victims),
                    "bytes": sum(r["bytes"] for r in victims),
                }
            )
        )
    else:
        print(__doc__)
        sys.exit(2)


if __name__ == "__main__":
    main()
