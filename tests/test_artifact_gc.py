"""Artifact lifecycle audit (tools/artifact_gc.py): fingerprint-keyed
status classification and the orphan/stale sweep."""

from __future__ import annotations

import json
import os
import time

from tools.artifact_gc import SWEEPABLE, audit, sweep


def _mk_artifact(wh, name, src=None, key=None, meta_name="_artifact.json"):
    path = os.path.join(wh, name)
    os.makedirs(path, exist_ok=True)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    with open(os.path.join(path, "part-0.parquet"), "w") as fh:
        fh.write("x" * 64)
    params = {}
    if key is not None:
        params["corpus_key"] = key
    if params or src is None:
        with open(os.path.join(path, meta_name), "w") as fh:
            json.dump({"params": params}, fh)
    return path


def _fingerprint(src):
    from vectordbfaiss_spark.plans.ivf import corpus_fingerprint

    return corpus_fingerprint(src)


def test_audit_classifies_all_statuses(tmp_path):
    wh = str(tmp_path / "wh")
    src = str(tmp_path / "corpus.parquet")
    with open(src, "w") as fh:
        fh.write("data")

    _mk_artifact(wh, "a_current", key=_fingerprint(src))
    _mk_artifact(wh, "b_orphaned", key=f"{tmp_path}/gone.parquet|1:2")
    stale_key = _fingerprint(src)
    _mk_artifact(wh, "c_stale", key=stale_key)
    _mk_artifact(wh, "d_unkeyed", key=None)
    # corrupt: _SUCCESS but no sidecar, no complete child
    os.makedirs(os.path.join(wh, "e_corrupt"))
    open(os.path.join(wh, "e_corrupt", "_SUCCESS"), "w").close()
    # a sidecar-less container of complete segment dirs (written before
    # segment containers went through the store): corrupt, swept
    os.makedirs(os.path.join(wh, "f_container", "delta_0"))
    open(os.path.join(wh, "f_container", "delta_0", "_SUCCESS"), "w").close()
    # delta-style *_key with a revision suffix after the fingerprint
    _mk_artifact(wh, "g_delta")
    with open(os.path.join(wh, "g_delta", "_artifact.json"), "w") as fh:
        json.dump(
            {"params": {"delta_key": _fingerprint(src) + "|rev3-v1"}}, fh
        )

    # regenerate the stale artifact's source AFTER keying c_stale... the
    # same src backs a_current/g_delta too, so re-key them to the new
    # fingerprint after touching:
    time.sleep(0.01)
    with open(src, "w") as fh:
        fh.write("regenerated!")
    new_fp = _fingerprint(src)
    assert new_fp != stale_key
    with open(os.path.join(wh, "a_current", "_artifact.json"), "w") as fh:
        json.dump({"params": {"corpus_key": new_fp}}, fh)
    with open(os.path.join(wh, "g_delta", "_artifact.json"), "w") as fh:
        json.dump({"params": {"delta_key": new_fp + "|rev3-v1"}}, fh)

    by = {r["name"]: r["status"] for r in audit(wh)}
    assert by == {
        "a_current": "current",
        "b_orphaned": "orphaned",
        "c_stale": "stale",
        "d_unkeyed": "unkeyed",
        "e_corrupt": "corrupt",
        "f_container": "corrupt",
        "g_delta": "current",
    }

    # dry-run reports, removes nothing
    victims = sweep(wh, delete=False)
    assert sorted(r["name"] for r in victims) == [
        "b_orphaned",
        "c_stale",
        "e_corrupt",
        "f_container",
    ]
    assert all(r["status"] in SWEEPABLE for r in victims)
    assert os.path.isdir(os.path.join(wh, "c_stale"))

    # real sweep removes exactly the sweepable set
    sweep(wh, delete=True)
    left = sorted(os.listdir(wh))
    assert left == ["a_current", "d_unkeyed", "g_delta"]


def test_real_warehouse_audits_clean():
    """The committed warehouse must never accumulate sweepable junk —
    this is the regression gate the tool exists for."""
    recs = audit()
    bad = [r for r in recs if r["status"] in SWEEPABLE]
    assert bad == [], bad
