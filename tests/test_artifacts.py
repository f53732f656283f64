"""The build-once artifact store (vectordbfaiss_spark/artifacts.py): one
module knows the root, the keys and the publish protocol; publishing is
atomic under concurrent publishers and readers; registry artifacts follow
the root; PQ codebooks follow the corpus content."""

from __future__ import annotations

import ast
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from vectordbfaiss_spark import artifacts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _root_literals(path: str) -> list[int]:
    """Lines of non-docstring string constants naming the artifact root."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    docstrings = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if body and isinstance(body[0], ast.Expr):
                docstrings.add(id(body[0].value))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docstrings
        and ("spark-warehouse" in node.value or REPO in node.value)
    ]


def test_no_second_place_knows_the_root():
    """Only artifacts.py may spell out where artifacts live.

    One exception: operators/graph.py falls back to "spark-warehouse" when
    the session has no ``spark.sql.warehouse.dir``. That is the connected-
    components scratch dir, not an artifact, and it must keep following
    the session's conf, because perfbench points that conf into its own
    run dir."""
    allowed = {os.path.join("vectordbfaiss_spark", "operators", "graph.py"): 1}
    files = [os.path.join(REPO, "bench.py")]
    for top in ("vectordbfaiss_spark", "tools"):
        for root, _dirs, names in os.walk(os.path.join(REPO, top)):
            files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    hits = []
    for f in sorted(files):
        rel = os.path.relpath(f, REPO)
        if rel == os.path.join("vectordbfaiss_spark", "artifacts.py"):
            continue
        lines = _root_literals(f)
        if len(lines) != allowed.get(rel, 0):
            hits += [f"{rel}:{n}" for n in lines] or [f"{rel}: allowed hit gone"]
    assert not hits, hits


def _files_build(tag: str, n_parts: int, gate: threading.Barrier | None = None):
    def build(tmp: str) -> dict:
        if gate is not None:
            gate.wait(timeout=30)  # both publishers are past the reuse check
        os.makedirs(tmp)
        for i in range(n_parts):
            with open(os.path.join(tmp, f"part-{i:03d}"), "w") as fh:
                fh.write(tag)
            time.sleep(0.002)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        return {"writer": tag}

    return build


def test_publish_race_converges_and_failed_build_keeps_live(tmp_path):
    """More publishers than cores race with the same params beside a
    reader: all return one complete artifact, the reader never sees a
    partial or mixed row set, and no temp dir is left behind."""
    out = str(tmp_path / "art")
    params = {"corpus_key": "k1"}
    n_parts = 25
    writers = [f"w{i}" for i in range(2 * (os.cpu_count() or 2))]
    gate = threading.Barrier(len(writers))
    seen: list[tuple[int, frozenset]] = []
    stop = threading.Event()

    def reader() -> None:
        while not stop.is_set():
            try:
                names = sorted(n for n in os.listdir(out) if n.startswith("part-"))
                tags = set()
                for n in names:
                    with open(os.path.join(out, n)) as fh:
                        tags.add(fh.read())
            except FileNotFoundError:
                continue  # not published yet
            seen.append((len(names), frozenset(tags)))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(len(writers) + 1) as pool:
            watching = pool.submit(reader)
            racing = [
                pool.submit(
                    artifacts.publish, out, params, _files_build(w, n_parts, gate)
                )
                for w in writers
            ]
            results = [f.result(timeout=60) for f in racing]
            time.sleep(0.05)  # let the reader see the final state too
            stop.set()
            watching.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)

    ra = results[0]
    assert all(r == ra for r in results) and ra["writer"] in writers
    assert artifacts.published(out, params) == ra
    assert seen, "the reader never saw the artifact"
    # never a partial (fewer parts) or mixed (two writers) row set
    assert set(seen) == {(n_parts, frozenset([ra["writer"]]))}
    assert sorted(os.listdir(tmp_path)) == ["art"]  # the loser's temp is gone

    # a build that raises leaves the live artifact untouched
    def broken(tmp: str) -> None:
        os.makedirs(tmp)
        open(os.path.join(tmp, "part-000"), "w").close()
        raise RuntimeError("build failed")

    before = sorted(os.listdir(out))
    with pytest.raises(RuntimeError, match="build failed"):
        artifacts.publish(out, {"corpus_key": "k2"}, broken)
    assert sorted(os.listdir(out)) == before
    assert artifacts.published(out, params) == ra
    assert sorted(os.listdir(tmp_path)) == ["art"]

    # changed params republish in place; a None key always rebuilds
    calls = []

    def counted(tmp: str) -> dict:
        calls.append(tmp)
        return _files_build("c", 2)(tmp)

    artifacts.publish(out, {"corpus_key": "k3"}, counted)
    assert len(os.listdir(out)) == 2 + 2  # parts + _SUCCESS + sidecar
    artifacts.publish(out, {"corpus_key": None}, counted)
    artifacts.publish(out, {"corpus_key": None}, counted)
    assert len(calls) == 3
    assert sorted(os.listdir(tmp_path)) == ["art"]


def _tree(root: str) -> dict[str, int]:
    state = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            state[os.path.relpath(p, root)] = os.stat(p).st_mtime_ns
    return state


def test_registry_artifacts_follow_the_root(spark, tmp_path, monkeypatch):
    """With the root moved to a tmp dir, an IVF, an IVFPQ and a graph-ANN
    query publish there, still MATCH their oracles, and nothing is
    written under the repo's own warehouse."""
    from tests.conftest import SF_ORACLE
    from tests.oracle_harness import run_pair

    repo_root = artifacts.ROOT
    before = _tree(repo_root)
    root = str(tmp_path / "wh")
    monkeypatch.setattr(artifacts, "ROOT", root)
    for name in ("sql_routed_topk", "sql_routed_pq_filtered", "graph_ann_recall_bound"):
        assert run_pair(spark, name, SF_ORACLE) == [], name
    sf = os.path.basename(SF_ORACLE)
    assert {
        f"ivf_index_{sf}",
        f"ivfpq_index_{sf}",
        f"graph_ann_edges_{sf}",
        f"graph_ann_visited_{sf}",
        f"exact_top11_{sf}",
    } <= set(os.listdir(root))
    assert _tree(repo_root) == before


def test_graph_delta_segment_is_published_keyed(spark, tmp_path, monkeypatch):
    """graph_ann_compact_serve's delta segment goes through the store: every
    parquet write under the root lands in a publish temp dir (no live path
    is written in place), the segment container audits current (keyed, not
    unkeyed) and still serves its one segment, and a rerun writes nothing."""
    from pyspark.sql.readwriter import DataFrameWriter

    from tests.conftest import SF_ORACLE
    from tests.oracle_harness import run_pair
    from tools.artifact_gc import audit
    from vectordbfaiss_spark.operators.graph_ann_incremental import list_segments

    root = str(tmp_path / "wh")
    monkeypatch.setattr(artifacts, "ROOT", root)
    written = []
    real_parquet = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        written.append(os.path.relpath(path, root))
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    assert run_pair(spark, "graph_ann_compact_serve", SF_ORACLE) == []
    assert written
    assert all(w.startswith(".") and ".tmp-" in w.split(os.sep)[0] for w in written), written

    seg_root = artifacts.path("graph_ann_segments", SF_ORACLE)
    status = {r["name"]: r["status"] for r in audit(root)}
    assert status[os.path.basename(seg_root)] == "current"
    assert "unkeyed" not in status.values()
    assert list_segments(seg_root) == [os.path.join(seg_root, "delta_00000")]

    written.clear()
    assert run_pair(spark, "graph_ann_compact_serve", SF_ORACLE) == []
    assert written == []


def test_pq_codebooks_retrain_when_corpus_regenerated(spark, tmp_path, monkeypatch):
    """Codebooks are keyed by corpus content, not by the corpus path: a
    corpus rewritten in place with different vectors retrains them."""
    import pyarrow as pa
    import pyarrow.parquet as pq_io

    from tests.conftest import SF_ORACLE
    from vectordbfaiss_spark import registry
    from vectordbfaiss_spark.plans import pq

    sf = tmp_path / "sf_regen"
    sf.mkdir()
    emb_path = str(sf / "embeddings.parquet")
    shutil.copy(os.path.join(SF_ORACLE, "embeddings.parquet"), emb_path)

    trained = []
    real = pq.train_pq_codebooks

    def counting(*args, **kwargs):
        trained.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(pq, "train_pq_codebooks", counting)
    query = registry.queries()["pq_topk_search"]
    assert query(spark, str(sf)).count() > 0
    query(spark, str(sf)).count()
    assert len(trained) == 1  # same corpus: trained once

    table = pq_io.read_table(emb_path)
    col = table.schema.get_field_index("embedding")
    flipped = [[-x for x in v] for v in table["embedding"].to_pylist()]
    rewritten = table.set_column(
        col, table.schema.field(col), pa.array(flipped, table.schema.field(col).type)
    )
    pq_io.write_table(rewritten, emb_path)
    assert query(spark, str(sf)).count() > 0
    assert len(trained) == 2  # regenerated in place: retrained
