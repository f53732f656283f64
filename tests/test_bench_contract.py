"""bench.py must emit exactly one valid JSON line with the driver's
expected fields — the contract the per-round BENCH_r{N}.json depends on."""

import json
import os
import subprocess
import sys

# the per-query record in the sidecar's "layers" map (bench.traced_run)
LAYER_FIELDS = {
    "build_s",
    "action_s",
    "build_stages",
    "jobs",
    "stages",
    "task_s",
    "task_cpu_s",
    "shuffle_write_mb",
    "spill_mb",
}


def test_bench_emits_driver_contract_json(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        # neardup_triangle_count localCheckpoints eagerly while its plan is
        # built: the layer record must bill those jobs to the build step
        SPARK_GRAFT_BENCH_QUERIES="q1_pricing_summary,topk_search,neardup_triangle_count",
        # keep the test's 2-query sidecar from clobbering a real bench run's
        # bench_queries.json in the repo root
        SPARK_GRAFT_BENCH_OUT=str(tmp_path / "bench_queries.json"),
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    # the stdout line must be small enough for the driver's capture (round-1
    # lesson: a 4 KB line with all per-query timings failed to parse)
    assert len(line) < 1024
    d = json.loads(line)
    assert d["unit"] == "sec" and d["sf"] == 0.001
    assert d["value"] > 0 and isinstance(d["metric"], str)
    # contamination flag (round-3 verdict): both artifacts must carry it
    # so a loaded-box run can never masquerade as a comparable record
    assert isinstance(d["contaminated"], bool)
    with open(env["SPARK_GRAFT_BENCH_OUT"]) as f:
        side = json.load(f)
    names = {"q1_pricing_summary", "topk_search", "neardup_triangle_count"}
    assert set(side["queries"]) == names
    assert isinstance(side["contaminated"], bool)
    assert side["contaminated"] == (side["load_avg_start"][0] > 1.0)
    # every query carries a layer record whose build + action is its timing
    assert set(side["layers"]) == names
    for name, rec in side["layers"].items():
        assert set(rec) == LAYER_FIELDS, name
        assert abs(rec["build_s"] + rec["action_s"] - side["queries"][name]) <= 0.002
        assert rec["stages"] >= rec["build_stages"] >= 0
    # every parquet read infers its schema with a job while the plan is
    # built; the eager checkpoint adds stages beyond that read
    near = side["layers"]["neardup_triangle_count"]["build_stages"]
    assert near >= 1
    assert near > side["layers"]["q1_pricing_summary"]["build_stages"]
    assert side["layers"]["q1_pricing_summary"]["jobs"] >= 1
    assert side["harvest_s"] >= 0.0
    assert "pairs" not in side
