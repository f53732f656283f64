#!/usr/bin/env python
"""10x scale spot-check: run the headline queries at sf0.1 and at the
locally generated 10x fixture (tools/gen_scale_fixture.py), recording
per-query wall time, output rows, and a normalized physical-plan
operator histogram — the evidence that the sf0.1->sf1.0 runtime ratio
tracks the data ratio (sub-linear for pruned paths) WITH an unchanged
plan shape, not by replanning.

Each query runs twice per SF; the second (warm) run is the comparison
number — build-once artifacts (IVF index) and page cache belong to the
first run, matching bench.py's warm-compute methodology. Run this ALONE
on an idle box (same contamination rule as bench.py).

Usage: python tools/scale_spotcheck.py [out_json]

Honest-density variant (fixed duplicate rate; SCALE.md round-4/5): point
SPOTCHECK_SF_DIRS at tools/gen_synth_corpus.py outputs and select the
documents/embeddings-only families, e.g.

  python tools/gen_synth_corpus.py .scratch/syn1 1
  python tools/gen_synth_corpus.py .scratch/syn10 10
  SPOTCHECK_SF_DIRS="syn1=.scratch/syn1,syn10=.scratch/syn10" \
  SPOTCHECK_QUERIES="dedup_exact_stats,dedup_minhash_lsh,dedup_minhash_capped,\
dedup_simhash,dedup_simhash_capped,dedup_ngram_jaccard,dedup_minhash_incremental,\
crossdoc_span_scrub,semdedup_witness_bound,knn_graph_blocked,topk_search,ivf_disk_search" \
  python tools/scale_spotcheck.py .scratch/synth_spotcheck_10x.json

(at 100x use the capped variants only — the uncapped forms are the
documented degenerate cases on the saturated-vocabulary profile).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    # the six the round-3 verdict named
    "topk_search",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "ivf_disk_search",
    "sequence_packing_bins",
    "crossdoc_span_scrub",
    # relational / skew / sessionization / index-build headliners over the
    # FK-consistent replicated star (gen_scale_fixture.py)
    "q1_pricing_summary",
    "q10_returned_item_revenue",
    "skew_salted_event_totals",
    "sessionize_events_batch",
    "inverted_index_build",
]

_NODE = re.compile(r"^[\s:+\-*(]*(\d+\)\s*)?([A-Za-z][A-Za-z0-9]+)")


def plan_histogram(df) -> dict[str, int]:
    """Operator-name histogram of the executed plan, normalized: expression
    ids, paths, and stats vary across SFs — the NODE MIX is the shape."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    keep = (
        "Scan", "Filter", "Project", "HashAggregate", "SortAggregate",
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct", "Exchange",
        "BroadcastExchange", "Sort", "Window", "WindowGroupLimit",
        "TakeOrderedAndProject", "Expand", "Generate", "MapInPandas",
        "ArrowEvalPython", "Union", "LocalLimit", "GlobalLimit",
    )
    hist: Counter[str] = Counter()
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(2)
        for k in keep:
            if name == k or name.startswith(k):
                hist[k] += 1
                break
    return dict(sorted(hist.items()))


def main() -> None:
    from vectordbfaiss_spark import registry
    from vectordbfaiss_spark.session import get_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_json = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        repo, ".scratch", "scale_spotcheck.json"
    )
    # override the step via env: SPOTCHECK_SF_DIRS="sf0.1=/path,sf10=/path"
    # and SPOTCHECK_QUERIES="a,b,c" (e.g. the 100x subset in SCALE.md)
    dirs_env = os.environ.get("SPOTCHECK_SF_DIRS")
    if dirs_env:
        sf_dirs = dict(kv.split("=", 1) for kv in dirs_env.split(","))
    else:
        sf_dirs = {
            "sf0.1": "/root/testdata/sf0.1",
            "sf1.0": os.path.join(repo, ".scratch", "sf1.0"),
        }
    q_env = os.environ.get("SPOTCHECK_QUERIES")
    queries = q_env.split(",") if q_env else QUERIES
    spark = get_spark(
        app_name="scale-spotcheck",
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    )
    load0 = os.getloadavg()[0]
    q = registry.queries()
    result: dict = {"load_avg_start": load0, "contaminated": load0 > 1.0, "runs": {}}
    for sf_name, sf_dir in sf_dirs.items():
        for name in queries:
            try:
                times = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    q[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                    times.append(round(time.perf_counter() - t0, 3))
                df = q[name](spark, sf_dir)
                result["runs"][f"{sf_name}/{name}"] = {
                    "cold_sec": times[0],
                    "warm_sec": times[1],
                    "rows": df.count(),
                    "plan": plan_histogram(df),
                }
                print(f"{sf_name:7s} {name:28s} cold={times[0]:7.2f}s warm={times[1]:7.2f}s", flush=True)
            except Exception as e:  # a query that DIES at scale is the
                # most important datum this tool can produce — record it
                # and keep measuring the rest
                msg = str(e).split("\n")[0][:300]
                result["runs"][f"{sf_name}/{name}"] = {"error": msg}
                print(f"{sf_name:7s} {name:28s} ERROR {msg[:120]}", flush=True)
    base, target = list(sf_dirs)[0], list(sf_dirs)[-1]
    print(f"\nwarm-run ratios ({target} / {base}):")
    for name in queries:
        a = result["runs"][f"{base}/{name}"]
        b = result["runs"][f"{target}/{name}"]
        if "error" in a or "error" in b:
            print(f"  {name:28s}   FAILED: {(b.get('error') or a.get('error'))[:100]}")
            continue
        ratio = round(b["warm_sec"] / max(a["warm_sec"], 1e-9), 2)
        same = "same-plan" if a["plan"] == b["plan"] else "PLAN-CHANGED"
        result["runs"][f"{target}/{name}"][f"ratio_vs_{base}"] = ratio
        result["runs"][f"{target}/{name}"]["plan_shape_unchanged"] = a["plan"] == b["plan"]
        print(f"  {name:28s} {ratio:6.2f}x  {same}")
    os.makedirs(os.path.dirname(out_json), exist_ok=True)
    with open(out_json, "w") as fh:
        json.dump(result, fh, indent=1)
    print(f"\nwrote {out_json}")
    spark.stop()


if __name__ == "__main__":
    main()
