#!/usr/bin/env python
"""Scale ladder: run registry queries on named corpus rungs through the
same measurement as bench.py (``bench.traced_run``, perfbench's
``LayerTracer``) and compare every rung against the first.

Per (rung, query) the record holds a cold and a warm run (build/action
split, jobs, stages, task time, shuffle, spill), the output row count
and a normalized operator histogram of the executed plan, join nodes
included. The warm run is the comparison number: build-once artifacts
and page cache belong to the cold one. After the runs it prints, per
query and rung, the warm-time ratio against the first rung and whether
the plan shape stayed the same — the evidence that runtime tracks the
data ratio with an unchanged plan, or that a join graduated from
broadcast to shuffle as the data grew. Run it alone on an idle box (the
same contamination rule as bench.py).

Usage:
  python tools/ladder.py RUNGS QUERIES [--out PATH] [--plans DIR]

  RUNGS    name=dir,... (the first rung is the base)
  QUERIES  registry query names, comma-separated
  --out    JSON record path (default .scratch/ladder.json)
  --plans  also write explain("formatted") per (rung, query) to
           DIR/<query>_<rung>.txt

e.g. the honest-density ladder (tools/gen_synth_corpus.py outputs):

  python tools/gen_synth_corpus.py .scratch/syn1 1
  python tools/gen_synth_corpus.py .scratch/syn10 10
  python tools/ladder.py syn1=.scratch/syn1,syn10=.scratch/syn10 \\
      knn_graph_blocked_scaled,semdedup_prune_scaled,kcore_mutual_knn
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import drop_leaked_blocks, traced_run  # noqa: E402
from perfbench.probe import LayerTracer  # noqa: E402

_NODE = re.compile(r"^[\s:+\-*(]*(\d+\)\s*)?([A-Za-z][A-Za-z0-9]+)")


def plan_histogram(df) -> tuple[int, dict[str, int]]:
    """``(rows, histogram)``: run ``df``'s own QueryExecution (rows are
    counted in the JVM) and histogram the plan that ran — AQE's final
    plan, so joins it turned into broadcasts at runtime count as such.
    Operator names only: expression ids, paths and stats vary across
    SFs, the NODE MIX is the shape."""
    qe = df._jdf.queryExecution()
    rows = qe.toRdd().count()
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the final plan, once executed
    keep = (
        "Scan", "Filter", "Project", "HashAggregate", "SortAggregate",
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct", "Exchange",
        "BroadcastExchange", "Sort", "Window", "WindowGroupLimit",
        "TakeOrderedAndProject", "Expand", "Generate", "MapInPandas",
        "MapInArrow", "ArrowEvalPython", "Union", "LocalLimit", "GlobalLimit",
    )
    hist: Counter[str] = Counter()
    for line in plan.toString().splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(2)
        for k in keep:
            if name == k or name.startswith(k):
                hist[k] += 1
                break
    return rows, dict(sorted(hist.items()))


def run_ladder(
    spark, rungs: dict[str, str], queries: list[str], plans_dir: str | None = None
) -> dict:
    """Cold and warm traced runs of every query on every rung, then the
    warm ratio and plan verdict of each later rung against the first."""
    from vectordbfaiss_spark import registry

    tracer = LayerTracer(spark)
    q = registry.queries()
    load0 = os.getloadavg()
    result: dict = {
        "load_avg_start": list(load0),
        "contaminated": load0[0] > 1.0,
        "rungs": rungs,
        "runs": {},
    }
    for rung, sf_dir in rungs.items():
        for name in queries:
            key = f"{rung}/{name}"
            try:
                _, cold, _ = traced_run(tracer, spark, name, q[name], sf_dir)
                drop_leaked_blocks(spark)
                df, warm, _ = traced_run(tracer, spark, name, q[name], sf_dir)
                rows, plan = plan_histogram(df)
                result["runs"][key] = {"cold": cold, "warm": warm, "rows": rows, "plan": plan}
                if plans_dir:
                    os.makedirs(plans_dir, exist_ok=True)
                    with open(os.path.join(plans_dir, f"{name}_{rung}.txt"), "w") as fh:
                        fh.write(
                            df._sc._jvm.PythonSQLUtils.explainString(
                                df._jdf.queryExecution(), "formatted"
                            )
                        )
                drop_leaked_blocks(spark)
                cw = [r["build_s"] + r["action_s"] for r in (cold, warm)]
                print(
                    f"{rung:7s} {name:28s} cold={cw[0]:7.2f}s warm={cw[1]:7.2f}s "
                    f"stages={warm['stages']} (build {warm['build_stages']})",
                    flush=True,
                )
            except Exception as e:  # a query that DIES at scale is the
                # most important datum this tool can produce — record it
                # and keep measuring the rest
                msg = str(e).split("\n")[0][:300]
                result["runs"][key] = {"error": msg}
                print(f"{rung:7s} {name:28s} ERROR {msg[:120]}", flush=True)

    base = next(iter(rungs))
    for rung in list(rungs)[1:]:
        print(f"\nwarm-run ratios ({rung} / {base}):")
        for name in queries:
            a = result["runs"][f"{base}/{name}"]
            b = result["runs"][f"{rung}/{name}"]
            if "error" in a or "error" in b:
                print(f"  {name:28s}   FAILED: {(b.get('error') or a.get('error'))[:100]}")
                continue
            wa, wb = (r["warm"]["build_s"] + r["warm"]["action_s"] for r in (a, b))
            b[f"ratio_vs_{base}"] = round(wb / max(wa, 1e-9), 2)
            b["verdict"] = "same-plan" if a["plan"] == b["plan"] else "PLAN-CHANGED"
            moved = {
                k: f"{a['plan'].get(k, 0)}->{b['plan'].get(k, 0)}"
                for k in sorted(set(a["plan"]) | set(b["plan"]))
                if a["plan"].get(k, 0) != b["plan"].get(k, 0)
            }
            print(f"  {name:28s} {b[f'ratio_vs_{base}']:6.2f}x  {b['verdict']} {moved or ''}")
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rungs", help="name=dir,... (the first rung is the base)")
    ap.add_argument("queries", help="registry query names, comma-separated")
    ap.add_argument("--out", default=os.path.join(REPO, ".scratch", "ladder.json"))
    ap.add_argument("--plans", help="write explain('formatted') files here")
    args = ap.parse_args()

    from vectordbfaiss_spark.session import get_spark

    rungs = dict(kv.split("=", 1) for kv in args.rungs.split(","))
    queries = [n for n in args.queries.split(",") if n]
    spark = get_spark(app_name="ladder", driver_memory="8g")
    result = run_ladder(spark, rungs, queries, args.plans)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)
    print(f"\nwrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
