#!/usr/bin/env python3
"""Batch-pipeline benchmark: one seeded, single-client, closed-loop run.

    python3 perfbench/run.py --workload dedup_curation --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
(cached per seed under ``.perfbench_work/inputs``); each run writes into
a fresh directory under ``.perfbench_work/runs`` and removes it at the
end. Whole passes of the workload run back to back: ``--seconds``
divided by the workload's nominal pass time, rounded, at least one.
Every pass pays the full build (fresh output directories,
``corpus_key=None``). Throughput and CPU are per pass, the median pass.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` every call runs under its own Spark job group and the
line carries the per-layer metrics. Either way the full record (host
state, input layout, per-call timings, spans) is written to
``.perfbench_work/records/<workload>-s<seed>-t<trace>.json``;
``perfbench/diff.py`` compares two traced records. The exit code is 0
only when every call succeeded and every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SESSION_SETUPS = 3
LAYER_FIELDS = {
    "wall_s": "s",
    "plan_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "task_s": "s",
    "task_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}
EXTRA_METRICS = {
    "ivf.ivf_search.scored_per_result": "rows/row",
    "dedup.minhash_band_candidates.pairs_per_doc": "pairs/doc",
    "dedup.pair_jaccard.yield": "share",
    "recall_at_10.ivf": "share",
    "recall_at_10.pq": "share",
    "recall_at_10.graph": "share",
    "run.stored_bytes_ratio": "B/B",
    "session.get_spark.wall_s": "s",
    "session.warmup_s": "s",
    "trace.items_per_s": "1/s",
    "trace.harvest_s": "s",
}
END_TO_END = {
    "items_per_s": "1/s",
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_rate": "share",
    "recall": "share",
}


def summary(values: list[float]) -> dict:
    """Median, max and the highest percentile with >= 10 samples beyond it."""
    out = {"n": len(values), "median": statistics.median(values), "max": max(values)}
    for q in (99, 95, 90):
        if len(values) * (100 - q) / 100 >= 10:
            out[f"p{q}"] = statistics.quantiles(values, n=100)[q - 1]
            break
    return out


class Context:
    def __init__(self, root: str, workload: str, seed: int):
        self.root, self.seed = root, seed
        self.work = os.path.join(root, ".perfbench_work")
        self.inputs = os.path.join(self.work, "inputs", f"{workload}-s{seed}")
        self.run_dir = os.path.join(self.work, "runs", f"{workload}-s{seed}-{os.getpid()}")
        self.spark = None
        self.manifest: dict = {}

    def input(self, table: str) -> str:
        return os.path.join(self.inputs, self.manifest["tables"][table]["path"])

    def out_dir(self, name: str) -> str:
        """A path under this run's own (fresh) directory."""
        return os.path.join(self.run_dir, "out", name)


def configure_env(ctx: Context) -> None:
    """Keep every file the run writes inside the checkout and give the
    Python workers the repository on their path."""
    tmp = os.path.join(ctx.run_dir, "tmp")
    local = os.path.join(ctx.run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ctx.root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={ctx.run_dir}/warehouse"),
            "--conf", shlex.quote(f"spark.local.dir={local}"),
            # no hsperfdata file under the host's /tmp
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )
    os.chdir(ctx.run_dir)  # anything written relative to cwd stays in the run


def session_setup(ctx: Context) -> tuple[float, float]:
    """get_spark, then a warm-up touching SQL, parquet and the Python
    workers. Returns (get_spark seconds, warm-up seconds)."""
    from vectordbfaiss_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    table = next(iter(ctx.manifest["tables"]))
    spark.read.parquet(ctx.input(table)).count()
    spark.range(0, 64, 1, 2).mapInPandas(lambda it: it, "id long").count()
    return t1 - t0, time.perf_counter() - t1


def stop_spark(ctx: Context) -> None:
    """Stop the session and the JVM it launched, then wait until the JVM
    and every Python worker it started have ended."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    from probe import process_tree

    me = os.getpid()
    started = [p for p in process_tree(me) if p != me]
    gateway = SparkContext._gateway
    ctx.spark.stop()
    ctx.spark = None
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.time() + 10
        while (started := [p for p in started if _running(p)]) and time.time() < deadline:
            time.sleep(0.1)
        if not started:
            return
        if sig is None:
            raise RuntimeError(f"processes {started} did not end")
        for pid in started:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass


def _running(pid: int) -> bool:
    """Alive and not a zombie (a zombie has ended; its parent reaps it)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def run(args) -> dict:
    import corpus
    import probe
    from workloads import WORKLOADS

    root = os.getcwd()
    wl = WORKLOADS[args.workload]()
    ctx = Context(root, wl.name, args.seed)
    record: dict = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
                    "trace": bool(args.trace), "host": {"before": probe.host_state()}}
    ctx.manifest = corpus.generate(ctx.inputs, args.seed, **wl.sizes)
    record["inputs"] = {k: {f: v[f] for f in ("rows", "files", "row_groups", "bytes")}
                        for k, v in ctx.manifest["tables"].items()}
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    configure_env(ctx)
    me = os.getpid()
    (busy0, steal0), own0, t_run0 = probe.host_cpu_s(), probe.tree_cpu_s(me), time.time()
    try:
        result = measure(args, wl, ctx, record)
    finally:
        stop_spark(ctx)
        os.chdir(root)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    elapsed = time.time() - t_run0
    busy1, steal1 = probe.host_cpu_s()
    other = max(0.0, busy1 - busy0 - (probe.tree_cpu_s(me) - own0)) / elapsed
    steal = (steal1 - steal0) / elapsed
    record["host"].update(
        after=probe.host_state(),
        other_process_cores=other,
        steal_cores=steal,
        # the hypervisor took over a quarter core on average; other_process
        # time also holds the kernel's work for this run (loopback sockets
        # between the JVM and its workers), so it is reported, not flagged
        contaminated=steal > 0.25,
    )
    record["spans"][0]["end"] = time.time()
    os.makedirs(os.path.join(ctx.work, "records"), exist_ok=True)
    name = f"{wl.name}-s{args.seed}-t{int(args.trace)}.json"
    with open(os.path.join(ctx.work, "records", name), "w") as fh:
        json.dump(record, fh, indent=1, default=float)
    return result


def measure(args, wl, ctx: Context, record: dict) -> dict:
    """Set up, run the timed passes, check the outputs; fills ``record``
    and returns the result line."""
    import probe

    me = os.getpid()
    setups = []
    for i in range(SESSION_SETUPS):
        if i:
            ctx.spark.stop()
        setups.append(session_setup(ctx))
    t0 = time.perf_counter()
    wl.setup(ctx)
    build_s = time.perf_counter() - t0
    record["setup"] = {"session": setups, "build_s": build_s}

    tracer = probe.LayerTracer(ctx.spark) if args.trace else None
    calls: list[dict] = []
    spans: list[dict] = [{"id": 0, "parent": None, "name": f"run.{wl.name}", "start": time.time()}]
    record.update(calls=calls, spans=spans)
    attempted = failed = n_pass = 0

    def call(layer, plan, materialize=None):
        nonlocal attempted
        attempted += 1
        group = tracer.begin(layer) if tracer else None
        ts, t0 = time.time(), time.perf_counter()
        out = plan()
        t1 = time.perf_counter()
        if materialize is not None:
            out = materialize(out)
        t2, te = time.perf_counter(), time.time()
        rec = {"layer": layer, "pass": n_pass, "plan_s": t1 - t0, "wall_s": t2 - t0}
        if tracer:
            rec.update(tracer.end(group, ts, te))
            rec["harvest_s"] = time.perf_counter() - t2
        calls.append(rec)
        span_id = len(spans)
        spans.append({"id": span_id, "parent": 0, "name": layer, "start": ts, "end": te})
        for sid, s, e in rec.pop("stages", []):
            spans.append({"id": len(spans), "parent": span_id, "name": f"stage.{sid}",
                          "start": s, "end": e})
        return out

    # a fixed pass count for a given --seconds, so runs never differ in
    # how many cold and warm passes they mix
    n_passes = max(1, round(args.seconds / wl.pass_s))
    pass_walls: list[float] = []
    pass_cpu: list[float] = []
    state = None
    with probe.RssSampler() as rss:
        for n_pass in range(n_passes):
            tp, cp = time.perf_counter(), probe.tree_cpu_s(me)
            try:
                state = wl.run_pass(ctx, call, n_pass)
            except Exception:
                failed += 1
                record["error"] = traceback.format_exc()
                traceback.print_exc()
                state = None
                break
            pass_walls.append(time.perf_counter() - tp)
            pass_cpu.append(probe.tree_cpu_s(me) - cp)

    checks: dict = {}
    quality, extras = 0.0, {}
    if tracer:  # every timed build must really have run (no served cache)
        for layer in wl.build_layers:
            checks[f"{layer}.ran_jobs"] = all(
                c["jobs"] > 0 for c in calls if c["layer"] == layer
            )
    if state is not None:
        try:
            quality, wl_checks, extras = wl.check(ctx, state)
            checks.update(wl_checks)
        except Exception:
            record["check_error"] = traceback.format_exc()
            traceback.print_exc()
            checks["checks_ran"] = False
    attempted += len(checks)
    failed += sum(not ok for ok in checks.values())

    ok_passes = state is not None
    items_per_s = wl.n_items / statistics.median(pass_walls) if ok_passes else 0.0
    e2e = {
        "items_per_s": items_per_s,
        "cpu_s": statistics.median(pass_cpu) if ok_passes else 0.0,
        "setup_s": statistics.median(a + b for a, b in setups) + build_s,
        "peak_rss_mb": rss.peak_mb,
        "ok_rate": (attempted - failed) / max(1, attempted),
        "recall": quality,
    }
    layers = per_layer(calls, extras, setups, items_per_s if tracer else 0.0)
    record.update(
        items=wl.items, items_per_pass=wl.n_items, pass_wall_s=pass_walls, pass_cpu_s=pass_cpu,
        pass_summary=summary(pass_walls) if pass_walls else None,
        checks=checks, end_to_end=e2e, per_layer=layers,
        max_processes=rss.max_processes,
    )
    metrics = layers if tracer else {
        k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()
    }
    correct = ok_passes and all(checks.values()) and failed == 0
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def per_layer(calls: list[dict], extras: dict, setups, items_per_s: float) -> dict:
    """Median per call of every layer field; 0 for layers this workload
    does not call."""
    from workloads import WORKLOADS

    out = {}
    for wl in WORKLOADS.values():
        for layer in wl.layers:
            mine = [c for c in calls if c["layer"] == layer]
            for field, unit in LAYER_FIELDS.items():
                vals = [c[field] for c in mine if field in c]
                out[f"{layer}.{field}"] = {
                    "value": statistics.median(vals) if vals else 0.0, "unit": unit
                }
    harvest = [c["harvest_s"] for c in calls if "harvest_s" in c]
    values = dict(extras)
    values["session.get_spark.wall_s"] = setups[0][0]
    values["session.warmup_s"] = setups[0][1]
    values["trace.items_per_s"] = items_per_s
    values["trace.harvest_s"] = sum(harvest)
    for name, unit in EXTRA_METRICS.items():
        out[name] = {"value": float(values.get(name, 0.0)), "unit": unit}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(os.getcwd(), "vectordbfaiss_spark", "session.py")):
        print("perfbench: run from the repository root (vectordbfaiss_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, os.getcwd()]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
