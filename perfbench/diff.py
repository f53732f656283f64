#!/usr/bin/env python3
"""Per-layer before/after for two benchmark records.

    python3 perfbench/diff.py BEFORE.json AFTER.json

Each file is a record from ``.perfbench_work/records/`` or a saved
stdout whose last line is a result. Prints every metric either side
reports as non-zero (a layer the workload does not call reads 0), in
name order, so each layer's fields sit together, with after/before.
"""

from __future__ import annotations

import argparse
import json


def load(path: str) -> dict:
    with open(path) as fh:
        text = fh.read()
    try:
        rec = json.loads(text)
    except json.JSONDecodeError:  # saved stdout: the result is the last line
        rec = json.loads(text.strip().splitlines()[-1])
    if "metrics" in rec:  # a result line
        return {k: v["value"] for k, v in rec["metrics"].items()}
    flat = {k: v["value"] for k, v in rec.get("per_layer", {}).items()}
    flat.update({f"e2e.{k}": v for k, v in rec.get("end_to_end", {}).items()})
    return flat


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    a, b = load(args.before), load(args.after)
    names = sorted(set(a) | set(b))
    width = max(len(n) for n in names)
    print(f"{'metric':<{width}}  {'before':>12}  {'after':>12}  {'after/before':>12}")
    for name in names:
        x, y = a.get(name), b.get(name)
        if not x and not y:
            continue
        ratio = f"{y / x:12.3f}" if x and y is not None else f"{'-':>12}"
        fx = f"{x:12.4f}" if x is not None else f"{'-':>12}"
        fy = f"{y:12.4f}" if y is not None else f"{'-':>12}"
        print(f"{name:<{width}}  {fx}  {fy}  {ratio}")


if __name__ == "__main__":
    main()
