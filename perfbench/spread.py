#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median
and spread (interquartile distance ÷ median, from
``statistics.quantiles(values, n=4)``), next to its bound.

    python3 perfbench/spread.py --workload registry --seeds 1-10 [--trace 0]

Runs one after another, never in parallel; appends every result line to
``.perfbench_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log = os.path.join(ROOT, ".perfbench_work", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    per_metric: dict[str, list[float]] = {}
    for seed in parse_seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        took = time.time() - t0
        lines = out.stdout.strip().splitlines() or ["{}"]
        res = json.loads(lines[-1])
        info = json.loads(lines[-2]) if len(lines) > 1 else {}
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "exit": out.returncode,
                                "took_s": took, "info": info, **res}) + "\n")
        vals = {k: v["value"] for k, v in res.get("metrics", {}).items()}
        print(f"seed {seed}: exit {out.returncode} {took:.1f}s "
              + " ".join(f"{k}={v:.4g}" for k, v in vals.items()), flush=True)
        for k, v in vals.items():
            per_metric.setdefault(k, []).append(v)
    for k, vals in per_metric.items():
        if len(vals) < 2:
            continue
        b = bounds.get(k)
        s = spread(vals)
        flag = "" if b is None else (" ok" if s < b / 3 else " WIDE")
        print(f"{k:28s} median {statistics.median(vals):.4g}  spread {s:.3f}"
              f"  bound {b}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
