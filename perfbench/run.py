#!/usr/bin/env python3
"""Layered, oracle-checked benchmark of the PySpark stock-warehouse engine.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Reads the stored sf0.01 warehouse
tables in ``data/``, writes per-seed stock CSVs and everything else it
makes under ``.perfbench_work/``, runs one
workload in a fresh worker process with a pinned environment, checks
every output, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer metrics (and writes
the spans to ``.perfbench_work/traces/``).  Exit status: 0 when every
output check passed, 1 when one failed, 2 when the run could not be
made (no program in this directory, a worker crash or timeout).
See README.md in this directory for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "stock_data_warehouse_analytics_spark"
WORKER_TIMEOUT_S = 165

sys.path.insert(0, HERE)


def pinned_env(run_dir: str, cores: int) -> dict[str, str]:
    """The run environment every worker gets (echoed on every run)."""
    mem_gib = _mem_total_gib()
    driver_gib = max(1, min(4, mem_gib // 3))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gib}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # every JVM (launcher and driver): temp files in the run, no
        # hsperfdata files in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "TMPDIR": tmp,
        "PYTHONHASHSEED": "0",
    }


def _mem_total_gib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    return 4


def source_digest() -> str:
    """sha256 over the package and tools sources (the checkout is not
    necessarily a git repository, so this stands in for the commit)."""
    h = hashlib.sha256()
    for top in (PACKAGE, "tools"):
        for base, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    path = os.path.join(base, fn)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


# --------------------------------------------------------------------------
# process tree cleanup


def _process_groups() -> dict[int, int]:
    """pid -> process group for every visible process that has not
    exited (zombies, which only wait for their parent, are left out)."""
    groups = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] != "Z":
            groups[int(entry)] = int(fields[2])
    return groups


def reap_group(pgid: int, timeout: float = 30.0) -> None:
    """Kill every process left in the worker's process group and wait
    until none remains."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p, g in _process_groups().items() if g == pgid]
        if not alive:
            return
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {alive} of group {pgid} did not exit")
        time.sleep(0.05)


# --------------------------------------------------------------------------


def prepare_inputs(workload: str, seed: int, run_dir: str) -> dict:
    import datagen
    from workloads import DATA_DIR, WORKLOADS

    paths = {"data_dir": DATA_DIR}
    if WORKLOADS[workload].kind == "pipeline":
        csv_dir = os.path.join(run_dir, "stock_csv")
        truth = datagen.write_stock_csvs(seed, csv_dir)
        for row in truth:
            row["Date"] = row["Date"].isoformat()
        truth_path = os.path.join(run_dir, "truth.json")
        with open(truth_path, "w") as f:
            json.dump(truth, f)
        paths.update(csv_dir=csv_dir, truth_path=truth_path)
    return paths


def end_to_end(result: dict, spawn_epoch: float) -> dict:
    """Rate and median latency over completed operations: one that raised,
    was skipped or failed its check counts only in ``failed``."""
    from statistics import median

    lat = [op["latency_s"] for op in result["ops"]
           if not (op.get("error") or op.get("check_error"))]
    return {
        "setup_s": {"value": result["ready_epoch"] - spawn_epoch, "unit": "s"},
        "queries_per_s": {"value": len(lat) / result["wall_s"], "unit": "1/s"},
        # 0.0 only in a run where nothing completed, which exits 1
        "query_p50_s": {"value": median(lat) if lat else 0.0, "unit": "s"},
    }


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in (PACKAGE, os.path.join("tools", "driver_sim.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: no program to measure here (missing {missing})",
              file=sys.stderr)
        return 2

    # a terminated runner still reaps its worker: SystemExit unwinds
    # through the ``finally`` below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(run_dir, exist_ok=True)
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    try:
        cfg = prepare_inputs(args.workload, args.seed, run_dir)
        env_pin = pinned_env(run_dir, cores)
        cfg.update(
            workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=args.trace, root=ROOT, run_dir=run_dir, cores=cores,
            result_path=os.path.join(run_dir, "result.json"),
            spans_path=os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}.json"
            ),
        )
        echo = {"perfbench_env": env_pin, "commit": git_commit(),
                "source_digest": source_digest(), "nproc": cores,
                "workload": args.workload, "seed": args.seed}
        print(json.dumps(echo), flush=True)

        spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            cwd=run_dir, env={**os.environ, **env_pin},
            stdout=sys.stderr, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            reap_group(proc.pid)
            proc.wait()
        if code != 0 or not os.path.exists(cfg["result_path"]):
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 2
        with open(cfg["result_path"]) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    from stats import failed_frac

    ops = result["ops"]
    bad = [op for op in ops if op.get("error") or op.get("check_error")]
    print(json.dumps({
        "samples": len(ops),
        "passes": result["passes"],
        "failed_frac": failed_frac(ops),
        "failing": [
            {"op": op["id"], "query": op["query"], "pass": op["pass"],
             "why": op.get("error") or op.get("check_error")}
            for op in bad
        ],
        "latency_s": {
            name: [op["latency_s"] for op in ops if op["query"] == name]
            for name in dict.fromkeys(op["query"] for op in ops)
        },
    }), flush=True)
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["layers"].items()}
    else:
        metrics = end_to_end(result, spawn)
    print(json.dumps({"correct": not bad, "attempted": len(ops),
                      "failed": len(bad), "metrics": metrics}), flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
