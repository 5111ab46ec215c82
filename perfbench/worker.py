"""One benchmark run in a fresh process: set-up, timed closed loop,
output checks, metrics.  Started by ``run.py``; takes one JSON argument
and writes one JSON result file.

A closed loop with one client: each operation starts when the previous
one has returned.  An operation is one registry query's build plus
``.collect()``, or one pipeline stage call.  The loop runs a fixed
number of whole passes (``Workload.passes``) over the workload's list,
the first in the list's own order, each repeat pass in a seed-shuffled
one; ``seconds`` does not change the work.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _setup(root: str, data_dir: str) -> tuple[object, dict, dict]:
    """Registry import, session start and an untimed warm-up (the flagship
    query, then a pre-fork of the Python worker pool), as ``bench.py``
    does it.  Returns (spark, queries, split timings)."""
    t0 = time.perf_counter()
    sys.path.insert(0, root)
    from stock_data_warehouse_analytics_spark.plans import get_queries
    from stock_data_warehouse_analytics_spark.session import get_spark

    qs = get_queries()
    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    qs["q1_pricing_summary"](spark, data_dir).collect()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (b for b in it), "id long"
    ).collect()
    t3 = time.perf_counter()
    split = {"import_s": t1 - t0, "start_s": t2 - t1, "warmup_s": t3 - t2}
    return spark, qs, split


class Loop:
    """The timed closed loop, with optional tracing."""

    def __init__(self, spark, cfg: dict, trace: bool):
        from tracing import Spans

        self.spark = spark
        self.sc = spark.sparkContext
        self.cfg = cfg
        self.trace = trace
        self.spans = Spans()
        self.ops: list[dict] = []
        self.rng = random.Random(cfg["seed"])

    def _begin(self, op_id: int, label: str, phase: str) -> None:
        if self.trace:
            self.sc.setJobGroup(f"op{op_id}", label, False)
            self.sc.setJobDescription(phase)

    def _phase(self, phase: str) -> None:
        if self.trace:
            self.sc.setJobDescription(phase)

    def run_query(self, fn, name: str, pass_no: int) -> None:
        from tracing import catalyst_ms, plan_nodes

        op = {"id": len(self.ops), "query": name, "pass": pass_no}
        self.ops.append(op)
        data_dir = self.cfg["data_dir"]
        self._begin(op["id"], name, "plans.build")
        t0 = time.perf_counter()
        try:
            df = fn(self.spark, data_dir)
            t1 = time.perf_counter()
            if self.trace:
                self._phase("catalyst")
                t1c = time.perf_counter()
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                t2 = time.perf_counter()
                self._phase("exec.collect")
                t2c = time.perf_counter()
            rows = df.collect()
            t3 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            op["latency_s"] = time.perf_counter() - t0
            op["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            return
        op["latency_s"] = t3 - t0
        op["build_s"] = t1 - t0
        op["rows"] = [tuple(r) for r in rows]
        op["columns"] = list(df.columns)
        op["rows_out"] = len(rows)
        if self.trace:
            sid = self.spans.add("op", t0, t3, query=name, op=op["id"], **{"pass": pass_no})
            op["span"] = sid
            self.spans.add("plans.build", t0, t1, sid)
            self.spans.add("catalyst", t1c, t2, sid)
            self.spans.add("exec.collect", t2c, t3, sid)
            op["catalyst_s"] = t2 - t1c
            op["exec_s"] = t3 - t2c
            op["catalyst_ms"] = catalyst_ms(qe)
            op["exchange_nodes"], op["python_eval_nodes"] = plan_nodes(
                qe.executedPlan().toString()
            )

    def run_stage(self, stage: str, pass_no: int, state: dict) -> None:
        from stock_data_warehouse_analytics_spark import pipeline

        op = {"id": len(self.ops), "query": stage, "pass": pass_no,
              "out_dir": state["out"]}
        self.ops.append(op)
        if state.get("fact") is None and stage != "etl":
            op["latency_s"] = 0.0
            op["error"] = "skipped: etl failed in this pass"
            return
        out = state["out"]
        self._begin(op["id"], stage, f"pipeline.{stage}")
        t0 = time.perf_counter()
        try:
            if stage == "etl":
                state["fact"] = pipeline.run_etl(
                    self.spark, self.cfg["csv_dir"], os.path.join(out, "cleaned")
                )
            elif stage == "olap":
                pipeline.run_olap(self.spark, state["fact"], os.path.join(out, "olap_results"))
            elif stage == "mining":
                pipeline.run_mining(
                    self.spark, state["fact"], os.path.join(out, "datamining_results")
                )
            else:
                op["written"] = pipeline.run_charts(
                    self.spark, state["fact"], os.path.join(out, "olap_charts")
                )
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            op["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        t1 = time.perf_counter()
        op["latency_s"] = t1 - t0
        if self.trace:
            sid = self.spans.add("op", t0, t1, query=stage, op=op["id"], **{"pass": pass_no})
            op["span"] = sid
            self.spans.add(f"pipeline.{stage}", t0, t1, sid)

    def run(self, qs: dict) -> tuple[float, float, int]:
        """The workload's fixed number of whole passes over its list.
        Returns (wall seconds, driver Python CPU seconds, passes)."""
        from workloads import PIPELINE_STAGES, WORKLOADS

        w = WORKLOADS[self.cfg["workload"]]
        cpu0, t0 = time.process_time(), time.perf_counter()
        for pass_no in range(w.passes):
            if w.kind == "registry":
                order = list(w.queries)
                if pass_no:
                    self.rng.shuffle(order)
                for name in order:
                    self.run_query(qs[name], name, pass_no)
            else:
                # the paper's order: each stage reads what ETL cached
                state = {"out": os.path.join(self.cfg["run_dir"], "out", f"pass{pass_no}")}
                for stage in PIPELINE_STAGES:
                    self.run_stage(stage, pass_no, state)
                if state.get("fact") is not None:
                    state["fact"].unpersist()
        wall = time.perf_counter() - t0
        if self.trace:
            self.sc.setJobGroup("perfbench-idle", "", False)
        return wall, time.process_time() - cpu0, w.passes


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def layer_metrics(loop: Loop, jobs: list[dict], wall: float, cpu_s: float,
                  passes: int, setup: dict, cores: int) -> dict:
    """Per-layer metrics of a traced run (totals over the timed region)."""
    from statistics import median

    from workloads import PIPELINE_STAGES

    ops = [op for op in loop.ops if "span" in op]
    q_ops = [op for op in ops if "build_s" in op]
    exec_jobs = [j for j in jobs if j["phase"] != "plans.build"]
    build_jobs = [j for j in jobs if j["phase"] == "plans.build"]

    def jsum(js, key):
        return sum(j[key] for j in js)

    def pass_build(first: bool) -> float:
        sel = [op["build_s"] for op in q_ops if (op["pass"] == 0) == first]
        n_pass = 1 if first else max(passes - 1, 1)
        return sum(sel) / n_pass

    exec_wall = sum(op["exec_s"] for op in q_ops) + sum(
        op["latency_s"] for op in ops if op["query"] in PIPELINE_STAGES
    )
    tasks = jsum(exec_jobs, "tasks")
    tries = tasks + jsum(exec_jobs, "failed_tasks") + jsum(exec_jobs, "killed_tasks")
    remainders = [
        op["latency_s"] - sum(c["end"] - c["start"] for c in loop.spans.children(op["span"]))
        for op in ops
    ]
    stage_s = {
        s: sum(op["latency_s"] for op in ops if op["query"] == s) for s in PIPELINE_STAGES
    }
    files, size = _dir_usage(os.path.join(loop.cfg["run_dir"], "out"))
    m = {
        "session.import_s": (setup["import_s"], "s"),
        "session.start_s": (setup["start_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "plans.build_s": (sum(op["build_s"] for op in q_ops), "s"),
        "plans.build_jobs": (len(build_jobs), "count"),
        "plans.first_pass_build_s": (pass_build(True), "s"),
        "plans.repeat_pass_build_s": (pass_build(False), "s"),
        "catalyst.s": (sum(op["catalyst_s"] for op in q_ops), "s"),
        "catalyst.analysis_ms": (sum(op["catalyst_ms"]["analysis"] for op in q_ops), "ms"),
        "catalyst.optimization_ms": (
            sum(op["catalyst_ms"]["optimization"] for op in q_ops), "ms"),
        "catalyst.planning_ms": (sum(op["catalyst_ms"]["planning"] for op in q_ops), "ms"),
        "plan.exchange_nodes": (sum(op["exchange_nodes"] for op in q_ops), "count"),
        "plan.python_eval_nodes": (sum(op["python_eval_nodes"] for op in q_ops), "count"),
        "exec.collect_s": (sum(op["exec_s"] for op in q_ops), "s"),
        "exec.jobs": (len(exec_jobs), "count"),
        "exec.stages": (jsum(exec_jobs, "stages"), "count"),
        "exec.tasks": (tasks, "count"),
        "exec.slot_busy_frac": (
            jsum(exec_jobs, "run_ms") / 1000.0 / (exec_wall * cores) if exec_wall else 0.0,
            "fraction"),
        "exec.cpu_s": (jsum(exec_jobs, "cpu_ns") / 1e9, "s"),
        "exec.gc_s": (jsum(exec_jobs, "gc_ms") / 1000.0, "s"),
        "exec.shuffle_read_bytes": (jsum(exec_jobs, "shuffle_read_bytes"), "B"),
        "exec.shuffle_write_bytes": (jsum(exec_jobs, "shuffle_write_bytes"), "B"),
        "exec.spill_bytes": (
            jsum(exec_jobs, "memory_spilled") + jsum(exec_jobs, "disk_spilled"), "B"),
        "exec.task_retry_frac": ((tries - tasks) / tries if tries else 0.0, "fraction"),
        "exec.rows_out": (sum(op.get("rows_out", 0) for op in q_ops), "count"),
        "sources.input_bytes": (jsum(jobs, "input_bytes"), "B"),
        "sources.input_records": (jsum(jobs, "input_records"), "count"),
        "pipeline.etl_s": (stage_s["etl"], "s"),
        "pipeline.olap_s": (stage_s["olap"], "s"),
        "pipeline.mining_s": (stage_s["mining"], "s"),
        "pipeline.charts_s": (stage_s["charts"], "s"),
        "sinks.output_bytes": (size, "B"),
        "sinks.files": (files, "count"),
        "driver.python_cpu_s": (cpu_s, "s"),
        # completed operations, as queries_per_s counts them
        "trace.queries_per_s": (
            sum(1 for op in loop.ops if not (op.get("error") or op.get("check_error")))
            / wall,
            "1/s"),
        "trace.remainder_s": (sum(remainders), "s"),
        "trace.max_remainder_frac": (
            max((r / op["latency_s"] for r, op in zip(remainders, ops) if op["latency_s"]),
                default=0.0),
            "fraction"),
        "trace.median_remainder_frac": (
            median([r / op["latency_s"] for r, op in zip(remainders, ops) if op["latency_s"]])
            if ops else 0.0,
            "fraction"),
    }
    return m


def main() -> int:
    cfg = json.loads(sys.argv[1])
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    trace = bool(cfg["trace"])
    spark, qs, setup = _setup(cfg["root"], cfg["data_dir"])
    ready = time.time()
    loop = Loop(spark, cfg, trace)
    offset = None
    if trace:
        from tracing import wall_offset

        offset = wall_offset()
    wall, cpu_s, passes = loop.run(qs)

    result = {"ready_epoch": ready, "wall_s": wall, "passes": passes}

    # output checks, outside the timed region
    from checks import check_registry_ops, check_stock_ops, load_matrix_hash

    if WORKLOADS[cfg["workload"]].kind == "registry":
        from stock_data_warehouse_analytics_spark.plans import get_oracle_sql

        check_registry_ops(
            loop.ops, get_oracle_sql(), cfg["data_dir"], load_matrix_hash(cfg["root"])
        )
    else:
        with open(cfg["truth_path"]) as f:
            truth = json.load(f)
        check_stock_ops(loop.ops, truth)
    if trace:
        from tracing import read_jobs

        jobs = read_jobs(spark, {f"op{op['id']}" for op in loop.ops}, offset)
        result["layers"] = layer_metrics(
            loop, jobs, wall, cpu_s, passes, setup, cfg["cores"]
        )
        spans = loop.spans
        for j in jobs:
            op = loop.ops[int(j["group"][2:])]
            if "span" not in op:  # the operation raised; it has no spans
                continue
            parent = next(
                (c["id"] for c in spans.children(op["span"]) if c["name"] == j["phase"]),
                op["span"],
            )
            if j["start"] is not None and j["end"] is not None:
                spans.add("job", j["start"], j["end"], parent, job=j["job"])
        with open(cfg["spans_path"], "w") as f:
            json.dump({"workload": cfg["workload"], "seed": cfg["seed"],
                       "spans": spans.with_self_times(), "jobs": jobs}, f)

    for op in loop.ops:
        op.pop("rows", None)
        op.pop("columns", None)
    result["ops"] = loop.ops
    spark.stop()
    with open(cfg["result_path"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
