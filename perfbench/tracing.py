"""Traced-run helpers: spans recorded around the calls into each layer,
Catalyst phase times and plan shape read from the query execution, and
executor-side counters read from Spark's own status store.

Nothing here touches the package: every number comes from the public
entry points the benchmark calls, or from the JVM after the fact.
"""

from __future__ import annotations

import re
import time

from stats import self_time

CATALYST_PHASES = ("analysis", "optimization", "planning")
_NODE_RE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z][A-Za-z0-9]*)")
_PYTHON_NODE_RE = re.compile(r"Python|InPandas|InArrow")


class Spans:
    """In-memory span log.  Times are ``time.perf_counter()`` seconds."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "start": start,
             "end": end, **attrs}
        )
        return sid

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def with_self_times(self) -> list[dict]:
        by_parent: dict[int | None, list[dict]] = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)
        return [
            {**s, "self": self_time(s, by_parent.get(s["id"], []))}
            for s in self.spans
        ]


def plan_nodes(plan_string: str) -> tuple[int, int]:
    """(Exchange nodes, Python-evaluation nodes) in a physical plan
    string; for an adaptive plan, only its final plan is counted."""
    text = plan_string
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    exchanges = python = 0
    for line in text.splitlines():
        m = _NODE_RE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node in ("Exchange", "BroadcastExchange"):
            exchanges += 1
        elif _PYTHON_NODE_RE.search(node):
            python += 1
    return exchanges, python


def catalyst_ms(qe) -> dict[str, int]:
    """Phase durations (ms) from ``QueryExecution.tracker().phases()``."""
    phases = qe.tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        out[name] = int(opt.get().durationMs()) if opt.isDefined() else 0
    return out


def _opt(o):
    return o.get() if o.isDefined() else None


_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spilled": "memoryBytesSpilled",
    "disk_spilled": "diskBytesSpilled",
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "killed_tasks": "numKilledTasks",
}


def read_jobs(spark, groups: set[str], wall_offset: float) -> list[dict]:
    """Jobs of the given job groups from the application status store,
    each with its stages' summed counters.  ``wall_offset`` converts
    epoch seconds to the ``perf_counter`` clock of the spans."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        group = _opt(j.jobGroup())
        if group not in groups:
            continue
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        rec = {
            "job": j.jobId(),
            "group": group,
            "phase": _opt(j.description()) or "",
            "start": sub.getTime() / 1000.0 - wall_offset if sub else None,
            "end": done.getTime() / 1000.0 - wall_offset if done else None,
            "stages": 0,
            **{k: 0 for k in _STAGE_FIELDS},
        }
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Exception:  # noqa: BLE001 — a stage the store dropped
                continue
            if str(st.status()) == "SKIPPED":
                continue
            rec["stages"] += 1
            for key, getter in _STAGE_FIELDS.items():
                rec[key] += int(getattr(st, getter)())
        out.append(rec)
    return out


def wall_offset() -> float:
    """``time.time() - time.perf_counter()``: maps epoch to span clock."""
    return time.time() - time.perf_counter()
