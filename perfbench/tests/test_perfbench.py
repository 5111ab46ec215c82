"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start one Spark worker per workload (about a minute
each on four cores); deselect them with ``-m "not smoke"``.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import DATA_DIR, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# the benchmark contract's rules for metric/workload names and units
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ------------------------------------------------------------ failure count


def test_failed_frac_counts_raise_and_hash_mismatch():
    oracles = {"n_regions": "SELECT count(*) AS n FROM region"}
    ops = [
        {"query": "n_regions", "columns": ["n"], "rows": [(5,)]},
        {"query": "n_regions", "columns": ["n"], "rows": [(4,)]},  # wrong value
        {"query": "n_regions", "error": "RuntimeError: boom"},  # raised
        {"query": "rows_only", "columns": ["x"], "rows": [(1,), (2,)]},
        {"query": "rows_only", "columns": ["x"], "rows": [(1,)]},  # row count moved
    ]
    checks.check_registry_ops(ops, oracles, DATA_DIR, checks.load_matrix_hash(ROOT))
    assert "check_error" not in ops[0]
    assert ops[1]["check_error"] == "value-hash mismatch vs oracle"
    assert "check_error" not in ops[3]
    assert "first pass" in ops[4]["check_error"]
    assert stats.failed_frac(ops) == pytest.approx(3 / 5)


def test_failed_frac_rejects_empty():
    with pytest.raises(ValueError):
        stats.failed_frac([])


# ------------------------------------------------------- stock ground truth


def test_stock_truth_matches_pandas_olap(tmp_path):
    truth = datagen.write_stock_csvs(3, str(tmp_path))
    assert truth == datagen.write_stock_csvs(3, str(tmp_path))  # seeded
    assert truth != datagen.write_stock_csvs(4, str(tmp_path / "other"))
    fact = checks.truth_frame(truth)
    olap = checks.expected_olap(fact)
    assert list(olap) == list(checks.OLAP_FILES)
    growth = olap["02_growth_24_25.csv"]
    assert len(growth) == len(datagen.STOCK_TICKERS)
    with open(tmp_path / "HVN.csv", encoding="utf-8") as f:
        header = f.readline()
    assert header.startswith("\ufeff\"Ngày\"")
    assert datagen._parse_volume("903.30K") == int(903.30 * 1000)


# ------------------------------------------------------------- spans, plans


def test_self_time_subtracts_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [
        {"start": 1.0, "end": 3.0},
        {"start": 2.0, "end": 4.0},  # overlaps the first
        {"start": 9.0, "end": 12.0},  # clipped to the parent
    ]
    assert stats.self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)
    assert stats.self_time(parent, []) == 10.0


def test_plan_nodes_counts_final_adaptive_plan():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 2
   +- *(3) HashAggregate(keys=[k#1], functions=[sum(v#2)])
      +- AQEShuffleRead coalesced
         +- ShuffleQueryStage 0
            +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=10]
               +- ArrowEvalPython [f(v#2)#5], [pythonUDF0#6], 200
                  :- BroadcastQueryStage 1
                  :  +- BroadcastExchange HashedRelationBroadcastMode
                  +- FileScan parquet [k#1,v#2]
+- == Initial Plan ==
   HashAggregate(keys=[k#1], functions=[sum(v#2)])
   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=7]
"""
    assert tracing.plan_nodes(plan) == (2, 1)
    assert tracing.plan_nodes("MapInPandas f\n+- Scan") == (0, 1)


# ---------------------------------------------------------- names and specs


def test_metric_names_and_units_follow_the_rules():
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in SPEC[key]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.match(n), n
    for key in ("end_to_end", "per_layer"):
        for m in SPEC[key]:
            assert UNIT_RE.match(m["unit"]), m
    for bad in ("", "_x", "x y", "a" * 65, "é"):
        assert not NAME_RE.match(bad)
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


# ------------------------------------------------------------------- smoke


def _run(workload: str, trace: int) -> tuple[int, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "0.1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=240,
    )
    return out.returncode, json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.smoke
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_traced_run_gives_every_layer_metric(workload):
    code, res = _run(workload, 1)
    assert code == 0 and res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for k, v in res["metrics"].items():
        assert v["unit"] == units[k]
    assert res["metrics"]["trace.max_remainder_frac"]["value"] < 0.05


@pytest.mark.smoke
def test_smoke_untraced_run_gives_every_end_to_end_metric():
    code, res = _run("registry", 0)
    assert code == 0 and res["correct"] and res["attempted"] >= 10
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in res["metrics"].values())
