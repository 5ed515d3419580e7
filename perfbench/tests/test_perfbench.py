"""Smoke and determinism tests for the benchmark: short runs (``--seconds 2``)
at the benchmark's own input sizes.

Run from the root of a checkout:  python3 -m pytest perfbench/tests -q
Each case starts its own Spark session, so the file takes several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    BENCH = json.load(fh)


def run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_the_metric_catalogue():
    import workloads

    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == workloads.E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == workloads.PER_LAYER_UNITS


@pytest.mark.parametrize("workload", ["market_ingest", "corpus_curation", "query_mix"])
def test_smoke(workload):
    out = run(workload, 11, 0)
    assert out["correct"] is True
    assert out["attempted"] >= 1 and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for m in BENCH["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert out["metrics"][m["name"]]["value"] > 0


def _by_op(spans: list[dict]) -> dict:
    """Span tree without times, grouped by the operation it belongs to."""
    ops: dict = {}
    for s in spans:
        ops.setdefault(s["op"], []).append(
            (s["name"], s["parent"] is None, s["jobs"], s["stages"], s["tasks"]))
    return ops


def _span_tree(workload: str, seed: int) -> dict:
    path = os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-{seed}.jsonl")
    with open(path, encoding="utf-8") as fh:
        return _by_op([json.loads(line) for line in fh])


def test_counts_and_span_tree_repeat_for_a_seed():
    first = run("market_ingest", 12, 1)
    ta = _span_tree("market_ingest", 12)
    second = run("market_ingest", 12, 1)
    tb = _span_tree("market_ingest", 12)
    assert first["correct"] and second["correct"]
    counts = [m["name"] for m in BENCH["per_layer"] if m["unit"] in ("count", "B", "ratio")
              and m["name"] != "trace.overhead_ratio"]
    assert {k: first["metrics"][k]["value"] for k in counts} == {
        k: second["metrics"][k]["value"] for k in counts}
    common = ta.keys() & tb.keys()
    # how many ticks fit in the timed window varies; every tick that ran in
    # both runs, and the forced per-layer calls, must match exactly
    assert "forced" in common and len(common) >= 2
    assert {op: ta[op] for op in common} == {op: tb[op] for op in common}
