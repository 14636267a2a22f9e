"""Self-test of the benchmark: every workload once at tiny sizes, untraced
and traced, each in its own JVM (a few minutes in all).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    BENCH = json.load(fh)

SEED = 7


def _run(cwd, workload: str, trace: int) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _assert_clean(result: dict, lines: list[str]) -> None:
    assert result["attempted"] >= 1
    assert result["failed"] == 0, [ln for ln in lines if ln.startswith("# failed")]
    assert result["correct"] is True
    assert "# metric error_rate = 0.0000 ratio" in lines


def _assert_spans_nest(spans: list[dict]) -> None:
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        assert s["end_s"] >= s["start_s"], s
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["start_s"] <= s["start_s"] and s["end_s"] <= parent["end_s"], (parent, s)
            assert s["op"] == parent["op"], (parent, s)
            children.setdefault(s["parent"], []).append(s)
    for pid, kids in children.items():
        kids.sort(key=lambda k: k["start_s"])
        # a span's children run one after another on its thread, so they
        # account for the parent's wall time with a self time >= 0
        for a, b in zip(kids, kids[1:]):
            assert a["end_s"] <= b["start_s"], (a, b)
        parent = by_id[pid]
        covered = sum(k["end_s"] - k["start_s"] for k in kids)
        assert parent["end_s"] - parent["start_s"] - covered >= -1e-9, parent


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_untraced_then_traced(tmp_path, workload):
    lines, result = _run(tmp_path, workload, 0)
    _assert_clean(result, lines)
    assert set(result["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for m in BENCH["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, (m, got)

    lines, result = _run(tmp_path, workload, 1)
    _assert_clean(result, lines)
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    for m in BENCH["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m
    overhead = [ln for ln in lines if ln.startswith("# tracing overhead:")]
    assert overhead and "n/a" not in overhead[0], overhead

    with open(tmp_path / ".perfbench_out" / f"{workload}-seed{SEED}-spans.json") as fh:
        spans = json.load(fh)
    assert any(s["name"] == "run.op" for s in spans)
    _assert_spans_nest(spans)
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(v >= 0 for v in metrics.values()), metrics
    exercised = {
        "daily_cycle": ["silver.write_s", "gold.dim_location_s", "views.accuracy_s",
                        "txlog.read_s", "txlog.snapshot_s", "txlog.bytes_written",
                        "run.snapshot_open_s", "query.city_ranking_ms", "views.jobs",
                        "query.jobs"],
        "curation": ["curate.cleaned_s", "curate.packed_s", "curate.survivor_ratio",
                     "curate.jobs"],
    }[workload]
    for name in exercised:
        assert metrics[name] > 0, name
