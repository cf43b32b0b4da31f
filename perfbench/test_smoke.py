"""Smoke test of the benchmark at tiny input sizes. Run from the repository
root (takes a few minutes; each case starts its own Spark session):

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Checks that every metric BENCHMARK.json names is printed with its unit, that
every op passes its output check, and that each layer emits spans on the
workload meant to load it and none where it is meant to be bypassed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = {"civic_daily": 200, "warehouse_read": 0.01, "curation": 300}
# layers that must emit spans / must not, per workload
LOADED = {
    "civic_daily": {"sources", "transforms", "geo", "relational", "catalog", "plans"},
    "warehouse_read": {"plans", "relational", "sink"},
    "curation": {"plans", "sink", "textstats", "dedup", "importance", "sampling"},
}
BYPASSED = {
    "civic_daily": {"textstats", "dedup", "importance", "sampling"},
    "warehouse_read": {"catalog", "geo", "sources", "textstats", "dedup"},
    "curation": {"catalog", "geo", "sources"},
}


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", str(TINY[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    meta = json.loads(lines[-2].removeprefix("# meta "))
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, meta["failures"]
    return result, meta


def _input_bytes(tmp_path, name: str, seed: int) -> dict[str, bytes]:
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import gen

    d = tmp_path / name
    gen.warehouse(str(d), seed, 0.01)
    gen.documents(str(d), seed, 50)
    gen.civic(str(d), seed, 2, 100)
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_inputs_are_seeded(tmp_path):
    a = _input_bytes(tmp_path, "a", 5)
    assert a == _input_bytes(tmp_path, "b", 5)
    other = _input_bytes(tmp_path, "c", 6)
    # region and nation are fixed dimension tables; every other file differs
    assert [f for f in a if a[f] == other[f]] == ["nation.parquet", "region.parquet"]


@pytest.mark.parametrize("workload", [w["name"] for w in _bench()["workloads"]])
def test_end_to_end_metrics_printed(workload):
    result, _ = _run(workload, 0)
    for m in _bench()["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and got["value"] > 0


@pytest.mark.parametrize("workload", sorted(LOADED))
def test_traced_run_layers(workload):
    result, meta = _run(workload, 1)
    for m in _bench()["per_layer"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    spans = meta["spans_by_layer"]
    assert LOADED[workload] <= {layer for layer, n in spans.items() if n}
    assert not {layer for layer in BYPASSED[workload] if spans.get(layer)}
