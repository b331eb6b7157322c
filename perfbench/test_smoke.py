"""Smoke test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that the generator is deterministic, and that one untraced and one
traced run print every metric named in BENCHMARK.json with its unit and
with no failed op.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tables  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_generators_are_deterministic(tmp_path):
    a = tables.mixed_table(str(tmp_path / "a.parquet"), 300, 2, 2, seed=7)
    b = tables.mixed_table(str(tmp_path / "b.parquet"), 300, 2, 2, seed=7)
    c = tables.mixed_table(str(tmp_path / "c.parquet"), 300, 2, 2, seed=8)
    assert _digest(a["path"]) == _digest(b["path"])
    assert _digest(a["path"]) != _digest(c["path"])
    assert a["missing_cells"] == b["missing_cells"] > 0


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--rows", "300"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _declared(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


@pytest.mark.parametrize(
    "workload,trace,kind",
    [("impute_wide", 0, "end_to_end"), ("impute_rollout", 1, "per_layer")],
)
def test_run_prints_every_metric(workload, trace, kind):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    declared = _declared(kind)
    assert set(out["metrics"]) == set(declared)
    for name, unit in declared.items():
        assert out["metrics"][name]["unit"] == unit
        assert isinstance(out["metrics"][name]["value"], float)
    if kind == "end_to_end":
        assert all(m["value"] > 0 for m in out["metrics"].values())
