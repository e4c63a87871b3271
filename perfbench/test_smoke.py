"""Smoke tests of the benchmark itself, at the sf0.001-sized fixture profile.

    python3 -m pytest perfbench -q

Each workload runs once untraced and once traced.  The tests check the
output contract (every metric named in BENCHMARK.json, with its unit), that
every op was correct, and that the traced run's spans are consistent: in
every tree of spans the self times add up to no more than the root's
duration, and no root outlasts the run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from collections import defaultdict

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload: str, trace: int, tmp_path, cwd: str = ROOT):
    spans = tmp_path / "spans.json"
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "4", "--trace", str(trace), "--scale", "smoke",
           "--spans-out", str(spans)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc, time.monotonic() - t0, spans


def check_result(proc, names: dict[str, str]) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, proc.stderr[-3000:]
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
    for v in out["metrics"].values():
        assert set(v) == {"value", "unit"} and isinstance(v["value"], float)
    return out["metrics"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload, tmp_path):
    proc, _wall, _spans = run_bench(workload, 0, tmp_path)
    metrics = check_result(proc, {m["name"]: m["unit"] for m in SPEC["end_to_end"]})
    assert all(v["value"] > 0 for v in metrics.values()), metrics
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_spans_are_consistent(workload, tmp_path):
    proc, wall, spans_path = run_bench(workload, 1, tmp_path)
    check_result(proc, {m["name"]: m["unit"] for m in SPEC["per_layer"]})
    with open(spans_path) as f:
        dump = json.load(f)
    for side in ("server", "client"):
        spans = dump[side]["spans"]
        assert spans or side == "server", side
        children = defaultdict(list)
        for i, (_n, _t0, _t1, parent, _op) in enumerate(spans):
            if parent >= 0:
                children[parent].append(i)

        def self_sum(i: int) -> float:
            _n, t0, t1, _p, _op = spans[i]
            kids = children[i]
            own = (t1 - t0) - sum(spans[k][2] - spans[k][1] for k in kids)
            assert own >= -1e-6, spans[i]
            return own + sum(self_sum(k) for k in kids)

        for i, (_n, t0, t1, parent, _op) in enumerate(spans):
            if parent < 0:
                assert self_sum(i) <= (t1 - t0) + 1e-6
                assert t1 - t0 <= wall


def test_bare_directory_fails_without_result(tmp_path):
    """With only BENCHMARK.json and the benchmark's files, the run must fail
    fast and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    cmd = SPEC["command"] + ["--workload", WORKLOADS[0], "--seed", "1",
                             "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
