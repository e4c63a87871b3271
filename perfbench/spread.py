#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload W --seeds 401-410 [--out F]

Run from the repository root.  Each seed is one untraced ``run.py`` run of
``run_seconds`` (from ``BENCHMARK.json``), one after the other.  For every metric the table gives the median, the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median, the minimum and maximum, and the metric's bound from
``BENCHMARK.json``.  A run that is not correct fails the set.  ``--out``
also writes each run's result and stderr summary as one JSON line.

The host's CPU speed can switch between modes that differ by about 2x for
minutes at a time; a set that spans a switch says nothing about the
benchmark's own spread.  Each run's JVM start time (``session_start_s``),
which follows the host's speed, is printed, and the set is refused (exit
code 3) when it varies by more than ``MODE_RATIO`` between the fastest and
the slowest run.
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
MODE_RATIO = 1.6
PROBES = ("session_start_s",)


def seeds_of(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def run_one(workload: str, seed: int, seconds: int) -> tuple[dict, dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.monotonic() - t0
    if proc.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    summary = {}
    for line in proc.stderr.splitlines():
        if line.startswith("summary "):
            summary = json.loads(line[len("summary "):])
    return result, summary, wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a range 401-410 or a list 1,2,3")
    ap.add_argument("--out", help="write one JSON line per run here")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    probes: dict[str, list[float]] = {k: [] for k in PROBES}
    walls = []
    correct = True
    for seed in seeds_of(args.seeds):
        result, summary, wall = run_one(args.workload, seed, spec["run_seconds"])
        if args.out:
            with open(args.out, "a") as out:
                out.write(json.dumps({"seed": seed, "wall_s": wall, "result": result,
                                      "summary": summary}) + "\n")
        walls.append(wall)
        correct &= result["correct"]
        for k in PROBES:
            probes[k].append(summary.get(k, float("nan")))
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall {wall:.1f} s, correct {result['correct']}, "
              f"{result['failed']}/{result['attempted']} failed, "
              + ", ".join(f"{k} {probes[k][-1]:.3g}" for k in PROBES), flush=True)

    print(f"\nwall per run: mean {statistics.fmean(walls):.1f} s, max {max(walls):.1f} s")
    print("\n| metric | median | IQR/median | min | max | bound |\n|---|---|---|---|---|---|")
    for k, v in values.items():
        med = statistics.median(v)
        q1, _q2, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"| {k} | {med:.4g} | {spread:.3f} | {min(v):.4g} | {max(v):.4g} | {bounds.get(k)} |")
    mixed = [k for k, v in probes.items() if min(v) > 0 and max(v) / min(v) > MODE_RATIO]
    if not correct:
        print("\nrefused: a run was not correct")
        return 1
    if mixed:
        print(f"\nrefused: {', '.join(mixed)} varies by more than {MODE_RATIO}x: "
              "the host switched CPU modes during the set")
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
