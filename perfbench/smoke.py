"""Smoke test of the benchmark: every workload at the tiny size, untraced
and traced, must finish correct and print every metric BENCHMARK.json
names, finite and with its unit.

    python3 perfbench/smoke.py            # all workloads, about 4 minutes
    python3 perfbench/smoke.py serve      # one workload
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-4000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(result: dict, wanted: list[dict], label: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    assert result["correct"] is True, f"{label}: not correct: {result}"
    assert result["attempted"] >= 1 and result["failed"] == 0, f"{label}: {result}"
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in wanted}, f"{label}: metric names differ"
    for m in wanted:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], f"{label}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{label}: {m['name']}"
        assert math.isfinite(got["value"]), f"{label}: {m['name']} is {got['value']}"


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = argv or [w["name"] for w in spec["workloads"]]
    for workload in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            label = f"{workload} --trace {trace}"
            check(run_once(workload, trace), spec[key], label)
            print(f"ok  {label}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
