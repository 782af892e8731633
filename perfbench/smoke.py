#!/usr/bin/env python3
"""Smoke check of the benchmark at the tiny input size.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all of run.WORKLOADS) runs run.py with
``--scale tiny --seconds 1``, once untraced and once traced, and checks that
every metric BENCHMARK.json names is printed, by name and with its unit, in
both the text lines and the final JSON line, and that ok_frac is 1.0 and
the run is correct. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def check(workload: str, trace: int, expected: dict[str, str]) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    metrics = result["metrics"]
    assert set(metrics) == set(expected), sorted(set(metrics) ^ set(expected))
    text = {ln.split()[0]: ln.split()[2] for ln in lines[:-1] if not ln.startswith("#")}
    for name, unit in expected.items():
        assert metrics[name]["unit"] == unit, (name, metrics[name])
        assert isinstance(metrics[name]["value"], (int, float)), (name, metrics[name])
        assert text.get(name) == unit, (name, text.get(name))
    assert result["correct"] and result["failed"] == 0, result
    if not trace:
        assert metrics["ok_frac"]["value"] == 1.0, metrics["ok_frac"]
    print(f"ok  {workload} trace={trace}: {len(metrics)} metrics, "
          f"{result['attempted']} op calls", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for workload in sys.argv[1:] or list(WORKLOADS):
        check(workload, 0, end_to_end)
        check(workload, 1, per_layer)
    return 0


if __name__ == "__main__":
    sys.exit(main())
