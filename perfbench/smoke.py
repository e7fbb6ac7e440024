#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on sf0.001 inputs.

    python3 perfbench/smoke.py

For every workload in workloads.py, one untraced and one traced run at
``PERFBENCH_SF=0.001`` must exit 0 and end with a result line that has
exactly the keys ``correct``, ``attempted``, ``failed`` and ``metrics``,
``correct`` true, and every metric BENCHMARK.json names (end-to-end
untraced, per-layer traced) with the unit it declares. A copy of the benchmark without the repository beside
it must exit non-zero and print no result. Exits 1 on the first
failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int, env: dict) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=900)


def check_result(p: subprocess.CompletedProcess, want: dict) -> str:
    """'' when ``p`` printed a valid result with exactly ``want``
    (name -> unit), else what is wrong."""
    if p.returncode != 0:
        return f"exit {p.returncode}: {p.stderr[-2000:]}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return f"keys {sorted(res)}"
    if res["correct"] is not True or res["failed"] != 0 or res["attempted"] < 1:
        return f"outputs not correct: {p.stdout.strip().splitlines()[-2]}"
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        return f"metrics {got} != {want}"
    bad = [k for k, v in res["metrics"].items() if not isinstance(v["value"], (int, float))]
    return f"non-numeric values {bad}" if bad else ""


def main() -> int:
    sys.path.insert(0, HERE)
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    env = dict(os.environ, PERFBENCH_SF="0.001")
    for w in workloads.WORKLOADS:
        for trace in (0, 1):
            err = check_result(run(ROOT, w, trace, env), want[trace])
            print(f"{w} trace={trace}: {err or 'ok'}", flush=True)
            if err:
                return 1

    bare = os.path.join(HERE, ".data", "tmp", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".data", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(bare, "etl_star", 0, env)
    shutil.rmtree(bare, ignore_errors=True)
    ok = p.returncode != 0 and '"metrics"' not in p.stdout
    print(f"without the repository: exit {p.returncode}, {'ok' if ok else 'FAILED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
