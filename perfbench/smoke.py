"""Smoke test of the benchmark: every workload, one short pass at scale
0.001, checks asserted.

    python3 perfbench/smoke.py

Each workload runs traced, so its per-layer metrics are produced; one
workload also runs untraced.  A run passes when it exits 0, reports
``correct`` with no failed op, and prints exactly the metric names that
``BENCHMARK.json`` declares for its mode.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke",
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload}: exit code {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    cases = [(w["name"], 1) for w in spec["workloads"]]
    cases.append((spec["workloads"][0]["name"], 0))
    bad = []
    for workload, trace in cases:
        res = run(workload, trace)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        ok = (
            res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
            and got == declared[trace]
        )
        print(f"{'ok  ' if ok else 'FAIL'} {workload} trace={trace}: "
              f"{res['attempted']} ops, {res['failed']} failed", flush=True)
        if not ok:
            bad.append((workload, trace))
            missing = set(declared[trace]) ^ set(got)
            if missing:
                print(f"     metric names differ: {sorted(missing)}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
