"""Smoke test of the benchmark itself.

Runs one op of every workload (``--seconds 0``: the loop stops after
its first op), untraced and traced. Each run must exit 0, print every
metric ``BENCHMARK.json`` lists for its mode (end-to-end for
``--trace 0``, per-layer for ``--trace 1``) with the listed unit, and
report no failed op.

    python3 perfbench/smoke.py [workload ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "0", "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        return [f"exit {out.returncode}: {out.stderr[-2000:]}"]
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(result)}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        diff = sorted(set(want.items()) ^ set(got.items()))
        problems.append(f"metrics differ from BENCHMARK.json: {diff}")
    if not result["correct"] or result["failed"] or detail["failed_frac"] != 0:
        problems.append(f"failed {result['failed']} of {result['attempted']}")
    return problems


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = argv or [w["name"] for w in spec["workloads"]]
    bad = 0
    for workload in workloads:
        for trace in (0, 1):
            problems = check_run(spec, workload, trace)
            print(f"{'FAIL' if problems else 'ok  '} {workload} --trace {trace}")
            for p in problems:
                print(f"     {p}")
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
