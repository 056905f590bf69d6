#!/usr/bin/env python3
"""Smoke test: runs every workload at the tiny input size, untraced and
traced, and checks that each run is correct and prints every metric
BENCHMARK.json names for its mode.

    python3 perfbench/smoke_test.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
            r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            lines = r.stdout.strip().splitlines()
            printed = [l.split(" = ")[0] for l in lines if " = " in l]
            want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
            problems = []
            if r.returncode != 0 or not lines:
                problems.append(f"exit {r.returncode}: {r.stderr[-1500:]}")
            else:
                res = json.loads(lines[-1])
                if not res["correct"]:
                    problems.append("not correct")
                problems += [f"metric {m} missing" for m in want
                             if m not in res["metrics"] or m not in printed]
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{workload} trace={trace}: {status}", flush=True)
            if problems:
                failures.append((workload, trace))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
