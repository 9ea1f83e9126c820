#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload <sql_analytics|curation_batch|
      incremental_days> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness first (perfbench/build.py), then runs
the harness in one JVM on local[n], n = min(4, cores). The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}; the line
before it is the full report. See perfbench/README.md.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--regen-golden", action="store_true")
    a = ap.parse_args()

    build.build()
    cmd = build.java(["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", a.trace] +
                     (["--regen-golden"] if a.regen_golden else []))
    p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    if p.returncode != 0:
        print(f"perfbench: harness exited {p.returncode}", file=sys.stderr)
        return 1
    if a.regen_golden:
        return 0
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        print("perfbench: harness printed no result line", file=sys.stderr)
        return 1
    if len(lines) > 1:
        print(lines[-2])
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
