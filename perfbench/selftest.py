#!/usr/bin/env python3
"""Self-test of the benchmark's answer checks.

Runs each workload once with one expectation corrupted
(`run.py --corrupt-expectation`) and asserts that the run reports the
ops behind it as failed. Run from the repository root:

    python3 perfbench/selftest.py [WORKLOAD ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def main(names):
    bad = 0
    for name in names or sorted(WORKLOADS):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
             "--seed", "1", "--seconds", "1", "--trace", "0",
             "--corrupt-expectation"], capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        ok = (result is not None and not result["correct"]
              and 1 <= result["failed"] < result["attempted"])
        print(f"{'PASS' if ok else 'FAIL'} {name}: "
              f"{result and {k: result[k] for k in ('correct', 'attempted', 'failed')}}")
        if not ok:
            print(p.stderr[-3000:])
            bad += 1
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
