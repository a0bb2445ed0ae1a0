#!/usr/bin/env python3
"""Self-test of the benchmark's output check: each case makes the pipeline's
output wrong on purpose and must end with a failed check (exit code 1 and
"correct": false), never with a passing result.

    python3 perfbench/selftest.py

Cases: the broker stub drops one record (wire_drain, wire_live), and one
stale LWW winner is fed in after the real one (wire_drain).
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
CASES = [("wire_drain", "drop"), ("wire_drain", "stale"), ("wire_live", "drop")]


def main():
    bad = 0
    for workload, inject in CASES:
        p = subprocess.run(
            [sys.executable, RUN, "--workload", workload, "--seed", "1",
             "--seconds", "3", "--trace", "0", "--inject", inject],
            stdout=subprocess.PIPE, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        caught = p.returncode == 1 and result.get("correct") is False
        print(f"{workload} --inject {inject}: exit {p.returncode}, "
              f"{'caught' if caught else 'NOT CAUGHT'}")
        bad += not caught
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
