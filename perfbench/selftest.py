#!/usr/bin/env python3
"""Self-test of the answer checks: a deliberately corrupted answer must
fail the run.

    python3 perfbench/selftest.py

Runs ``perfbench/run.py`` on serve_local for two seconds with every 50th
answer perturbed before it is checked, and requires a non-zero exit, a
result line with ``failed > 0`` and ``correct`` false, and a
``failed_op_ratio`` above 0 and at most 1.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "serve_local",
         "--seed", "1", "--seconds", "2", "--trace", "0", "--corrupt-every", "50"],
        capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2:
        print(f"no result (exit {p.returncode})\n{p.stderr[-3000:]}")
        return 1
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
    ratio = detail["failed_op_ratio"]["value"]
    problems = [
        msg for bad, msg in (
            (p.returncode == 0, "exit status 0"),
            (result["correct"], "correct is true"),
            (result["failed"] == 0, "failed is 0"),
            (not 0 < ratio <= 1, f"failed_op_ratio {ratio} not in (0, 1]"),
        ) if bad
    ]
    print(f"exit {p.returncode}, attempted {result['attempted']}, failed "
          f"{result['failed']}, failed_op_ratio {ratio:.4f}")
    for msg in problems:
        print("FAIL:", msg)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
