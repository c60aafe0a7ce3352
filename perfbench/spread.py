#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload serve_local --seeds 1-10 \
        [--seconds 15] [--trace 1] [--out runs.jsonl]

Runs ``perfbench/run.py`` from the current directory (a checkout root),
appends one JSON record per run to --out, and prints, per metric, the
median and the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seed_list(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in seed_list(args.seeds):
        t = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        wall = time.time() - t
        lines = p.stdout.strip().splitlines()
        if len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}, no result\n{p.stderr[-3000:]}")
            return 1
        result, detail = json.loads(lines[-1]), json.loads(lines[-2])
        rec = {"workload": args.workload, "seed": seed, "trace": args.trace,
               "seconds": seconds, "exit": p.returncode, "wall_s": wall,
               "result": result, "detail": detail["detail"]}
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
        print(f"seed {seed}: exit {p.returncode} wall {wall:.1f}s attempted "
              f"{result['attempted']} failed {result['failed']}  " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                  if not args.trace), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for k, v in detail["detail"].items():
            values.setdefault(f"detail.{k}", []).append(v["value"])
    for k, v in values.items():
        if len(v) >= 2:
            med, sp = spread(v)
            print(f"{k:48s} median {med:12.5g}  spread {sp:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
