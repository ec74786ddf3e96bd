"""Run one workload over several seeds and report each end-to-end
metric's spread: the distance between the first and third quartile of
its values, as a share of their median.

    python3 perfbench/steady.py --workload search --seeds 1 2 3 4 5 --seconds 12
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=os.path.dirname(BENCH_DIR), capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, v in values.items():
        if len(v) >= 2:
            print(f"{k}: median {statistics.median(v):.5g} spread {spread(v):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
