"""Self-test: two traced runs with the same seed must record identical
exact counts — index bytes, WAND blocks decoded / total per request,
and jobs, stages, tasks and shuffle bytes per operation.

    python3 perfbench/selftest_counts.py --workload search --seed 1

Requests that only one run reached (the window is timed) are skipped;
every request outside window cycles 2 and up is always compared. Shuffle
bytes that differ by at most 0.1% with identical jobs, stages and tasks
are reported as notes, not failures (see ``drift_only``).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def drift_only(x: dict, y: dict) -> bool:
    """Same jobs, stages and tasks, shuffle bytes within 0.1%: a shuffle
    of lists collected in task-completion order (``collect_list``)
    compresses to slightly different sizes from run to run."""
    same = all(x[k] == y[k] for k in ("jobs", "stages", "tasks"))
    return same and abs(x["shuffle_bytes"] - y["shuffle_bytes"]) <= 1e-3 * max(x["shuffle_bytes"], 1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "1"],
            cwd=os.path.dirname(BENCH_DIR), capture_output=True, text=True)
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
    with open(os.path.join(BENCH_DIR, "records", f"{args.workload}.jsonl")) as f:
        a, b = [json.loads(line)["counts"] for line in f.readlines()[-2:]]
    diffs, notes = [], []
    if a["index_bytes"] != b["index_bytes"]:
        diffs.append(("index_bytes", a["index_bytes"], b["index_bytes"]))
    for part in ("ops", "wand_blocks"):
        common = a[part].keys() & b[part].keys()
        must = {k for k in a[part] if not re.match(r"c([2-9]|\d\d+)\.", k.split("/")[-1])}
        diffs += [(f"{part}: missing", k, None) for k in must - common]
        for k in sorted(common):
            x, y = a[part][k], b[part][k]
            if x == y:
                continue
            if part == "ops" and drift_only(x, y):
                notes.append((k, x["shuffle_bytes"], y["shuffle_bytes"]))
            else:
                diffs.append((part, k, (x, y)))
    for d in diffs:
        print("DIFF", *d)
    for k, x, y in notes:
        print(f"NOTE {k}: shuffle bytes {x} vs {y} (order-dependent compression)")
    n = len(a["ops"].keys() & b["ops"].keys())
    print(f"{args.workload}: {n} operations compared, {len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
