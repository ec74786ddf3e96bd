"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload search --seed 1 --seconds 12 --trace 0

Run from the repository root. Starts a local Spark session sized to
this host (``nproc`` cores, driver memory under host RAM), sets up the
workload from the seed, runs its closed loop for ``--seconds``, checks
every output, and prints one JSON line last: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Scratch
data (index, Spark local dirs, event log) lives under
``perfbench/.scratch/`` and is deleted at exit; each run appends a
record to ``perfbench/records/<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE = "shazam_an_industrial_strength_audio_search_algorithm__spark"
RECORDS = os.path.join(BENCH_DIR, "records")
DEADLINE_S = 165  # the whole run, set-up included, must end in 180 s

# end-to-end metric -> (unit, better); every workload reports each
END_TO_END = {
    "setup_s": ("s", "lower"),
    "space_amp": ("ratio", "lower"),
    "query_p50_s": ("s", "lower"),
    "wand_qps": ("1/s", "higher"),
}
# recorded and printed, not in the last line: workload-specific, one
# sample per run, or too unsteady between runs to bound (README.md)
NAMED = {
    "build_docs_per_s": "docs/s", "peak_rss_mb": "MB",
    "query_tail_s": "s", "brute_qps": "1/s", "long_wand_qps": "1/s",
    "match_qps": "1/s", "layered_wand_qps": "1/s", "update_p50_s": "s",
    "compact_s": "s", "dedup_docs_per_s": "docs/s", "op_fail_ratio": "ratio",
}


# -- processes -----------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> set[int]:
    kids, out, todo = _children(), set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of this process and every descendant:
    the driver JVM and the Python workers, which Spark reuses, so they
    are still alive at the end of the run."""
    total = 0
    for p in {os.getpid()} | descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except (OSError, ValueError):
            pass
    return total / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM and every process it
    started, and wait until each has ended."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    t_end = time.monotonic() + 20
    while any(_alive(p) for p in kids) and time.monotonic() < t_end:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in kids):
        time.sleep(0.1)


# -- provenance ------------------------------------------------------------------
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def driver_memory() -> str:
    """A sixth of host RAM, between 1 and 2 GiB: the machine is shared."""
    return f"{max(1, min(2, host_mem_bytes() // 6 // 2**30))}g"


def source_sha() -> str:
    h = hashlib.sha256()
    for top in (ENGINE, "perfbench"):
        for d, _, fs in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(fs):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def git_rev() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                             capture_output=True, text=True)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


# -- the run -----------------------------------------------------------------------
def start_session(scratch: str, traced: bool):
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        get_spark,
    )

    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": f"{scratch}/spark-local",
        "spark.sql.warehouse.dir": f"{scratch}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={scratch}/tmp -Dderby.system.home={scratch}/tmp",
    }
    if traced:
        os.makedirs(f"{scratch}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{scratch}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=nproc(), shuffle_partitions=nproc(),
                     extra_conf=conf)


def drive(wl, seconds: float) -> tuple[int, float]:
    """Closed loop: measured cycles from 1 until ``seconds`` have
    passed (the first cycle always completes). Returns (cycles
    started, seconds measured)."""
    t0 = time.perf_counter()
    t_end = t0 + seconds
    c = 1
    while True:
        for kind, fn in wl.cycle(c):
            wl.run(kind, fn)
            if c > 1 and time.perf_counter() >= t_end:
                return c, time.perf_counter() - t0
        if time.perf_counter() >= t_end:
            return c, time.perf_counter() - t0
        c += 1


def last_untraced(workload: str, seed: int) -> dict | None:
    """The last untraced record of the same sources, preferring the
    same seed: its window sent the same requests as this run's."""
    path = os.path.join(RECORDS, f"{workload}.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    recs = [r for r in recs if not r["trace"] and r["source_sha256"] == source_sha()]
    same = [r for r in recs if r["seed"] == seed]
    return (same or recs or [None])[-1]


def run(args) -> dict:
    from perfbench.trace import Tracer, parse_event_log
    from perfbench.workloads import WORKLOADS

    scratch = os.path.join(BENCH_DIR, ".scratch", f"{args.workload}-{os.getpid()}")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, sub))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": f"{scratch}/spark-local",
        "TMPDIR": f"{scratch}/tmp",
    })
    rec: dict = {
        "ts": time.time(), "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace),
        "git_rev": git_rev(), "source_sha256": source_sha(), "nproc": nproc(),
        "host_mem_gb": round(host_mem_bytes() / 2**30, 1),
        "driver_memory": driver_memory(), "loadavg_before": os.getloadavg(),
        "python": sys.version.split()[0],
    }
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(scratch, bool(args.trace))
        session_s = time.perf_counter() - t0
        import pyspark

        rec["pyspark"] = pyspark.__version__
        rec["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        tracer = Tracer(spark.sparkContext if args.trace else None)
        wl = WORKLOADS[args.workload](spark, scratch, args.seed, tracer)
        wl.setup()
        t1 = time.perf_counter()
        for kind, fn in wl.writes():
            wl.run(kind, fn)
        writes_s = time.perf_counter() - t1
        t1 = time.perf_counter()
        for kind, fn in wl.warmup():
            wl.run(kind, fn, record=False)
        warmup_s = time.perf_counter() - t1
        # set-up = session + inputs + the median of the repeated builds
        # + expected answers + index writes + warm-up
        d = wl.setup_detail
        setup_s = (session_s + d["inputs_s"] + statistics.median(wl.build_s)
                   + d["oracle_s"] + writes_s + warmup_s)
        cycles, measured = drive(wl, args.seconds)
        wl.after()
        wl.finish()
        rec["setup"] = dict(wl.setup_detail, session_s=session_s, build_s=wl.build_s,
                            writes_s=writes_s, warmup_s=warmup_s)
        rec["cycles"], rec["measured_s"] = cycles, measured
        rec["samples"] = {k: [t for t, _ in v] for k, v in wl.samples.items()}
        app_id = spark.sparkContext.applicationId
        peak_mb = peak_rss_mb()
    finally:
        if spark is not None:
            stop_spark(spark)
    try:
        e2e = wl.end_to_end(setup_s, peak_mb)
        rec["metrics"] = dict(e2e, **wl.metrics(), op_fail_ratio=wl.failed / wl.attempted)
        rec.update(attempted=wl.attempted, failed=wl.failed,
                   index_bytes=wl.index_bytes, text_bytes=wl.text_bytes)
        if args.trace:
            jobs = parse_event_log(os.path.join(scratch, "eventlog", app_id))
            rec["per_layer"] = tracer.per_layer(jobs)
            rec["counts"] = {"index_bytes": wl.index_bytes, "ops": tracer.op_counts(jobs),
                             "wand_blocks": wl.op_blocks}
            base = last_untraced(args.workload, args.seed)
            rec["tracing_overhead"] = None if base is None else {
                m: e2e[m] / base["metrics"][m] - 1.0
                for m in ("query_p50_s", "wand_qps") if base["metrics"].get(m)
            }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    rec["loadavg_after"] = os.getloadavg()
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["search", "upsert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    def deadline(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(DEADLINE_S)
    try:
        rec = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
    os.makedirs(RECORDS, exist_ok=True)
    with open(os.path.join(RECORDS, f"{args.workload}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    m = rec["metrics"]
    for name, (unit, _) in END_TO_END.items():
        print(f"{name} = {m[name]} {unit}")
    for name, unit in NAMED.items():
        if name in m:
            print(f"{name} = {m[name]} {unit}")
    if "query_samples" in m:
        from perfbench.workloads import TAIL_MIN_SAMPLES

        print(f"query_tail_s is p{m['query_tail_pct']:.0f} of {m['query_samples']} samples"
              if m["query_tail_s"] is not None else
              f"query_tail_s needs {TAIL_MIN_SAMPLES} single queries for p90; "
              f"the run had {m['query_samples']}")
    if args.trace:
        from perfbench.trace import per_layer_names

        print(f"tracing_overhead = {json.dumps(rec['tracing_overhead'])}")
        out = {k: {"value": rec["per_layer"][k], "unit": u}
               for k, (u, _) in per_layer_names().items()}
    else:
        out = {k: {"value": m[k], "unit": u} for k, (u, _) in END_TO_END.items()}
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
