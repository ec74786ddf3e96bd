"""Spans around engine calls, and Spark event-log parsing.

A traced run keeps one span per call the benchmark makes into an
engine layer (name, start, end, parent, op id), tags the Spark jobs the
call starts with the span's job group / description, and at exit reads
the run's plain-JSON event log to attribute every job to the innermost
span whose interval holds the job's submission time (one client thread,
so the attribution is exact). Layers that the engine crosses inside one
call are measured by difference: the benchmark materialises the inner
layer's public function alone and subtracts.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

LAYERS = [
    "index_build", "segments.build_a", "segments.build_b",
    "segments.scan", "segments.decode", "segments.rank", "wand",
    "topk.decide", "batch_match", "maintenance.update",
    "maintenance.compact", "dedup.shingles", "dedup.minhash",
    "dedup.verify", "dedup.clusters",
]
# per-layer metric -> (unit, better)
LAYER_METRICS = {
    "wall_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "busy_s": ("s", "lower"),
    "python_s": ("s", "lower"),
    "wait_s": ("s", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "retries": ("count", "lower"),
}
EXTRA_METRICS = {
    "wand.blocks_decoded_ratio": ("ratio", "lower"),
    "segments.scan.blocks_per_query": ("count", "lower"),
    "dedup.verified_per_candidate": ("ratio", "higher"),
    "maintenance.bytes_written_per_input_byte": ("ratio", "lower"),
    "codec.encode_mb_per_s": ("MB/s", "higher"),
    "codec.decode_mb_per_s": ("MB/s", "higher"),
}

_ZERO = {"jobs": 0, "stages": 0, "tasks": 0, "busy_s": 0.0,
         "python_s": 0.0, "wait_s": 0.0, "shuffle_bytes": 0,
         "spill_bytes": 0, "retries": 0}


def per_layer_names() -> dict[str, tuple[str, str]]:
    out = {f"{layer}.{m}": ub for layer in LAYERS
           for m, ub in LAYER_METRICS.items()}
    out.update(EXTRA_METRICS)
    return out


def _acc(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables") or []:
        if a.get("Name") == name:
            try:
                return float(a.get("Update") or 0)
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def parse_event_log(path: str) -> list[dict]:
    """One dict per job: id, submission time (epoch s), job group and
    description, stages that ran, tasks, and the task-metric sums the
    per-layer metrics use."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    ran_stages: dict[int, set] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                j = dict(_ZERO, jobs=1, id=e["Job ID"],
                         submit=e["Submission Time"] / 1000.0,
                         group=props.get("spark.jobGroup.id"),
                         description=props.get("spark.job.description"))
                jobs[j["id"]] = j
                ran_stages[j["id"]] = set()
                for s in e.get("Stage IDs", []):
                    stage_job[s] = j["id"]
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                jid = stage_job.get(info["Stage ID"])
                if jid is not None:
                    ran_stages[jid].add(info["Stage ID"])
                    if info.get("Stage Attempt ID", 0) > 0:
                        jobs[jid]["retries"] += 1
            elif ev == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is None:
                    continue
                j = jobs[jid]
                ti = e.get("Task Info") or {}
                tm = e.get("Task Metrics") or {}
                j["tasks"] += 1
                if ti.get("Failed") or ti.get("Killed") or ti.get("Attempt", 0):
                    j["retries"] += 1
                run_ms = tm.get("Executor Run Time", 0)
                dur_ms = (ti.get("Finish Time", 0) or 0) - (ti.get("Launch Time", 0) or 0)
                sched_ms = max(0, dur_ms - run_ms
                               - tm.get("Executor Deserialize Time", 0)
                               - tm.get("Result Serialization Time", 0)
                               - (ti.get("Getting Result Time", 0) or 0))
                fetch_ms = (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
                j["busy_s"] += run_ms / 1000.0
                j["wait_s"] += (fetch_ms + sched_ms) / 1000.0
                j["python_s"] += _acc(ti, "time to run Python workers") / 1000.0
                j["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                j["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
    for jid, j in jobs.items():
        j["stages"] = len(ran_stages[jid])
    return sorted(jobs.values(), key=lambda j: j["id"])


class Tracer:
    """Spans kept in memory; a disabled tracer (untraced runs) makes
    ``span`` a bare pass-through so the timed code path is unchanged."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.measurements: list[tuple[str, list[int], list[int]]] = []
        self.extras: dict[str, list[float]] = {}

    def _tag(self, span: dict | None) -> None:
        gid = None if span is None else f"span{span['id']}"
        desc = None if span is None else f"{span['name']} {span['op'] or ''}".strip()
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        self.sc.setLocalProperty("spark.job.description", desc)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def add_span(self, name: str, start: float, end: float,
                 parent: dict, op: str | None = None) -> dict:
        """A sub-interval known only after the call returned (a build's
        phase windows from ``BuildReport.timings``)."""
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": parent["id"], "start": start, "end": end}
        self.spans.append(rec)
        return rec

    def measure(self, layer: str, plus: list[dict],
                minus: list[dict] = ()) -> None:
        """One call's worth of ``layer``: the plus spans' self metrics
        minus the minus spans' (attribution by difference)."""
        if self.enabled:
            self.measurements.append(
                (layer, [s["id"] for s in plus], [s["id"] for s in minus]))

    def extra(self, name: str, value: float) -> None:
        if self.enabled:
            self.extras.setdefault(name, []).append(float(value))

    # -- aggregation -------------------------------------------------------
    def attribute(self, jobs: list[dict]) -> dict[int, dict]:
        """Self metrics per span: wall minus child spans, plus the jobs
        submitted inside it and not inside a child."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        agg = {}
        for s in self.spans:
            kids = children.get(s["id"], [])
            wall = (s["end"] - s["start"]) - sum(k["end"] - k["start"] for k in kids)
            agg[s["id"]] = dict(_ZERO, wall_s=wall)
        by_start = sorted(self.spans, key=lambda s: s["start"])
        for j in jobs:
            inner = None
            for s in by_start:
                if s["start"] <= j["submit"] <= s["end"] and (
                        inner is None or s["start"] >= inner["start"]):
                    inner = s
            if inner is None:
                continue
            a = agg[inner["id"]]
            for k in _ZERO:
                a[k] += j[k]
        return agg

    def per_layer(self, jobs: list[dict]) -> dict[str, float]:
        agg = self.attribute(jobs)
        sums: dict[str, dict] = {}
        counts: dict[str, int] = {}
        for layer, plus, minus in self.measurements:
            tot = sums.setdefault(layer, {m: 0.0 for m in LAYER_METRICS})
            counts[layer] = counts.get(layer, 0) + 1
            for m in LAYER_METRICS:
                tot[m] += (sum(agg[i][m] for i in plus)
                           - sum(agg[i][m] for i in minus))
        out = {}
        for layer in LAYERS:
            n = counts.get(layer, 0)
            for m in LAYER_METRICS:
                out[f"{layer}.{m}"] = sums[layer][m] / n if n else 0.0
        for name in EXTRA_METRICS:
            vals = self.extras.get(name, [])
            out[name] = sum(vals) / len(vals) if vals else 0.0
        return out

    def op_counts(self, jobs: list[dict]) -> dict[str, dict]:
        """Exact per-op counts (jobs, stages, tasks, shuffle bytes) of
        every span that carries an op id, keyed ``name/op``."""
        agg = self.attribute(jobs)
        out = {}
        for s in self.spans:
            if s["op"] is None:
                continue
            a = agg[s["id"]]
            out[f"{s['name']}/{s['op']}"] = {
                k: a[k] for k in ("jobs", "stages", "tasks", "shuffle_bytes")
            }
        return out
