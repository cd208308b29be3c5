"""Spans, Spark event-log attribution and per-layer metrics for traced runs.

Spans are recorded by the benchmark around each public call into the
engine (the engine itself is not instrumented). A span is
``{id, name, start, end, parent, run}`` with wall-clock epoch seconds,
the same clock the Spark event log stamps jobs and tasks with, so every
event-log job can be attributed to the innermost span containing its
submission time. A span's layer is its name up to the first dot.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

LAYERS = ("session", "io", "derive", "partitioning", "superstep", "checkpoint", "algorithms")


class Tracer:
    """In-memory span recorder; parents follow the ``with`` nesting."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "run": self.run_id})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str):
        sid = self.add(name, time.time(), 0.0)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add_supersteps(self, call: dict, history) -> None:
        """Synthesise one span per superstep under the algorithm span
        ``call`` from ``LoopResult.history`` wall times (the loop records
        durations, not timestamps): supersteps run back to back and the
        last one ends where the call returns. The time before the first
        becomes the ``partitioning.prep`` span (adjacency build, input
        counts). Spans already recorded inside a superstep's window
        (checkpoint saves) are re-parented to it."""
        end = call["end"]
        windows = []
        for h in reversed(history):
            windows.append((h.superstep, end - h.wall_sec, end))
            end -= h.wall_sec
        windows.reverse()
        if not windows:
            return
        self.add("partitioning.prep", call["start"], max(call["start"], windows[0][1]), call["id"])
        ids = [self.add(f"superstep.{k}", s, e, call["id"]) for k, s, e in windows]
        for sp in self.spans:
            if sp["parent"] == call["id"] and sp["name"].startswith("checkpoint."):
                for sid in ids:
                    s = self.spans[sid]
                    if s["start"] <= sp["start"] < s["end"]:
                        sp["parent"] = sid


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, reach = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > reach:
            total += e - max(s, reach)
            reach = e
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: the sum over its spans of duration minus the part of
    that interval covered by child spans."""
    kids: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(sp)
    out = {layer: 0.0 for layer in LAYERS}
    for sp in spans:
        layer = sp["name"].split(".", 1)[0]
        if layer not in out:
            continue
        covered = _union([(max(c["start"], sp["start"]), min(c["end"], sp["end"]))
                          for c in kids.get(sp["id"], []) if c["end"] > sp["start"]])
        out[layer] += (sp["end"] - sp["start"]) - covered
    return out


def read_event_log(path: str) -> list[dict]:
    """Jobs from an uncompressed Spark event log: submission/completion
    (epoch s), call site, and the TaskEnd metrics of their stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "start": ev["Submission Time"] / 1e3, "end": None,
                             "site": ev.get("Properties", {}).get("callSite.short", ""),
                             "tasks": []}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                m = ev.get("Task Metrics") or {}
                jobs[stage_job[ev["Stage ID"]]]["tasks"].append({
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                })
    return [j for j in jobs.values() if j["end"] is not None]


def attribute(jobs: list[dict], spans: list[dict]) -> dict[int, list[dict]]:
    """Map each job to the innermost (shortest) span containing its
    submission time."""
    out: dict[int, list[dict]] = {}
    for job in jobs:
        best = None
        for sp in spans:
            if sp["start"] <= job["start"] < sp["end"]:
                if best is None or sp["end"] - sp["start"] < best["end"] - best["start"]:
                    best = sp
        if best is not None:
            out.setdefault(best["id"], []).append(job)
    return out


def _median(xs, default=0.0):
    return float(statistics.median(xs)) if xs else default


def superstep_metrics(spans: list[dict], jobs: list[dict]) -> dict[str, float]:
    """Per-superstep layer metrics from the synthesised superstep spans
    and the event-log jobs submitted inside them (checkpoint saves are
    child spans, so their jobs are not counted here)."""
    steps = [sp for sp in spans if sp["name"].startswith("superstep.")]
    by_span = attribute(jobs, spans)
    shuffle, spill, gaps, sample_s, stage_skew = [], 0.0, [], 0.0, []
    run_ms = gc_ms = 0
    for sp in steps:
        sj = by_span.get(sp["id"], [])
        tasks = [t for j in sj for t in j["tasks"]]
        shuffle.append(sum(t["shuffle_bytes"] for t in tasks) / 2**20)
        spill += sum(t["spill_bytes"] for t in tasks) / 2**20
        run_ms += sum(t["run_ms"] for t in tasks)
        gc_ms += sum(t["gc_ms"] for t in tasks)
        # driver gap: superstep time no job was running (plan building,
        # py4j calls, observation fetch) nor a checkpoint save
        busy = [(j["start"], j["end"]) for j in sj]
        busy += [(c["start"], c["end"]) for c in spans if c["parent"] == sp["id"]]
        gaps.append((sp["end"] - sp["start"]) - _union(
            [(max(s, sp["start"]), min(e, sp["end"])) for s, e in busy]))
        sample_s += sum(j["end"] - j["start"] for j in sj if "metrics.py" in j["site"])
        stages: dict[int, list[int]] = {}
        for t in tasks:
            stages.setdefault(t["stage"], []).append(t["run_ms"])
        for runs in stages.values():
            if len(runs) > 1 and sum(runs) > 0:
                stage_skew.append(max(runs) / (sum(runs) / len(runs)))
    walls = [sp["end"] - sp["start"] for sp in steps if not sp["name"].endswith(".1")]
    firsts = [sp["end"] - sp["start"] for sp in steps if sp["name"].endswith(".1")]
    return {
        "superstep.count": float(len(steps)),
        "superstep.first_s": sum(firsts),
        "superstep.steady_s": _median(walls),
        "superstep.shuffle_mb": _median(shuffle),
        "superstep.spill_mb": spill,
        "superstep.task_skew": _median(stage_skew, 1.0),
        "superstep.gc_share": gc_ms / run_ms if run_ms else 0.0,
        "superstep.driver_gap_s": _median(gaps),
        "superstep.skew_sample_s": sample_s,
    }
