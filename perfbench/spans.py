"""Spans around calls into engine layers, joined with Spark's event log.

A span is ``(name, start, end, parent)`` in wall-clock seconds (the
event log stamps jobs and tasks in epoch milliseconds of the same
clock). Spans live in memory; a traced run folds them with the event
log into per-layer metrics when the workload is done.

Jobs are attributed to the innermost span whose window contains their
``Submission Time``; job groups are not used because the engine submits
some jobs from pool threads, which do not inherit them.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Records spans in memory. Spans cost two clock reads each, so they
    are always on; what ``--trace`` adds is Spark's event log."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[dict] = []  # one thread opens spans, so one stack

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._open[-1]["id"] if self._open else None,
               "id": len(self.spans)}
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._open.pop()



# ---------------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------------

def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, spans: list[dict]) -> float:
    """Span wall minus the part of it that its child spans cover."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    wall = span["end"] - span["start"]
    return wall - covered(kids, span["start"], span["end"])


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def parse_event_log(lines) -> list[dict]:
    """Jobs from an uncompressed Spark event log: submit/end (epoch s),
    and per-job task count, executor CPU, input/shuffle-write/spill
    bytes and per-stage task durations."""
    jobs: dict[int, dict] = {}
    stage_owner: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "id": jid, "submit": ev["Submission Time"] / 1000.0,
                "end": None, "tasks": 0, "cpu_s": 0.0, "input_bytes": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
                "stage_task_ms": {},
            }
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_owner.get(ev.get("Stage ID")))
            if job is None:
                continue
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            job["tasks"] += 1
            job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            job["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            job["spill_bytes"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            )
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            job["stage_task_ms"].setdefault(ev["Stage ID"], []).append(dur)
    out = []
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
        out.append(j)
    return sorted(out, key=lambda j: j["submit"])


def attribute(jobs: list[dict], spans: list[dict]) -> dict[int, list[dict]]:
    """span id -> jobs submitted inside it, each job going to the
    innermost (latest-starting) span whose window holds its submission."""
    out: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] <= j["submit"] <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            out[best["id"]].append(j)
    return out


def subtree(span_id: int, spans: list[dict]) -> list[int]:
    """Ids of a span and all its descendants."""
    ids, frontier = [span_id], [span_id]
    while frontier:
        frontier = [s["id"] for s in spans if s["parent"] in frontier]
        ids.extend(frontier)
    return ids


def task_skew(jobs: list[dict]) -> float:
    """Max over stages of max/median task duration (1.0 with no tasks)."""
    worst = 1.0
    for j in jobs:
        for durs in j["stage_task_ms"].values():
            med = statistics.median(durs)
            if med > 0:
                worst = max(worst, max(durs) / med)
    return worst


def layer_metrics(span: dict, spans: list[dict], by_span: dict, all_jobs: list[dict]) -> dict:
    """The per-layer figures for one span (jobs of its whole subtree)."""
    jobs = [j for sid in subtree(span["id"], spans) for j in by_span.get(sid, [])]
    wall = span["end"] - span["start"]
    busy = covered([(j["submit"], j["end"]) for j in all_jobs],
                   span["start"], span["end"])
    return {
        "wall_s": wall,
        "driver_s": wall - busy,
        "spark_jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "input_bytes": sum(j["input_bytes"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "task_skew": task_skew(jobs),
    }


# ---------------------------------------------------------------------------
# latency summary
# ---------------------------------------------------------------------------

def tail_rank(n: int) -> int | None:
    """1-based rank (ascending) of the highest sample that still has at
    least ten samples beyond it; None below eleven samples."""
    return n - 10 if n >= 11 else None


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the tail sample, per :func:`tail_rank`."""
    r = tail_rank(len(values))
    if r is None:
        return None
    return 100.0 * r / len(values), sorted(values)[r - 1]
