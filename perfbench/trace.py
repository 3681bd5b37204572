"""Spans around layer calls, and the Spark event-log parser that turns
them into per-layer job, task, shuffle and driver-gap figures.

A span is opened by the benchmark around one call into one layer. While
it is open, the calling thread's Spark job group is the span's id, so
jobs the call submits from that thread carry it in the event log. Jobs
the package submits from its own worker threads carry no group; they
are given to the innermost span whose wall interval contains their
submission time (the benchmark opens spans from one thread, one call at
a time, so these intervals never overlap except by nesting).

The untraced run uses NullTracer: no job groups, no bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

GROUP_PROP = "spark.jobGroup.id"


class NullTracer:
    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Records nested spans in memory; `bookkeeping_s` is the time spent
    in the tracer itself (the direct cost of tracing on the driver)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {"id": f"pb{len(self.spans)}", "name": name,
              "parent": parent["id"] if parent else None,
              "start_ms": time.time() * 1000.0}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty(GROUP_PROP, sp["id"])
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield sp
        finally:
            b1 = time.perf_counter()
            sp["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            self.sc.setLocalProperty(
                GROUP_PROP, parent["id"] if parent else None)
            self.bookkeeping_s += time.perf_counter() - b1


# --- event log ------------------------------------------------------------

def find_event_log(event_dir: str) -> str:
    files = [os.path.join(d, f) for d, _, names in os.walk(event_dir)
             for f in names if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}: {files}")
    return files[0]


def parse_event_log(lines) -> dict:
    """Jobs and per-stage task figures from Spark event-log JSON lines.

    Returns {"jobs": {job_id: {"group", "submit_ms", "end_ms",
    "stages"}}, "stages": {stage_id: {"task_ms": [...], "run_ms",
    "shuffle_write", "shuffle_read", "spill_disk", "output_bytes"}}}.
    A stage belongs to the lowest-numbered job that lists it: later
    jobs that list it reuse its shuffle output and skip it."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get(GROUP_PROP),
                "submit_ms": float(ev["Submission Time"]),
                "end_ms": None, "stages": list(ev.get("Stage IDs", []))}
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end_ms"] = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            st = stages.setdefault(ev["Stage ID"], {
                "task_ms": [], "run_ms": 0.0, "shuffle_write": 0,
                "shuffle_read": 0, "spill_disk": 0, "output_bytes": 0})
            st["task_ms"].append(
                float(info.get("Finish Time", 0)) - float(info.get("Launch Time", 0)))
            st["run_ms"] += float(m.get("Executor Run Time", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_write"] += int(sw.get("Shuffle Bytes Written", 0))
            st["shuffle_read"] += int(sr.get("Remote Bytes Read", 0)) \
                + int(sr.get("Local Bytes Read", 0))
            st["spill_disk"] += int(m.get("Disk Bytes Spilled", 0))
            st["output_bytes"] += int(
                (m.get("Output Metrics") or {}).get("Bytes Written", 0))
    for jid in sorted(jobs):
        jobs[jid]["stages"] = [s for s in jobs[jid]["stages"]
                               if stages.get(s, {}).get("owner", jid) == jid]
        for s in jobs[jid]["stages"]:
            if s in stages:
                stages[s]["owner"] = jid
    return {"jobs": jobs, "stages": stages}


def attribute_jobs(spans: list[dict], log: dict) -> dict[str, list[int]]:
    """span id -> ids of the jobs it submitted itself (not its children).
    A job carrying a span's group goes to that span; a job without one
    goes to the innermost span open at its submission time."""
    by_id = {s["id"]: s for s in spans}
    depth = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d
    own: dict[str, list[int]] = {s["id"]: [] for s in spans}
    for jid, job in sorted(log["jobs"].items()):
        sid = job["group"] if job["group"] in by_id else None
        if sid is None:
            t = job["submit_ms"]
            open_ = [s for s in spans
                     if s["start_ms"] - 1.0 <= t <= s.get("end_ms", t) + 1.0]
            if open_:
                sid = max(open_, key=lambda s: depth[s["id"]])["id"]
        if sid is not None:
            own[sid].append(jid)
    return own


def span_stats(span: dict, spans: list[dict], own: dict, log: dict) -> dict:
    """Figures for one span, inclusive of its descendants."""
    ids = {span["id"]}
    grew = True
    while grew:
        kids = {s["id"] for s in spans if s["parent"] in ids} - ids
        grew = bool(kids)
        ids |= kids
    job_ids = sorted(j for sid in ids for j in own.get(sid, []))
    jobs = [log["jobs"][j] for j in job_ids]
    stages = [log["stages"][s] for j in jobs for s in j["stages"]
              if s in log["stages"]]
    task_ms = [t for st in stages for t in st["task_ms"]]
    skews = [max(st["task_ms"]) / max(statistics.median(st["task_ms"]), 1.0)
             for st in stages if len(st["task_ms"]) >= 2]
    wall_ms = span["end_ms"] - span["start_ms"]
    busy_ms = _union_ms([(j["submit_ms"], j["end_ms"] or j["submit_ms"])
                         for j in jobs], span["start_ms"], span["end_ms"])
    return {
        "wall_s": wall_ms / 1000.0,
        "jobs": len(jobs),
        "tasks": len(task_ms),
        "task_s": sum(st["run_ms"] for st in stages) / 1000.0,
        "shuffle_bytes": sum(st["shuffle_write"] for st in stages),
        "spill_bytes": sum(st["spill_disk"] for st in stages),
        "output_bytes": sum(st["output_bytes"] for st in stages),
        "task_skew": max(skews) if skews else 1.0,
        "driver_gap_s": max(0.0, wall_ms - busy_ms) / 1000.0,
    }


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_stats(tracer: Tracer, event_dir: str) -> dict[str, list[dict]]:
    """span name -> [stats of each occurrence], in order."""
    with open(find_event_log(event_dir)) as fh:
        log = parse_event_log(fh)
    own = attribute_jobs(tracer.spans, log)
    out: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if "end_ms" in s:
            out.setdefault(s["name"], []).append(
                span_stats(s, tracer.spans, own, log))
    return out
