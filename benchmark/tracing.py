"""Traced mode: in-memory spans around the benchmark's calls into each
layer, keyed to Spark jobs through ``SparkContext.setJobGroup``, and a
parser for the Spark event log those jobs land in.

A span records name, start, end, parent and op id.  Before a span's body
runs its id becomes the job group, so every Spark job the body submits is
attributed to the innermost open span.  Self time is a span's wall minus
the part of it its child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    def _set_group(self, span) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, op_id: int):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"span-{len(self.spans)}", "name": name, "op": op_id,
               "parent": parent["id"] if parent else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def children(self) -> dict:
        out = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]].append(s)
        return out

    def subtree(self, span, kids: dict) -> list:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def self_ms(self, span, kids: dict) -> float:
        cover = union_ms([(c["start"] * 1e3, c["end"] * 1e3)
                          for c in kids.get(span["id"], [])],
                         span["start"] * 1e3, span["end"] * 1e3)
        return (span["end"] - span["start"]) * 1e3 - cover

    def write(self, path: str) -> None:
        kids = self.children()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, self_ms=round(
                    self.self_ms(s, kids), 3))) + "\n")


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class EventLog:
    """Task, stage and job records of one Spark application, grouped by
    job group (= span id)."""

    def __init__(self, path: str):
        self.jobs = defaultdict(int)          # group -> jobs started
        self.tasks = defaultdict(list)        # group -> task metric dicts
        self.stage_spans = defaultdict(list)  # group -> [(submit, done) ms]
        self.ungrouped_tasks = 0
        stage_group: dict = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group:
                        self.jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group and "Submission Time" in info:
                        self.stage_spans[group].append(
                            (info["Submission Time"],
                             info.get("Completion Time",
                                      info["Submission Time"])))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if not group:
                        self.ungrouped_tasks += 1
                        continue
                    self.tasks[group].append(_task_row(ev))

    def totals(self, groups) -> dict:
        out = defaultdict(float)
        for g in groups:
            out["jobs"] += self.jobs.get(g, 0)
            for t in self.tasks.get(g, []):
                out["tasks"] += 1
                for k, v in t.items():
                    out[k] += v
        return out

    def stage_intervals(self, groups) -> list:
        return [iv for g in groups for iv in self.stage_spans.get(g, [])]


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0),
        "failed": 1 if (ev.get("Task Info") or {}).get("Failed") else 0,
    }


def find_event_log(directory: str, app_id: str) -> str:
    for name in os.listdir(directory):
        if app_id in name:
            return os.path.join(directory, name)
    raise FileNotFoundError(f"no event log for {app_id} in {directory}")
