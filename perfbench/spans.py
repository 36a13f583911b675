"""Span recorder and Spark status-store accounting, measured from outside
the package: each public call is timed by the caller, and what Spark did
inside it is read back from the job group the call ran under.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: (trace, id, parent, name, start, end).

    ``span`` nests: a span opened inside another is its child. When
    ``enabled`` is false it records nothing and sets no job group, so
    an untraced run pays only the ``perf_counter`` reads."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.trace_id = 0

    def new_trace(self) -> None:
        """Start a new trace: one per workload iteration."""
        self.trace_id += 1

    @contextmanager
    def span(self, name: str, group: bool = False):
        """Time the body. With ``group``, run it under its own Spark job
        group, whose id (``span-<id>``) is yielded for ``stage_metrics``."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        gid = f"span-{sid}" if group else None
        if gid:
            self.sc.setJobGroup(gid, name)
        rec = {"trace": self.trace_id, "id": sid,
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "group": gid, "start": time.perf_counter()}
        self._stack.append(sid)
        try:
            yield gid
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if gid:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


STAGE_FIELDS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes")


def stage_metrics(sc, group: str) -> dict:
    """Totals over every stage that ran for the jobs of ``group``, read
    from Spark's status store (kept with the UI off, and filled by
    noop writes as well as collects). Skipped stages, whose output was
    reused, count for nothing."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    sids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            sids.update(info.stageIds)
    out = dict.fromkeys(STAGE_FIELDS, 0)
    out["jobs"] = len(jobs)
    for sid in sids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["run_s"] += sd.executorRunTime() / 1e3
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out
