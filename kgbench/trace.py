"""In-memory spans and Spark event-log aggregation for the traced run.

Spans are recorded around calls into the package's layers from the
benchmark's own code; nothing inside the package is instrumented. Each span
has a name, a parent, start and end; self time is the span's duration minus
the part of it that its children cover. Spans stay in memory and are
written once, at the end of the run.

Executor-side numbers come from the Spark event log: the traced pass sets
one job group per layer, so every job (and its stages and tasks) is
attributed to the layer whose call started it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder that also sets one Spark job group per layer span.

    ``hook_s`` accumulates the time spent in the tracer's own code (job
    group calls and span bookkeeping): the tracing overhead on the traced
    pass's wall time, apart from the event log, which is on for the whole
    traced session."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.hook_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job_group: str | None = None):
        t0 = time.perf_counter()
        if job_group is not None:
            self.sc.setJobGroup(job_group, job_group)
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.hook_s += rec["start"] - t0
        try:
            yield
        finally:
            rec["end"] = t1 = time.perf_counter()
            self._stack.pop()
            self.hook_s += time.perf_counter() - t1

    def finished(self) -> list[dict]:
        """Spans with ``dur_s`` and ``self_s`` (duration minus the union of
        the children's intervals)."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out = []
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.finished()}, f, indent=1)


def event_log_by_group(evlog_dir: str) -> dict[str, dict]:
    """Per job group: tasks, executor run seconds and shuffle MB written,
    summed over the tasks of every stage of the group's jobs."""
    files = [os.path.join(evlog_dir, f) for f in os.listdir(evlog_dir)
             if not f.startswith(".")]
    stage_group: dict[int, str] = {}
    agg: dict[str, dict] = defaultdict(lambda: {"tasks": 0, "task_s": 0.0,
                                                "shuffle_mb": 0.0})
    for path in files:
        with open(path, errors="replace") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    a = agg[group]
                    a["tasks"] += 1
                    a["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    return dict(agg)
