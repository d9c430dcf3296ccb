"""Spans and Spark event-log counters for the traced run.

A span is one call into a layer: name, start, end, parent span and
request id, kept in memory and written out when the run ends.  Every
Spark job started inside a span carries the job description
``perfbench:<span id>`` (the innermost open span), so the event log
attributes each job — and its tasks' counters — to exactly one span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

TAG = "perfbench:"

# the eight counters every span carries, read from the event log
COUNTERS = ("jobs", "tasks", "busy_s", "gc_s", "wait_s", "shuffle_bytes",
            "spill_bytes", "failed_tasks")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.request: int | None = None

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "request": self.request, "start": time.perf_counter(),
               "end": None, "own": {}}
        self.spans.append(rec)
        self._open.append(rec["id"])
        self.sc.setJobDescription(f"{TAG}{rec['id']}")
        try:
            yield rec["own"]
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self.sc.setJobDescription(
                f"{TAG}{self._open[-1]}" if self._open else None)

    def self_times(self) -> None:
        """Self time = span duration minus the time its child spans
        cover (children never overlap: one client, one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            s["self_s"] = (s["end"] - s["start"]) - child[s["id"]]


def read_event_log(log_dir: str) -> dict:
    """Per-span counters from the (uncompressed) event log.

    Returns ``{"spans": {span_id: {counter: value}}, "jobs": n,
    "unattributed_jobs": n}``.  Task counters are attributed through
    the submitting stage's job description; scheduler wait is task
    duration minus run, deserialize, result-serialization and
    getting-result time."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    per = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_span: dict[int, int | None] = {}
    jobs = unattributed = 0

    def span_of(props: dict | None) -> int | None:
        desc = (props or {}).get("spark.job.description") or ""
        return int(desc[len(TAG):]) if desc.startswith(TAG) else None

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs += 1
                sid = span_of(ev.get("Properties"))
                if sid is None:
                    unattributed += 1
                else:
                    per[sid]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                stage_span[ev["Stage Info"]["Stage ID"]] = span_of(
                    ev.get("Properties"))
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                if sid is None:
                    continue
                c = per[sid]
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                if info.get("Failed") or info.get("Killed"):
                    c["failed_tasks"] += 1
                run = m.get("Executor Run Time", 0)
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                c["busy_s"] += run / 1e3
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["wait_s"] += max(0, dur - run
                                   - m.get("Executor Deserialize Time", 0)
                                   - m.get("Result Serialization Time", 0)
                                   - info.get("Getting Result Time", 0)) / 1e3
                c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {"spans": dict(per), "jobs": jobs,
            "unattributed_jobs": unattributed}
