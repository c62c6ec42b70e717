"""Tracing for the per-layer run: spans around calls into the library,
one Spark job group per span, and a parser that turns Spark's event log
into per-group counters.

Spans are kept in memory and written out once, at the end of the run.
With tracing disabled ``Tracer.span`` costs one branch and sets no job
group, so the untraced run measures the program alone.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder.  Each span gets the job group ``<run>/<span id>``,
    so every Spark job launched while it is the innermost open span is
    attributed to it (eager jobs inside a verb call, the jobs of an
    action or a sink)."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": f"{self.run_id}/{len(self.spans)}",
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._set_group(rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self._set_group(self._open[-1]["group"] if self._open else None)

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span named ``name``."""
        with self.span(name):
            return fn(*args, **kwargs)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


COUNTERS = (
    "jobs", "stages", "tasks", "task_wait_ms", "executor_run_ms",
    "executor_cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "records_read",
)


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Per job group (``""`` for jobs outside any group), the Spark
    counters named in ``COUNTERS``.  Jobs count where they start; a
    stage's tasks count toward the first job that listed the stage;
    ``task_wait_ms`` is the time from a stage's submission until each of
    its tasks launched."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_group: dict[int, str] = {}
    submitted: dict[tuple[int, int], int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            submitted[(info["Stage ID"], info["Stage Attempt ID"])] = info.get("Submission Time", 0)
        elif kind == "SparkListenerStageCompleted":
            out[stage_group.get(ev["Stage Info"]["Stage ID"], "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(ev["Stage ID"], "")]
            c["tasks"] += 1
            info = ev.get("Task Info", {})
            sub = submitted.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            if sub is not None and "Launch Time" in info:
                c["task_wait_ms"] += max(0, info["Launch Time"] - sub)
            tm = ev.get("Task Metrics") or {}
            c["executor_run_ms"] += tm.get("Executor Run Time", 0)
            c["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            c["gc_ms"] += tm.get("JVM GC Time", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            im = tm.get("Input Metrics") or {}
            c["input_bytes"] += im.get("Bytes Read", 0)
            c["records_read"] += im.get("Records Read", 0)
    return dict(out)


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    with open(path) as fh:
        return parse_event_log(fh)
