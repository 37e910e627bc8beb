"""Spans around layer calls, and the Spark event-log reader that fills them.

A span is opened by the benchmark around a forced call into one layer's
public function. It sets a Spark job group named after itself, so the
jobs it starts are tagged. Jobs that the library starts from its own
threads do not inherit the group, so attribution goes by time instead:
each stage belongs to the innermost span open when it was submitted.
That is exact here because the load generator keeps one call in flight.

After the session stops, `attribute` reads the event log once and adds
to each span its executor CPU, shuffle bytes, spill, GC, failed tasks,
job and stage counts, and the driver-serial residual: span wall time
that no stage of the span covers.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

_COUNTERS = (
    "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "tasks_failed", "stages", "jobs",
)


class Tracer:
    """Keeps spans in memory; `span` is a no-op when disabled."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "start_ms": time.time() * 1000.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"perfbench:{name}", name)
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]["name"]
                self.sc.setJobGroup(f"perfbench:{top}", top)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def wall_s(self, name: str) -> float:
        return sum(s["end_ms"] - s["start_ms"] for s in self.named(name)) / 1e3

    def total(self, name: str, key: str) -> float:
        """Sum of `key` over every span called `name`, children included."""
        ids = {s["id"] for s in self.named(name)}
        return sum(
            s.get(key, 0) for s in self.spans if self._under(s, ids)
        )

    def _under(self, span: dict, ids: set) -> bool:
        while span is not None:
            if span["id"] in ids:
                return True
            p = span["parent"]
            span = self.spans[p] if p is not None else None
        return False


def _innermost(spans: list, t_ms: float):
    best = None
    for s in spans:
        if s["start_ms"] <= t_ms <= s["end_ms"]:
            if best is None or s["start_ms"] >= best["start_ms"]:
                best = s
    return best


def _events(log_dir: str):
    # rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def attribute(tracer: Tracer, log_dir: str) -> None:
    """Add event-log counters to every span of `tracer` (see module doc)."""
    spans = tracer.spans
    for s in spans:
        for k in _COUNTERS:
            s[k] = 0
        s["_intervals"] = []
    stage_span: dict = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            s = _innermost(spans, ev.get("Submission Time", 0))
            if s is not None:
                s["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            s = _innermost(spans, info.get("Submission Time", 0))
            if s is not None:
                stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = s
                s["stages"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            s = stage_span.get((info["Stage ID"], info["Stage Attempt ID"]))
            if s is not None and "Completion Time" in info:
                s["_intervals"].append(
                    (info["Submission Time"], info["Completion Time"])
                )
        elif kind == "SparkListenerTaskEnd":
            s = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if s is None:
                continue
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                s["tasks_failed"] += 1
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            s["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            s["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    for s in spans:
        s["driver_serial_s"] = _uncovered_s(s, spans)
        del s["_intervals"]


def _uncovered_s(span: dict, spans: list) -> float:
    """Span wall time covered by no stage of the span or its children."""
    lo, hi = span["start_ms"], span["end_ms"]
    ivs = []
    for s in spans:
        t = s
        while t is not None and t is not span:
            t = spans[t["parent"]] if t["parent"] is not None else None
        if t is span:
            ivs.extend(
                (max(a, lo), min(b, hi)) for a, b in s["_intervals"] if b > lo and a < hi
            )
    covered, end = 0.0, lo
    for a, b in sorted(ivs):
        if b > end:
            covered += b - max(a, end)
            end = b
    return (hi - lo - covered) / 1e3
