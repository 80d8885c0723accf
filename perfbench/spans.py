"""Spans around the benchmark's calls into the engine, and Spark counters
read back from the event log.

A span has a name, start, end, parent and the Spark job-group id that
tagged the jobs it ran. Spans stay in memory; ``Tracer.dump`` writes
them once, at the end. With tracing off, ``Tracer.span`` only times the
call, so the untraced run pays for one clock read on each side.

Job and task counters come from the Spark event log (``spark.eventLog``),
which the traced run writes into its own run directory and parses after
the session stops. Each job is charged to the span whose job group
submitted it; a job with no group (one started from another thread) is
charged to the innermost span open when it was submitted.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    group: str | None
    idx: int | None = None  # position in Tracer.spans; None when untraced
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time one call. Traced: also record the span and tag every
        Spark job it submits with a job group of its own."""
        if not self.enabled:
            t0 = time.perf_counter()
            s = Span(name, t0, None, None)
            try:
                yield s
            finally:
                s.end = time.perf_counter()
            return
        idx = len(self.spans)
        group = f"pb-{idx}"
        s = Span(name, time.time(), self._stack[-1] if self._stack else None, group, idx)
        self.spans.append(s)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]].group, "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_seconds(self, idx: int) -> float:
        """A span's duration minus the part its child spans cover."""
        s = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, upto = 0.0, s.start
        for a, b in kids:
            a = max(a, upto)
            if b > a:
                covered += b - a
                upto = b
        return s.seconds - covered

    def attach_counters(self, event_log_dir: str) -> None:
        """Charge each job and task of the event log to a span."""
        by_group = {s.group: i for i, s in enumerate(self.spans)}
        stage_span: dict[int, int] = {}
        for path in _log_files(event_log_dir):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        idx = by_group.get(group)
                        if idx is None:
                            idx = self._innermost(ev["Submission Time"] / 1000.0)
                        if idx is None:
                            continue
                        _bump(self.spans[idx].counters, "jobs", 1)
                        for sid in ev.get("Stage IDs", []):
                            stage_span[sid] = idx
                    elif kind == "SparkListenerTaskEnd":
                        idx = stage_span.get(ev.get("Stage ID"))
                        if idx is not None:
                            _task_counters(self.spans[idx].counters, ev)

    def _innermost(self, t: float) -> int | None:
        best = None
        for i, s in enumerate(self.spans):
            if s.start <= t <= s.end and (best is None or s.start >= self.spans[best].start):
                best = i
        return best

    def subtree(self, idx: int) -> dict:
        """Counters of a span plus every span below it."""
        out: dict = {}
        todo = [idx]
        while todo:
            i = todo.pop()
            for k, v in self.spans[i].counters.items():
                _bump(out, k, v)
            todo.extend(j for j, s in enumerate(self.spans) if s.parent == i)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "parent": s.parent, "group": s.group,
                    "start": s.start, "end": s.end,
                    "self_s": self.self_seconds(i), "counters": s.counters,
                }) + "\n")


def _log_files(event_log_dir: str) -> list[str]:
    out = []
    for root, _, files in os.walk(event_log_dir):
        # skip the local file system's hidden .crc checksum files
        out.extend(os.path.join(root, f) for f in sorted(files) if not f.startswith("."))
    return out


def _bump(d: dict, key: str, v) -> None:
    d[key] = d.get(key, 0) + v


def _task_counters(c: dict, ev: dict) -> None:
    _bump(c, "tasks", 1)
    reason = (ev.get("Task End Reason") or {}).get("Reason")
    if reason != "Success":
        _bump(c, "failed_tasks", 1)
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    _bump(c, "shuffle_read_bytes", rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0))
    wr = m.get("Shuffle Write Metrics") or {}
    _bump(c, "shuffle_write_bytes", wr.get("Shuffle Bytes Written", 0))
    _bump(c, "spill_bytes", m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
