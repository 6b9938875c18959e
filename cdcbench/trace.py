"""Tracing for the benchmark's traced run.

Spans are recorded by the benchmark around its calls into the engine's
layers and kept in memory. Stage counters (task time, CPU, GC, shuffle
bytes) and job intervals come from the Spark event log, read after the
session stops; the inter-job gap logic is that of ``tools/evlog_timeline.py``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    result: dict = field(default_factory=dict)


class Tracer:
    """Records spans while ``enabled``; otherwise every call is a no-op, so
    the timed run and the traced run execute the same benchmark code."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        with self._lock:
            s = Span(len(self.spans), stack[-1] if stack else None, name, time.time())
            self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()

    def wrap(self, obj, method: str, name: str) -> None:
        """Record a span around every call of ``obj.method`` (this instance
        only); a dict return value is kept on the span."""
        if not self.enabled:
            return
        fn = getattr(obj, method)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if isinstance(out, dict):
                    s.result = out
                return out

        setattr(obj, method, traced)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int

    @classmethod
    def from_event(cls, e: dict) -> "Task":
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        return cls(
            stage=e["Stage ID"],
            run_s=m.get("Executor Run Time", 0) / 1e3,
            cpu_s=m.get("Executor CPU Time", 0) / 1e9,
            gc_s=m.get("JVM GC Time", 0) / 1e3,
            shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        )


@dataclass
class EventLog:
    jobs: list[tuple[float, float, list[int]]]  # (start, end, stage ids)
    tasks: list[Task]
    # (start, end) of each streaming trigger that read input; Spark reports
    # progress for no-data triggers only now and then
    triggers: list[tuple[float, float]]

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        # Spark writes a rolling log: a directory of events_<n>_<app> parts
        files = sorted(
            (f for f in glob.glob(os.path.join(log_dir, "*", "events_*"))
             if not f.endswith(".crc")),
            key=lambda f: int(os.path.basename(f).split("_")[1]),
        )
        if not files:
            raise RuntimeError(f"no event log under {log_dir}")
        starts: dict[int, tuple[float, list[int]]] = {}
        jobs, tasks, triggers = [], [], []
        for path in files:
            with open(path, errors="replace") as fh:
                for line in fh:
                    e = json.loads(line)
                    ev = e.get("Event")
                    if ev == "SparkListenerJobStart":
                        starts[e["Job ID"]] = (e["Submission Time"] / 1000, e.get("Stage IDs", []))
                    elif ev == "SparkListenerJobEnd" and e["Job ID"] in starts:
                        t0, stages = starts.pop(e["Job ID"])
                        jobs.append((t0, e["Completion Time"] / 1000, stages))
                    elif ev == "SparkListenerTaskEnd":
                        tasks.append(Task.from_event(e))
                    elif ev and ev.endswith("QueryProgressEvent"):
                        p = e["progress"]
                        if any(src.get("numInputRows") for src in p["sources"]):
                            t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                            t0 = t0.timestamp()
                            triggers.append((t0, t0 + p["durationMs"]["triggerExecution"] / 1e3))
        return cls(sorted(jobs), tasks, sorted(triggers))

    def triggers_in(self, windows: list[tuple[float, float]]):
        """Data-carrying triggers that started inside any of ``windows``."""
        return [t for t in self.triggers if any(a <= t[0] <= b for a, b in windows)]

    def jobs_in(self, windows: list[tuple[float, float]]):
        """Jobs submitted inside any of ``windows``."""
        return [j for j in self.jobs if any(a <= j[0] <= b for a, b in windows)]

    def tasks_of(self, jobs) -> list[Task]:
        stages = {s for _, _, ss in jobs for s in ss}
        return [t for t in self.tasks if t.stage in stages]

    @staticmethod
    def busy_s(jobs, a: float, b: float) -> float:
        """Length of the union of job intervals, clipped to [a, b]."""
        busy, cur_a, cur_b = 0.0, None, None
        for s, e, _ in sorted(jobs):
            s, e = max(s, a), min(e, b)
            if e <= s:
                continue
            if cur_b is None or s > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = s, e
            else:
                cur_b = max(cur_b, e)
        if cur_b is not None:
            busy += cur_b - cur_a
        return busy
