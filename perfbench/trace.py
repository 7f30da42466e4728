"""Benchmark-side tracing: spans kept in memory, layer wrappers around
module attributes, and the fold of Spark's event log into per-span
task figures.

A span is (name, start, end, parent, run id); start and end are
wall-clock seconds so that Spark jobs, whose event-log submission time
is wall-clock milliseconds, can be attributed to the span that was
open when they were submitted. One client runs at a time, so that
attribution is exact, and it also covers jobs that streaming threads
submit under their own job description.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``layers`` on, also wraps module functions
    so each call into them becomes a child span of the open span."""

    def __init__(self, run_id: str, layers: bool):
        self.run_id = run_id
        self.layers = layers
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._wrapped: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        s = Span(
            name,
            time.time(),
            parent=self._open[-1].name if self._open else None,
            run_id=self.run_id,
        )
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self.spans.append(s)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that records a span
        named ``name`` per call (only when layer tracing is on)."""
        if not self.layers:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._wrapped.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._wrapped):
            setattr(module, attr, fn)
        self._wrapped.clear()

    def layer_seconds(self, name: str, within: Span) -> float:
        """Total time of the spans called ``name`` opened inside
        ``within``."""
        return sum(
            s.seconds
            for s in self.spans
            if s.name == name and within.start <= s.start and s.end <= within.end
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class TaskFigures:
    """Task metrics summed over the jobs submitted inside one span."""

    stages: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_rows: int = 0
    shuffle_bytes: int = 0
    skew: float = 1.0


@dataclass
class EventLog:
    """Jobs, stages and tasks read from one application's event log."""

    job_submit: dict[int, float] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    stage_tasks: dict[int, list[dict]] = field(default_factory=dict)

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        log = cls()
        for name in os.listdir(log_dir):
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        log.job_submit[jid] = ev["Submission Time"] / 1000.0
                        log.job_stages[jid] = list(ev["Stage IDs"])
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        info = ev["Task Info"]
                        log.stage_tasks.setdefault(ev["Stage ID"], []).append({
                            "run_ms": m.get("Executor Run Time", 0),
                            "dur_ms": info["Finish Time"] - info["Launch Time"],
                            "gc_ms": m.get("JVM GC Time", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "in": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                            "out": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                            "out_rows": (m.get("Output Metrics") or {}).get("Records Written", 0),
                            "shuffle": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                        })
        return log

    def figures(self, start: float, end: float) -> TaskFigures:
        """Fold the tasks of every job submitted in [start, end]."""
        fig = TaskFigures()
        skews = []
        seen: set[int] = set()
        for jid, t in self.job_submit.items():
            if not start <= t <= end:
                continue
            for sid in self.job_stages[jid]:
                tasks = self.stage_tasks.get(sid)
                if not tasks or sid in seen:
                    continue  # skipped (output reused) or already folded
                seen.add(sid)
                fig.stages += 1
                fig.run_s += sum(x["run_ms"] for x in tasks) / 1000.0
                fig.gc_s += sum(x["gc_ms"] for x in tasks) / 1000.0
                fig.spill_bytes += sum(x["spill"] for x in tasks)
                fig.input_bytes += sum(x["in"] for x in tasks)
                fig.output_bytes += sum(x["out"] for x in tasks)
                fig.output_rows += sum(x["out_rows"] for x in tasks)
                fig.shuffle_bytes += sum(x["shuffle"] for x in tasks)
                if len(tasks) >= 4:
                    durs = [x["dur_ms"] for x in tasks]
                    med = statistics.median(durs)
                    if med > 0:
                        skews.append(max(durs) / med)
        if skews:
            fig.skew = max(skews)
        return fig
