"""Shared pieces of the workloads: the run context with its operation
tally, the streaming progress listener, and ``median``."""

from __future__ import annotations

import os
import statistics
import time
import traceback
from datetime import datetime
from dataclasses import dataclass, field


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


@dataclass
class Context:
    """What a workload gets: the session, the tracer, its own work
    directory, the run parameters, and the operation tally."""

    spark: object
    tracer: object
    work: str
    workload: str
    seed: int
    seconds: float
    smoke: bool
    queries: dict
    listener: "EpochListener | None" = None
    # derived figures printed on stderr, not part of the JSON result
    summary: dict = field(default_factory=dict)
    # what the workload keeps for its per-layer figures
    results: dict = field(default_factory=dict)
    # read after the timed work, before the correctness checks
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record_peak_rss(self) -> None:
        """VmHWM of this driver process plus the JVM it launched."""
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        driver = _vm_hwm_kb(os.getpid()) / 1024.0
        jvm = _vm_hwm_kb(proc.pid) / 1024.0 if proc is not None else 0.0
        self.summary.update({"driver_rss_mb": driver, "jvm_rss_mb": jvm})
        self.peak_rss_mb = driver + jvm

    def describe(self, label: str) -> None:
        """Tag the jobs that follow with ``<workload>/<label>``."""
        self.spark.sparkContext.setJobDescription(f"{self.workload}/{label}")

    def attempt(self, label: str, fn, *args):
        """Run one operation; count it, and count it failed if it raises."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            self.problems.append(f"{label} raised:\n{traceback.format_exc()}")
            return None

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        """Count one correctness comparison."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{label} mismatch {detail}")


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class EpochListener:
    """Collects micro-batch progress of every streaming query the run
    starts (Spark's listener bus, so it also sees queries the program
    starts and stops internally)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append({
                    # trigger start, wall-clock seconds
                    "wall": datetime.fromisoformat(
                        p.timestamp.replace("Z", "+00:00")
                    ).timestamp(),
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated += 1

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query's events were delivered."""
        deadline = time.time() + timeout
        while self.terminated < self.started and time.time() < deadline:
            time.sleep(0.02)

    def between(self, start: float, end: float) -> list[dict]:
        """Progress of the micro-batches triggered in [start, end]."""
        return [p for p in self.progress if start <= p["wall"] <= end]
