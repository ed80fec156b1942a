"""Measurement plumbing for the benchmark: streaming progress, in-memory
spans around calls into the package's public functions, and the Spark event
log.

Nothing here changes program code.  Spans are recorded by replacing module
attributes with wrappers for the length of a run and restoring them after.
Spark jobs are attributed to spans by wall-clock time, not by thread, so a
job that a streaming query runs on its own thread is seen like one started
on the driver thread.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# Spark's per-trigger phase durations, as named in StreamingQueryProgress,
# mapped to the per-layer metric that reports each of them.
PROGRESS_PHASES = {
    "latestOffset": "sources.latest_offset_ms",
    "getBatch": "sources.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}


def iso_epoch(stamp: str) -> float:
    """Epoch seconds of a progress timestamp such as 2026-01-01T00:00:00.123Z."""
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


@dataclass
class Progress:
    """One micro-batch as Spark's StreamingQueryProgress reported it."""

    batch_id: int
    start: float  # epoch seconds the trigger began
    rows: int
    duration_ms: dict[str, int]

    @property
    def seconds(self) -> float:
        return self.duration_ms.get("triggerExecution", 0) / 1000.0


class ProgressLog(StreamingQueryListener):
    """Collects every progress event that carried a batch (input rows > 0).

    The package's ``streaming.metrics.ProgressCollector`` keeps only rows
    and ``triggerExecution``; this keeps the trigger start and the whole
    ``durationMs`` breakdown."""

    def __init__(self) -> None:
        self.batches: list[Progress] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        if not p.get("numInputRows"):
            return
        rec = Progress(
            batch_id=p["batchId"],
            start=iso_epoch(p["timestamp"]),
            rows=p["numInputRows"],
            duration_ms=dict(p.get("durationMs") or {}),
        )
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def snapshot(self) -> list[Progress]:
        with self._lock:
            return list(self.batches)


@dataclass
class Span:
    name: str
    thread: str
    start: float
    end: float


@dataclass
class Tracer:
    """Records a span around each call of the wrapped module attributes.

    ``recording`` can be switched off between operations, which leaves the
    wrappers in place but records nothing, so a run can time the same work
    with and without spans."""

    spans: list[Span] = field(default_factory=list)
    recording: bool = True
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def wrap(self, module: object, attr: str, name: str) -> None:
        original = getattr(module, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not tracer.recording:
                return original(*args, **kwargs)
            t0 = time.time()
            try:
                return original(*args, **kwargs)
            finally:
                tracer.spans.append(
                    Span(name, threading.current_thread().name, t0, time.time())
                )

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def within(self, name: str, lo: float, hi: float) -> list[Span]:
        return [s for s in self.spans if s.name == name and lo <= s.start < hi]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def launch_args(event_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that turn on an uncompressed, non-rolling
    event log at JVM launch, leaving the package's session factory as is."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float
    stages: list[int]
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0


def read_event_log(event_dir: str) -> list[Job]:
    """Jobs of the (single) application logged in ``event_dir``, with the
    task metrics of their stages summed in."""
    paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    pending: list[dict] = []
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1e3, 0.0, ev["Stage IDs"])
                    jobs[j.job_id] = j
                    for s in j.stages:
                        stage_job[s] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    pending.append(ev)
    for ev in pending:
        job = jobs.get(stage_job.get(ev["Stage ID"], -1))
        m = ev.get("Task Metrics")
        if job is None or not m:
            continue
        job.tasks += 1
        job.cpu_s += m["Executor CPU Time"] / 1e9
        job.gc_s += m["JVM GC Time"] / 1e3
        job.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        job.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    return sorted(jobs.values(), key=lambda j: j.job_id)


def jobs_between(jobs: list[Job], lo: float, hi: float) -> list[Job]:
    """Jobs submitted in [lo, hi)."""
    return [j for j in jobs if lo <= j.start < hi]


def covered_seconds(jobs: list[Job], lo: float, hi: float) -> float:
    """Seconds of [lo, hi) during which at least one of ``jobs`` ran."""
    ivs = sorted((max(j.start, lo), min(j.end or hi, hi)) for j in jobs)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def engine_counters(jobs: list[Job], windows: list[tuple[float, float]]) -> dict[str, float]:
    """Engine-wide counters per operation, averaged over the operations whose
    wall-clock windows are given."""
    n = max(1, len(windows))
    picked = [j for lo, hi in windows for j in jobs_between(jobs, lo, hi)]
    driver = sum((hi - lo) - covered_seconds(jobs_between(jobs, lo, hi), lo, hi) for lo, hi in windows)
    return {
        "spark.jobs": len(picked) / n,
        "spark.stages": sum(len(j.stages) for j in picked) / n,
        "spark.tasks": sum(j.tasks for j in picked) / n,
        "spark.exec_cpu_s": sum(j.cpu_s for j in picked) / n,
        "spark.gc_s": sum(j.gc_s for j in picked) / n,
        "spark.spill_bytes": sum(j.spill_bytes for j in picked) / n,
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in picked) / n,
        "spark.driver_s": driver / n,
    }
