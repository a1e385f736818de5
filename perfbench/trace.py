"""Spans and counters recorded from outside the engine, at layer boundaries.

A traced batch run wraps each call into a layer in a :class:`Tracer` span. Every
span gets its own Spark job group, so the jobs it fires (even those fired
inside a query constructor) are charged to it, and its py4j round trips are
counted by wrapping the gateway client's ``send_command``. Job and stage
figures are read back from the driver's status store once the listener bus
has drained. A traced stream run turns each micro-batch's progress report
into a span. Spans stay in memory until :meth:`Tracer.dump`.

The tracer's own bookkeeping is timed, so a run can report how much of its
measured wall time the tracing itself took.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Span:
    name: str
    invocation: int
    parent: str | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    job_ids: list[int] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def job_wall_s(self) -> float:
        return sum(j["wall_s"] for j in self.jobs)


# Stage fields summed per job: (StageData getter, output key, scale to SI).
_STAGE_FIELDS = (
    ("executorRunTime", "run_s", 1e-3),
    ("executorCpuTime", "cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("shuffleFetchWaitTime", "fetch_wait_s", 1e-3),
    ("numTasks", "tasks", 1),
)


class Py4jCounter:
    """Counts round trips through one py4j gateway client while installed."""

    def __init__(self, client):
        self._client = client
        self._orig = client.send_command
        self.calls = 0
        self.paused = False

        def counted(*args, **kwargs):
            if not self.paused:
                self.calls += 1
            return self._orig(*args, **kwargs)

        client.send_command = counted

    def remove(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """Records spans for one traced run of a workload."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.counter = Py4jCounter(self.sc._gateway._gateway_client)
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count()

    def close(self) -> None:
        self.counter.remove()

    @contextmanager
    def bookkeeping(self):
        """Time and hide from the py4j count the tracer's own calls."""
        t0 = time.perf_counter()
        self.counter.paused = True
        try:
            yield
        finally:
            self.counter.paused = False
            self.bookkeeping_s += time.perf_counter() - t0

    def new_invocation(self) -> int:
        return next(self._ids)

    @contextmanager
    def span(self, name: str, invocation: int, parent: str | None = None):
        group = f"perfbench-{invocation}-{name}"
        with self.bookkeeping():
            self.sc.setJobGroup(group, name)
        span = Span(name, invocation, parent, time.perf_counter())
        calls0 = self.counter.calls
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            span.py4j_calls = self.counter.calls - calls0
            with self.bookkeeping():
                span.job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setJobGroup(f"perfbench-{invocation}-{parent or 'idle'}", parent or "idle")
            self.spans.append(span)

    def resolve(self) -> None:
        """Fill in job and stage figures for every span recorded so far."""
        with self.bookkeeping():
            self._bus.waitUntilEmpty()
            for span in self.spans:
                if span.job_ids and not span.jobs:
                    span.jobs = [self.job(j) for j in span.job_ids]

    def job(self, job_id: int) -> dict:
        """One job's wall time, stage count and summed stage metrics."""
        data = self._store.job(job_id)
        out = {"id": job_id, "stages": 0, "wall_s": 0.0}
        out.update({key: 0.0 for _, key, _ in _STAGE_FIELDS})
        sub, done = data.submissionTime(), data.completionTime()
        if sub.isDefined() and done.isDefined():
            out["wall_s"] = (done.get().getTime() - sub.get().getTime()) / 1e3
        stage_ids = data.stageIds()
        for i in range(stage_ids.size()):
            try:
                stage = self._store.lastStageAttempt(stage_ids.apply(i))
            except Exception:  # skipped stages have no attempt in the store
                continue
            out["stages"] += 1
            for getter, key, scale in _STAGE_FIELDS:
                out[key] += getattr(stage, getter)() * scale
        return out

    def jobs_between(self, t0_ms: int, t1_ms: int) -> list[dict]:
        """Every retained job submitted in the wall-clock interval [t0, t1] (ms)."""
        with self.bookkeeping():
            self._bus.waitUntilEmpty()
            jobs = self._store.jobsList(None)
            ids = []
            for i in range(jobs.size()):
                sub = jobs.apply(i).submissionTime()
                if sub.isDefined() and t0_ms <= sub.get().getTime() <= t1_ms:
                    ids.append(jobs.apply(i).jobId())
            return [self.job(j) for j in ids]

    def add_progress(self, phase: str, progress) -> None:
        """One span per micro-batch of a streaming phase, from its progress."""
        for p in progress:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            span = Span(f"{phase}.batch", p["batchId"], phase, start,
                        start + p["durationMs"].get("triggerExecution", 0) / 1e3)
            span.detail = {"numInputRows": p["numInputRows"], "durationMs": p["durationMs"]}
            self.spans.append(span)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "invocation": s.invocation, "parent": s.parent,
                    "start": s.start, "end": s.end, "py4j_calls": s.py4j_calls,
                    "jobs": s.jobs, "detail": s.detail,
                }) + "\n")
