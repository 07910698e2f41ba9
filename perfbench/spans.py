"""Spans around the engine's public calls, and the Spark work each one did.

A span wraps one public call and the action that materializes it. It keeps
its name, start, end, parent and request id in memory. When tracing is on,
it also records the job-id interval ``[next job id before, next job id
after)``: every job submitted while the call ran, from any thread, falls
inside it. A job group would not do, because job groups are thread-local
and ``LSHForestIndex.save`` writes from a 2-thread pool.

Spark's counters are read once, after the run, from the status store
(``sparkContext._jsc.sc().statusStore()``), which works with the UI off. A
stage is charged to the span during which it was submitted, so a stage
that a later job skips (its shuffle output reused) is not counted twice.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

import stats


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    request: int
    start: float  # seconds on the perf_counter clock
    end: float = 0.0
    job_lo: int = -1
    job_hi: int = -1
    counters: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Holds the spans of one run. With ``enabled=False`` a span costs two
    clock reads and touches neither the JVM nor the status store."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        # prepended to span names; "warmup." keeps unmeasured warm-up work
        # out of the per-layer numbers while still recording it
        self.prefix = ""
        self.hook_s = 0.0  # time spent inside the tracer's own JVM calls
        self._stack: list[Span] = []
        self._requests = 0
        self._sc = spark.sparkContext._jsc.sc()
        # epoch seconds at perf_counter() == 0, to line spans up with the
        # JVM's stage timestamps
        self._epoch = time.time() - time.perf_counter()

    def _next_job(self) -> int:
        t = time.perf_counter()
        n = int(self._sc.dagScheduler().nextJobId())
        self.hook_s += time.perf_counter() - t
        return n

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._requests += 1
        s = Span(
            name=self.prefix + name,
            id=len(self.spans),
            parent=parent.id if parent else None,
            request=parent.request if parent else self._requests,
            start=0.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            s.job_lo = self._next_job()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                s.job_hi = self._next_job()
            self._stack.pop()

    def record(self, name: str, start: float, end: float) -> Span:
        """A root span timed by the caller, for work that ran before the
        tracer existed (the session start)."""
        self._requests += 1
        s = Span(name=name, id=len(self.spans), parent=None, request=self._requests,
                 start=start, end=end)
        self.spans.append(s)
        return s

    # ------------------------------------------------------------ counters

    def collect_counters(self) -> None:
        """Fill each span's Spark counters from the status store. Call once,
        after the last span and before the session stops."""
        if not self.enabled:
            return
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        for s in self.spans:
            lo_ms = (self._epoch + s.start) * 1000.0
            hi_ms = (self._epoch + s.end) * 1000.0
            jobs = tasks = shuffle = spill = 0
            cpu_ns = 0
            covered: list[tuple[float, float]] = []
            seen: set[int] = set()
            for jid in range(s.job_lo, s.job_hi):
                try:
                    job = store.job(jid)
                except Py4JJavaError:
                    continue  # evicted or never registered
                jobs += 1
                it = job.stageIds().iterator()
                while it.hasNext():
                    sid = int(it.next())
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue
                    sub, done = st.submissionTime(), st.completionTime()
                    if not sub.isDefined():
                        continue  # skipped: its work ran in an earlier stage
                    t0 = float(sub.get().getTime())
                    if t0 < lo_ms - 5.0:
                        continue  # submitted before this span: not its work
                    t1 = float(done.get().getTime()) if done.isDefined() else hi_ms
                    covered.append((t0, t1))
                    tasks += int(st.numTasks())
                    cpu_ns += int(st.executorCpuTime())
                    shuffle += int(st.shuffleWriteBytes())
                    spill += int(st.diskBytesSpilled())
            stage_ms = stats.union_length(stats.clip(covered, lo_ms, hi_ms))
            s.counters.update(
                wall_ms=s.wall_ms,
                self_ms=1000.0
                * stats.self_time(
                    s.start, s.end, [(c.start, c.end) for c in children.get(s.id, [])]
                ),
                jobs=jobs,
                tasks=tasks,
                executor_cpu_ms=cpu_ns / 1e6,
                shuffle_bytes=shuffle,
                spill_bytes=spill,
                driver_gap_ms=max(0.0, s.wall_ms - stage_ms),
            )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
