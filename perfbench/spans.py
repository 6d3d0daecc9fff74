"""Spans and Spark counters for the traced run.

The benchmark records spans from its own files only: ``Tracer.wrap``
replaces a public function or method with a timing wrapper for the length
of the traced passes and puts the original back afterwards. Spark's own
counters come from the application status store, attributed to an op by
the range of job ids submitted while it ran, so jobs started from driver
threads the op spawned are counted too.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "result_bytes", "input_bytes")


class SparkCounters:
    """Reads job and stage metrics from ``SparkContext.statusStore()``.

    ``mark()`` drains the listener bus first, so every job an op submitted
    (and its stages' task metrics) is in the store when it returns."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._seen_stages: set[int] = set()

    def mark(self) -> int:
        """Id of the newest job submitted so far (-1 before the first)."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)      # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def totals(self, first_job: int, last_job: int) -> dict[str, float]:
        """Counter sums over jobs ``first_job < id <= last_job``. A stage
        shared by several jobs is counted once, in the op that ran it;
        skipped stages (reused shuffle output) are not counted."""
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for jid in range(first_job + 1, last_job + 1):
            job = self._store.job(jid)
            out["jobs"] += 1
            for sid in job.stageIds().mkString(",").split(","):
                if not sid or int(sid) in self._seen_stages:
                    continue
                st = self._store.lastStageAttempt(int(sid))
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(int(sid))
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["task_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["result_bytes"] += st.resultSize()
                out["input_bytes"] += st.inputBytes()
        return out


@dataclass
class Span:
    name: str
    op: int                 # index of the op that caused it
    parent: str | None
    start: float
    end: float
    first_job: int
    last_job: int
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.last_job - self.first_job


class Tracer:
    """In-memory span recorder. ``op`` is set by the runner before each op;
    spans opened while it runs carry that index and the enclosing span."""

    def __init__(self, counters: SparkCounters) -> None:
        self.counters = counters
        self.spans: list[Span] = []
        self.missing: list[str] = []
        self.op = -1
        self._stack: list[str] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def open(self, name: str):
        """Record a span around the ``with`` body; yields the Span."""
        sp = Span(name, self.op, self._stack[-1] if self._stack else None,
                  0.0, 0.0, self.counters.mark(), -1)
        self._stack.append(name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.last_job = self.counters.mark()
            self.spans.append(sp)

    def span(self, name: str, fn: Callable, *args, **kwargs):
        """Run ``fn`` inside a span; return its result."""
        with self.open(name):
            return fn(*args, **kwargs)

    def wrap(self, owner: object, attr: str, name: str,
             on_result: Callable[[Span, object], None] | None = None) -> None:
        """Trace every call of ``owner.attr`` until ``unwrap_all``. A
        function that no longer exists is recorded as missing."""
        orig = getattr(owner, attr, None)
        if not callable(orig):
            if name not in self.missing:
                self.missing.append(name)
            return

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            result = self.span(name, orig, *args, **kwargs)
            if on_result is not None:
                on_result(self.spans[-1], result)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
