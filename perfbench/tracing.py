"""Traced runs: spans around calls into the program's public functions, plus
the Spark work done inside each span.

Spans are kept in memory and written out once, when the run ends. Each holds
a name, start, end, the span that caused it and the request id of the client
operation it belongs to. The benchmark issues one call at a time (one
closed-loop client; the HTTP server handles one request at a time), so a
single stack gives every span its parent, and a Spark job belongs to a span
exactly when it was submitted inside the span's interval.

Spark counts come from the status stores, which Spark keeps with the UI off:
``sc._jsc.sc().statusStore()`` for jobs and stages, and the SQL status store
for plan-node metrics (files read by each scan).
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float  # time.time(), comparable with Spark's epoch-ms job times
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    submitted: float  # epoch seconds
    completed: float
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0  # shuffle write + read
    spill_bytes: int = 0  # memory + disk


@dataclass
class Execution:
    id: int
    submitted: float
    files_read: int


@dataclass
class Tracer:
    """Records spans and harvests Spark counters. A disabled tracer records
    nothing and patches nothing, so untraced runs pay no tracing cost."""

    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    jobs: list[Job] = field(default_factory=list)
    executions: list[Execution] = field(default_factory=list)
    overhead_s: float = 0.0  # time spent harvesting counters
    request: int | None = None
    _stack: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)
    _last_job: int = -1
    _last_execution: int = -1

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            s = Span(len(self.spans), name, parent, self.request, time.time())
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self._stack.remove(s)

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class method) so each
        call records a span. Undone by :meth:`unpatch`."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def reset(self) -> None:
        """Forget what was recorded so far (set-up and warm-up), so the
        per-layer figures cover the measured window only."""
        self.harvest()
        self.spans.clear()
        self.jobs.clear()
        self.executions.clear()
        self.overhead_s = 0.0

    # -- Spark counters --------------------------------------------------------

    def harvest(self) -> None:
        """Pull jobs and SQL executions finished since the last harvest.
        Call between operations, outside any timed interval."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        jobs = store.jobsList(None)  # newest first
        fresh = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            if j.completionTime().isDefined():
                fresh.append(j)
        for j in sorted(fresh, key=lambda j: j.jobId()):
            job = Job(
                j.jobId(),
                j.submissionTime().get().getTime() / 1000.0,
                j.completionTime().get().getTime() / 1000.0,
            )
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(k))
                except Py4JJavaError:  # NoSuchElementException: never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                job.stages += 1
                job.tasks += st.numTasks()
                job.executor_run_s += st.executorRunTime() / 1e3
                job.executor_cpu_s += st.executorCpuTime() / 1e9
                job.input_bytes += st.inputBytes()
                job.shuffle_bytes += st.shuffleWriteBytes() + st.shuffleReadBytes()
                job.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            self.jobs.append(job)
            self._last_job = job.id
        self._harvest_executions()
        self.overhead_s += time.perf_counter() - t0

    def _harvest_executions(self) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()  # oldest first
        fresh = []
        for i in reversed(range(execs.size())):
            e = execs.apply(i)
            if e.executionId() <= self._last_execution:
                break
            if e.completionTime().isDefined():
                fresh.append(e)
        for e in sorted(fresh, key=lambda e: e.executionId()):
            eid = e.executionId()
            values = {}
            it = sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            files = 0
            nodes = sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith("Scan"):
                    continue
                ms = node.metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    if m.name() == "number of files read":
                        raw = values.get(m.accumulatorId(), "0")
                        files += int(raw.replace(",", "") or 0)
            self.executions.append(Execution(eid, e.submissionTime() / 1000.0, files))
            self._last_execution = eid

    # -- queries over the record ---------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # Spark stamps jobs in whole milliseconds, so a job submitted right after
    # a span starts can carry a stamp up to 1 ms before the span's start.
    _SLACK_S = 0.002

    def _inside(self, t: float, span: Span) -> bool:
        return span.start - self._SLACK_S <= t <= span.end

    def jobs_in(self, span: Span) -> list[Job]:
        return [j for j in self.jobs if self._inside(j.submitted, span)]

    def files_in(self, span: Span) -> int:
        return sum(e.files_read for e in self.executions if self._inside(e.submitted, span))

    def driver_gap_s(self, span: Span) -> float:
        """Wall time of ``span`` not covered by any of its Spark jobs."""
        covered, cursor = 0.0, span.start
        for j in sorted(self.jobs_in(span), key=lambda j: j.submitted):
            lo, hi = max(j.submitted, cursor), min(j.completed, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return max(span.seconds - covered, 0.0)

    def write(self, path: Path) -> None:
        if not self.enabled:
            return
        path.parent.mkdir(parents=True, exist_ok=True)
        record = {
            "spans": [vars(s) for s in self.spans],
            "jobs": [vars(j) for j in self.jobs],
            "executions": [vars(e) for e in self.executions],
        }
        path.write_text(json.dumps(record))


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
