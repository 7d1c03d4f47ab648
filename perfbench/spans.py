"""Span tracer for the benchmark, fed by Spark's own status store.

A span brackets one call into a layer's public function. At its
boundaries the tracer records only two cheap facts, the wall clock and
Spark's next job id, so the traced code pays one py4j round trip per
boundary. Everything else is read from ``sc.statusStore()`` after the
operation has ended, outside the timed region:

- jobs of a span are the job ids in ``[next id at start, next id at
  end)``; one client thread runs at a time, so no other work lands in
  that range. (Counting retained jobs would go wrong once the store's
  retention cap starts evicting old jobs.)
- the driver gap of a span is its wall time minus the union of its
  jobs' [submission, completion] intervals: planning, py4j and Python
  time between Spark jobs.
- executor time, input bytes, shuffle-write bytes and output records
  are summed over the distinct stages of the span's jobs.

Layers are traced from outside: ``patch`` swaps a module attribute for
a wrapper that opens a span around each call, and ``unpatch`` restores
it. The program itself is not changed.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int | None
    t0: float  # perf_counter
    w0: float  # epoch seconds, comparable with the status store's times
    j0: int
    t1: float = 0.0
    w1: float = 0.0
    j1: int = 0
    stats: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.boundary_s = 0.0  # time the tracer itself spent at boundaries
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        parent = self._open[-1] if self._open else None
        sp = Span(name, parent, 0.0, time.time(), next_job_id(self._sc))
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        sp.t0 = time.perf_counter()
        self.boundary_s += sp.t0 - b0
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.j1 = next_job_id(self._sc)
            sp.w1 = time.time()
            self._open.pop()
            self.boundary_s += time.perf_counter() - sp.t1

    def patch(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unpatch(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def collect(self, spans: list[Span]) -> None:
        """Fill ``stats`` of ``spans`` from the status store. Call after
        the operation that produced them, outside its timing."""
        if not spans:
            return
        self._sc.listenerBus().waitUntilEmpty(30_000)
        store = self._sc.statusStore()
        jobs: dict[int, tuple[float, float, list[int]]] = {}
        stages: dict[int, tuple[int, int, int, int]] = {}
        for jid in range(min(s.j0 for s in spans), max(s.j1 for s in spans)):
            try:
                j = store.job(jid)
            except Exception:  # evicted or never registered: no data
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isEmpty() or comp.isEmpty():
                continue
            ids = j.stageIds()
            sids = [int(ids.apply(i)) for i in range(ids.size())]
            jobs[jid] = (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3, sids)
            for sid in sids:
                if sid in stages:
                    continue
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:  # skipped stages have no attempt
                    stages[sid] = (0, 0, 0, 0)
                    continue
                stages[sid] = (
                    int(s.executorRunTime()),
                    int(s.inputBytes()),
                    int(s.shuffleWriteBytes()),
                    int(s.outputRecords()),
                )
        for sp in spans:
            mine = [jobs[j] for j in range(sp.j0, sp.j1) if j in jobs]
            busy = _union(
                [(max(a, sp.w0), min(b, sp.w1)) for a, b, _ in mine]
            )
            sids = {sid for _, _, ss in mine for sid in ss}
            sums = [sum(stages[s][k] for s in sids) for k in range(4)]
            sp.stats = {
                "jobs": sp.j1 - sp.j0,
                "driver_gap_s": max(sp.seconds - busy, 0.0),
                "executor_run_s": sums[0] / 1e3,
                "input_bytes": sums[1],
                "shuffle_write_bytes": sums[2],
                "output_records": sums[3],
            }

    def self_seconds(self, idx: int) -> float:
        """Span duration minus the time its direct children cover."""
        sp = self.spans[idx]
        kids = [(c.t0, c.t1) for c in self.spans if c.parent == idx]
        return sp.seconds - _union(kids)


def next_job_id(sc) -> int:
    """The id Spark gives its next job; ``sc`` is the JVM SparkContext."""
    return int(sc.dagScheduler().nextJobId())


def stage_peak_execution_mb(sc, j0: int, j1: int) -> float:
    """The largest execution-memory peak of a stage of jobs ``[j0, j1)``:
    Spark's own account of the sort, aggregation and join buffers the
    stage held (its tasks' peaks summed), read from the status store."""
    sc.listenerBus().waitUntilEmpty(30_000)
    store = sc.statusStore()
    peak = 0
    for jid in range(j0, j1):
        try:
            ids = store.job(jid).stageIds()
        except Exception:  # evicted or never registered: no data
            continue
        for i in range(ids.size()):
            try:
                s = store.lastStageAttempt(int(ids.apply(i)))
            except Exception:  # skipped stages have no attempt
                continue
            peak = max(peak, int(s.peakExecutionMemory()))
    return peak / 2**20


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
