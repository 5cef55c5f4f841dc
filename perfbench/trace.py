"""Spans around calls into the engine's layers, kept in memory.

The traced run patches public functions from outside the program
(``Tracer.patch``), records one span per call, and afterwards parents
each top-level span to the micro-batch (or query) span around it and
attributes every Spark job to the innermost span open when the job was
submitted. Job and stage figures come from Spark's status store, which
is populated with the UI off.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float = 0.0
    parent: int | None = None
    trace_id: str | None = None
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    self_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    job_id: int
    submitted: float
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    stages: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.hook_s = 0.0  # time spent in post-call hooks (tracing cost)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(
            next(self._ids), name, time.time(),
            parent=parent.span_id if parent else None,
            trace_id=trace_id or (parent.trace_id if parent else None),
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def add(self, name: str, start: float, end: float, **kw) -> Span:
        """A span known after the fact (e.g. derived from stream progress)."""
        sp = Span(next(self._ids), name, start, end, **kw)
        with self._lock:
            self.spans.append(sp)
        return sp

    def patch(self, owner: object, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` with a wrapper recording a span per
        call. ``on_return(span, args, kwargs, result)`` runs after the
        span has ended; its cost is counted in ``hook_s``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if on_return is not None:
                t = time.perf_counter()
                on_return(sp, args, kwargs, out)
                self.hook_s += time.perf_counter() - t
            return out

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    # -- after the run -----------------------------------------------------

    def adopt(self, parents: list[Span]) -> None:
        """Parent each top-level span to the innermost ``parents`` span
        whose interval holds its start, and give it that span's trace id."""
        ids = {p.span_id for p in parents}
        for sp in self.spans:
            if sp.parent is not None or sp.span_id in ids:
                continue
            holding = [p for p in parents if p.start <= sp.start <= p.end]
            if holding:
                inner = max(holding, key=lambda p: p.start)
                sp.parent, sp.trace_id = inner.span_id, inner.trace_id
        by_id = {s.span_id: s for s in self.spans}
        for sp in sorted(self.spans, key=lambda s: s.start):
            if sp.trace_id is None and sp.parent in by_id:
                sp.trace_id = by_id[sp.parent].trace_id

    def attribute(self, jobs: list[Job]) -> None:
        """Each job goes to the innermost span open at its submission."""
        spans = sorted(self.spans, key=lambda s: s.start)
        for job in jobs:
            inner = None
            for sp in spans:
                if sp.start > job.submitted:
                    break
                if sp.end >= job.submitted and (
                    inner is None or sp.start >= inner.start
                ):
                    inner = sp
            if inner is not None:
                inner.jobs.append(job.job_id)

    def compute_self_times(self) -> None:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        for sp in self.spans:
            covered = _union(
                (max(c.start, sp.start), min(c.end, sp.end))
                for c in kids.get(sp.span_id, [])
            )
            sp.self_s = max(0.0, sp.dur - covered)

    def descendants_jobs(self, span: Span) -> list[int]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.extend(s.jobs)
            todo.extend(kids.get(s.span_id, []))
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({**asdict(sp), "dur_s": sp.dur}) + "\n")


PROBE_CALLS = 20_000


def per_span_cost_s() -> float:
    """Calibrated cost of one traced call around a no-op."""

    class _Probe:
        @staticmethod
        def noop():
            return None

    probe = Tracer()
    probe.patch(_Probe, "noop", "probe")
    t = time.perf_counter()
    for _ in range(PROBE_CALLS):
        _Probe.noop()
    traced = time.perf_counter() - t
    probe.unpatch()
    t = time.perf_counter()
    for _ in range(PROBE_CALLS):
        _Probe.noop()
    plain = time.perf_counter() - t
    return max(0.0, traced - plain) / PROBE_CALLS


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def last_job_id(spark) -> int:
    """Highest job id submitted so far (-1 before any job)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId() - 1


def jobs_since(spark, after_job_id: int) -> list[Job]:
    """Jobs with id > ``after_job_id``, with their executed stages'
    task counts and metrics summed (skipped stages carry none)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    store = sc.statusStore()
    out = []
    for job_id in range(after_job_id + 1, last_job_id(spark) + 1):
        try:
            j = store.job(job_id)
        except Exception:  # noqa: BLE001 — not (yet) in the store
            continue
        sub = j.submissionTime()
        submitted = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
        agg = dict(tasks=0, run=0, cpu=0, gc=0, shuf=0, spill=0, stages=0)
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                s = store.lastStageAttempt(ids.apply(k))
            except Exception:  # noqa: BLE001 — evicted stage: no figures
                continue
            if s.status().toString() == "SKIPPED":
                continue
            agg["stages"] += 1
            agg["tasks"] += s.numCompleteTasks()
            agg["run"] += s.executorRunTime()
            agg["cpu"] += s.executorCpuTime()
            agg["gc"] += s.jvmGcTime()
            agg["shuf"] += s.shuffleWriteBytes()
            agg["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out.append(
            Job(
                j.jobId(), submitted, agg["tasks"],
                agg["run"] / 1000, agg["cpu"] / 1e9, agg["gc"] / 1000,
                agg["shuf"], agg["spill"], agg["stages"],
            )
        )
    return out


def spark_totals(jobs: list[Job]) -> dict[str, tuple[float, str]]:
    return {
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (sum(j.stages for j in jobs), "count"),
        "spark.tasks": (sum(j.tasks for j in jobs), "count"),
        "spark.executor_run_s": (sum(j.run_s for j in jobs), "s"),
        "spark.executor_cpu_s": (sum(j.cpu_s for j in jobs), "s"),
        "spark.jvm_gc_s": (sum(j.gc_s for j in jobs), "s"),
        "spark.shuffle_write_bytes": (sum(j.shuffle_write_bytes for j in jobs), "bytes"),
        "spark.spill_bytes": (sum(j.spill_bytes for j in jobs), "bytes"),
    }
