"""Spark job-group spans and the status-store reader behind the traced run.

Every span runs under its own Spark job group.  After the op, the reader
collects the group's jobs from ``SparkContext.statusTracker()`` and their
stages from the application status store (reachable with the UI off)::

    sc._jsc.sc().statusStore().lastStageAttempt(stage_id)

A span's figures:

- ``wall_s``: wall time, minus the wall time of spans nested in it;
- ``jobs``, ``tasks``: jobs in its group, completed tasks of their stages;
- ``task_s``: summed ``executorRunTime``;
- ``driver_s``: ``wall_s`` minus the time covered by its own jobs;
- ``shuffle_bytes``, ``spill_bytes``: shuffle write and disk spill bytes.

When the status store cannot be reached the reader degrades to job
counts.  It fails loudly when a function it should wrap no longer exists
and when an op records no job in its groups: a job group is a thread
local, so an op whose jobs run on another thread would otherwise read as
free.
"""

from __future__ import annotations

import inspect
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

FIELDS = ("wall_s", "jobs", "tasks", "task_s", "driver_s", "shuffle_bytes", "spill_bytes")


class TraceError(RuntimeError):
    pass


@dataclass
class Span:
    name: str
    group: str
    t0: float
    t1: float = 0.0
    children: list["Span"] = field(default_factory=list)


@dataclass
class Stats:
    wall_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    driver_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0


def _opt(o):
    """Scala ``Option`` → value or None."""
    return o.get() if o.isDefined() else None


def _epoch_s(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Opens spans as job groups and reads them back.

    ``sc`` needs ``setJobGroup``, ``setLocalProperty`` and
    ``statusTracker()``; the status store is optional.
    """

    def __init__(self, sc, store=None):
        self.sc = sc
        self.store = store
        self.roots: list[Span] = []  # closed top-level spans, in order
        self._stack: list[Span] = []
        self._n = 0

    @classmethod
    def for_context(cls, sc) -> "Tracer":
        try:
            store = sc._jsc.sc().statusStore()
            store.jobsList(None).size()
        except Exception:
            store = None
        return cls(sc, store)

    @contextmanager
    def span(self, name: str):
        self._n += 1
        s = Span(name, f"etlbench-{self._n}-{name}", time.time())
        if self._stack:
            self._stack[-1].children.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.roots.append(s)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def wrapped(self, module, attr: str, namer):
        """Run every call of ``module.attr`` in a span named ``namer(bound
        arguments)`` while the block runs, then put the original back."""
        fn = getattr(module, attr, None)
        if not callable(fn):
            raise TraceError(f"{module.__name__}.{attr} no longer exists; update the traced run")
        sig = inspect.signature(fn)

        def traced(*args, **kwargs):
            bound = sig.bind(*args, **kwargs)
            with self.span(namer(bound.arguments)):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, fn)

    # ------------------------------------------------------------------ reader

    def job_ids(self, span: Span) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(span.group))

    def op_job_ids(self, spans: list[Span]) -> set[int]:
        """Jobs of the spans and of every span nested in them; raises when
        there are none."""
        ids: set[int] = set()
        todo = list(spans)
        while todo:
            s = todo.pop()
            ids.update(self.job_ids(s))
            todo.extend(s.children)
        if not ids:
            names = ", ".join(s.name for s in spans)
            raise TraceError(f"op ({names}) recorded 0 jobs in its job groups")
        return ids

    def jobs_after(self, job_id: int) -> set[int]:
        """Every job the application ran after ``job_id``, in any group
        (none without a status store)."""
        if self.store is None:
            return set()
        jobs = self.store.jobsList(None)
        return {
            j for j in (jobs.apply(i).jobId() for i in range(jobs.size())) if j > job_id
        }

    def max_job_id(self) -> int:
        return max(self.jobs_after(-1), default=-1)

    def read(self, span: Span) -> Stats:
        """Own figures of one span (nested spans excluded)."""
        st = Stats(wall_s=(span.t1 - span.t0) - sum(c.t1 - c.t0 for c in span.children))
        ids = self.job_ids(span)
        st.jobs = len(ids)
        if self.store is None:
            return st
        intervals, stages = [], set()
        for jid in ids:
            jd = self.store.job(jid)
            a, b = _epoch_s(jd.submissionTime()), _epoch_s(jd.completionTime())
            if a is not None and b is not None:
                intervals.append((a, b))
            sids = jd.stageIds()
            stages.update(sids.apply(i) for i in range(sids.size()))
        for sid in stages:
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            submitted = _epoch_s(sd.submissionTime())
            if submitted is not None and submitted < span.t0 - 1.0:
                continue  # a stage reused from an earlier span
            st.tasks += sd.numCompleteTasks()
            st.task_s += sd.executorRunTime() / 1000.0
            st.shuffle_bytes += sd.shuffleWriteBytes()
            st.spill_bytes += sd.diskBytesSpilled()
            st.output_bytes += sd.outputBytes()
            st.output_records += sd.outputRecords()
        st.driver_s = max(0.0, st.wall_s - _union_s(intervals, span.t0, span.t1))
        return st
