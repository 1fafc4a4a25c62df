"""Per-call spans over the engine's public functions, with each call's
Spark job counters.

A span sets a job group of its own around one call, times the call's
wall clock, and afterwards reads the jobs the call ran from the
driver's status store (``statusTracker`` for job and stage ids,
``statusStore`` for job times and stage task metrics). Jobs that the
engine submits from its own worker threads carry no group; they belong
to the innermost span open when they show up among the group-less jobs.
Outside every span the calling thread carries the group ``OUTSIDE``, so
the benchmark's own reads (docs tables, checks) are never charged to a
span.

Spans nest. A span's counters are inclusive of its children; its self
time is its wall time minus the time its children cover, and its
outside-jobs time is the part of its wall time when none of its jobs
(its children's included) was running.

With tracing off or paused, ``span`` only yields: no job group, no
store reads.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

FIELDS = (
    "wall_ms", "self_ms", "outside_jobs_ms", "jobs", "tasks",
    "executor_cpu_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "peak_exec_memory_bytes",
)
OUTSIDE = "perfbench-outside"


class _Span:
    def __init__(self, op: str, group: str):
        self.op = op
        self.group = group
        self.children_ms = 0.0
        self.intervals: list[tuple[float, float]] = []  # job (start, end), ms
        self.jobs: set[int] = set()
        self.stages: dict[int, dict] = {}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.totals: dict[str, dict[str, float]] = {}
        self.counts: dict[str, float] = {}
        self.own_ms = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[_Span] = []
        self._ids = itertools.count()
        self._seen_groupless: set[int] = set()
        self._paused = False
        if enabled:
            jsc = self.sc._jsc.sc()
            self._tracker = jsc.statusTracker()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._arrays = self.sc._jvm.java.util.Arrays

    def start(self) -> None:
        """Jobs run before this (set-up, warm-up) belong to no span, nor
        do jobs run outside every span after it."""
        if self.enabled:
            self._bus.waitUntilEmpty(10_000)
            self._seen_groupless = set(self._job_ids(None))
            self.sc.setJobGroup(OUTSIDE, "outside every span")

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def peak(self, name: str, value: float) -> None:
        self.counts[name] = max(self.counts.get(name, value), value)

    def wrap(self, op: str, fn):
        """fn with every call inside a span named op."""
        def traced(*args, **kwargs):
            with self.span(op):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def paused(self):
        """Calls made inside run untraced (the warm-up), and the jobs
        they ran belong to no span."""
        if not self.enabled:
            yield
            return
        self._paused = True
        try:
            yield
        finally:
            self._paused = False
            self._bus.waitUntilEmpty(10_000)
            self._seen_groupless.update(self._job_ids(None))

    @contextmanager
    def span(self, op: str):
        if not self.enabled or self._paused:
            yield
            return
        c0 = time.perf_counter()
        s = _Span(op, f"perfbench-{next(self._ids)}")
        self.sc.setJobGroup(s.group, op)
        self._stack.append(s)
        self.own_ms += (time.perf_counter() - c0) * 1000.0
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            t1 = time.time() * 1000.0
            c0 = time.perf_counter()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.op)
            else:
                self.sc.setJobGroup(OUTSIDE, "outside every span")
            self._close(s, parent, t0, t1)
            self.own_ms += (time.perf_counter() - c0) * 1000.0

    # -- status store reads --------------------------------------------

    def _job_ids(self, group) -> list[int]:
        text = self._arrays.toString(self._tracker.getJobIdsForGroup(group))
        return [int(x) for x in text.strip("[]").split(",") if x.strip()]

    def _close(self, s: _Span, parent, t0: float, t1: float) -> None:
        # the status listener runs on its own thread: let it catch up so
        # the call's jobs and stages are complete in the store
        self._bus.waitUntilEmpty(10_000)
        groupless = [j for j in self._job_ids(None)
                     if j not in self._seen_groupless]
        self._seen_groupless.update(groupless)
        for jid in self._job_ids(s.group) + groupless:
            s.jobs.add(jid)
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1
                s.intervals.append((max(float(sub.get().getTime()), t0),
                                    min(float(end), t1)))
            for sid in (int(x) for x in jd.stageIds().mkString(",").split(",")
                        if x.strip()):
                if sid not in s.stages:
                    s.stages[sid] = self._stage(sid)
        wall = t1 - t0
        st = self._sum_stages(s.stages)
        st["jobs"] = float(len(s.jobs))
        rec = {
            "wall_ms": wall,
            "self_ms": max(wall - s.children_ms, 0.0),
            "outside_jobs_ms": max(wall - _covered(s.intervals), 0.0),
            **st,
        }
        tot = self.totals.setdefault(s.op, dict.fromkeys(FIELDS, 0.0))
        for k in FIELDS:
            if k == "peak_exec_memory_bytes":
                tot[k] = max(tot[k], rec[k])
            else:
                tot[k] += rec[k]
        tot["calls"] = tot.get("calls", 0) + 1
        if parent is not None:
            parent.children_ms += wall
            parent.intervals.extend(s.intervals)
            parent.jobs |= s.jobs
            for k, v in s.stages.items():
                parent.stages.setdefault(k, v)

    def _stage(self, sid: int) -> dict:
        from py4j.protocol import Py4JJavaError

        try:
            sd = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage the store never recorded
            return {}
        if str(sd.status().toString()) == "SKIPPED":
            return {}
        return {
            "tasks": sd.numCompleteTasks(),
            "executor_cpu_ms": sd.executorCpuTime() / 1e6,
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "peak_exec_memory_bytes": sd.peakExecutionMemory(),
        }

    @staticmethod
    def _sum_stages(stages: dict) -> dict:
        out = dict.fromkeys(FIELDS[4:], 0.0)
        for st in stages.values():
            for k, v in st.items():
                if k == "peak_exec_memory_bytes":
                    out[k] = max(out[k], float(v))
                else:
                    out[k] += float(v)
        return out

    def metrics(self, ops: tuple[str, ...]) -> dict[str, float]:
        out = {}
        for op in ops:
            tot = self.totals.get(op, {})
            for k in FIELDS:
                out[f"{op}.{k}"] = float(tot.get(k, 0.0))
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
