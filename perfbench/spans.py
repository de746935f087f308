"""Spans and Spark counters, recorded from outside the engine.

A ``Tracer`` replaces public engine functions with wrappers for the length
of a traced run. Each wrapper records a span (name, start, end, parent,
pass) in memory and runs its call under a Spark job group named after the
span, restoring the caller's group afterwards. After a pass, the jobs of
each group are read from ``statusTracker().getJobIdsForGroup`` and their
stages from ``statusStore().lastStageAttempt``. Only completed stage
attempts count: a stage that a later job reuses is listed by both jobs
but ran once.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"
STAGE_FIELDS = (
    "cpu_s", "run_s", "gc_s", "tasks", "input_bytes", "input_records", "output_bytes",
    "output_records", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    pass_id: int
    group: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Counters:
    """Sums over a set of completed stages, plus the jobs that ran them."""

    jobs: int = 0
    stages: int = 0
    values: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))

    def add(self, other: "Counters") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        for k, v in other.values.items():
            self.values[k] += v


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.pass_id = -1
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sc = self.sc
        idx = len(self.spans)
        s = Span(name, 0.0, self._stack[-1] if self._stack else None,
                 self.pass_id, f"perfbench.{self.pass_id}.{idx}")
        prev = (sc.getLocalProperty(GROUP_KEY), sc.getLocalProperty(DESC_KEY))
        self.spans.append(s)
        self._stack.append(idx)
        sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(GROUP_KEY, prev[0])
            sc.setLocalProperty(DESC_KEY, prev[1])

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` run inside a span; ``on_result(result)`` may return
        attributes to keep on the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    s.attrs.update(on_result(result))
                return result

        return traced

    @contextmanager
    def patched(self, targets):
        """Replace ``(owner, attribute, span name[, on_result])`` targets with
        traced wrappers; the originals come back on exit."""
        saved = []
        try:
            for owner, attr, name, *hook in targets:
                fn = getattr(owner, attr)
                saved.append((owner, attr, fn))
                setattr(owner, attr, self.wrap(name, fn, *hook))
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    # -- reading the counters back ---------------------------------------

    def stage_counters(self, groups: list[str]) -> tuple[dict, list]:
        """Counters per group, each completed stage counted once (for the
        lowest job that lists it), and the (submit, complete) epoch-ms
        interval of every job."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        job_group = {}
        for g in groups:
            for j in tracker.getJobIdsForGroup(g):
                job_group[j] = g
        out = {g: Counters() for g in groups}
        seen: set[int] = set()
        intervals = []
        for j in sorted(job_group):
            c = out[job_group[j]]
            c.jobs += 1
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append(
                    (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
                )
            for sid in tracker.getJobInfo(j).stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                c.stages += 1
                v = c.values
                v["cpu_s"] += sd.executorCpuTime() / 1e9
                v["run_s"] += sd.executorRunTime() / 1e3
                v["gc_s"] += sd.jvmGcTime() / 1e3
                v["tasks"] += sd.numCompleteTasks()
                v["input_bytes"] += sd.inputBytes()
                v["input_records"] += sd.inputRecords()
                v["output_bytes"] += sd.outputBytes()
                v["output_records"] += sd.outputRecords()
                v["shuffle_read_bytes"] += sd.shuffleReadBytes()
                v["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                v["spill_bytes"] += sd.diskBytesSpilled()
        return out, intervals

    def self_times(self, pass_id: int) -> dict[str, list]:
        """name -> [count, total s, self s] over one pass: self time is a
        span's duration less the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        out: dict[str, list] = {}
        for i, s in enumerate(self.spans):
            if s.pass_id == pass_id:
                row = out.setdefault(s.name, [0, 0.0, 0.0])
                row[0] += 1
                row[1] += s.duration
                row[2] += s.duration - child[i]
        return out

    def subtree_groups(self, pass_id: int, names) -> list[str]:
        """Job groups of the pass's spans named in ``names`` and of all
        their descendants."""
        inside: set[int] = set()
        for i, s in enumerate(self.spans):
            if s.pass_id == pass_id and (s.name in names or s.parent in inside):
                inside.add(i)
        return [self.spans[i].group for i in sorted(inside)]


class PassView:
    """One traced pass: its spans and the Spark counters of their groups."""

    def __init__(self, tracer: Tracer, pass_id: int, root_group: str):
        self.tracer = tracer
        self.pass_id = pass_id
        groups = [root_group] + [
            s.group for s in tracer.spans if s.pass_id == pass_id
        ]
        self.by_group, self.job_intervals = tracer.stage_counters(groups)
        self.total = Counters()
        for c in self.by_group.values():
            self.total.add(c)

    def subtree(self, names) -> Counters:
        out = Counters()
        for g in self.tracer.subtree_groups(self.pass_id, names):
            out.add(self.by_group[g])
        return out

    def span_s(self, name: str) -> float:
        return sum(
            s.duration for s in self.tracer.spans
            if s.pass_id == self.pass_id and s.name == name
        )

    def attr_sum(self, name: str, key: str) -> float:
        return sum(
            s.attrs.get(key, 0) for s in self.tracer.spans
            if s.pass_id == self.pass_id and s.name == name
        )


def covered_ms(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] during which at least one job ran."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


def jvm_counters(sc) -> dict:
    """Driver-JVM JIT, class loading, GC and memory pools over py4j."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    code, heap_peak = 0, 0
    for pool in mf.getMemoryPoolMXBeans():
        name = pool.getName()
        if name.startswith("CodeHeap") or name == "Code Cache":
            code += pool.getUsage().getUsed()
        if pool.getType().name() == "HEAP":
            heap_peak += pool.getPeakUsage().getUsed()
    return {
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        "classes": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
        "code_mb": code / 2**20,
        "heap_peak_mb": heap_peak / 2**20,
    }


def reset_heap_peaks(sc) -> None:
    for pool in sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            pool.resetPeakUsage()
