"""Spans around public calls, with the Spark work each span caused.

A span is (name, start, end, parent, run id).  Spans nest: a span opened
inside another is its child, and every Spark job started while a span is
innermost is tagged with that span's job group (``sc.setJobGroup``).  When
a root span closes, the tracer reads Spark's status store (it works with
the UI disabled) and attributes each new job and its stages to the span
that started it.  Reading at root-span end keeps the store's retention
limits from dropping records.

``Tracer.wrap`` replaces a callable attribute of an object or module by a
span-recording wrapper, so the benchmark traces the package's public calls
without editing the package.  A disabled tracer records nothing and adds
nothing but a function call.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    run: str = ""
    jobs: list[int] = field(default_factory=list)


@dataclass
class StageStats:
    start: float
    end: float
    tasks: int
    run_s: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    spill_mb: float


def union_s(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.job_stages: dict[int, list[int]] = {}
        self.stages: dict[int, StageStats] = {}
        self.overhead_s = 0.0  # time spent inside the tracer itself
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._seen_jobs: set[int] = set()

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, id=next(self._ids), run=self.run_id)
        self.spans.append(sp)
        self._stack.append(sp.id)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb-{sp.id}", name)
        self.overhead_s += time.perf_counter() - t0
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"pb-{self._stack[-1]}", "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self._collect()
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- Spark status store --------------------------------------------------
    def _collect(self) -> None:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        by_group: dict[str, list[int]] = defaultdict(list)
        jobs = store.jobsList(jvm.java.util.ArrayList())
        for i in range(jobs.length()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            group = j.jobGroup()
            sids = j.stageIds()
            self.job_stages[jid] = [sids.apply(k) for k in range(sids.length())]
            if group.isDefined() and group.get().startswith("pb-"):
                by_group[group.get()].append(jid)
        for sp in self.spans:
            sp.jobs.extend(by_group.get(f"pb-{sp.id}", []))
        wanted = {s for jid in by_group.values() for j in jid for s in self.job_stages[j]} - self.stages.keys()
        if not wanted:
            return
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
        )
        mb = 1024 * 1024
        for i in range(stages.length()):
            st = stages.apply(i)
            sid = st.stageId()
            sub, comp = st.submissionTime(), st.completionTime()
            if sid not in wanted or not (sub.isDefined() and comp.isDefined()):
                continue  # skipped stages never ran
            self.stages[sid] = StageStats(
                sub.get().getTime() / 1000,
                comp.get().getTime() / 1000,
                st.numCompleteTasks(),
                st.executorRunTime() / 1000,
                st.shuffleReadBytes() / mb,
                st.shuffleWriteBytes() / mb,
                (st.memoryBytesSpilled() + st.diskBytesSpilled()) / mb,
            )

    # -- reports -------------------------------------------------------------
    def descendants(self, sp: Span) -> list[Span]:
        kids = [s for s in self.spans if s.parent == sp.id]
        return kids + [d for k in kids for d in self.descendants(k)]

    def spark_stats(self, spans) -> dict[str, float]:
        """Spark work of ``spans`` and all their descendants."""
        per_span = [{j for x in [sp, *self.descendants(sp)] for j in x.jobs} for sp in spans]
        jobs = set().union(*per_span)

        def ran(job_ids):
            return {s for j in job_ids for s in self.job_stages.get(j, []) if s in self.stages}

        st = [self.stages[s] for s in ran(jobs)]
        stage_union = sum(union_s((self.stages[s].start, self.stages[s].end) for s in ran(js)) for js in per_span)
        return {
            "jobs": len(jobs),
            "stages": len(st),
            "tasks": sum(s.tasks for s in st),
            "stage_union_s": stage_union,
            "executor_run_s": sum(s.run_s for s in st),
            "shuffle_read_mb": sum(s.shuffle_read_mb for s in st),
            "shuffle_write_mb": sum(s.shuffle_write_mb for s in st),
            "spill_mb": sum(s.spill_mb for s in st),
            "driver_s": sum(sp.end - sp.start for sp in spans) - stage_union,
        }

    def self_time(self, sp: Span) -> float:
        """The span's duration minus the part its child spans cover."""
        return (sp.end - sp.start) - union_s((k.start, k.end) for k in self.spans if k.parent == sp.id)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
