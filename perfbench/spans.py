"""Spans and Spark counters for the traced run.

A span wraps one call into a package layer: name, start, end, parent
and the id of the operation (ingest pass, chat turn, catalog entry) it
belongs to. While a span is open, every Spark job it starts carries
the job group ``pb<span id>``, so the status store's job and stage
records can be charged to the span afterwards. Spans stay in memory
and are written out once, at the end of the run.

With tracing off, ``Tracer.span`` records nothing and sets no job
group: the untraced run measures the program alone.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: tuple[int, int] | None
    start: float
    end: float


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        covered = union_length(
            (max(a, s.start), min(b, s.end)) for a, b in kids[s.id] if b > s.start and a < s.end
        )
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """In-memory span recorder; a no-op when ``enabled`` is false."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: tuple[int, int] | None = None  # (pass, operation index)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, parent, self.op, time.time(), 0.0)
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(f"pb{sid}", name, False)
        try:
            yield
        finally:
            rec.end = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"pb{self._stack[-1]}", self.spans[self._stack[-1]].name, False)
            else:
                sc._jsc.clearJobGroup()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


class Stopwatch:
    """Accumulated wall time of the blocks run under it: the
    benchmark's own work (inputs, expected results, checks), which the
    set-up time leaves out."""

    def __init__(self):
        self.total = 0.0

    @contextmanager
    def __call__(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.total += time.perf_counter() - t


@dataclass
class JobRecord:
    span: int
    start: float  # seconds, driver wall clock
    end: float
    stages: int
    shuffle_bytes: int
    input_records: int
    python_run_s: float  # executor run time of stages that ran a pandas UDF


_PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "MapInArrow")


def job_records(spark) -> list[JobRecord]:
    """Every finished job that ran under a span's job group, read from
    the status store (works with the UI off). A stage listed by several
    jobs ran in the first of them; later ones reused its output."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    listed = store.jobsList(None)
    jobs = sorted((listed.apply(i) for i in range(listed.size())), key=lambda j: j.jobId())
    out = []
    seen_stages: set[int] = set()
    for j in jobs:
        group = j.jobGroup()
        traced = group.isDefined() and group.get().startswith("pb")
        stages, py_s = 0, 0.0
        shuffle = inputs = 0
        ids = j.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE" or sid in seen_stages:
                continue
            seen_stages.add(sid)
            if not traced:
                continue
            stages += 1
            shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
            inputs += st.inputRecords() + st.shuffleReadRecords()
            graph = store.operationGraphForStage(sid)
            dot = jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)
            if any(n in dot for n in _PYTHON_NODES):
                py_s += st.executorRunTime() / 1000.0
        if not traced or not j.completionTime().isDefined():
            continue
        out.append(
            JobRecord(
                span=int(group.get()[2:]),
                start=j.submissionTime().get().getTime() / 1000.0,
                end=j.completionTime().get().getTime() / 1000.0,
                stages=stages,
                shuffle_bytes=int(shuffle),
                input_records=int(inputs),
                python_run_s=py_s,
            )
        )
    return out


def gc_seconds(spark) -> float:
    """Cumulative garbage-collection time of the driver JVM, which in
    local mode also runs every task."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0
