"""Spans around the benchmark's calls into each layer, plus what Spark's
own status store and physical plans say about the jobs a call started.

Spans live in memory and are written out once, when the run ends.
Nothing here reaches inside ``hbase_spark``: a span wraps one call the
benchmark makes into one public function, and the Spark-side numbers
come from the job group the benchmark sets before each operation.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float  # seconds, time.perf_counter()
    end: float
    parent: int | None  # index into Tracer.spans
    op: int | None  # client operation id


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (span.end - span.start) - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` costs one generator
    frame and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> list[float]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return [self_time(s, kids.get(i, [])) for i, s in enumerate(self.spans)]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self=st) for s, st in zip(self.spans, selfs)], f
            )


# ------------------------------------------------------------ Spark side


@dataclass
class StageStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    intervals: list = None  # (submitted, completed) epoch seconds per stage
    skews: list = None  # max / median task duration, stages with >= 2 tasks


def group_stats(spark, groups) -> StageStats:
    """Stage metrics of every job started under the job ``groups``:
    statusTracker job ids -> stage ids -> the status store's last stage
    attempt (the py4j-reachable path; ``statusStore().stageList`` takes
    a ``double[]`` that py4j does not resolve)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    st = StageStats(intervals=[], skews=[])
    for j in (j for g in groups for j in tracker.getJobIdsForGroup(g)):
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        st.jobs += 1
        for sid in info.stageIds:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage, never attempted
                continue
            if s.status().toString() == "SKIPPED":
                continue
            st.stages += 1
            st.tasks += s.numTasks()
            st.run_ms += s.executorRunTime()
            st.cpu_ms += s.executorCpuTime() / 1e6
            st.gc_ms += s.jvmGcTime()
            st.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            st.shuffle_write_bytes += s.shuffleWriteBytes()
            st.input_bytes += s.inputBytes()
            st.input_records += s.inputRecords()
            sub, comp = s.submissionTime(), s.completionTime()
            if sub.isDefined() and comp.isDefined():
                st.intervals.append(
                    (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                )
            tl = store.taskList(sid, s.attemptId(), 100_000)
            durs = sorted(
                d.get()
                for d in (tl.apply(i).duration() for i in range(tl.size()))
                if d.isDefined()
            )
            if len(durs) >= 2:
                med = durs[(len(durs) - 1) // 2] or 1
                st.skews.append(durs[-1] / med)
    return st


def _children(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


@dataclass
class PlanShape:
    exchanges: int = 0
    sorts: int = 0
    joins: int = 0
    python_nodes: int = 0
    files_read: int = 0


def plan_shape(jplan) -> PlanShape:
    """Node counts of a physical plan (the final plan once AQE has run)
    and the files its scans read."""
    shape = PlanShape()
    todo = [jplan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "ShuffleExchangeExec":
            shape.exchanges += 1
        elif name == "SortExec":
            shape.sorts += 1
        elif "Join" in name and name.endswith("Exec"):
            shape.joins += 1
        elif "Python" in name or "InPandas" in name or "ArrowEval" in name:
            shape.python_nodes += 1
        elif name == "FileSourceScanExec":
            m = node.metrics().get("numFiles")
            if m.isDefined():
                shape.files_read += m.get().value()
        todo.extend(_children(node))
    return shape
