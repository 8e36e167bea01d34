"""Spans and Spark statistics, recorded from outside the engine.

A traced run puts every operation in its own Spark job group and wraps
each call into an engine layer in a span (name, start, end, parent, op
id). After the operation has returned, it reads the group's jobs from
``statusTracker`` and each executed stage's metrics from the status
store, and attributes every job to the innermost span open when the job
was submitted. Spans stay in memory until the run writes them out.

An untraced run gets a ``Tracer(spark, enabled=False)``: its context
managers only yield, so no Spark call and no bookkeeping happens
around the timed operations.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "outputBytes",
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark's job times
    end: float
    parent: int | None
    op: int
    jobs: list[int] = field(default_factory=list)


@dataclass
class OpStats:
    """Spark work of one operation, summed over its jobs' executed stages."""

    op: int
    kind: str
    wall_ms: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    driver_ms: float = 0.0
    totals: dict = field(default_factory=dict)
    by_span: dict = field(default_factory=dict)  # span name -> totals of its jobs


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[OpStats] = []
        self.bookkeeping_s = 0.0
        self._open: list[int] = []

    @contextmanager
    def op(self, kind: str):
        """One operation: its own job group and a root span."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        op_id = len(self.ops)
        group = f"perfbench-op-{op_id}"
        sc.setJobGroup(group, kind)
        first_span = len(self.spans)
        start = time.time()
        with self.span(kind):
            yield
        wall_ms = (time.time() - start) * 1000.0
        t0 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append(self._collect(group, op_id, kind, wall_ms, first_span))
        self.bookkeeping_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.time(), 0.0, parent, len(self.ops)))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.time()

    def _collect(self, group, op_id, kind, wall_ms, first_span) -> OpStats:
        sc = self.spark.sparkContext
        jvm_sc = sc._jsc.sc()
        jvm_sc.listenerBus().waitUntilEmpty()
        store = jvm_sc.statusStore()
        tracker = sc.statusTracker()
        spans = self.spans[first_span:]
        stats = OpStats(op_id, kind, wall_ms, totals=dict.fromkeys(STAGE_FIELDS, 0))
        seen_stages: set[int] = set()
        intervals = []
        for job_id in tracker.getJobIdsForGroup(group):
            job = store.job(job_id)
            submitted = job.submissionTime().get().getTime() / 1000.0
            completed = (
                job.completionTime().get().getTime() / 1000.0
                if job.completionTime().isDefined()
                else submitted
            )
            intervals.append((submitted, completed))
            owner = _innermost(spans, submitted)
            owner.jobs.append(job_id)
            span_totals = stats.by_span.setdefault(owner.name, dict.fromkeys(STAGE_FIELDS, 0))
            stats.jobs += 1
            for stage_id in tracker.getJobInfo(job_id).stageIds:
                if stage_id in seen_stages:
                    continue
                seen_stages.add(stage_id)
                stage = store.lastStageAttempt(stage_id)
                if stage.status().toString() == "SKIPPED":
                    continue
                stats.stages += 1
                stats.tasks += stage.numCompleteTasks()
                for name in STAGE_FIELDS:
                    value = getattr(stage, name)()
                    stats.totals[name] += value
                    span_totals[name] += value
        root = spans[0]
        stats.driver_ms = max(
            0.0, (root.end - root.start - _covered(intervals, root.start, root.end)) * 1000.0
        )
        return stats

    def self_times(self) -> dict[str, float]:
        """Total self time (ms) per span name: duration minus the time
        its child spans cover."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, child in zip(self.spans, child_ms):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - child) * 1000.0
        return out

    def dump(self) -> dict:
        return {
            "spans": [asdict(s) for s in self.spans],
            "ops": [asdict(o) for o in self.ops],
            "self_ms": self.self_times(),
            "bookkeeping_s": self.bookkeeping_s,
        }


def _innermost(spans: list[Span], t: float) -> Span:
    """The latest-starting span that had begun by ``t``; job times have
    millisecond resolution, hence the slack."""
    owner = spans[0]
    for s in spans:
        if s.start <= t + 0.001:
            owner = s
    return owner


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def state_probe(spark, index_dir: str | None) -> dict:
    """Session memo entries, persisted RDD storage and index size on disk."""
    from gpu_accelerated_vector_indexing_spark import memo

    mem = disk = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        mem += info.memSize()
        disk += info.diskSize()
    files, size = dir_size(index_dir) if index_dir else (0, 0)
    return {
        "memo_entries": sum(len(d) for d in memo._memo_dicts()),
        "persisted_mb": (mem + disk) / 2**20,
        "index_files": files,
        "index_bytes": size,
    }


def dir_size(path: str) -> tuple[int, int]:
    """Number of data files and bytes of every file under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size
