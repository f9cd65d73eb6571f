"""Spans recorded around calls into the engine's layers, and the Spark
event log read back and attributed to them.

Spans stay in memory. Each Spark job is given to the innermost span
whose interval holds its submission time; jobs from the engine's
thread pools carry no description, so time is the only key that works.
Nothing inside the package is edited: the engine's module-level names
are rebound for the traced phase and restored afterwards.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: the event log stamps submissions in whole milliseconds
CLOCK_SLACK_S = 0.001


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """Records nested spans from one client thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, time.time())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


@contextlib.contextmanager
def engine_patched(tracer: Tracer):
    """Rebind the names ``core.engine`` calls, so its calls into
    ``core.sufficient`` and ``core.hypothesis`` are spanned."""
    from tableone_pyspark_spark.core import engine

    names = {
        "collect_sufficient": "sufficient.collect",
        "chi_square": "hypothesis.test",
        "continuous_test": "hypothesis.test",
    }
    saved = {n: getattr(engine, n) for n in names}
    try:
        for n, span_name in names.items():
            setattr(engine, n, tracer.wrap(span_name, saved[n]))
        yield
    finally:
        for n, fn in saved.items():
            setattr(engine, n, fn)


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: list[int]
    span: int | None = None


@dataclass
class StageStats:
    records: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    task_s: list = field(default_factory=list)


def read_event_log(path: str) -> tuple[dict[int, Job], dict[int, StageStats]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, StageStats] = defaultdict(StageStats)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                                         list(ev.get("Stage IDs", [])))
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                st = stages[ev["Stage ID"]]
                st.records += (m.get("Input Metrics") or {}).get("Records Read", 0)
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.task_s.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
    return jobs, dict(stages)


def attribute(spans: list[Span], jobs: dict[int, Job]) -> dict:
    """Give each job to the innermost span holding its submission time.
    Returns counts of jobs outside every span and of jobs that two
    sibling spans could both claim within the clock's resolution."""
    depth = {}
    for s in spans:
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    outside = ambiguous = 0
    for job in jobs.values():
        hits = [s for s in spans if s.t0 - CLOCK_SLACK_S <= job.submit <= s.t1 + CLOCK_SLACK_S]
        if not hits:
            outside += 1
            continue
        deepest = max(depth[s.id] for s in hits)
        inner = [s for s in hits if depth[s.id] == deepest]
        if len(inner) > 1:
            ambiguous += 1
        best = min(inner, key=lambda s: abs((s.t0 + s.t1) / 2 - job.submit))
        job.span = best.id
        best.jobs.append(job.id)
    return {"outside": outside, "ambiguous": ambiguous}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class LayerStats:
    """Per-layer sums over the traced ops of one run."""

    def __init__(self, spans: list[Span], jobs: dict[int, Job], stages: dict[int, StageStats],
                 cores: int):
        self.spans, self.jobs, self.stages, self.cores = spans, jobs, stages, cores
        self.children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)
        # a stage runs in the first job that lists it; later jobs skip it
        self.stage_job: dict[int, int] = {}
        for job in sorted(jobs.values(), key=lambda j: j.id):
            for sid in job.stages:
                self.stage_job.setdefault(sid, job.id)
        self.job_stages: dict[int, list[int]] = defaultdict(list)
        for sid, jid in self.stage_job.items():
            if sid in stages:
                self.job_stages[jid].append(sid)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree_jobs(self, span: Span) -> list[int]:
        out = list(span.jobs)
        for c in self.children[span.id]:
            out += self.subtree_jobs(c)
        return out

    def self_time(self, span: Span) -> float:
        return (span.t1 - span.t0) - sum(c.t1 - c.t0 for c in self.children[span.id])

    def wall(self, name: str) -> float:
        return sum(s.t1 - s.t0 for s in self.named(name))

    def job_count(self, name: str) -> int:
        return sum(len(self.subtree_jobs(s)) for s in self.named(name))

    def stage_stats(self, name: str) -> list[StageStats]:
        jids = [j for s in self.named(name) for j in self.subtree_jobs(s)]
        return [self.stages[sid] for j in jids for sid in self.job_stages.get(j, [])]

    def sufficient(self) -> dict:
        spans = self.named("sufficient.collect")
        wall = self.wall("sufficient.collect")
        st = self.stage_stats("sufficient.collect")
        task_s = [t for s in st for t in s.task_s]
        skews = [max(s.task_s) / statistics.median(s.task_s)
                 for s in st if len(s.task_s) > 1 and statistics.median(s.task_s) > 0]
        idle = 0.0
        for s in spans:
            busy = [(self.jobs[j].submit, self.jobs[j].end) for j in self.subtree_jobs(s)]
            busy = [(max(a, s.t0), min(b, s.t1)) for a, b in busy if b > a]
            idle += (s.t1 - s.t0) - _union_length(busy)
        return {
            "wall_s": wall,
            "jobs": self.job_count("sufficient.collect"),
            "scan_stages": sum(1 for s in st if s.records > 0),
            "input_records": sum(s.records for s in st),
            "executor_cpu_s": sum(s.cpu_s for s in st),
            "shuffle_write_bytes": sum(s.shuffle_write for s in st),
            "spill_bytes": sum(s.spill for s in st),
            "slot_util": sum(task_s) / (wall * self.cores) if wall > 0 else 0.0,
            "task_skew": statistics.mean(skews) if skews else 1.0,
            "idle_gap_s": idle,
        }

    def gc_s(self, names: list[str]) -> float:
        return sum(s.gc_s for n in names for s in self.stage_stats(n))

    def input_records(self, name: str) -> int:
        return sum(s.records for s in self.stage_stats(name))


def dump(path: str, spans: list[Span], jobs: dict[int, Job]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({
            "spans": [s.__dict__ for s in spans],
            "jobs": [j.__dict__ for j in jobs.values()],
        }, fh)
