"""In-memory spans around calls into the program's layers.

Spans are recorded only from the benchmark's side: :func:`instrument`
replaces a layer's public functions with wrappers that open a span, in
every program module that holds them (query modules import operators
and ``load_table`` by name, so the module attribute alone is not
enough). Nothing inside the program is edited.

Each span sets a Spark job group of its own, so the jobs it fires
directly (not those of child spans, which set their own group) are
read back from ``statusTracker().getJobIdsForGroup`` when it closes,
together with each job's stages from the status store. A span's self
time is its duration minus the time its direct children cover.
"""

from __future__ import annotations

import functools
import itertools
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PROGRAM = "metadata_ingestion_poc_spark"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    child_s: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


@dataclass
class JobStats:
    """One finished Spark job: wall interval and its run stages' totals."""

    start_ms: int
    end_ms: int
    stages: int
    tasks: int
    executor_run_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


class Tracer:
    """Records spans and attributes Spark jobs to them."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.jobs: dict[int, JobStats] = {}
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.op: int | None = None

    @property
    def current(self) -> str | None:
        return self._stack[-1].name if self._stack else None

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name, False)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.id if parent else None,
                 self.op, time.perf_counter())
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            if parent is not None:
                parent.child_s += s.duration
            s.jobs = sorted(
                self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{s.id}")
            )
            for j in s.jobs:
                self.jobs[j] = self._job_stats(j)
            self.spans.append(s)

    def _job_stats(self, job_id: int) -> JobStats:
        store = self.sc._jsc.sc().statusStore()
        job = store.job(job_id)
        start = job.submissionTime()
        end = job.completionTime()
        stats = JobStats(
            start.get().getTime() if start.isDefined() else 0,
            end.get().getTime() if end.isDefined() else 0,
            0, 0, 0, 0, 0, 0,
        )
        info = self.sc.statusTracker().getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            sd = store.lastStageAttempt(stage_id)
            if sd.status().toString() == "SKIPPED":
                continue
            stats.stages += 1
            stats.tasks += sd.numTasks()
            stats.executor_run_ms += sd.executorRunTime()
            stats.shuffle_read_bytes += sd.shuffleReadBytes()
            stats.shuffle_write_bytes += sd.shuffleWriteBytes()
            stats.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return stats

    def wrap(self, fn, name: str, before=None, after=None):
        """``fn`` inside a span; ``before(span, args, kwargs)`` returns a
        state handed to ``after(span, state, result)``, both timed."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                state = before(s, args, kwargs) if before else None
                out = fn(*args, **kwargs)
                if after:
                    after(s, state, out)
                return out

        return traced


def replace_everywhere(original, replacement) -> list[tuple[object, str]]:
    """Rebind every program-module attribute that *is* ``original``."""
    hits = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (
            mod_name == PROGRAM or mod_name.startswith(PROGRAM + ".")
        ):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                hits.append((mod, attr))
    return hits


def data_files(path: str) -> dict[str, int]:
    """Data files under ``path`` (Spark's hidden ``_``/``.`` files skipped)."""
    out: dict[str, int] = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def bytes_added(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that are new or changed between two listings."""
    return sum(n for p, n in after.items() if before.get(p) != n)


def self_time(spans: list[Span], name: str) -> float:
    return sum(s.self_s for s in spans if s.name == name)


def exec_seconds(jobs: list[JobStats]) -> float:
    """Wall time during which at least one job ran (union of intervals)."""
    total = 0
    end = None
    for j in sorted(jobs, key=lambda j: j.start_ms):
        if end is None or j.start_ms > end:
            total += j.end_ms - j.start_ms
            end = j.end_ms
        elif j.end_ms > end:
            total += j.end_ms - end
            end = j.end_ms
    return total / 1000.0
