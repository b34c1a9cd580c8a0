"""Span tracing from the benchmark's side of the program's public calls.

A span records name, start, end, parent and op id.  Each span runs its
Spark jobs under a job group of its own, so ``SparkContext.statusTracker``
attributes jobs, stages, tasks and failed tasks to the innermost open span.
Spans stay in memory and are written out once, when the benchmark ends.

When tracing is off, ``Tracer.span`` yields without touching Spark, and no
program function is wrapped.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
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
    """Span id -> duration minus the part of its interval that its direct
    children cover (children clipped to the parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.duration - _union_length(covered)
    return out


def unattributed(spans: list[Span], wall: float) -> float:
    """Wall time of one op that no layer span accounts for: ``wall`` minus
    the self times of every span except the op's root (the root's own self
    time is exactly this gap, so it is not counted as attributed)."""
    selfs = self_times(spans)
    return wall - sum(selfs[s.id] for s in spans if s.parent is not None)


def inclusive(spans: list[Span], attr: str) -> dict[int, int]:
    """Span id -> ``attr`` summed over the span and all its descendants."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def total(s: Span) -> int:
        return getattr(s, attr) + sum(total(c) for c in children.get(s.id, []))

    return {s.id: total(s) for s in spans}


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.op = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = Span(self._next, name, parent.id if parent else None, self.op, 0.0, attrs=attrs)
        group = f"perfbench-{rec.id}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec.start = time.perf_counter()
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._count_jobs(rec, group)
            self.spans.append(rec)

    def _count_jobs(self, rec: Span, group: str) -> None:
        st = self.sc.statusTracker()
        stages: set[int] = set()
        job_ids = st.getJobIdsForGroup(group)
        rec.jobs = len(job_ids)
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                rec.tasks += info.numCompletedTasks
                rec.failed_tasks += info.numFailedTasks

    def wrap(self, name: str, fn: Callable, around: Callable | None = None) -> Callable:
        """``fn`` run inside a span; ``around(args, kwargs)`` may return a
        callback that receives the span after ``fn`` returns."""

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                after = around(args, kwargs) if around else None
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec)
                return out

        traced.__wrapped__ = fn
        return traced

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# Directory deltas around load calls
# ---------------------------------------------------------------------------

def snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """Relative path -> (size, inode, mtime_ns) for every file under root."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def delta(before: dict, after: dict) -> dict:
    """Bytes and data files written, and partition directories touched."""
    written = [p for p, v in after.items() if before.get(p) != v]
    removed = [p for p in before if p not in after]
    return {
        "bytes_written": sum(after[p][0] for p in written),
        "files_written": sum(1 for p in written if p.endswith(".parquet")),
        "partitions_rewritten": len(
            {os.path.dirname(p) for p in written + removed if "=" in os.path.dirname(p)}
        ),
    }


def tree_size(root: str) -> tuple[int, int]:
    """(parquet data files, bytes of all files) under root."""
    files, size = 0, 0
    for p, (sz, _, _) in snapshot(root).items():
        size += sz
        files += p.endswith(".parquet")
    return files, size
