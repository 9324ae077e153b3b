"""The benchmark's own arithmetic and tracing, with no Spark dependency
beyond an optional SparkContext handed to :class:`Tracer`.

Kept apart from ``run.py`` so the self-tests (``test_harness.py``) can pin
it without starting Spark.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10
#: score tolerance of the answer check (relative)
SCORE_REL = 1e-9


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it: ``(value, percentile, samples_beyond)``, or None when there are too
    few samples for any percentile to qualify."""
    xs = sorted(samples)
    i = len(xs) - TAIL_BEYOND - 1
    if i < 0:
        return None
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs) - i - 1


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles`` gives
    them: the steadiness figure the benchmark is tuned against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def same_answer(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Same doc order and every score within ``SCORE_REL``."""
    return [d for d, _ in got] == [d for d, _ in want] and all(
        math.isclose(g, w, rel_tol=SCORE_REL, abs_tol=1e-12)
        for (_, g), (_, w) in zip(got, want)
    )


def ranked_by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """Collected ``(query_id, rank, doc_id, score)`` rows → per-query
    ``[(doc_id, score)]`` in rank order."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in by_q.items()}


# ------------------------------------------------------------------ tracing


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    op_id: int | str | None = None
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    _ungrouped_before: frozenset = field(default=frozenset(), repr=False)

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (children may overlap each other; their union counts once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.wall - covered)
    return out


class Tracer:
    """In-memory spans around calls into the engine's layers.

    With a SparkContext, each span runs under its own Spark job group and
    on exit records the jobs, completed tasks and failed tasks it caused.
    Jobs submitted from the engine's own threads carry no group; those that
    appear while a span is open are charged to the innermost span still
    open when they are seen (the benchmark runs one client, so no other
    work submits jobs). The bookkeeping happens after the span's end time
    is taken, so it shows up as self time of the enclosing span: that is
    part of the tracing overhead the run reports."""

    def __init__(self, sc=None):
        self.spans: list[Span] = []
        self._sc = sc
        self._stack: list[int] = []
        self._claimed_jobs: set[int] = set()
        self._claimed_stages: set[int] = set()

    @contextmanager
    def span(self, name: str, op_id: int | str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        idx = len(self.spans)
        sp = Span(name, 0.0, parent=parent, op_id=op_id)
        if self._sc is not None:
            sp._ungrouped_before = frozenset(self._ungrouped_jobs())
            self._sc.setJobGroup(self._group(idx), name)
        self.spans.append(sp)
        self._stack.append(idx)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._account(idx)
                if parent is not None:
                    self._sc.setJobGroup(self._group(parent), self.spans[parent].name)
                else:
                    self._sc._jsc.clearJobGroup()

    @staticmethod
    def _group(idx: int) -> str:
        return f"perfbench-span-{idx}"

    def _ungrouped_jobs(self) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(None))

    def _account(self, idx: int) -> None:
        sp = self.spans[idx]
        # the status store is fed by an asynchronous listener bus: drain it
        # so every job this span caused is visible and finished
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(self._group(idx)))
        jobs |= set(self._ungrouped_jobs()) - sp._ungrouped_before
        jobs -= self._claimed_jobs
        self._claimed_jobs |= jobs
        sp.jobs = len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for st in info.stageIds if info else ():
                if st in self._claimed_stages:
                    continue
                self._claimed_stages.add(st)
                stage = tracker.getStageInfo(st)
                if stage:
                    sp.tasks += stage.numCompletedTasks
                    sp.failed_tasks += stage.numFailedTasks

    def dump(self) -> list[dict]:
        """Spans as plain records with their self time."""
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op_id": s.op_id, "self_s": st, "jobs": s.jobs, "tasks": s.tasks,
             "failed_tasks": s.failed_tasks}
            for s, st in zip(self.spans, self_times(self.spans))
        ]
