"""Run context, operation records and the statistics every workload shares."""

from __future__ import annotations

import statistics
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from spans import JobCounter, Tracer


@dataclass
class Op:
    """One timed call: ``kind`` names the operation, ``seconds`` its
    latency, ``traced`` whether the round ran with tracing on."""

    kind: str
    seconds: float
    round: int
    traced: bool
    jobs: int = 0
    tasks: int = 0
    group: str | None = None   # job group whose jobs are not counted yet


@dataclass
class Ctx:
    spark: object
    root: Path
    seed: int
    tracer: Tracer
    jobs: JobCounter
    trace: bool
    ops: list[Op] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)
    attempted: int = 0
    round_no: int = 0

    def timed(self, kind: str, fn):
        """Run ``fn`` as one operation named ``kind`` (the layer call it
        wraps, e.g. ``tables.table.merge``): its latency is recorded as an
        ``Op``, and under tracing it also runs inside a span of that name
        and a job group, whose jobs and tasks ``count_jobs`` adds to the
        ``Op`` once the round is over. A raised error is recorded and the
        operation counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind), self.jobs.group() as gid:
                out = fn()
        except Exception:  # a failed operation is a result, not a crash
            self.fail(f"{kind}: {traceback.format_exc(limit=3)}")
            return None
        dt = time.perf_counter() - t0
        self.ops.append(Op(kind, dt, self.round_no, self.tracer.enabled, group=gid))
        return out

    def count_jobs(self) -> None:
        """Jobs and tasks of every op whose job group is not counted yet."""
        for o in self.ops:
            if o.group is not None:
                jobs, tasks = self.jobs.count(o.group)
                o.jobs, o.tasks, o.group = o.jobs + jobs, o.tasks + tasks, None

    def fail(self, msg: str) -> None:
        self.errors.append(msg)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = list(xs)
    return statistics.geometric_mean(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0
