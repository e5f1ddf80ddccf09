"""``lakehouse``: the table and streaming layers in one process. Each round
runs one table-DML cycle on a ``LakeTable`` (``dml.py``), then one ingest →
CDC round (``ingest_cdc.py``); the two take about 4 s each.

The two halves share one JVM, so the JIT warm-up of the table verbs that
both paths use (MERGE, appends, log replay) is paid once.
"""

from __future__ import annotations

from pathlib import Path

from common import Ctx
from dml import TableDML
from ingest_cdc import IngestCDC


WARM_ROUNDS = 3


class Lakehouse:
    min_rounds = 3

    def __init__(self, ctx: Ctx):
        self.ingest = IngestCDC(ctx)
        self.parts = (TableDML(), self.ingest)

    @property
    def exhausted(self) -> bool:
        return self.ingest.exhausted

    def build(self, ctx: Ctx, dest: Path) -> None:
        for i, p in enumerate(self.parts):
            p.build(ctx, dest / str(i))

    def warm(self, ctx: Ctx) -> None:
        """Each part's first round, then ``WARM_ROUNDS - 1`` more untimed
        rounds. The JVM keeps compiling for about six rounds: in one
        14-round run (4 vCPUs) the JVM's CPU per round fell from 15.6 s in
        the third round to a plateau of 8-9 s from the seventh, and the
        wall time from 8.6 s to 6.2-6.7 s. Each warm-up round costs about
        7 s of set-up, so three are run and the medians absorb the rest."""
        for p in self.parts:
            p.warm(ctx)
        for _ in range(WARM_ROUNDS - 1):
            for p in self.parts:
                p.round(ctx, timed=False)

    def round(self, ctx: Ctx) -> None:
        for p in self.parts:
            p.round(ctx)

    def after_round(self, ctx: Ctx) -> None:
        for p in self.parts:
            p.after_round(ctx)

    def check(self, ctx: Ctx) -> None:
        for p in self.parts:
            p.check(ctx)

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in self.parts:
            out.update(p.layer_metrics(ctx))
        return out

    def close(self, ctx: Ctx) -> None:
        for p in self.parts:
            p.close(ctx)
