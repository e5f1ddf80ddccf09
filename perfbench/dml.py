"""Table DML: one seeded op stream of table DML and reads, run through
``LakeTable`` (the DML half of ``lakehouse``).

The table is sf0.05 ``lineitem`` (300,000 rows) plus a unique ``rid``
key, clustered by ``l_orderkey`` into 16 files; ``rid`` follows
``l_orderkey`` order, so a ``rid`` range touches a contiguous run of files.
sf0.05 rather than sf0.1 halves the rows the table's creation writes and
the size of the files each copy-on-write verb rewrites, which pays for a
third warm-up round within the benchmark's time budget. One round is one
cycle: MERGE upsert, copy-on-write DELETE, UPDATE, APPEND, stats-pruned
point read, full scan aggregate, and a time-travel read three versions
back.

Every read result is recorded and checked after the run against DuckDB
replaying the same op stream on the same start rows; the final table and
version are checked too. Aggregates are exact integers (cents), so the two
engines' summation orders cannot differ in the last digit.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import Ctx, mean, median

MERGE_EXISTING, MERGE_NEW, DELETE_N, UPDATE_N, APPEND_N = 300, 100, 200, 400, 400
NEW_PER_CYCLE = MERGE_NEW + APPEND_N
TIME_TRAVEL_BACK = 3
NUM_FILES = 16
SF = 0.05
WRITE_KINDS = ("merge", "delete", "update", "append")
UPDATE_SET = {"l_quantity": "l_quantity + 1", "l_discount": "round(l_discount + 0.01, 2)"}
AGG = (
    "count(*) AS n", "CAST(sum(l_quantity) AS BIGINT) AS qty",
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents",
    "sum(CAST(round(l_discount * 100) AS BIGINT)) AS disc",
)


def source_rows(rids: np.ndarray, tag: int) -> pa.Table:
    """Rows a MERGE or APPEND writes: every column a function of ``rid``
    and the op's ``tag``, so the DuckDB replay rebuilds the same rows."""
    k = tag
    return pa.table({
        "l_orderkey": rids // 4,
        "l_partkey": (rids * 7 + k) % 20_000,
        "l_suppkey": (rids * 13 + k) % 1_000,
        "l_linenumber": (rids % 7 + 1).astype(np.int32),
        "l_quantity": ((rids * 7 + k) % 50 + 1).astype(np.float64),
        "l_extendedprice": np.round(900 + ((rids * 31 + k * 17) % 10_410_000) / 100.0, 2),
        "l_discount": ((rids + k) % 11) / 100.0,
        "l_tax": ((rids + 2 * k) % 9) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[(rids + k) % 3],
        "l_linestatus": np.array(["F", "O"])[(rids + k) % 2],
        "l_shipdate": datagen.ORDER_DAY0 + ((rids + k) % 2400) * datagen.US_PER_DAY,
        "rid": rids,
    })


@dataclass
class Step:
    kind: str
    lo: int = 0
    hi: int = 0
    rows: pa.Table | None = None
    version: int = -1      # version after a write / version read back
    result: tuple | None = None


def cycle(seed: int, c: int, n_rows: int) -> list[Step]:
    """The seeded op stream's cycle ``c``. New keys are allocated past the
    initial ``n_rows`` in a fixed block per cycle, independent of timing."""
    r = datagen.rng(seed, f"dml-cycle-{c}")
    new0 = n_rows + c * NEW_PER_CYCLE
    a = int(r.integers(0, n_rows - MERGE_EXISTING))
    merge_rids = np.concatenate([np.arange(a, a + MERGE_EXISTING),
                                 np.arange(new0, new0 + MERGE_NEW)])
    x = int(r.integers(0, n_rows - DELETE_N))
    y = int(r.integers(0, n_rows - UPDATE_N))
    app = np.arange(new0 + MERGE_NEW, new0 + NEW_PER_CYCLE)
    return [
        Step("merge", rows=source_rows(merge_rids, 10 * c + 1)),
        Step("delete", x, x + DELETE_N),
        Step("update", y, y + UPDATE_N),
        Step("append", rows=source_rows(app, 10 * c + 4)),
        Step("point_read", lo=int(r.integers(0, n_rows))),
        Step("scan_agg"),
        Step("time_travel"),
    ]


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _where(lo: int, hi: int) -> str:
    return f"rid >= {lo} AND rid < {hi}"


class TableDML:
    """Runs the op stream over a ``LakeTable``."""

    def __init__(self):
        self.cycle = 0
        self.steps: list[Step] = []
        self.probe_s: list[float] = []      # log replay / snapshot, per traced cycle
        self.file_ratio: list[float] = []   # files scanned / live, per traced point read
        self.io: dict[str, list[tuple[int, int]]] = {k: [] for k in WRITE_KINDS}
        self.to_probe: list[Step] = []      # steps of the last traced cycle

    def build(self, ctx: Ctx, dest: Path) -> None:
        self.start = datagen.lineitem_with_rid(ctx.seed, SF)
        self.n_rows = self.start.num_rows
        dest.mkdir(parents=True, exist_ok=True)
        pq.write_table(self.start, dest / "lineitem.parquet")
        self.dest = dest

    def warm(self, ctx: Ctx) -> None:
        """Create the table from the built rows, then one untimed cycle: the
        first call of each verb pays JIT and class loading, several times
        its steady cost."""
        from lakehouses_spark.tables import LakeTable

        src = ctx.spark.read.parquet(str(self.dest / "lineitem.parquet"))
        self.schema = src.schema
        with ctx.tracer.span("tables.table.create"):
            self.t = LakeTable.create(ctx.spark, self.dest / "lake", src,
                                      partition_by=["l_orderkey"], num_files=NUM_FILES)
        self.v0 = self.version_now = self.t.version
        self._run_cycle(ctx, timed=False)

    def round(self, ctx: Ctx, timed: bool = True) -> None:
        self._run_cycle(ctx, timed)

    def _run_cycle(self, ctx: Ctx, timed: bool) -> None:
        t, sp = self.t, ctx.spark
        steps = cycle(ctx.seed, self.cycle, self.n_rows)
        for s in steps:
            src = None
            if s.rows is not None:
                src = sp.createDataFrame(s.rows.to_pandas(), schema=self.schema)
            if s.kind == "time_travel":
                s.version = max(self.v0, self.version_now - TIME_TRAVEL_BACK)
            run = {
                "merge": lambda: t.merge(src, "t.rid = s.rid"),
                "delete": lambda: t.delete(_where(s.lo, s.hi)),
                "update": lambda: t.update(UPDATE_SET, _where(s.lo, s.hi)),
                "append": lambda: t.append(src),
                "point_read": lambda: t.read(filters=[("rid", "==", s.lo)])
                .selectExpr(*AGG).collect()[0],
                "scan_agg": lambda: t.read().selectExpr(*AGG).collect()[0],
                "time_travel": lambda: t.read(version=s.version).selectExpr(*AGG).collect()[0],
            }[s.kind]
            if timed:
                out = ctx.timed(f"tables.table.{s.kind}", run)
            else:
                ctx.attempted += 1
                try:
                    with ctx.tracer.span(f"tables.table.{s.kind}"):
                        out = run()
                except Exception as e:  # counted, and the run goes on
                    ctx.fail(f"warm-up tables.table.{s.kind}: {e!r}")
                    out = None
            if s.kind in WRITE_KINDS:
                s.version = self.version_now = t.version
            if out is not None and s.kind not in WRITE_KINDS:
                s.result = tuple(int(v or 0) for v in out)
            self.steps.append(s)
        if timed and ctx.tracer.enabled:
            self.to_probe = steps
        self.cycle += 1

    def after_round(self, ctx: Ctx) -> None:
        """Counters of the last traced cycle, read outside the round's
        timer: each write's commit (files removed, bytes added), the point
        read's scanned files, and a timed log replay. Reads only come after
        the cycle's writes, so the live files now are those the point read
        saw."""
        from lakehouses_spark.tables import log as txlog

        t, steps, self.to_probe = self.t, self.to_probe, []
        for s in steps:
            if s.kind in WRITE_KINDS:
                c = txlog.read_commit(t.path, s.version)
                self.io[s.kind].append((len(c.get("remove") or []),
                                        sum(a.get("size_bytes") or 0 for a in c.get("add") or [])))
            elif s.kind == "point_read":
                scanned = len(t.read(filters=[("rid", "==", s.lo)]).inputFiles())
                self.file_ratio.append(scanned / max(1, len(t.state().files)))
        if steps:
            with ctx.tracer.span("tables.log.replay"):
                t.state()
            self.probe_s.append(ctx.tracer.durations("tables.log.replay")[-1])

    def check(self, ctx: Ctx) -> None:
        """Replay the op stream in DuckDB and compare every read, every
        write's version number, and the final table."""
        import duckdb

        con = duckdb.connect()
        try:
            con.register("start_rows", self.start)
            con.execute("CREATE TABLE t AS SELECT * FROM start_rows")
            con.unregister("start_rows")
            agg = lambda where="true": tuple(  # noqa: E731
                int(v or 0) for v in
                con.execute(f"SELECT {', '.join(AGG)} FROM t WHERE {where}").fetchone())
            last_v = self.v0
            at_version = {last_v: agg()}
            for i, s in enumerate(self.steps):
                ctx.attempted += 1
                if s.kind in ("merge", "append"):
                    con.register("src", s.rows)
                    con.execute("DELETE FROM t WHERE rid IN (SELECT rid FROM src)")
                    con.execute("INSERT INTO t SELECT * FROM src")
                    con.unregister("src")
                elif s.kind == "delete":
                    con.execute(f"DELETE FROM t WHERE {_where(s.lo, s.hi)}")
                elif s.kind == "update":
                    con.execute(
                        "UPDATE t SET l_quantity = l_quantity + 1, "
                        f"l_discount = round(l_discount + 0.01, 2) WHERE {_where(s.lo, s.hi)}")
                if s.kind in WRITE_KINDS:
                    if s.version != last_v + 1:
                        ctx.fail(f"tables.table step {i} {s.kind}: version {s.version}, "
                                 f"expected {last_v + 1}")
                    last_v = s.version
                    at_version[last_v] = agg()
                    continue
                expected = {
                    "point_read": lambda: agg(f"rid = {s.lo}"),
                    "scan_agg": agg,
                    "time_travel": lambda: at_version.get(s.version),
                }[s.kind]()
                if s.result != expected:
                    ctx.fail(f"tables.table step {i} {s.kind}: got {s.result}, "
                             f"DuckDB replay {expected}")
            ctx.attempted += 1
            final = tuple(int(v or 0) for v in self.t.read().selectExpr(*AGG).collect()[0])
            if final != agg() or self.t.version != last_v:
                ctx.fail(f"tables.table final table {final} v{self.t.version}, "
                         f"DuckDB {agg()} v{last_v}")
        finally:
            con.close()

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        from lakehouses_spark.tables import log as txlog

        t = self.t
        traced = [o for o in ctx.ops if o.traced]

        def ops(k):
            return [o for o in traced if o.kind == f"tables.table.{k}"]

        out: dict[str, float] = {}
        for k in ("merge", "delete", "update", "append", "point_read", "scan_agg"):
            out[f"tables.table.{k}_s"] = median(o.seconds for o in ops(k))
        for k in WRITE_KINDS:
            out[f"tables.table.{k}_spark_jobs"] = mean(o.jobs for o in ops(k))
        dml_io = [io for k in ("merge", "delete", "update") for io in self.io[k]]
        all_io = [io for k in WRITE_KINDS for io in self.io[k]]
        out["tables.table.rewritten_files_per_dml"] = mean(r for r, _ in dml_io)
        out["tables.table.write_mb_per_op"] = mean(b for _, b in all_io) / 1e6
        out["tables.table.time_travel_s"] = median(o.seconds for o in ops("time_travel"))
        out["tables.table.live_files"] = len(t.state().files)
        out["tables.table.point_read_file_ratio"] = mean(self.file_ratio)
        out["tables.log.replay_s"] = median(self.probe_s)
        out["tables.log.commits"] = len(txlog.list_versions(t.path))
        out["tables.log.checkpoints"] = len(txlog.list_checkpoints(t.path))
        out["tables.log.log_bytes"] = dir_bytes(txlog.log_dir(t.path))
        return out

    def close(self, ctx: Ctx) -> None:
        pass
