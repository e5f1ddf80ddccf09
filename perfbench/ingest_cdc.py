"""Ingest → CDC half of ``lakehouse``: the medallion streaming path. Each round lands 4 JSON-lines
files of ``events`` (in ``ts`` order) into the landing zone with plain
Python file writes, so the system under test only ingests; drains them to
bronze through ``IngestionEngine`` (availableNow, archival on); then runs
``start_apply_changes`` from bronze to silver.

A round's freshness runs from the moment its files have landed to the
silver commit that includes them.

Checked after the run: bronze holds every landed row exactly once, every
landed file moved to the raw zone, and silver equals the last change per
``user_id`` (by ``ts``, ``event_id``) over all landed rows, minus users
whose last change is an ``error`` event, computed by DuckDB.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import pyarrow as pa

import datagen
from common import Ctx, mean, median

FILES_PER_ROUND = 4
ROWS_PER_FILE = 1000
CFG = {"datasource": "shop", "dataset": "events", "source": {"format": "json"}}


def event_records(ev: pa.Table, start: int, stop: int) -> list[dict]:
    """Events ``[start, stop)`` as the JSON objects landed; ``ts`` is a
    fixed-width ISO string (six fractional digits), so it orders as text."""
    rows = ev.slice(start, stop - start).to_pylist()
    for r in rows:
        r["ts"] = r["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f")
    return rows


class IngestCDC:
    sf = 0.1

    def __init__(self, ctx: Ctx):
        from lakehouses_spark.ingest import IngestionEngine
        from lakehouses_spark.streaming.cdc import start_apply_changes
        from lakehouses_spark.tables import LakeTable

        self.Engine, self.apply_changes, self.LakeTable = (
            IngestionEngine, start_apply_changes, LakeTable)
        self.progress = None
        if ctx.trace:
            from spans import StreamProgress

            self.progress = StreamProgress(ctx.spark)
        self.stream_stats: dict[str, list[dict]] = {
            "ingest.engine.drain": [], "streaming.cdc.apply": []}
        self.txn_s: list[float] = []
        self.fresh_s: list[float] = []
        self.to_probe: list[tuple] = []     # (span, op, stream run id) of the last traced round

    def build(self, ctx: Ctx, dest: Path) -> None:
        self.events = datagen.events(ctx.seed, self.sf)
        self.root = dest
        self.engine = self.Engine(ctx.spark, dest)
        self.bronze = self.engine.bronze_path(CFG)
        self.silver = dest / "silver"
        self.landed: list[dict] = []
        self.landed_files: list[Path] = []
        self.round_i = 0

    @property
    def exhausted(self) -> bool:
        return (self.round_i + 1) * FILES_PER_ROUND * ROWS_PER_FILE > self.events.num_rows

    def _land(self) -> None:
        land = self.engine.landing_dir(CFG) / f"round-{self.round_i:05d}"
        land.mkdir(parents=True, exist_ok=True)
        base = self.round_i * FILES_PER_ROUND * ROWS_PER_FILE
        for j in range(FILES_PER_ROUND):
            recs = event_records(self.events, base + j * ROWS_PER_FILE, base + (j + 1) * ROWS_PER_FILE)
            path = land / f"part-{j}.json"
            path.write_text("".join(json.dumps(r) + "\n" for r in recs))
            self.landed.extend(recs)
            self.landed_files.append(path)

    def _drain(self):
        q = self.engine.write_stream(CFG, self.engine.read_stream(CFG), archive=True)
        q.awaitTermination()
        return q

    def _apply(self):
        q = self.apply_changes(self.engine.spark, self.bronze, self.silver,
                               self.root / "_checkpoints" / "silver")
        q.awaitTermination()
        return q

    def _stream_step(self, ctx: Ctx, span: str, fn, timed: bool) -> None:
        if timed:
            q = ctx.timed(span, fn)
        else:
            ctx.attempted += 1
            with ctx.tracer.span(span):
                q = fn()
        if q is not None and timed and ctx.tracer.enabled:
            self.to_probe.append((span, ctx.ops[-1], str(q.runId)))

    def warm(self, ctx: Ctx) -> None:
        """Round 0: schema inference on the first files, the first start of
        both streams."""
        self._land()
        with ctx.tracer.span("ingest.autoloader.schema_infer"):
            self.engine.file_source(CFG).schema()
        self._stream_step(ctx, "ingest.engine.drain", self._drain, timed=False)
        self._stream_step(ctx, "streaming.cdc.apply", self._apply, timed=False)
        self.round_i += 1

    def round(self, ctx: Ctx, timed: bool = True) -> None:
        self._land()
        landed_at = time.perf_counter()
        self._stream_step(ctx, "ingest.engine.drain", self._drain, timed)
        self._stream_step(ctx, "streaming.cdc.apply", self._apply, timed)
        if timed and ctx.tracer.enabled:
            self.fresh_s.append(time.perf_counter() - landed_at)
        self.round_i += 1

    def after_round(self, ctx: Ctx) -> None:
        """Counters of the last traced round, read outside the round's
        timer: each stream's jobs, tasks and micro-batch progress, and a
        timed ``last_txn_version`` on bronze and on silver."""
        probes, self.to_probe = self.to_probe, []
        for span, op, run_id in probes:
            jobs, tasks = ctx.jobs.count(run_id)   # the stream thread's job group
            op.jobs += jobs
            op.tasks += tasks
            if self.progress is not None:
                self.stream_stats[span].extend(self.progress.wait_terminated(run_id))
        if not probes:
            return
        for path, app in ((self.bronze, f"{CFG['datasource']}.{CFG['dataset']}"),
                          (self.silver, f"apply_changes:{self.silver.name}")):
            with ctx.tracer.span("tables.table.last_txn_version"):
                self.LakeTable(ctx.spark, path).last_txn_version(app)
            self.txn_s.append(ctx.tracer.durations("tables.table.last_txn_version")[-1])

    def check(self, ctx: Ctx) -> None:
        import duckdb

        n = len(self.landed)
        ctx.attempted += 3
        bronze = self.LakeTable(ctx.spark, self.bronze).read()
        got = bronze.selectExpr("count(*)", "count(DISTINCT event_id)").collect()[0]
        if tuple(got) != (n, n):
            ctx.fail(f"bronze holds {got[0]} rows ({got[1]} distinct), {n} landed")
        raw = self.engine.raw_dir(CFG)
        landing = self.engine.landing_dir(CFG)
        left = list(landing.rglob("*.json"))
        archived = [p for p in self.landed_files
                    if (raw / p.relative_to(landing)).is_file()]
        if left or len(archived) != len(self.landed_files):
            ctx.fail(f"{len(left)} landed files not archived; "
                     f"{len(archived)}/{len(self.landed_files)} in the raw zone")
        con = duckdb.connect()
        try:
            con.register("ev", pa.Table.from_pylist(self.landed))
            want = con.execute("""
                SELECT user_id, value, ts FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM ev)
                WHERE rn = 1 AND event_type <> 'error'
                ORDER BY user_id""").fetchall()
        finally:
            con.close()
        silver = self.LakeTable(ctx.spark, self.silver).read()
        have = sorted(tuple(r) for r in silver.select("user_id", "value", "ts").collect())
        if have != [tuple(r) for r in want]:
            ctx.fail(f"silver has {len(have)} rows, DuckDB last-change-per-key {len(want)}; "
                     f"first difference {next((a, b) for a, b in zip(have + [None], want + [None]) if a != b)}")

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        traced = [o for o in ctx.ops if o.traced]
        out: dict[str, float] = {}
        for kind, stat in (("ingest.engine.drain", "drain_s"),
                           ("streaming.cdc.apply", "apply_s")):
            prefix = kind.rsplit(".", 1)[0]
            prog = self.stream_stats[kind]
            runs = max(1, len([o for o in traced if o.kind == kind]))
            out[f"{prefix}.{stat}"] = median(o.seconds for o in traced if o.kind == kind)
            out[f"{prefix}.batches"] = len(prog) / runs
            out[f"{prefix}.add_batch_ms"] = mean(p["duration_ms"].get("addBatch", 0) for p in prog)
            out[f"{prefix}.overhead_ms"] = mean(
                p["duration_ms"].get("triggerExecution", 0) - p["duration_ms"].get("addBatch", 0)
                for p in prog)
        out["streaming.cdc.freshness_s"] = median(self.fresh_s)
        out["ingest.engine.archived_files"] = sum(1 for _ in self.engine.raw_dir(CFG).rglob("*.json"))
        out["ingest.autoloader.schema_infer_s"] = ctx.tracer.total("ingest.autoloader.schema_infer")
        out["tables.table.last_txn_version_s"] = median(self.txn_s)
        out["tables.table.bronze_live_files"] = len(self.LakeTable(ctx.spark, self.bronze).state().files)
        return out

    def close(self, ctx: Ctx) -> None:
        for q in ctx.spark.streams.active:
            q.stop()
        if self.progress is not None:
            self.progress.close()
