"""``analytics``: the 12 headline registry queries (``bench.HEADLINE``), one
round = every query once in a seeded order, the Spark cache cleared before
each so every run scans parquet through ``io.load_table``.

The tables are generated at sf0.05: a round is then short enough that each
run measures two rounds within the benchmark's time budget. The JVM is
still compiling during the first rounds after the warm-up (JVM CPU per round
falls by about a third from the first measured round to the third); over
three 10-seed sets the median (mean) of two rounds spread as little as the
median of three (IQR/median 0.10-0.11), and both less than one round at
sf0.1. Most of a query's time is fixed per-query overhead, so sf0.05 keeps
the shape of sf0.1.

Outputs are checked twice: the warm-up result of each query against its
DuckDB oracle SQL through ``tests/oracle.py``, and every timed result
against the warm-up result's hash.

The oracles round float aggregates in both engines, but a sum whose exact
value sits on a rounding boundary (``x.xx5``) can round either way depending
on summation order: Spark's partial sums and DuckDB's differ in the last
bit. On seeded data this happens, so when the exact comparison fails the
rows are compared again allowing each float cell one unit in its last
rounded place; every such cell is reported, and anything else still fails.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import datagen
from common import Ctx, median
from metrics import QUERY_MODULES


class _Collected:
    """The parts of a DataFrame ``oracle.compare`` reads, from rows already
    collected, so the oracle check does not run the query again."""

    def __init__(self, columns, dtypes, rows):
        self.columns, self.dtypes, self._rows = columns, dtypes, rows

    def collect(self):
        return self._rows


def _canon(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return repr(v)


def _decimals(x: float) -> int:
    r = repr(x)
    return 17 if "e" in r else len(r.partition(".")[2])


def boundary_roundings(cols, rows, d_cols, d_rows) -> list[tuple] | None:
    """The float cells where the two results differ by exactly one unit in
    the last rounded place of their column (the most decimals any value of
    that column shows), if that is their only difference; else None."""
    def canon(cs, rs):
        order = sorted(range(len(cs)), key=lambda i: cs[i])
        out = [tuple(r[i] for i in order) for r in rs]
        return sorted(out, key=lambda r: tuple(
            (isinstance(x, float), x if not isinstance(x, float) else 0.0, repr(x)) for x in r))

    if sorted(cols) != sorted(d_cols) or len(rows) != len(d_rows):
        return None
    s_rows, d_rows = canon(cols, rows), canon(d_cols, d_rows)
    places = [max((_decimals(x) for r in s_rows + d_rows for x in (r[i],)
                   if isinstance(x, float)), default=0) for i in range(len(cols))]
    flips = []
    for s, d in zip(s_rows, d_rows):
        for i, (x, y) in enumerate(zip(s, d)):
            if x == y:
                continue
            if not (isinstance(x, float) and isinstance(y, float)):
                return None
            if abs(x - y) > 10.0 ** -places[i] * 1.000001:
                return None
            flips.append((x, y))
    return flips


def result_hash(rows) -> str:
    """Order-insensitive hash of collected rows; floats to 9 significant
    digits, the precision the oracle comparison uses."""
    canon = sorted(repr(tuple(_canon(v) for v in r)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


class Analytics:
    sf = 0.05
    min_rounds = 2
    exhausted = False

    def __init__(self, ctx: Ctx):
        sys.path.insert(0, str(ctx.root))
        import bench
        from lakehouses_spark.registry import load_all_queries

        with ctx.tracer.span("registry.load_all_queries"):
            registry = load_all_queries()
        self.queries = {n: registry[n] for n in bench.HEADLINE}
        # metric names keep the module each query had when the benchmark
        # was defined, so they stay comparable if a query moves
        self.module = {n: QUERY_MODULES[n] for n in self.queries}
        self.warm_results: dict[str, _Collected] = {}
        self.hashes: dict[str, str] = {}
        self.sf_dir = ""

    def build(self, ctx: Ctx, dest: Path) -> None:
        datagen.write_tables(datagen.all_tables(ctx.seed, self.sf), dest)
        self.sf_dir = str(dest)

    def warm(self, ctx: Ctx) -> None:
        with ctx.tracer.span("queries.warmup_round"):
            for n, q in self.queries.items():
                ctx.spark.catalog.clearCache()
                with ctx.tracer.span(f"queries.{self.module[n]}.{n}"):
                    df = q.fn(ctx.spark, self.sf_dir)
                    rows = df.collect()
                self.warm_results[n] = _Collected(df.columns, dict(df.dtypes), rows)
                self.hashes[n] = result_hash(rows)
        if ctx.trace:
            # host fingerprint: a bare count over every input table
            from lakehouses_spark.io import TABLES, load_table

            ctx.spark.catalog.clearCache()
            with ctx.tracer.span("io.load_table_scan"):
                for t in TABLES:
                    load_table(ctx.spark, self.sf_dir, t).count()

    def round(self, ctx: Ctx) -> None:
        order = datagen.rng(ctx.seed, f"analytics-round-{ctx.round_no}").permutation(
            list(self.queries))
        for n in order:
            fn = self.queries[n].fn
            ctx.spark.catalog.clearCache()
            rows = ctx.timed(f"queries.{self.module[n]}.{n}",
                             lambda: fn(ctx.spark, self.sf_dir).collect())
            if rows is not None and result_hash(rows) != self.hashes[n]:
                ctx.fail(f"{n}: round {ctx.round_no} result differs from the warm-up result")

    def after_round(self, ctx: Ctx) -> None:
        pass

    def check(self, ctx: Ctx) -> None:
        sys.path.insert(0, str(ctx.root / "tests"))
        import oracle

        con = oracle.duckdb_connection(self.sf_dir)
        try:
            for n, q in self.queries.items():
                ctx.attempted += 1
                got = self.warm_results[n]
                try:
                    oracle.compare(got, con, q.oracle)
                except AssertionError as e:
                    rel = con.sql(q.oracle)
                    flips = boundary_roundings(got.columns, got.collect(),
                                               rel.columns, rel.fetchall())
                    if not flips:
                        ctx.fail(f"{n}: oracle mismatch: {e}")
                        continue
                    for x, y in flips:
                        ctx.notes.append(f"{n}: rounding-boundary cell, Spark {x!r}, DuckDB {y!r}")
        finally:
            con.close()

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        traced = [o for o in ctx.ops if o.traced]
        rounds = max(1, len({o.round for o in traced}))
        out = {
            "queries.warmup_round_s": ctx.tracer.total("queries.warmup_round"),
            "io.load_table_scan_s": ctx.tracer.total("io.load_table_scan"),
        }
        for n, mod in self.module.items():
            ops = [o for o in traced if o.kind == f"queries.{mod}.{n}"]
            out[f"queries.{mod}.{n}_s"] = median(o.seconds for o in ops)
            key = f"queries.{mod}.spark_jobs"
            out[key] = out.get(key, 0.0) + sum(o.jobs for o in ops) / rounds
        return out

    def close(self, ctx: Ctx) -> None:
        pass


