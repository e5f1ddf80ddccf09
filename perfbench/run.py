#!/usr/bin/env python3
"""Lakehouse benchmark: one workload per process, on ``local[<effective
CPUs>]``, as a single closed-loop client (the next operation starts when the
previous one returns).

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Run from the repository root. Phases:

1. set-up, timed as ``setup_s``: imports and the Spark session, then the
   workload's inputs are generated from the seed and its tables built
   ``BUILDS`` times (the median build counts), then untimed warm-up
   rounds (one for ``analytics``, three for ``lakehouse``), so that
   measured rounds see a warm JVM;
2. rounds until ``--seconds`` have passed (a round is started only if the
   median round so far still fits); at least the workload's ``min_rounds``
   always run, and a traced run makes at least five; an untraced run adds
   up to ``EXTRA_ROUNDS`` while fewer than two rounds ran calm (see
   ``counted_rounds``); the end-to-end metrics are medians over the rounds
   ``counted_rounds`` keeps;
3. output checks, which count in ``failed``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
alternates untraced and traced rounds (U T U T U at least) and reports
each traced round against the untraced rounds next to it as
``trace.overhead_pct``; counters that only the traced run reads (job
counts, file counts, log probes) are read after a round's timer stops.
Its spans go to
``.perfbench/traces/`` and a self-time summary per layer to standard error.
Every run also writes its full record (seed, effective CPUs, load average at
start and end, git commit, per-op latencies, the JVM's CPU time and the
CPU time stolen by the hypervisor per round) under ``.perfbench/results/``.

All files, Spark's scratch space included, stay under ``.perfbench/`` in the
working directory; the run's own work directory is removed at the end.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILDS = 3
# A traced run alternates untraced and traced rounds: U T U T U. Rounds
# grow (table logs, bronze, silver), so each traced round is compared with
# the untraced rounds next to it; the first round after the warm-up still
# pays JIT compilation, so it is no one's neighbour.
TRACED_MIN_ROUNDS = 5
# A 2 GB driver heap, not get_spark's 8 GB default: with 8 GB, G1 grows a
# young generation the JVM keeps touching for the first time through the
# measured rounds, and on 4 vCPUs the same lakehouse run (seed 9) took
# 11.4 s per round against 8.6 s, falling from round to round, with about a
# third more JVM CPU per round. The whole workload fits in 2 GB.
DRIVER_MEMORY = "2g"
# Share of the machine's CPU time the hypervisor may take during a round
# before the round is left out of the end-to-end metrics (see
# ``counted_rounds``). Calm rounds on a shared 4-vCPU host lose under 1%.
STEAL_MAX = 0.02
# Rounds an untraced run may add, past ``--seconds``, while fewer than two
# of its rounds kept within ``STEAL_MAX``: host contention comes in bursts
# of seconds to minutes, so a later round often runs calm again. An extra
# round starts only if it should end within ``EXTRA_UNTIL`` x ``--seconds``,
# which keeps a run slowed from start to end within its time limit.
EXTRA_ROUNDS = 2
EXTRA_UNTIL = 2.5


def _git_commit(root: Path) -> str:
    if not (root / ".git").exists():
        return "unknown"
    out = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or "unknown"


def trace_ratios(rounds: list[tuple[float, bool]]) -> list[float]:
    """Each traced round's time over the mean of the untraced rounds next
    to it, the first round left out."""
    out = []
    for i, (r, traced) in enumerate(rounds):
        near = [rounds[j][0] for j in (i - 1, i + 1)
                if 1 <= j < len(rounds) and not rounds[j][1]]
        if traced and near:
            out.append(r / (sum(near) / len(near)))
    return out


def counted_rounds(rounds: list[tuple[float, bool]], steal: list[float], cpus: int) -> list[int]:
    """Indices of the rounds the end-to-end metrics count: the untraced
    ones during which the hypervisor took at most ``STEAL_MAX`` of the
    machine's CPU time, or, if fewer than two did, the two untraced rounds
    that lost the smallest share. Stolen time is time the vCPUs did not run
    at all, so the program cannot cause it; a round that lost it measures
    the host."""
    calm = calm_rounds(rounds, steal, cpus)
    if len(calm) >= 2:
        return calm
    untraced = [i for i, (_, t) in enumerate(rounds) if not t] or list(range(len(rounds)))
    return sorted(sorted(untraced, key=lambda i: steal[i] / rounds[i][0])[:2])


def calm_rounds(rounds: list[tuple[float, bool]], steal: list[float], cpus: int) -> list[int]:
    """Indices of the untraced rounds that lost at most ``STEAL_MAX`` of
    the machine's CPU time to the hypervisor."""
    return [i for i, (r, t) in enumerate(rounds) if not t and steal[i] <= STEAL_MAX * cpus * r]


def round_metrics(rounds: list[tuple[float, bool]], ops, counted: list[int]) -> dict[str, float]:
    """End-to-end metrics over the counted rounds (``ctx.round_no`` is the
    index plus one). Each is a median, so one slow round or one slow call
    does not move it: the median round, the geometric mean over operation
    kinds of each kind's median latency, and the median of each round's
    operations per second."""
    from common import geomean, median

    nos = {i + 1 for i in counted}
    by_kind: dict[str, list[float]] = {}
    per_round = {n: 0 for n in nos}
    for o in ops:
        if o.round in nos:
            by_kind.setdefault(o.kind, []).append(o.seconds)
            per_round[o.round] += 1
    return {
        "round_s": median(rounds[i][0] for i in counted),
        "op_s_geomean": geomean(median(v) for v in by_kind.values()),
        "ops_per_s": median(per_round[i + 1] / rounds[i][0] for i in counted),
    }


def _workload(name: str, ctx):
    if name == "analytics":
        from analytics import Analytics
        return Analytics(ctx)
    from lakehouse import Lakehouse
    return Lakehouse(ctx)


def run(args) -> dict:
    from common import Ctx, median
    from metrics import END_TO_END, PER_LAYER
    from spans import (JobCounter, Tracer, java_children, jvm_peak_rss_mb, layer_self_times,
                       proc_cpu_s, steal_s, stop_children)

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    base = ROOT / ".perfbench"
    work = base / "work" / run_id
    work.mkdir(parents=True, exist_ok=True)
    tmp = work / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    cpus = len(os.sched_getaffinity(0))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus,
        "loadavg_start": list(os.getloadavg()), "commit": _git_commit(ROOT),
    }
    tracer = Tracer(run_id, enabled=bool(args.trace))
    sys.path.insert(0, str(ROOT))
    with tracer.span("session.get_spark"):
        from lakehouses_spark.session import get_spark

        spark = get_spark(
            app_name=f"perfbench-{args.workload}", cpus=cpus, driver_memory=DRIVER_MEMORY,
            warehouse_dir=str(work / "warehouse"),
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ctx = Ctx(spark=spark, root=ROOT, seed=args.seed,
                  tracer=tracer, jobs=JobCounter(spark, enabled=False), trace=bool(args.trace))
        wl = _workload(args.workload, ctx)
        ready = time.perf_counter() - T_START

        builds = []
        for i in range(BUILDS):
            dest = work / f"build-{i}"
            t0 = time.perf_counter()
            with tracer.span("setup.build"):
                wl.build(ctx, dest)
            builds.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(work / f"build-{i - 1}", ignore_errors=True)
        t0 = time.perf_counter()
        with tracer.span("setup.warm"):
            wl.warm(ctx)
        warm_s = time.perf_counter() - t0
        setup_s = ready + median(builds) + warm_s
        record["setup_parts_s"] = {"ready": ready, "builds": builds, "warm": warm_s}

        rounds: list[tuple[float, bool]] = []
        jvm = java_children()
        round_cpu: list[float] = []
        round_steal: list[float] = []
        extra = 0
        t_measure, steal0 = time.perf_counter(), steal_s()
        while True:
            traced = bool(args.trace) and len(rounds) % 2 == 1
            tracer.enabled = ctx.jobs.enabled = traced
            ctx.round_no = len(rounds) + 1
            t0, c0, s0 = time.perf_counter(), sum(proc_cpu_s(p) for p in jvm), steal_s()
            with tracer.span("round"):
                wl.round(ctx)
            rounds.append((time.perf_counter() - t0, traced))
            round_cpu.append(sum(proc_cpu_s(p) for p in jvm) - c0)
            round_steal.append(steal_s() - s0)
            if traced:
                with tracer.span("probe"):
                    ctx.count_jobs()
                    wl.after_round(ctx)
            tracer.enabled = bool(args.trace)
            ctx.jobs.enabled = False
            elapsed = time.perf_counter() - t_measure
            need_more = len(rounds) < max(wl.min_rounds, TRACED_MIN_ROUNDS if args.trace else 1)
            need_more = need_more or traced   # a traced round needs an untraced one after it
            next_end = elapsed + median(r for r, _ in rounds)
            if wl.exhausted:
                break
            if not (need_more or next_end <= args.seconds):
                if (args.trace or extra == EXTRA_ROUNDS
                        or next_end > EXTRA_UNTIL * args.seconds
                        or len(calm_rounds(rounds, round_steal, cpus)) >= 2):
                    break
                extra += 1
        measured_s = time.perf_counter() - t_measure
        record["measured_steal_s"] = steal_s() - steal0

        try:
            wl.check(ctx)
        except Exception:  # a check that cannot run is a failed check
            ctx.fail(f"check: {traceback.format_exc(limit=3)}")
        counted = counted_rounds(rounds, round_steal, cpus)
        record["counted_rounds"], record["extra_rounds"] = counted, extra
        values = {"setup_s": setup_s, **round_metrics(rounds, ctx.ops, counted)}
        if args.trace:
            traced_rounds = [r for r, t in rounds if t]
            traced_ops = [o for o in ctx.ops if o.traced]
            layer = {name: 0.0 for name in PER_LAYER}
            layer["session.get_spark_s"] = tracer.total("session.get_spark")
            layer["registry.load_all_queries_s"] = tracer.total("registry.load_all_queries")
            layer.update(wl.layer_metrics(ctx))
            layer["spark.jobs_per_round"] = sum(o.jobs for o in traced_ops) / len(traced_rounds)
            layer["spark.tasks_per_round"] = sum(o.tasks for o in traced_ops) / len(traced_rounds)
            layer["proc.jvm_peak_rss_mb"] = jvm_peak_rss_mb()
            layer["trace.overhead_pct"] = 100.0 * (median(trace_ratios(rounds)) - 1)
            unknown = set(layer) - set(PER_LAYER)
            if unknown:
                raise RuntimeError(f"per-layer metrics missing from metrics.py: {sorted(unknown)}")
            metrics = {n: {"value": float(layer[n]), "unit": PER_LAYER[n][0]} for n in PER_LAYER}
            tracer.write(base / "traces" / f"{run_id}.jsonl")
            self_s = layer_self_times(tracer.spans)
            record["self_time_s"] = self_s
            for name, s in sorted(self_s.items(), key=lambda kv: -kv[1]):
                print(f"perfbench: self time {name:<28} {s:9.3f} s", file=sys.stderr)
            print(f"perfbench: tracing overhead {layer['trace.overhead_pct']:+.1f}% "
                  f"(rounds {[(round(r, 3), 'T' if t else 'U') for r, t in rounds]})",
                  file=sys.stderr)
        else:
            metrics = {n: {"value": float(values[n]), "unit": END_TO_END[n][0]} for n in END_TO_END}
        wl.close(ctx)
    finally:
        spark.stop()
        stop_children(java_children())
        shutil.rmtree(work, ignore_errors=True)

    for e in ctx.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    for n in ctx.notes:
        print(f"perfbench: note {n}", file=sys.stderr)
    record.update({
        "loadavg_end": list(os.getloadavg()), "measured_s": measured_s,
        "rounds_s": rounds, "round_jvm_cpu_s": round_cpu, "round_steal_s": round_steal, "e2e": values, "errors": ctx.errors, "notes": ctx.notes,
        "ops": [[o.kind, o.seconds, o.round, o.traced, o.jobs, o.tasks] for o in ctx.ops],
    })
    out = base / "results" / f"{run_id}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1))
    print(f"perfbench: {args.workload} seed={args.seed} cpus={cpus} "
          f"loadavg={record['loadavg_start'][0]:.2f}->{record['loadavg_end'][0]:.2f} "
          f"commit={record['commit'][:12]} rounds={len(rounds)} record={out}", file=sys.stderr)
    return {
        "correct": not ctx.errors,
        "attempted": ctx.attempted,
        "failed": len(ctx.errors),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    from metrics import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "lakehouses_spark").is_dir() or not (ROOT / "tests" / "oracle.py").is_file():
        print(f"perfbench: the system under test (lakehouses_spark/, tests/oracle.py) "
              f"is missing under {ROOT}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
