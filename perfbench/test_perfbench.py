"""Tests of the benchmark itself (no Spark): generator determinism, the
self-time, tracing-overhead and round-statistics arithmetic, metric names
against ``BENCHMARK.json``, and the refusal to run without the system under
test.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import datagen
import dml
import ingest_cdc
import metrics
from spans import Tracer, layer_self_times, self_times

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def test_tables_repeat_per_seed():
    a, b = datagen.all_tables(5, 0.001), datagen.all_tables(5, 0.001)
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    other = datagen.all_tables(6, 0.001)
    assert not a["lineitem"].equals(other["lineitem"])
    assert not a["documents"].equals(other["documents"])


def test_lineitem_rid_is_unique_and_follows_orderkey():
    t = datagen.lineitem_with_rid(3, 0.001)
    rid = t["rid"].to_pylist()
    assert rid == list(range(t.num_rows))
    keys = t["l_orderkey"].to_pylist()
    assert keys == sorted(keys)
    pairs = list(zip(keys, t["l_linenumber"].to_pylist()))
    assert len(set(pairs)) < len(pairs)  # why the synthetic key exists


def test_documents_have_twenty_words_or_more():
    docs = datagen.documents(9, 0.01)["text"].to_pylist()
    assert min(len(d.split()) for d in docs) >= 20


def test_op_stream_repeats_per_seed():
    def flat(seed):
        return [(s.kind, s.lo, s.hi, None if s.rows is None else s.rows.to_pydict())
                for c in range(3) for s in dml.cycle(seed, c, 6000)]

    assert flat(1) == flat(1)
    assert flat(1) != flat(2)
    new = [r for c in range(3) for s in dml.cycle(1, c, 6000) if s.rows is not None
           for r in s.rows["rid"].to_pylist() if r >= 6000]
    assert len(new) == len(set(new)) == 3 * dml.NEW_PER_CYCLE


def test_landed_events_repeat_and_order_by_ts():
    ev = datagen.events(4, 0.01)
    a = ingest_cdc.event_records(ev, 0, 500)
    assert a == ingest_cdc.event_records(datagen.events(4, 0.01), 0, 500)
    ts = [r["ts"] for r in a]
    assert ts == sorted(ts) and {len(t) for t in ts} == {26}


def test_self_time_subtracts_covered_child_time():
    spans = [
        (0, None, "round", 0.0, 10.0),
        (1, 0, "tables.table.merge", 1.0, 3.0),
        (2, 0, "tables.table.delete", 2.0, 5.0),   # overlaps the merge
        (3, 0, "tables.log.replay", 8.0, 12.0),    # runs past its parent
        (4, 1, "x.y.z", 1.5, 2.0),
    ]
    got = self_times(spans)
    assert got["round"] == pytest.approx(10 - (4 + 2))
    assert got["tables.table.merge"] == pytest.approx(1.5)
    assert got["tables.table.delete"] == pytest.approx(3.0)
    assert got["tables.log.replay"] == pytest.approx(4.0)
    layers = layer_self_times(spans)
    assert layers["tables.table"] == pytest.approx(4.5)
    assert layers["round"] == pytest.approx(4.0)


def test_trace_ratios_compare_each_traced_round_with_its_neighbours():
    from run import trace_ratios

    # U T U T U; the first round is no one's neighbour
    rounds = [(20.0, False), (11.0, True), (10.0, False), (13.2, True), (12.0, False)]
    assert trace_ratios(rounds) == pytest.approx([1.1, 1.2])
    assert trace_ratios([(5.0, False), (6.0, False)]) == []


def test_counted_rounds_leave_out_stolen_and_traced_rounds():
    from run import counted_rounds

    rounds = [(10.0, False), (10.0, True), (10.0, False), (10.0, False)]
    # 4 CPUs x 10 s: 2% is 0.8 CPU-seconds
    assert counted_rounds(rounds, [0.1, 0.1, 2.0, 0.2], 4) == [0, 3]
    # fewer than two calm rounds: the two that lost the smallest share
    assert counted_rounds(rounds, [5.0, 0.1, 2.0, 0.9], 4) == [2, 3]
    assert counted_rounds([(10.0, False), (20.0, False)], [5.0, 9.0], 4) == [0, 1]


def test_round_metrics_are_medians_over_counted_rounds():
    from common import Op
    from run import round_metrics

    rounds = [(4.0, False), (6.0, False), (100.0, False)]
    ops = [Op(k, s, r, False) for r, (a, b) in enumerate([(1.0, 3.0), (2.0, 4.0), (50.0, 50.0)], 1)
           for k, s in (("read", a), ("write", b))]
    m = round_metrics(rounds, ops, [0, 1])
    assert m["round_s"] == pytest.approx(5.0)
    assert m["op_s_geomean"] == pytest.approx((1.5 * 3.5) ** 0.5)
    assert m["ops_per_s"] == pytest.approx((2 / 4 + 2 / 6) / 2)


def test_tracer_nests_and_disabled_tracer_records_nothing(tmp_path):
    t = Tracer("r", enabled=True)
    with t.span("a"):
        with t.span("b"):
            pass
    (b, a) = t.spans
    assert b[1] == a[0] and a[1] is None
    t.write(tmp_path / "s.jsonl")
    rows = [json.loads(x) for x in (tmp_path / "s.jsonl").read_text().splitlines()]
    assert {r["name"] for r in rows} == {"a", "b"} and {r["run"] for r in rows} == {"r"}
    off = Tracer("r", enabled=False)
    with off.span("a"):
        pass
    assert off.spans == []


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"]: w["why"] for w in spec["workloads"]} == metrics.WORKLOADS
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} \
        == {n: v[:2] for n, v in metrics.PER_LAYER.items()}
    for name, (_, _, e2e, workloads) in metrics.PER_LAYER.items():
        assert e2e in metrics.END_TO_END, name
        assert set(workloads.split()) <= set(metrics.WORKLOADS), name


def test_query_modules_cover_the_headline():
    sys.path.insert(0, str(ROOT))
    import bench

    assert list(metrics.QUERY_MODULES) == bench.HEADLINE


def test_refuses_to_run_without_the_system(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def test_boundary_roundings_allow_one_last_place_only():
    from analytics import boundary_roundings

    cols = ["k", "revenue"]
    spark = [(2, 10.5), (1, 388852.02)]
    assert boundary_roundings(cols, spark, ["revenue", "k"], [(388852.01, 1), (10.5, 2)]) \
        == [(388852.02, 388852.01)]
    assert boundary_roundings(cols, spark, cols, [(1, 388852.0), (2, 10.5)]) is None
    assert boundary_roundings(cols, spark, cols, [(1, 388852.02), (3, 10.5)]) is None
    assert boundary_roundings(cols, [(1, 0.123457)], cols, [(1, 0.123456)]) \
        == [(0.123457, 0.123456)]
    assert boundary_roundings(cols, [(1, 0.12346)], cols, [(1, 0.123456)]) is None
    # 10.5 and 10.6 are ten units apart in a column rounded to 2 places
    assert boundary_roundings(cols, [(1, 10.5), (2, 3.25)], cols, [(1, 10.6), (2, 3.25)]) is None
