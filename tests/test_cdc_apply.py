"""Streaming APPLY CHANGES (streaming/cdc.py): Spark's file stream tails the
source `_tx_log`, the shared log-tail planner picks the files, and the
state table stamps the source version it consumed."""

from __future__ import annotations

import datetime as dt
import shutil

import pytest

from lakehouses_spark.streaming.cdc import start_apply_changes
from lakehouses_spark.tables import LakeTable
from lakehouses_spark.tables.stream_source import (
    LakeTableDataSource,
    plan_log_tail,
)

SCHEMA = "user_id int, event_id long, ts timestamp, value double, event_type string"
T0 = dt.datetime(2024, 1, 1)


def _events(first_id: int, n: int, users: int = 7) -> list[tuple]:
    """``n`` events in ts order; every fifth is an ``error`` (a delete)."""
    return [
        (i % users, i, T0 + dt.timedelta(seconds=i), float(i),
         "error" if i % 5 == 4 else "click")
        for i in range(first_id, first_id + n)
    ]


def _want(rows: list[tuple]) -> list[tuple]:
    """Last change per user by (ts, event_id), minus users ending in an
    error: (user_id, value)."""
    last: dict[int, tuple] = {}
    for r in sorted(rows, key=lambda r: (r[2], r[1])):
        last[r[0]] = r
    return sorted((u, r[3]) for u, r in last.items() if r[4] != "error")


def _have(spark, state_path) -> list[tuple]:
    state = LakeTable(spark, state_path).read()
    return sorted((r.user_id, r.value) for r in state.collect())


def _drain(spark, feed, tmp_path):
    q = start_apply_changes(spark, feed.path, tmp_path / "state", tmp_path / "ckpt")
    q.awaitTermination()
    return q


@pytest.fixture
def feed(spark, tmp_path):
    rows = _events(0, 20)
    return LakeTable.create(spark, tmp_path / "feed",
                            spark.createDataFrame(rows, SCHEMA)), rows


def test_apply_changes_resumes_after_checkpoint_loss(spark, tmp_path, feed):
    """Drain twice, lose the checkpoint, append, drain again: the new
    stream's batch 0 holds the new commit and must apply it (a batch-id
    stamp skipped it as ``0 <= last batch id``)."""
    table, rows = feed
    _drain(spark, table, tmp_path)
    more = _events(20, 20)
    table.append(spark.createDataFrame(more, SCHEMA))
    rows += more
    _drain(spark, table, tmp_path)
    assert _have(spark, tmp_path / "state") == _want(rows)

    shutil.rmtree(tmp_path / "ckpt")
    more = _events(40, 20)
    table.append(spark.createDataFrame(more, SCHEMA))
    rows += more
    _drain(spark, table, tmp_path)
    assert _have(spark, tmp_path / "state") == _want(rows)
    state = LakeTable(spark, tmp_path / "state")
    assert state.last_txn_version(f"apply_changes:{state.path.name}") == table.version


def test_apply_changes_plan_is_native_file_stream(spark, tmp_path, feed):
    """The stream reads the source's commit files with Spark's own file
    source, not a Python data source with its planner worker."""
    table, rows = feed
    q = _drain(spark, table, tmp_path)
    desc = q.lastProgress["sources"][0]["description"]
    assert desc.startswith("FileStreamSource") and "_tx_log" in desc, desc
    assert _have(spark, tmp_path / "state") == _want(rows)


def test_apply_changes_fails_on_source_delete_after_first_drain(
    spark, tmp_path, feed
):
    """A DELETE on the source breaks the append-only feed: the batch fails
    with the `laketable` source's error, and the state stays put."""
    table, rows = feed
    _drain(spark, table, tmp_path)
    v = LakeTable(spark, tmp_path / "state").version
    table.delete("user_id = 1")
    with pytest.raises(Exception, match=r"commit 1 \(DELETE\) removed or deleted rows"):
        _drain(spark, table, tmp_path)
    assert LakeTable(spark, tmp_path / "state").version == v
    assert _have(spark, tmp_path / "state") == _want(rows)


def test_apply_changes_initial_snapshot_after_optimize(spark, tmp_path, feed):
    """OPTIMIZE before the first start is history, not a change: the first
    batch is the current snapshot and streams cleanly; later appends tail."""
    table, rows = feed
    more = _events(20, 20)
    table.append(spark.createDataFrame(more, SCHEMA))
    rows += more
    table.optimize()
    assert [r.operation for r in table.history().collect()][-1] == "OPTIMIZE"
    _drain(spark, table, tmp_path)
    assert _have(spark, tmp_path / "state") == _want(rows)
    more = _events(40, 20)
    table.append(spark.createDataFrame(more, SCHEMA))
    rows += more
    _drain(spark, table, tmp_path)
    assert _have(spark, tmp_path / "state") == _want(rows)


def test_apply_changes_refuses_laketable_checkpoint(spark, tmp_path, feed):
    """A checkpoint whose offsets the `laketable` source wrote cannot
    resume the file stream: fail before starting, naming the fix."""
    table, _ = feed
    spark.dataSource.register(LakeTableDataSource)
    q = (
        spark.readStream.format("laketable")
        .schema(table.schema())
        .option("path", str(table.path))
        .load()
        .writeStream.foreachBatch(lambda df, bid: None)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        _drain(spark, table, tmp_path)
    assert not (tmp_path / "state").exists()


def test_plan_log_tail_fails_on_missing_commits(spark, tmp_path, feed):
    """A commit the tail needs is gone (log cleanup past the consumer):
    fail instead of skipping its rows."""
    table, _ = feed
    for first in (20, 40):
        table.append(spark.createDataFrame(_events(first, 5), SCHEMA))
    assert len(plan_log_tail(str(table.path), 0, 2)) >= 2
    (table.path / "_tx_log" / "0000000001.json").unlink()
    with pytest.raises(RuntimeError, match=r"commits \[1\] .* are gone"):
        plan_log_tail(str(table.path), 0, 2)
