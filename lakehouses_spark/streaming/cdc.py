"""Streaming APPLY CHANGES INTO — the DLT/Delta CDC pattern as a
continuously-maintained current-state table, composed from the engine's own
pieces (the streaming sibling of the batch `lake_cdc_apply` query):

    Spark's native file stream over the source's _tx_log commit files
      (one micro-batch = the commits that landed since the last one; its
      highest version is the batch's end_v — Delta's "the log is the
      stream" design)
      → plan the source files for (stamp, end_v] through the same log-tail
        planner as the `laketable` source (stream_source.plan_log_tail):
        the snapshot at end_v when the state table has no stamp yet, else
        the files added by the commits after the stamp
      → native parquet read of exactly those files (LakeTable._snapshot:
        column mapping + tombstones)
      → LAST-change collapse per key (one window over the batch's rows —
        batch-sized, never table-sized)
      → ONE conditional MERGE into the state LakeTable: keys whose
        terminal op matches ``delete_when`` tombstone via the
        WHEN MATCHED AND <del> THEN DELETE clause, the rest update-or-insert
        — one affected-file scan / write / commit per batch
      → (app_id, end_v) stamp riding the MERGE commit: the state table
        records the SOURCE VERSION it consumed, so a replayed micro-batch
        (end_v <= stamp) is skipped and a restart from a lost checkpoint
        resumes at the stamp instead of at batch 0 → exactly-once

One small Spark job reads the batch's end_v out of its commit files; the
planner reads the commits themselves on the driver. No Python planner
worker sits between the trigger and the MERGE.

Sequencing contract: micro-batches arrive in FEED ORDER (commit versions
are dense and published in order), so within-batch collapse plus
latest-batch-wins merging equals global last-writer-wins — the same
assumption DLT's APPLY CHANGES makes of its source. An out-of-order feed
would need a sequence-guarded merge (only overwrite when s.seq ≥ t.seq);
that variant trades one extra predicate in the join condition, not a
different plan shape. A source commit that removes or deletes rows (DELETE,
UPDATE, MERGE, OPTIMIZE after the first drain) breaks the append-only feed
and fails the batch with the `laketable` source's error.

At 100 TB every stage is bounded: each batch reads only the files its
commits added, the collapse window runs on the micro-batch only, and each
MERGE rewrites just the files containing touched keys.
Reference analog: the continuous upsert step of the medallion silver layer
(notebooks/04.delta_lake/02.delta_lake_primer.py:312-320 MERGE, driven by
the incremental ingestion loop of 02.ingestas_ficheros/03.ingesta_
incremental_v2 [json].py:211-235).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from lakehouses_spark.tables import LakeTable
from lakehouses_spark.tables import log as txlog
from lakehouses_spark.tables.stream_source import plan_log_tail

# commit files only: checkpoint-*.json is excluded by the glob, and the
# file source already skips hidden .tmp-* files
COMMIT_GLOB = "[0-9]*.json"


def _refuse_laketable_checkpoint(checkpoint: Path) -> None:
    """Fail loudly on a checkpoint written by the earlier `laketable`
    source form of this stream (offset ``{"version": N}``): the file
    stream cannot resume from it."""
    offsets = checkpoint / "offsets"
    batches = [int(f.name) for f in offsets.glob("*") if f.name.isdigit()]
    if not batches:
        return
    # Spark's offset log: "v1", the batch metadata, then the source offset
    offset = (offsets / str(max(batches))).read_text().splitlines()[2]
    if "version" in json.loads(offset):
        raise RuntimeError(
            f"checkpoint {checkpoint} was written by the `laketable` "
            f"stream source (offset {offset}); APPLY CHANGES now tails the "
            "source's _tx_log with Spark's file stream and cannot resume "
            "from it. Start it with a fresh checkpoint directory: the state "
            "table stamps the source version it consumed, so a fresh "
            "checkpoint resumes where it left off"
        )


def _end_version(batch_df: DataFrame) -> int:
    """Highest commit version among the micro-batch's commit files (one
    row per file: ``wholetext``)."""
    return max(
        r[0] for r in batch_df.select(
            F.get_json_object("value", "$.version").cast("long")
        ).collect()
    )


def start_apply_changes(
    spark: SparkSession,
    source_table: str | Path,
    state_path: str | Path,
    checkpoint: str | Path,
    keys: tuple[str, ...] = ("user_id",),
    seq_cols: tuple[str, ...] = ("ts", "event_id"),
    delete_when: str = "event_type = 'error'",
    carry_cols: tuple[str, ...] = ("value", "ts"),
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start (or resume) the APPLY CHANGES stream. Returns the query."""
    source = LakeTable(spark, source_table)
    state_path = Path(state_path)
    _refuse_laketable_checkpoint(Path(checkpoint))
    app_id = f"apply_changes:{state_path.name}"
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in seq_cols])

    commits = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", COMMIT_GLOB)
        .load(str(txlog.log_dir(source.path)))
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        end_v = _end_version(batch_df)
        t = LakeTable(spark, state_path)
        stamp = t.last_txn_version(app_id)  # -1 before the first MERGE
        if end_v <= stamp:
            return  # replayed micro-batch: these commits are already applied
        rels = plan_log_tail(str(source.path), stamp, end_v, initial=stamp < 0)
        changes = source._snapshot(
            source.state(version=end_v), [str(source.path / r) for r in rels]
        )
        if not txlog.list_versions(state_path):
            by_name = {f.name: f for f in changes.schema.fields}
            LakeTable.create(
                spark, state_path,
                spark.createDataFrame(
                    [], StructType([by_name[c] for c in (*keys, *carry_cols)])
                ),
            )
        if not rels:
            return  # metadata-only commits: nothing to apply
        # ONE conditional MERGE per micro-batch: the terminal row set
        # carries a precomputed delete flag; keys whose terminal op matches
        # ``delete_when`` delete, the rest update-or-insert. The
        # (app_id, end_v) stamp rides the MERGE commit.
        terminal = (
            changes.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("__del", F.expr(delete_when))
            .select(*keys, *carry_cols, "__del")
            .localCheckpoint()  # one collapse job; the merge legs reuse it
        )
        t.merge(
            terminal,
            on,
            when_matched_update="all",
            when_not_matched_insert="all",
            when_matched_delete="s.__del",
            when_not_matched_insert_condition="NOT __del",
            txn_app=app_id,
            txn_version=end_v,
            # uniqueness is structural: terminal is the row_number()=1
            # collapse keyed on exactly the merge keys
            source_unique_on_key=True,
        )

    return (
        commits.writeStream.foreachBatch(apply)
        .option("checkpointLocation", str(checkpoint))
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
