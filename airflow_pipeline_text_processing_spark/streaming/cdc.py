"""Streaming CDC apply: a change stream upserted into a manifest-backed
parquet table, micro-batch by micro-batch.

This composes the two halves the repo already has -- Structured
Streaming's ``foreachBatch`` (ingest.py) and the copy-on-write
``merge_upsert`` on manifest tables (sources/manifest.py) -- into the
standard "apply CDC feed to a lakehouse table" pattern: each micro-batch
collapses to one row per key (last-write-wins by a sequence column,
resolved with a window INSIDE the batch so late duplicates in the same
batch can't race), then merges, rewriting only the files its keys touch.

Exactly-once story: ``foreachBatch`` is at-least-once on recovery (a
batch can re-run after a crash), but ``merge_upsert`` is idempotent on
table CONTENTS for a given batch -- replaying the same keyed batch
replaces the same keys with the same values -- so the table converges to
exactly-once semantics without a transaction log.  Epoch numbers may
advance on replay; contents do not change.  (Same recovery reasoning as
the idempotent tracking insert, sources/tracking.py.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..sources.manifest import merge_upsert


def latest_per_key(batch: DataFrame, key_col: str, seq_col: str) -> DataFrame:
    """Collapse a change batch to one row per key: highest ``seq_col``
    wins.  EXACT seq ties (two updates for one key carrying the same
    sequence number in one batch) break on the md5 of the full row
    payload -- a total order over arbitrary column types -- so the
    winner is a function of row CONTENT, never of partition/iteration
    order: a crash-replay of the batch picks the same row, which the
    exactly-once convergence argument below requires."""
    tie = F.md5(F.to_json(F.struct(*[F.col(c) for c in batch.columns])))
    w = Window.partitionBy(key_col).orderBy(F.col(seq_col).desc(), tie.desc())
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_changes_to_table(
    changes: DataFrame,
    path: str,
    key_col: str,
    seq_col: str,
    checkpoint_dir: str,
):
    """Start a streaming query that upserts ``changes``, without their
    ``seq_col``, into the manifest table at ``path``.  The query drains
    what the source holds (``availableNow``) and stops; returns the
    StreamingQuery (caller awaits/stops)."""

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        collapsed = latest_per_key(batch, key_col, seq_col).drop(seq_col)
        merge_upsert(batch.sparkSession, path, collapsed, key_col)

    return (
        changes.writeStream.foreachBatch(_apply)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
