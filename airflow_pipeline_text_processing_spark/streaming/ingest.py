"""Structured Streaming ingest -- the reference's 30-minute cron as a stream.

The reference schedules a batch DAG every 30 minutes over a directory
(``/root/reference/dags/dag.py:39-40``) and dedups by *content hash* against
the tracking table (``:452-474``).  The Spark-native form is a file-source
stream:

* ``trigger(processingTime="30 minutes")`` reproduces the cadence;
  ``availableNow=True`` gives catch-up-then-stop batch semantics.
* The file-source checkpoint dedups by *path* only, which is weaker than
  the reference's content-hash semantics (SURVEY.md §4) -- so each
  micro-batch still runs the content-hash anti-join via ``foreachBatch``
  against the tracking table.  Both layers together: the checkpoint
  prevents re-reading old files; the anti-join prevents re-processing
  renamed/copied content.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.streaming import StreamingQuery

from ..plans.pipeline import (
    PipelineConfig,
    chunk_table,
    encode_documents,
    tracking_columns,
)
from ..sources.text_dir import with_descriptor
from ..sources.tracking import TrackingTable


def process_batch(
    spark: SparkSession,
    config: PipelineConfig,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """One micro-batch of the ingest pipeline (module-level so the
    at-least-once replay contract is directly testable: calling this
    twice with the same ``batch_id`` must leave the chunk table
    unchanged)."""
    if batch_df.isEmpty():
        return  # skip-if-empty gate (op 15)
    docs = with_descriptor(batch_df)
    tracking = TrackingTable(spark, config.tracking_path)
    fresh = docs.join(
        F.broadcast(tracking.processed_hashes()), "file_hash", "left_anti"
    )
    # WITHIN-batch content dedup: two same-content files landing in
    # one micro-batch both survive the tracking anti-join (neither
    # hash is recorded yet); keep exactly one -- the lexicographic
    # min path, deterministic across replays -- so the reference's
    # dedup-by-content-hash semantics hold inside a batch too.
    w = Window.partitionBy("file_hash").orderBy("path")
    fresh = (
        fresh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # two terminal actions consume this lineage (chunk sink + tracking
    # append); the lazy cut runs the RS encode ONCE
    encoded = encode_documents(
        fresh, config.chunk_size, config.error_correction_symbols
    ).localCheckpoint(eager=False)
    # IDEMPOTENT chunk sink: an at-least-once replay of batch N (crash
    # between this write and the checkpoint commit) must not duplicate
    # chunks, so each batch owns a `batch=<id>` partition and dynamic
    # partition-overwrite replaces exactly that partition on replay --
    # a plain append would double the rows.
    chunk_table(encoded).withColumn(
        "batch", F.lit(batch_id)
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch").parquet(f"{config.output_dir}/chunks")
    # no processed-text sink on this path: output_file stays NULL
    tracking.append_new(encoded.select(*tracking_columns(F.lit(None))))


def streaming_ingest(
    spark: SparkSession,
    config: PipelineConfig,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "30 minutes",
) -> StreamingQuery:
    """Start the streaming variant of the pipeline; returns the query."""
    stream = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.txt")
        .option("maxFilesPerTrigger", 10000)
        .load(config.input_dir)
        .select(F.input_file_name().alias("path"), F.col("value").alias("text"))
    )

    def _process_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(spark, config, batch_df, batch_id)

    writer = (
        stream.writeStream.foreachBatch(_process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
