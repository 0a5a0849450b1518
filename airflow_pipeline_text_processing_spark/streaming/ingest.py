"""Structured Streaming ingest -- the reference's 30-minute cron as a stream.

The reference schedules a batch DAG every 30 minutes over a directory
(``/root/reference/dags/dag.py:39-40``) and dedups by *content hash* against
the tracking table (``:452-474``).  The Spark-native form is a file-source
stream:

* ``trigger(processingTime="30 minutes")`` reproduces the cadence;
  ``availableNow=True`` gives catch-up-then-stop batch semantics.
* The file-source checkpoint dedups by *path* only, weaker than the
  reference's content-hash semantics (SURVEY.md §4), so each micro-batch
  runs the pipeline's one tick (``plans.pipeline.run_tick``) through
  ``foreachBatch``: the content-hash anti-join and every sink the batch run
  writes.  An empty micro-batch writes nothing (the tick's tally is 0).
* Each tick writes a ``batch=<key>`` partition of every sink, so the JSON
  sinks carry a ``batch`` column.  The key is a fingerprint of the fresh
  ``(file_hash, path)`` set (2^-64 collision bound), not the micro-batch
  id, so a replay overwrites its own partial output -- unless files landed
  between the crash and the replay, which changes the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.pipeline import PipelineConfig, run_tick
from ..sources.text_dir import text_files, with_descriptor


def process_batch(
    spark: SparkSession,
    config: PipelineConfig,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """One micro-batch: the tick over its files.  ``batch_id`` is unused:
    the tick keys its sinks by the fresh set, so a replay replaces its
    own output."""
    run_tick(spark, config, with_descriptor(batch_df))


def streaming_ingest(
    spark: SparkSession,
    config: PipelineConfig,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "30 minutes",
) -> StreamingQuery:
    """Start the streaming variant of the pipeline; returns the query."""
    stream = text_files(
        spark.readStream.option("maxFilesPerTrigger", 10000), config.input_dir
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
