"""The DNA text-processing pipeline as composable DataFrame transforms.

This is the reference's entire 5-task DAG (``/root/reference/dags/dag.py:776-845``)
re-expressed as ONE declarative Spark job (SURVEY.md §3.1, §7.2):

    docs      = read wholetext .txt + descriptor cols          (ops 1-2, 14)
    fresh     = docs LEFT ANTI JOIN tracking ON file_hash      (op 13)
    encoded   = fresh + encode_verify(text)                    (ops 23, 32-41)
    validated = per-chunk checksum + round-trip md5 equality   (ops 43-44)
    rebuilt   = order-sensitive reassembly                     (ops 21-22)
    sinks     = processed text, chunk table, report, DLQ,
                tracking upsert                                (ops 5-11)

Scale design:

* The hot path (`encode_documents`) never shuffles: chunking, encoding,
  validation and reassembly all happen inside ONE fused Arrow pass per
  task (``codec_udfs.make_encode_verify``), because chunks stay in an array
  column on their document's row.  The reference's serial per-file loop
  (``dags/dag.py:723-733``) becomes embarrassingly parallel partition work,
  and each task pays the pandas-UDF fixed cost once, not once per UDF.
* `run_pipeline` puts a ``rebalance`` hint on the fresh set before the
  encode, so the encode's tasks are cut from the NEW rows, spread evenly
  over ``spark.sql.shuffle.partitions`` tasks, rather than inheriting the
  directory scan's partitions (a tick that lands 32 new files among 280
  would otherwise run the UDF in all 9 scan partitions, each holding a few
  new rows).  The hint is a shuffle, so it sits in the caller, outside
  `encode_documents`, which stays shuffle-free for callers whose input is
  already sized.
* A tick runs only the Spark actions its result needs: the listed-file
  count comes from ``inputFiles()`` (no job); one tally aggregate on the
  cached encode gives the completed/failed counts; then one write per
  non-empty sink (processed text, chunk table, report, DLQ) and the
  tracking append.  A clean tick writes no DLQ; a tick with nothing new
  writes nothing.
* The chunk-level relational view (`chunk_table`) and the declarative
  groupBy reassembly (`reassemble_from_chunk_table`) exist for chunk sinks
  and for SQL users; they shuffle by document key only when asked for.
* The tracking anti-join broadcasts only the key column of the tracking
  table.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..codec.chunker import DEFAULT_CHUNK_SIZE, DEFAULT_RS_NSYM
from ..functions.codec_udfs import dna_decode, make_encode_verify
from ..sources.text_dir import read_text_dir
from ..sources.tracking import TrackingTable


@dataclass
class PipelineConfig:
    """Engine analog of the reference's Airflow Variables
    (``dags/dag.py:53-91``)."""

    input_dir: str = "data/input"
    output_dir: str = "data/output"
    tracking_path: str = "data/tracking"
    dlq_dir: str = "data/dead_letter"
    chunk_size: int = DEFAULT_CHUNK_SIZE          # Variable chunk_size=1000
    error_correction_symbols: int = DEFAULT_RS_NSYM  # Variable=10
    run_id: str = "manual"


def encode_documents(
    docs: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    nsym: int = DEFAULT_RS_NSYM,
) -> DataFrame:
    """Chunk + encode + validate + reconstruct, zero-shuffle.

    Input needs ``text`` and ``file_hash`` columns.  Adds:
    ``chunks`` (array<struct>), ``dna_chunks_count``, ``total_dna_bases``,
    ``reconstructed_text``, ``reconstructed_checksum``, ``status``.

    ``reconstructed_text`` is NULL on any chunk-checksum or UTF-8 failure
    (op 43); the md5 comparison reproduces the whole-document round-trip
    gate (op 44, ref ``plugins/utils/dna_encoding.py:448-456``).
    """
    enc = make_encode_verify(chunk_size, nsym)
    chunks = F.col("_rt.chunks")
    text = F.col("_rt.reconstructed_text")
    out = docs.withColumn("_rt", enc(F.col("text"))).select(
        "*",
        chunks.alias("chunks"),
        F.size(chunks).alias("dna_chunks_count"),
        F.aggregate(
            chunks,
            F.lit(0).cast("long"),
            lambda acc, c: acc + F.length(c["dna_sequence"]),
        ).alias("total_dna_bases"),
        text.alias("reconstructed_text"),
        F.md5(F.encode(text, "UTF-8")).alias("reconstructed_checksum"),
    ).drop("_rt")
    return out.withColumn(
        "status",
        F.when(
            F.col("reconstructed_checksum") == F.col("file_hash"), F.lit("completed")
        ).otherwise(F.lit("failed")),
    )


def chunk_table(encoded: DataFrame) -> DataFrame:
    """Explode to one row per chunk (the ``.dna``/``.meta.json`` analog,
    ops 6-7).  Narrow transform -- no shuffle."""
    return encoded.select(
        "file_hash",
        F.col("path").alias("file_path"),
        F.posexplode("chunks").alias("pos", "chunk"),
    ).select(
        "file_hash",
        "file_path",
        F.col("chunk.chunk_id").alias("chunk_id"),
        F.col("chunk.index").alias("index"),
        F.col("chunk.dna_sequence").alias("dna_sequence"),
        F.col("chunk.original_length_bytes").alias("original_length_bytes"),
        F.col("chunk.error_correction_code").alias("error_correction_code"),
        F.col("chunk.checksum").alias("checksum"),
        F.col("chunk.chunk_size").alias("chunk_size"),
    )


def validate_chunk_table(chunks: DataFrame, repair: bool = False) -> DataFrame:
    """Declarative per-chunk integrity predicate (op 43): decode the DNA at
    the recorded width and compare md5 to the stored checksum.

    With ``repair=True`` (op 42, the reference's dead-but-shipped
    ``decode_with_error_correction`` at ``plugins/utils/dna_encoding.py:
    250-268``, made live here as an opt-in branch): chunks whose raw decode
    fails the checksum get a Reed-Solomon correction pass over
    decoded_bytes || parity_tail -- up to nsym/2 corrupted bytes per chunk
    are recoverable.  Adds ``repaired_ok`` (repair succeeded) and
    ``data_bytes`` (best-known payload: raw when clean, corrected when
    repaired, raw-decode otherwise) columns."""
    decoded = dna_decode(F.col("dna_sequence"), F.col("original_length_bytes"))
    if not repair:
        return chunks.withColumn("valid", F.md5(decoded) == F.col("checksum"))
    from ..functions.codec_udfs import rs_repair

    out = (
        chunks.withColumn("_decoded", decoded)
        .withColumn("_raw_ok", F.md5("_decoded") == F.col("checksum"))
        .withColumn(
            "_repaired",
            rs_repair(F.concat("_decoded", "error_correction_code")),
        )
    )
    return (
        out.withColumn(
            "repaired_ok",
            # coalesce: rs_repair yields NULL when uncorrectable, which must
            # read as "not repaired", not NULL-poison the valid flag
            ~F.col("_raw_ok")
            & F.coalesce(F.md5("_repaired") == F.col("checksum"), F.lit(False)),
        )
        .withColumn("valid", F.col("_raw_ok") | F.col("repaired_ok"))
        .withColumn(
            "data_bytes",
            F.when(F.col("repaired_ok"), F.col("_repaired")).otherwise(
                F.col("_decoded")
            ),
        )
        .drop("_decoded", "_raw_ok", "_repaired")
    )


def reassemble_from_chunk_table(chunks: DataFrame) -> DataFrame:
    """Order-sensitive reassembly from an (unordered) chunk table -- the
    SURVEY.md op-21 signature aggregate, in pure built-in expressions:
    per-chunk decode, then sort-by-index inside the group and concatenate.

    ``array_sort`` on ``struct(index, piece)`` sorts by ``index`` first, so
    the concatenation order is deterministic under shuffle (SURVEY.md §7.4).
    """
    decoded = chunks.withColumn(
        "piece",
        F.decode(
            dna_decode(F.col("dna_sequence"), F.col("original_length_bytes")),
            "UTF-8",
        ),
    )
    return (
        decoded.groupBy("file_hash")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("index", "piece"))),
                    lambda c: c["piece"],
                ),
                "",
            ).alias("reconstructed_text"),
            F.count("*").alias("dna_chunks_count"),
            F.sum(F.length("dna_sequence")).alias("total_dna_bases"),
        )
    )


def document_report(encoded: DataFrame, config: PipelineConfig) -> DataFrame:
    """Per-document JSON report rows (ref ``dags/dag.py:585-608``)."""
    return encoded.select(
        F.col("path").alias("file_path"),
        F.col("file_hash").alias("original_checksum"),
        "reconstructed_checksum",
        "dna_chunks_count",
        "total_dna_bases",
        F.lit(config.chunk_size).alias("chunk_size"),
        F.lit(config.error_correction_symbols).alias("error_correction_symbols"),
        "status",
        F.transform(
            "chunks",
            lambda c: F.struct(
                c["chunk_id"].alias("chunk_id"),
                c["index"].alias("index"),
                F.length(c["dna_sequence"]).alias("dna_length"),
                c["checksum"].alias("checksum"),
                c["chunk_size"].alias("chunk_size"),
            ),
        ).alias("chunks_info"),
    )


CHECKSUM_MISMATCH = "reconstruction checksum mismatch"


def tracking_columns(output_file: Column) -> list:
    """The tracking-record projection of an encoded frame (ops 9-10): one
    row per document in ``TrackingTable.append_new``'s column set.  Shared
    by the batch tick and the streaming micro-batch so both record a failed
    document the same way; ``output_file`` is the processed-sink path, NULL
    where no processed sink is written."""
    return [
        "file_hash",
        F.col("path").alias("file_path"),
        "file_size",
        F.current_timestamp().alias("processed_at"),
        "status",
        output_file.cast("string").alias("output_file"),
        F.when(F.col("status") != "completed", F.lit(CHECKSUM_MISMATCH)).alias(
            "error_message"
        ),
        F.current_timestamp().alias("created_at"),
    ]


def run_pipeline(spark: SparkSession, config: PipelineConfig) -> dict:
    """One batch run == one reference DAG tick (30-min schedule, op 45).

    Returns run counters (processed / skipped-as-duplicate / failed).
    ``skipped`` is every listed file that was neither processed nor failed:
    already-tracked content, and files that yield no document row (an
    empty ``.txt`` is listed but the wholetext reader gives it no row).
    """
    tracking = TrackingTable(spark, config.tracking_path)

    docs = read_text_dir(spark, config.input_dir)
    # the file index listed the directory when the frame was built:
    # counting its files runs no Spark job
    listed = len(docs.inputFiles())
    if not listed:  # skip-if-empty gate (op 15, ref dags/dag.py:816-821)
        return {"processed": 0, "skipped": 0, "failed": 0, "status": "skipped"}

    fresh = docs.join(
        F.broadcast(tracking.processed_hashes()), "file_hash", "left_anti"
    ).hint("rebalance")
    encoded = encode_documents(
        fresh, config.chunk_size, config.error_correction_symbols
    ).cache()
    completed = F.col("status") == "completed"
    n_ok, n = encoded.agg(F.count_if(completed), F.count("*")).first()
    n_bad = n - n_ok

    if n_ok:  # sinks (ops 5-8): processed text, chunk table
        ok = encoded.filter(completed)
        ok.select(
            "path", "filename", F.col("reconstructed_text").alias("text")
        ).write.mode("append").json(f"{config.output_dir}/processed")
        # batch=-1 keeps the chunk table's on-disk layout IDENTICAL to the
        # streaming ingest's `batch=<id>` partitioning (streaming/ingest.py):
        # a shared output_dir would otherwise mix partitioned and flat files
        # under one root and fail Spark partition discovery, and readers
        # would see a `batch` column on one path but not the other (ADVICE
        # r15).  -1 is reserved: real micro-batch ids are non-negative.
        chunk_table(ok).withColumn("batch", F.lit(-1)).write.mode(
            "append"
        ).partitionBy("batch").parquet(f"{config.output_dir}/chunks")
    if n_bad:  # DLQ (ops 11, 50): failed docs with error metadata
        encoded.filter(~completed).select(
            F.col("path").alias("original_file"),
            F.lit(CHECKSUM_MISMATCH).alias("error_message"),
            F.current_timestamp().alias("timestamp"),
            F.lit(config.run_id).alias("run_id"),
            "text",
        ).write.mode("append").json(config.dlq_dir)
    if n:  # report and tracking upsert (ops 8-10)
        document_report(encoded, config).write.mode("append").json(
            f"{config.output_dir}/reports"
        )
        tracking.append_new(encoded.select(*tracking_columns(F.concat(
            F.lit(f"{config.output_dir}/processed/"), F.col("filename")
        ))))
    encoded.unpersist()
    return {
        "processed": n_ok,
        "failed": n_bad,
        "skipped": listed - n,
        "status": "success",
    }
