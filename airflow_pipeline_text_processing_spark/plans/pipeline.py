"""The DNA text-processing pipeline as composable DataFrame transforms.

This is the reference's entire 5-task DAG (``/root/reference/dags/dag.py:776-845``)
re-expressed as ONE declarative Spark job (SURVEY.md §3.1, §7.2):

    docs      = read wholetext .txt + descriptor cols          (ops 1-2, 14)
    fresh     = docs LEFT ANTI JOIN tracking ON file_hash      (op 13)
    encoded   = fresh + encode_verify(text bytes)              (ops 23, 32-41)
    validated = per-chunk checksum + round-trip md5 equality   (ops 43-44)
    rebuilt   = order-sensitive reassembly                     (ops 21-22)
    sinks     = processed text, chunk table, report, DLQ,
                tracking upsert                                (ops 5-11)

A document is its raw bytes: ``file_hash`` is their md5, and the encode
UDF decodes them as UTF-8 once.  A document that fails goes alone to the
DLQ with its ``error_message``, `NOT_UTF8` or `CHECKSUM_MISMATCH`.

Scale design:

* The hot path (`encode_documents`) never shuffles: chunking, encoding,
  validation and reassembly all happen inside ONE fused Arrow pass per
  task (``codec_udfs.make_encode_verify``), because chunks stay in an array
  column on their document's row.  The reference's serial per-file loop
  (``dags/dag.py:723-733``) becomes embarrassingly parallel partition work,
  and each task pays the pandas-UDF fixed cost once, not once per UDF.
* `run_tick` puts a ``rebalance`` hint on the fresh set before the
  encode, so the encode's tasks are cut from the NEW rows, spread evenly
  over ``spark.sql.shuffle.partitions`` tasks, rather than inheriting the
  directory scan's partitions (a tick that lands 32 new files among 280
  would otherwise run the UDF in all 9 scan partitions, each holding a few
  new rows).  The hint is a shuffle, so it sits in the caller, outside
  `encode_documents`, which stays shuffle-free for callers whose input is
  already sized.
* There is one tick, `run_tick`; the batch run (`run_pipeline`) and the
  stream (``streaming/ingest.py::process_batch``) only build its input.
  It runs the Spark actions its result needs: ``inputFiles()`` counts the
  listed files (no job), one tally aggregate on the cached encode, one
  write per non-empty sink, and the tracking append.
* Re-running a tick is safe.  `_write_sink` writes every sink (processed,
  chunks, reports, DLQ) by overwriting its ``batch=<key>`` partition
  directory, so readers of the JSON sinks see a ``batch`` column too.  The
  key is ``bit_xor(xxhash64(file_hash, path))`` over the fresh rows, an
  order-independent fingerprint of the fresh set taken in the tally (no
  extra job).  Until tracking commits, a re-run after a crash sees the same
  set, so the same key, and replaces its own partial output.  Two fresh
  sets share a key with probability 2^-64.  Blind spot: files that land
  between a crash and its re-run change the key; the partial output stays.
* The chunk-level relational view (`chunk_table`) and the groupBy
  reassembly (`reassemble_from_chunk_table`) exist for chunk sinks and for
  SQL users; they shuffle by document key only when asked for.
* The tracking anti-join broadcasts only the key column of the tracking
  table.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..codec.chunker import DEFAULT_CHUNK_SIZE, DEFAULT_RS_NSYM
from ..functions.codec_udfs import decode_chunks, dna_decode, make_encode_verify
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


NOT_UTF8 = "not valid UTF-8"
CHECKSUM_MISMATCH = "reconstruction checksum mismatch"


def encode_documents(
    docs: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    nsym: int = DEFAULT_RS_NSYM,
) -> DataFrame:
    """Chunk + encode + validate + reconstruct, zero-shuffle.

    Input needs ``text`` and ``file_hash`` columns.  Adds:
    ``chunks`` (array<struct>), ``dna_chunks_count``, ``total_dna_bases``,
    ``reconstructed_text``, ``reconstructed_checksum``, ``status``,
    ``error_message`` (a failed document's reason).

    ``chunks`` is NULL when ``text``'s bytes are not UTF-8;
    ``reconstructed_text`` is NULL then and on any chunk-checksum failure
    (op 43); the md5 comparison reproduces the whole-document round-trip
    gate (op 44, ref ``plugins/utils/dna_encoding.py:448-456``).
    """
    enc = make_encode_verify(chunk_size, nsym)
    chunks = F.col("_rt.chunks")
    text = F.col("_rt.reconstructed_text")
    out = docs.withColumn("_rt", enc(F.col("text").cast("binary"))).select(
        "*",
        chunks.alias("chunks"),
        F.size(chunks).alias("dna_chunks_count"),
        F.aggregate(
            chunks,
            F.lit(0).cast("long"),
            lambda acc, c: acc + F.length(c["dna_sequence"]),
        ).alias("total_dna_bases"),
        text.alias("reconstructed_text"),
        F.md5(text).alias("reconstructed_checksum"),
    ).drop("_rt")
    completed = F.col("reconstructed_checksum") == F.col("file_hash")
    return out.select(
        "*",
        F.when(completed, "completed").otherwise("failed").alias("status"),
        F.when(completed, None).when(F.col("chunks").isNull(), NOT_UTF8)
        .otherwise(CHECKSUM_MISMATCH).alias("error_message"),
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
    decoded_bytes || error_correction_code.  The stored code is the
    reference's artifact, the tail of the interleaved ``rs_encode`` stream
    past the payload, and that tail is the payload's parity only when the
    payload fits one RS block (at most 255 - nsym = 245 bytes).  So up to
    nsym/2 corrupted bytes are recoverable in a chunk of at most 245 bytes;
    a longer chunk, every full chunk at the default 1000-byte size
    included, is detected but not repaired (``rs_repair`` yields NULL, or
    a payload that fails the checksum).  Adds ``repaired_ok`` (repair
    succeeded) and ``data_bytes`` (best-known payload: raw when clean,
    corrected when repaired, raw-decode otherwise) columns."""
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
    SURVEY.md op-21 signature aggregate: each document's chunks go through
    ``rebuild_text``, which sorts by ``index`` (deterministic under
    shuffle, SURVEY.md §7.4) and decodes UTF-8 after joining the bytes.
    Any chunk failing its checksum nulls its document's text."""
    return (
        chunks.groupBy("file_hash")
        .agg(
            decode_chunks(F.collect_list(F.struct(
                "index", "dna_sequence", "original_length_bytes", "checksum"
            ))).alias("reconstructed_text"),
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


def tracking_columns(output_file: Column) -> list:
    """The tracking-record projection of an encoded frame (ops 9-10): one
    row per document in ``TrackingTable.append_new``'s column set, with
    its ``error_message``.  `run_tick` passes the document's
    ``processed/batch=<key>/`` path as ``output_file``."""
    return [
        "file_hash",
        F.col("path").alias("file_path"),
        "file_size",
        F.current_timestamp().alias("processed_at"),
        "status",
        output_file.cast("string").alias("output_file"),
        "error_message",
        F.current_timestamp().alias("created_at"),
    ]


def _write_sink(df: DataFrame, path: str, fmt: str, key: int) -> None:
    """Replace the ``batch=<key>`` partition of one sink, leaving every
    other partition alone: the one writer of every tick sink.  Overwriting
    the partition's directory gives the layout and re-run semantics of a
    ``partitionBy`` dynamic overwrite without its slower partitioned
    writer."""
    df.write.mode("overwrite").format(fmt).save(f"{path}/batch={key}")


def run_tick(
    spark: SparkSession, config: PipelineConfig, docs: DataFrame
) -> tuple[int, int]:
    """One tick over ``docs`` (``read_text_dir``'s schema): skip tracked
    content, encode, write the sinks under the fresh set's key (module
    docstring), then track.  Returns the (completed, failed) counts."""
    tracking = TrackingTable(spark, config.tracking_path)
    fresh = docs.join(
        F.broadcast(tracking.processed_hashes()), "file_hash", "left_anti"
    ).hint("rebalance")
    encoded = encode_documents(
        fresh, config.chunk_size, config.error_correction_symbols
    ).cache()
    try:
        completed = F.col("status") == "completed"
        n_ok, n, key = encoded.agg(
            F.count_if(completed),
            F.count("*"),
            F.bit_xor(F.xxhash64("file_hash", "path")),
        ).first()
        if not n:  # nothing new: no sink, no tracking write
            return 0, 0
        out = config.output_dir
        if n_ok:  # sinks (ops 5-8): processed text, chunk table
            ok = encoded.filter(completed)
            _write_sink(ok.select(
                "path", "filename", F.col("reconstructed_text").alias("text")
            ), f"{out}/processed", "json", key)
            _write_sink(chunk_table(ok), f"{out}/chunks", "parquet", key)
        if n > n_ok:  # DLQ (ops 11, 50): failed docs with error metadata
            # the file's raw bytes as binary, which JSON stores as base64:
            # a string column would turn invalid UTF-8 into U+FFFD
            _write_sink(encoded.filter(~completed).select(
                F.col("path").alias("original_file"),
                "error_message",
                F.current_timestamp().alias("timestamp"),
                F.lit(config.run_id).alias("run_id"),
                F.col("text").cast("binary").alias("content"),
            ), config.dlq_dir, "json", key)
        # report and tracking upsert (ops 8-10); tracking is the commit
        _write_sink(document_report(encoded, config), f"{out}/reports", "json", key)
        tracking.append_new(encoded.select(*tracking_columns(F.concat(
            F.lit(f"{out}/processed/batch={key}/"), F.col("filename")
        ))))
    finally:
        encoded.unpersist()
    return n_ok, n - n_ok


def run_pipeline(spark: SparkSession, config: PipelineConfig) -> dict:
    """One batch run == one reference DAG tick (30-min schedule, op 45).

    Returns run counters (processed / skipped-as-duplicate / failed).
    ``skipped`` is every listed file that was neither processed nor failed:
    already-tracked content, and files that yield no document row (an
    empty ``.txt`` is listed but the wholetext reader gives it no row).
    """
    docs = read_text_dir(spark, config.input_dir)
    # the file index listed the directory when the frame was built:
    # counting its files runs no Spark job
    listed = len(docs.inputFiles())
    if not listed:  # skip-if-empty gate (op 15, ref dags/dag.py:816-821)
        return {"processed": 0, "skipped": 0, "failed": 0, "status": "skipped"}
    n_ok, n_bad = run_tick(spark, config, docs)
    return {
        "processed": n_ok,
        "failed": n_bad,
        "skipped": listed - n_ok - n_bad,
        "status": "success",
    }
