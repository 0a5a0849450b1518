"""Document ingestion sources.

Reference semantics (SURVEY.md ops 1-2, 12, 14): list a directory, keep
``*.txt`` regular files, read each whole file, and build the file
descriptor ``{file_path, file_hash, file_size, filename}``
(``/root/reference/dags/dag.py:421-424``, ``:452-470``).

A document is its raw bytes: the ``text`` scan passes them on unchecked,
and only the pipeline's encode UDF decodes them (``plans/pipeline.py``).

Spark-first design: the directory listing, extension filter and whole-file
read are one distributed ``text`` scan with ``wholetext`` +
``pathGlobFilter`` -- the driver never lists or hashes files itself, so a
100 TB corpus ingests with executor parallelism and no driver bottleneck.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def text_files(reader, input_dir: str) -> DataFrame:
    """The whole-file scan of a directory's ``*.txt`` files as ``path,
    text``, one row per file.  ``reader`` is ``spark.read`` or
    ``spark.readStream`` (both take ``format``/``option``/``load``), so the
    batch and streaming sources are built, and list files, the same way."""
    return (
        reader.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.txt")
        .load(input_dir)
        .select(F.input_file_name().alias("path"), F.col("value").alias("text"))
    )


def read_text_dir(spark: SparkSession, input_dir: str) -> DataFrame:
    """Whole-file read of a directory's ``*.txt`` files into the canonical
    documents schema: ``path, filename, text, file_hash, file_size``.

    ``file_hash`` is md5 of the file's raw bytes (ref ``dags/dag.py:456``)
    and ``file_size`` their length (ref ``:457``).
    """
    return with_descriptor(text_files(spark.read, input_dir))


BOOTSTRAP_TEXT = (
    "Lorem ipsum dolor sit amet, consectetur adipiscing elit. "
    "Sed do eiusmod tempor incididunt ut labore et dolore magna aliqua. "
    "Ut enim ad minim veniam, quis nostrud exercitation ullamco laboris "
    "nisi ut aliquip ex ea commodo consequat.\n"
)


def bootstrap_sample(input_dir: str):
    """Reference op 3 (``dags/dag.py:426-443``): when the input directory has
    no ``.txt`` files yet, write a lorem-ipsum fixture so a first pipeline
    run has something to process.  Returns the created path, or None if the
    directory already has input.  Driver-side fixture logic, not a
    distributed operator (SURVEY.md keeps it off the core path)."""
    import glob as _glob
    import os

    os.makedirs(input_dir, exist_ok=True)
    if _glob.glob(os.path.join(input_dir, "*.txt")):
        return None
    path = os.path.join(input_dir, "sample_input.txt")
    with open(path, "w", encoding="utf-8") as f:
        f.write(BOOTSTRAP_TEXT)
    return path


def with_descriptor(df: DataFrame) -> DataFrame:
    """Attach the reference's file-descriptor columns to any ``path, text``
    DataFrame.  A string ``text`` hashes as its bytes, undecoded: the bytes
    Spark read."""
    return df.select(
        "*",
        F.element_at(F.split(F.col("path"), "/"), -1).alias("filename"),
        F.md5(F.col("text")).alias("file_hash"),
        F.octet_length(F.col("text")).cast("long").alias("file_size"),
    )


def documents_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's synthetic ``documents`` parquet with descriptor columns
    mapped onto the reference schema (doc_id stands in for the path).

    The testdata corpus is ONE single-row-group parquet file, which Spark
    cannot split across input partitions -- repartition to the shared
    bytes-proportional target (``sources/spread.py``; a no-op at real
    scale where the corpus has >= cores files)."""
    from .spread import spread_small_scan

    docs = spread_small_scan(
        spark, spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    return with_descriptor(docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("path"),
        "text",
        "doc_id",
        "lang",
        "source",
        "n_chars",
    )).drop("filename")
