"""Tabular source/sink surface: parquet / csv / json / text, one entry
point each way.

The reference's only sources are a directory of whole .txt files and a
Postgres tracking table (SURVEY.md ops 1-4); its sinks are text, per-chunk
files, JSON reports, and tracking inserts (ops 5-11).  The engine
generalizes both ends to the standard Spark formats so a user can point
the same pipeline at parquet/csv/json datasets without touching operator
code.  Scale notes: parquet is the only format with predicate pushdown +
column pruning + vectorized reading; csv/json scans are line-parallel but
schema-on-read -- always pass an explicit schema in production (schema
inference reads the data twice).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# orc: Spark's second built-in columnar format (schema-carrying, predicate
# pushdown); xml: built-in since Spark 4 (rowTag-framed; pass an explicit
# schema on read -- inference re-scans and can widen types)
_READ_FORMATS = {"parquet", "csv", "json", "text", "orc", "xml"}


def read_table(
    spark: SparkSession,
    path: str,
    format: str = "parquet",
    schema: Optional[StructType] = None,
    **options: str,
) -> DataFrame:
    """Read a dataset directory/file as a DataFrame.

    csv defaults to ``header=true``; pass an explicit ``schema`` wherever
    the format cannot carry one (csv/json/text) to avoid the inference
    scan and to pin column types for oracle-stable comparisons.
    """
    if format not in _READ_FORMATS:
        raise ValueError(f"unsupported format: {format}")
    reader = spark.read.format(format)
    if format == "csv":
        reader = reader.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_table(
    df: DataFrame,
    path: str,
    format: str = "parquet",
    partition_by: Optional[list] = None,
    **options: str,
) -> None:
    """Write a DataFrame out, replacing ``path``; ``partition_by``
    produces hive-style directory partitioning (the scale path for
    selective reads: partition pruning skips whole directories)."""
    if format not in _READ_FORMATS:
        raise ValueError(f"unsupported format: {format}")
    writer = df.write.format(format).mode("overwrite")
    if format == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list,
    n_buckets: int,
    sort_cols: Optional[list] = None,
    path: Optional[str] = None,
) -> None:
    """Write ``df`` as a BUCKETED parquet table, replacing ``table``:
    rows are hash-partitioned into ``n_buckets`` files per task-output
    by ``bucket_cols`` (optionally sorted within each bucket by
    ``sort_cols``).

    This is the 100 TB co-location primitive: two tables bucketed by the
    same key with the same bucket count join WITHOUT any Exchange -- the
    bucketing metadata proves both sides already share the join
    partitioning, so a fact-to-fact join (e.g. orders-lineitem, repeated
    every day) skips its shuffle entirely.  Equality filters on the bucket
    column also prune to a single bucket's files at scan time
    (``SelectedBucketsCount`` in the scan).  Bucketing requires the table
    catalog (``saveAsTable``); pass ``path`` to keep the data external.
    """
    writer = df.write.format("parquet").mode("overwrite").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def zorder_key(col_a: str, col_b: str, bits: int = 12):
    """Morton (Z-order) interleaved-bit sort key over two ALREADY
    NORMALIZED non-negative integer columns (each in ``[0, 2^bits)``):
    bit i of ``col_a`` lands at position 2i+1, of ``col_b`` at 2i.

    Pure SQL higher-order aggregate over a bit-index sequence -- JVM-side,
    codegen-resident, no Python.  Sorting by this key gives a layout where
    ranges of BOTH columns are locally clustered, which is what makes
    min/max row-group statistics selective for two-predicate scans (the
    range-predicate complement to hash bucketing; same construction as
    Delta/Iceberg OPTIMIZE ZORDER)."""
    import pyspark.sql.functions as F

    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> "
        f"acc + shiftleft(shiftright({col_a}, i) & 1, 2*i + 1)"
        f"    + shiftleft(shiftright({col_b}, i) & 1, 2*i))"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 12,
    num_files: int = 8,
    **options: str,
) -> None:
    """Write ``df`` as parquet laid out in Z-order over two numeric
    columns -- the DATA-SKIPPING primitive for multi-column range
    predicates.

    A single-column sort makes min/max pruning perfect on that column and
    useless on any other; interleaving the bits of both (rank-normalized)
    columns into one Morton key and range-partitioning + sorting by it
    keeps each file/row-group tight in BOTH dimensions, so a scan with
    ``a BETWEEN .. AND b BETWEEN ..`` prunes most row groups from
    footer statistics alone -- no data read.  This is bucketing's
    complement: bucketing co-locates equality joins, Z-order localizes
    range scans (the two layouts a 100 TB table chooses between per
    access pattern).

    Normalization is exact integer min-max scaling into ``[0, 2^bits)``
    (floor division; DOUBLE never enters the key, so the layout is
    deterministic).  The min/max bounds are one 1-row aggregate collect
    -- bounded driver traffic, same justification as the IVF centroid
    seed.  The key column is dropped before write; the layout is pure
    physical organization, invisible to readers."""
    import pyspark.sql.functions as F

    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a).cast("long"),
        F.max(col_a).cast("long"),
        F.min(col_b).cast("long"),
        F.max(col_b).cast("long"),
    ).first()

    def norm(col: str, lo: int, hi: int) -> str:
        span = max(int(hi) - int(lo), 0) + 1
        return f"(({col} - {int(lo)}) * {1 << bits}L) div {span}"

    keyed = df.withColumn(
        "_zkey",
        zorder_key(norm(col_a, lo_a, hi_a), norm(col_b, lo_b, hi_b), bits),
    )
    (
        keyed.repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .options(**options)
        .parquet(path)
    )


def read_evolving_parquet(
    spark: SparkSession, *paths: str, **options: str
) -> DataFrame:
    """Read parquet written under an EVOLVING schema (columns added over
    time) as one DataFrame: ``mergeSchema`` unions the footers' schemas and
    older files surface the missing columns as nulls.

    Schema merge is footer metadata work, not a data scan, so the cost is
    per-file-footer -- at 100 TB prefer pinning the latest schema via
    ``.schema(...)`` once it is known and letting the reader null-fill,
    which skips the merge pass entirely; this helper is the
    discovery/backfill path.
    """
    reader = spark.read.option("mergeSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(*paths)


def compact_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    roughly ``target_bytes`` each; returns the output file count.

    Long-running ingest (streaming micro-batches, per-task commits at high
    parallelism) strews datasets with tiny files whose per-file open/footer
    cost eventually dominates scans.  The output file count derives from
    the actual input byte size (driver-side filesystem metadata -- no data
    scan, no collect); the rewrite itself is one narrow-into-shuffle
    repartition.  Hive-partitioned layouts should compact per partition
    directory (call this once per partition path) so partition pruning
    survives the rewrite.
    """
    import math

    df = read_table(spark, in_path)
    files = df.inputFiles()
    # Hadoop FileSystem status works on every Spark-supported filesystem
    # (local, HDFS, S3A, ...) -- os.path.getsize would silently read 0 on
    # object stores and collapse the rewrite to a single file/task.
    sizes: list[int] = []
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for uri in files:
            p = jvm.org.apache.hadoop.fs.Path(uri)
            sizes.append(p.getFileSystem(hconf).getFileStatus(p).getLen())
        total = sum(sizes)
    except Exception:
        # JVM gateway unavailable (mocked session, connect-only client):
        # assume inputs already average the target size so the output file
        # count matches the input file count -- never collapse to 1.
        total = len(files) * target_bytes
    n_out = max(1, math.ceil(total / target_bytes))
    write_table(df.repartition(n_out), out_path)
    out = read_table(spark, out_path)
    return len(out.inputFiles())
