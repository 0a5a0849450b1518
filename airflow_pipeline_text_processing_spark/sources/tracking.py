"""Content-hash tracking table -- the engine's incremental-processing state.

Reference: Postgres table ``processed_files`` with a unique ``file_hash``,
B-tree indexes, per-file point lookups, ``INSERT ... ON CONFLICT DO
NOTHING`` and key-wise status UPDATEs (``/root/reference/init-scripts.sql:5-20``,
``dags/dag.py:320-345``, ``:452-474``, ``:740-759``).

Spark-first redesign for scale:

* The reference's N point lookups become ONE broadcast left-anti join
  (SURVEY.md op 13) -- zero per-row round trips.
* Mutations are **append-only**: each batch appends new version rows, and
  ``current()`` resolves the latest version per ``file_hash`` with a
  window.  That gives ON-CONFLICT/UPDATE semantics without rewriting a
  100 TB table (on a real deployment this maps 1:1 onto Delta/Iceberg
  ``MERGE``; plain parquet is used here because the test environment ships
  no lake format).  The tick's lookup, ``processed_hashes()``, reads the raw
  version rows with no window: an anti-join needs only a hash's existence.
* ``error_message`` is included, fixing the reference's documented-but-
  dropped column (SURVEY.md §1.3).
* A periodic ``compact()`` folds version history down to current rows.
* ``append_new`` is the commit of the pipeline's one tick (batch run and
  stream alike).  The sinks before it go to a ``batch=<key>`` partition
  keyed by a fingerprint of the fresh ``(file_hash, path)`` set (2^-64
  collision bound), so a re-run after a crash overwrites its own partial
  output, unless files landed in between, which changes the key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.dedup import keep_least

TRACKING_SCHEMA = (
    "file_hash string, file_path string, file_size long, "
    "processed_at timestamp, status string, output_file string, "
    "error_message string, created_at timestamp, version long"
)

# ProcessingStatus state machine (ref dags/dag.py:103-110)
STATUSES = ("pending", "processing", "completed", "failed", "retrying", "dead_letter")

#: the columns a writer supplies; ``version`` is stamped on append
_RECORD_COLUMNS = ("file_hash", "file_path", "file_size", "processed_at",
                   "status", "output_file", "error_message", "created_at")


class TrackingTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # ------------------------------------------------------------------ read

    def _raw(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], TRACKING_SCHEMA)
        # every writer below appends exactly these columns; a declared
        # schema spares the footer-reading job of schema inference
        return self.spark.read.schema(TRACKING_SCHEMA).parquet(self.path)

    def _fs(self, path: str):
        """``(FileSystem, Path)`` of ``path`` through the Hadoop API, so
        hdfs:// and s3a:// tables resolve as local ones do (local mode
        has fs.defaultFS=file:///).  An unknown scheme raises here."""
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(self.spark._jsc.hadoopConfiguration()), jpath

    def _exists(self) -> bool:
        # Only a missing path means "no table": any other error (an unknown
        # scheme, no permission) propagates before the tick writes a sink.
        # A directory that holds no parquet file (only _SUCCESS or
        # _temporary/ residue) needs no listing: the declared-schema read
        # of it returns 0 rows.
        fs, jpath = self._fs(self.path)
        return fs.exists(jpath)

    def current(self) -> DataFrame:
        """Latest version per file_hash (the logical table the reference
        queries); superseded and deleted versions drop out here."""
        raw = self._raw()
        w = Window.partitionBy("file_hash").orderBy(F.col("version").desc())
        return (
            raw.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def processed_hashes(self) -> DataFrame:
        """Just the key column -- small, broadcastable side of the anti-join.

        Read from the raw version rows, not ``current()``: every version row
        carries its hash and an anti-join needs only existence, so the
        latest-version window (a shuffle) would change nothing."""
        return self._raw().select("file_hash")

    def count(self) -> int:
        return self.current().count()

    # ----------------------------------------------------------------- write

    def append_new(self, records: DataFrame) -> None:
        """ON CONFLICT (file_hash) DO NOTHING (ref dags/dag.py:740-759):
        one row per hash, the one with the min ``file_path``
        (:func:`keep_least`), anti-joined against existing keys, then
        appended."""
        fresh = (
            keep_least(records.select(*_RECORD_COLUMNS), "file_hash", "file_path")
            .join(F.broadcast(self.processed_hashes()), "file_hash", "left_anti")
            .withColumn("version", F.lit(0).cast("long"))
        )
        fresh.write.mode("append").parquet(self.path)

    def update_status(
        self,
        hashes: DataFrame,
        status: str,
        error_message: str | None = None,
    ) -> None:
        """Key-wise UPDATE (ref dags/dag.py:320-345) as a versioned append.
        Unlike the reference -- whose pre-insert updates were silent no-ops
        (SURVEY.md op 10) -- updating an absent key is a real upsert here."""
        if status not in STATUSES:
            raise ValueError(f"invalid status {status!r}; expected one of {STATUSES}")
        cur = self.current()
        keyed = hashes.select("file_hash").dropDuplicates(["file_hash"])
        updated = (
            keyed.join(cur, "file_hash", "left")
            .select(
                "file_hash",
                "file_path",
                "file_size",
                F.current_timestamp().alias("processed_at"),
                F.lit(status).alias("status"),
                "output_file",
                F.lit(error_message).cast("string").alias("error_message"),
                F.coalesce("created_at", F.current_timestamp()).alias("created_at"),
                (F.coalesce(F.col("version"), F.lit(-1)) + 1).alias("version"),
            )
        )
        updated.write.mode("append").parquet(self.path)

    # ------------------------------------------------------------------ jdbc

    def read_jdbc(
        self,
        url: str,
        table: str = "processed_files",
        properties: dict | None = None,
        partition_column: str | None = None,
        num_partitions: int = 8,
    ) -> DataFrame:
        """Parity path for the reference's Postgres tracking table
        (``init-scripts.sql:5-14``, read via PostgresHook at
        ``dags/dag.py:446``): ``spark.read.jdbc`` over the same relation.

        When ``partition_column`` (a numeric column, e.g. the serial ``id``)
        is given, the scan is split into ``num_partitions`` parallel range
        queries -- the scale path; a single-connection read is the default
        for small control tables."""
        reader = self.spark.read.format("jdbc").option("url", url).option(
            "dbtable", table
        ).options(**(properties or {}))
        if partition_column is not None:
            # quote the identifier: Spark's JDBC writer creates columns with
            # quoted (case-exact) names, so unquoted refs fail on engines
            # that fold unquoted identifiers (Derby/Postgres fold-to-upper/lower)
            qcol = '"' + partition_column.replace('"', '""') + '"'
            bounds = self.spark.read.format("jdbc").option("url", url).option(
                "query",
                f"SELECT MIN({qcol}) AS lo, MAX({qcol}) AS hi FROM {table}",
            ).options(**(properties or {}))
            row = bounds.load().collect()[0]
            lo, hi = row[0], row[1]  # positional: alias case folding varies by dialect
            if lo is not None:
                reader = (
                    reader.option("partitionColumn", partition_column)
                    .option("lowerBound", str(lo))
                    .option("upperBound", str(hi))
                    .option("numPartitions", str(num_partitions))
                )
        return reader.load()

    # dialect-specific "relation does not exist" markers; anything else is a
    # real error and must propagate (see write_jdbc)
    _TABLE_NOT_FOUND_MARKERS = (
        "does not exist",       # Postgres/Derby message text
        "not found",            # generic
        "no such table",        # SQLite
        "42x05",                # Derby SQLState: table/view does not exist
        "42p01",                # Postgres SQLState: undefined_table
        "42s02",                # MySQL/ODBC SQLState: base table not found
    )

    def _jdbc_table_exists(
        self, url: str, table: str, properties: dict | None
    ) -> bool:
        """Probe with a zero-row query; classify the failure instead of
        treating every exception as 'table absent'."""
        probe = self.spark.read.format("jdbc").option("url", url).option(
            "query", f"SELECT 1 AS one FROM {table} WHERE 1=0"
        ).options(**(properties or {}))
        try:
            probe.load().schema  # schema resolution forces the remote probe
            return True
        except Exception as exc:
            msg = str(exc).lower()
            if any(m in msg for m in self._TABLE_NOT_FOUND_MARKERS):
                return False
            raise

    def write_jdbc(
        self,
        records: DataFrame,
        url: str,
        table: str = "processed_files",
        properties: dict | None = None,
    ) -> None:
        """Idempotent-append parity for ``INSERT ... ON CONFLICT DO NOTHING``
        (``dags/dag.py:740-759``): anti-join against the remote keys, then
        append.  Not transactional across writers -- the reference's unique
        index is what makes concurrent inserts safe there; on a lakehouse
        deployment use the versioned-parquet path instead.

        Only a *table-not-found* probe result skips the anti-join (first
        write: the JDBC writer creates the table on append).  Any other
        read failure -- auth, network, driver error -- propagates: treating
        it as "absent" would silently append duplicates and void the
        ON CONFLICT DO NOTHING parity."""
        fresh = keep_least(records, "file_hash", "file_path")
        if self._jdbc_table_exists(url, table, properties):
            existing = self.read_jdbc(url, table, properties).select("file_hash")
            fresh = fresh.join(F.broadcast(existing), "file_hash", "left_anti")
        fresh.write.format("jdbc").option("url", url).option(
            "dbtable", table
        ).options(**(properties or {})).mode("append").save()

    def compact(self) -> None:
        """Fold version history to current rows (maintenance operation).

        Correctness is carried by the STAGING write: current() is fully
        materialized at ``path + ".compact"`` while the source is still
        intact, then copied back -- so no cache pin is needed (a
        ``.cache()`` here would sit in the session's storage registry
        for its whole lifetime; r14 review), and the staging dir is
        removed once the copy-back lands."""
        staging = self.path + ".compact"
        self.current().write.mode("overwrite").parquet(staging)
        self.spark.read.parquet(staging).write.mode("overwrite").parquet(
            self.path
        )
        try:  # URI-aware cleanup
            fs, jpath = self._fs(staging)
            fs.delete(jpath, True)
        except Exception:  # noqa: BLE001 -- residue, not a failure
            pass
