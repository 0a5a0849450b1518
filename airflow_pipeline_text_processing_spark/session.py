"""SparkSession factory with scale-oriented defaults.

The engine targets multi-executor clusters reading ~100 TB; the defaults here
encode that stance (AQE on, skew handling on, Arrow for the codec UDFs,
partition sizing) while remaining correct on local[N] test runs.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading

from pyspark.sql import DataFrame, SparkSession

# The SQL conf every session gets, whether get_spark builds it or finds it
# active: the builder sets these, and an active session has them re-applied.
_RUNTIME_CONF = (
    # oracle comparisons and run reproducibility need a fixed zone
    ("spark.sql.session.timeZone", "UTC"),
    # the driver's events.parquet carries TIMESTAMP(NANOS); read the raw
    # int64 and convert explicitly (sources read it via timestamp_micros)
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
)


def get_spark(app_name: str = "airflow-pipeline-text-processing-spark") -> SparkSession:
    """Return the active session, or build a local one with engine defaults.

    On a real cluster the session is built by the platform; this factory only
    fills in engine-level SQL conf that is safe to set either way.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    active = SparkSession.getActiveSession()
    if active is not None:
        _apply_runtime_conf(active)
        return active
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # one shuffle partition per core locally; on a cluster AQE coalesces
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for key, val in _RUNTIME_CONF:
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def broadcast_sized(df: DataFrame) -> "pyarrow.Table | None":
    """``df``'s rows as an Arrow table when the planner would size them
    within ``spark.sql.autoBroadcastJoinThreshold``, else None.

    ``cap`` is the threshold over the planner's size of one row
    (``schema.defaultSize``: 8 bytes per long, 20 per string), and one
    ``limit(cap + 1).toArrow()`` reads at most ``cap + 1`` rows; a
    threshold of ``-1`` (broadcast off) floors to a cap of ``-1`` and
    reads nothing.  A ``limit`` over a sort is a top-k, so the table
    keeps ``df``'s order.  Over the cap the rows read are dropped: give
    ``df`` a lazy ``localCheckpoint`` and the read computes it once for
    the caller's distributed path.

    ``spark.createDataFrame(table)`` turns the table back into a
    DataFrame without a Python worker: a ``LocalRelation`` with exact
    statistics, so a join broadcasts it (its scan is cut into up to
    default-parallelism slices).  Spark builds that relation only for a
    table up to ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MB of Arrow data); a larger one comes back as an RDD with one
    partition per 10,000-row Arrow batch.  Under the session's 64 MB
    threshold a table passes 48 MB when its Arrow rows take more than
    three quarters of the planner's size (longs take all of it)."""
    spark = df.sparkSession
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    cap = threshold // df._jdf.schema().defaultSize()
    if cap < 0:
        return None
    head = df.limit(cap + 1).toArrow()
    return head if head.num_rows <= cap else None


_SWEEP_LOCK = threading.Lock()


def _drop_persistent_blocks(spark: SparkSession, blocking: bool = False) -> int:
    """Unpersist every persistent RDD registered on the context (the
    shared core of ``sweep_persistent_rdds`` and the per-query residue
    scope).  Non-blocking by default: the post-action sweep sits on the
    caller's hot path, so block removal is handed to the JVM
    asynchronously.  Serialized by a module lock so two concurrent
    sweeps never double-unpersist the same handle mid-iteration."""
    n = 0
    with _SWEEP_LOCK:
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            try:
                jrdd.unpersist(blocking)
            except Exception:  # noqa: BLE001 -- an already-dropped RDD is fine
                continue
            n += 1
    return n


def sweep_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist every persistent RDD block and return how many were
    swept.  The lazy ``localCheckpoint`` lineage cuts in the NB / eval
    family (operators/lm.py) pin corpus-sized RDD blocks once their
    query's action runs -- a long-lived session (a serving deployment, a
    bench run, the driver's grading loop) would otherwise accrete
    residue that fights later queries' execution memory, measured at x30
    as a 10x wall swing (PROFILE_r13 §5).  Since r15 every registry
    query sweeps ITSELF after each terminal action (``scoped_query``
    below), so this API is the coarse backstop for library compositions
    that bypass the registry: call it between logical batches.  Blocks
    are safe to drop at any point -- every query builds fresh lineage
    per call, and a swept checkpoint simply re-materializes on next
    use."""
    import gc

    gc.collect()  # drop Python-side refs so the JVM map is the truth
    return _drop_persistent_blocks(spark, blocking=True)


@contextlib.contextmanager
def residue_scope(spark: SparkSession):
    """Context manager form of the residue cleanup (VERDICT r14 ask #1):
    everything pinned while the block runs -- lazy ``localCheckpoint``
    cuts, iterative-lineage truncations, cached shuffles -- is
    unpersisted on exit, success or failure.  Use around a library-level
    batch (``with residue_scope(spark): run_pipeline(...)``) so a plain
    engine session ends each unit of work with
    ``sc.getPersistentRDDs()`` empty."""
    try:
        yield
    finally:
        _drop_persistent_blocks(spark)


def _scoped_frame(builder, spark):
    """Wrap ``builder()`` (a zero-arg fresh-plan factory) in a DataFrame
    whose terminal actions sweep persistent-RDD residue after running.

    Registry queries pin corpus-sized blocks two ways: plan-time
    ``localCheckpoint(eager=False)`` cuts that materialize at the
    caller's first action, and fn-internal materializations (model
    training, index builds, stream drains).  Neither can be unpersisted
    inside the query function -- the blocks must outlive it to serve the
    caller's action -- so the scope rides on the RESULT: after each
    ``collect``/``toPandas``/``count``/``show``, all persistent blocks
    are dropped and the frame is marked stale.  A later action re-runs
    ``builder()`` for fresh lineage (every query is deterministic by
    construction, so a rebuild is bit-identical) -- this is what makes
    the post-action sweep safe even though an unpersisted LOCAL
    checkpoint cannot recompute: the stale plan is never re-executed.

    The sweep is context-global (same contract the bench harness proved
    over 148 queries x 14 rounds): the engine session runs one logical
    query at a time.  Concurrent registry calls on one session would
    cost each other recomputes, never wrong values."""
    from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame

    class _ScopedResultFrame(_ClassicDataFrame):
        # no custom __init__: the classic DataFrame's __new__ requires
        # (jdf, sql_ctx) positionally and invokes __init__ itself, so the
        # scope state (_residue_stale) is attached post-construction below

        def _residue_refresh(self) -> None:
            if self._residue_stale:
                self._jdf = builder()._jdf
                self._residue_stale = False

        def _residue_sweep(self) -> None:
            self._residue_stale = True
            _drop_persistent_blocks(spark)

        def collect(self):
            self._residue_refresh()
            try:
                return super().collect()
            finally:
                self._residue_sweep()

        def toPandas(self):
            self._residue_refresh()
            try:
                return super().toPandas()
            finally:
                self._residue_sweep()

        def count(self) -> int:
            self._residue_refresh()
            try:
                return super().count()
            finally:
                self._residue_sweep()

        def show(self, *args, **kwargs):
            self._residue_refresh()
            try:
                return super().show(*args, **kwargs)
            finally:
                self._residue_sweep()

        def toLocalIterator(self, prefetchPartitions: bool = False):
            self._residue_refresh()
            inner = super().toLocalIterator(prefetchPartitions)

            def _gen():
                # sweep only once the caller has drained (or closed) the
                # iterator: partitions stream lazily, so an eager sweep
                # would drop checkpoint blocks mid-iteration
                try:
                    yield from inner
                finally:
                    self._residue_sweep()

            return _gen()

    try:
        df = builder()
        scoped = _ScopedResultFrame(df._jdf, df.sparkSession)
        scoped._residue_stale = False
        return scoped
    except BaseException:
        # builder() died mid-plan: drop whatever it pinned before failing
        _drop_persistent_blocks(spark)
        raise


def scoped_query(fn):
    """Decorator applied to every registry entry (``__spark_entry__``):
    the returned DataFrame cleans up after itself -- after each terminal
    action ``sc.getPersistentRDDs()`` is empty (VERDICT r14 ask #1; the
    pytest pin is tests/test_residue_scope.py, and bench.py's per-query
    ``residue_swept`` sidecar reads 0 under it)."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str):
        return _scoped_frame(lambda: fn(spark, sf_dir), spark)

    return wrapper


def _apply_runtime_conf(spark: SparkSession) -> None:
    for key, val in _RUNTIME_CONF:
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # immutable on some deployments; platform value wins
