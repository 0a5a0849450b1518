"""Scale-safe global-order window helpers.

``Window.orderBy(...)`` with no ``partitionBy`` moves the ENTIRE input to a
single partition (Spark even warns: "No Partition Defined for Window
operation").  That is the one plan shape guaranteed to die at 100 TB.  The
helpers here express the same semantics as a two-level computation:

1. ``repartitionByRange`` on the total order -- partition i holds a
   contiguous, ordered slice, partitions ascend with the order;
2. a per-partition window (parallel across partitions) for the local
   running value;
3. a tiny per-partition-totals aggregate (one row per partition, i.e.
   O(parallelism) rows, not O(data)) whose prefix sums become additive
   offsets, broadcast-joined back.

Both branches read one materialized split.  Two ``rangepartitioning``
exchanges sample their input with different seeds, and when the planner
does not reuse one for the other (it did not over a checkpoint of
``spark.range`` rows) their boundaries can differ: a row then counts in
one partition's local sum and in another's total.

An input the planner would size within the broadcast threshold skips all
of this: :func:`ordered_running_sum` reads it to the driver
(``session.broadcast_sized``) and runs the naive window over the one
partition of the ``LocalRelation`` it builds from the rows.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..session import broadcast_sized


def ordered_running_sum(
    df: DataFrame,
    order_by: Sequence[Column],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Running total of ``value_col`` over a TOTAL order, scale-safe.

    ``order_by`` must be a total order (break ties with a unique key):
    range partitioning splits the data on exactly those expressions, and a
    tie straddling a partition boundary would make the split ambiguous.
    Result is identical to
    ``F.sum(value_col).over(Window.orderBy(*order_by))`` -- the naive
    single-partition form -- for any partition count, NULL values
    included.  (A sum of doubles can differ in its last bits: the
    two-level form adds partition totals in another association.)

    Scale shape: the call runs Spark jobs.  It checkpoints ``df`` lazily
    and :func:`..session.broadcast_sized` reads it; rows within the
    broadcast threshold get the naive form over a ``LocalRelation``, and
    ``num_partitions`` does not apply.  Larger inputs take the two-level
    form over ``num_partitions`` range partitions (default: the default
    parallelism), whose split is checkpointed too.
    """
    # one materialization of the input for both paths: the size probe
    # below computes it, and range partitioning SAMPLES its input to pick
    # boundaries, which would otherwise run the input's plan twice.  The
    # ContextCleaner frees the blocks once the result is collected as
    # garbage, unlike persist()'s session-lifetime cache.
    df = df.localCheckpoint(eager=False)
    spark = df.sparkSession
    table = broadcast_sized(df)
    if table is not None:
        # the naive form over the rows on the driver; coalesce(1) puts the
        # LocalRelation's slices in the one partition the window needs
        # without a shuffle, so a collect is one Spark job
        return (
            spark.createDataFrame(table)
            .coalesce(1)
            .withColumn(
                out_col, F.sum(F.col(value_col)).over(Window.orderBy(*order_by))
            )
        )
    n = num_partitions or spark.sparkContext.defaultParallelism
    # both branches below must see the same split: two range exchanges
    # sample with different seeds and can place a boundary differently,
    # so the split is materialized once and each branch reads it
    parted = (
        df.repartitionByRange(n, *order_by)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    local_w = Window.partitionBy("_pid").orderBy(*order_by)
    local = parted.withColumn("_local", F.sum(F.col(value_col)).over(local_w))
    # one row per partition; the unpartitioned window below is over
    # O(parallelism) rows, which is scale-independent
    totals = parted.groupBy("_pid").agg(F.sum(F.col(value_col)).alias("_ptotal"))
    off_w = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "_offset", F.sum("_ptotal").over(off_w)
    ).select("_pid", "_offset")
    # a sum is NULL until its first non-NULL value, on either level, so a
    # row whose partition prefix is all NULL carries the offset alone
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.expr("coalesce(_local + _offset, _local, _offset)"))
        .drop("_pid", "_local", "_offset")
    )


def concurrency_peaks(events: DataFrame) -> DataFrame:
    """Sweep-line interval concurrency: each ``(ts, event_id)`` event opens
    a 10-minute interval; the concurrency level is the running sum
    of +1/-1 boundary deltas over the global (pt, delta, id) order, and
    the per-day peak is the max level at any boundary in the day --
    including the level carried in from the previous day's last
    boundary.  Output: ``day, peak_concurrency, n_starts``.

    Ties at an instant order ends (-1) before starts (+1), so touching
    intervals never count as concurrent.  The global running sum runs
    through :func:`ordered_running_sum` (range-partitioned two-level
    prefix sum), NOT a single-partition window; the day-level carry
    relation is days-sized.
    """
    starts = events.select(
        F.col("ts").alias("pt"), F.lit(1).alias("delta"),
        F.col("event_id").alias("bid"),
    )
    ends = events.select(
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("pt"),
        F.lit(-1).alias("delta"),
        F.col("event_id").alias("bid"),
    )
    pts = starts.unionByName(ends)
    run = ordered_running_sum(
        pts, [F.col("pt"), F.col("delta"), F.col("bid")], "delta", "conc"
    )
    daily = run.groupBy(F.to_date("pt").alias("day")).agg(
        F.max("conc").cast("long").alias("in_day_max"),
        # conc at the day's LAST boundary = level carried into the next
        # day (struct max: pt/delta/bid form a unique total order)
        F.max(F.struct("pt", "delta", "bid", "conc"))["conc"]
        .cast("long")
        .alias("day_last"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_starts"),
    )
    w = Window.orderBy("day")  # days-sized relation, never raw events
    return daily.select(
        "day",
        F.greatest(
            F.col("in_day_max"),
            F.coalesce(F.lag("day_last").over(w), F.lit(0)),
        ).alias("peak_concurrency"),
        "n_starts",
    )
