"""Time-ordered join operators Spark lacks natively: as-of join and
range (interval) join.

The reference has no joins beyond a content-hash anti-join
(`dags/dag.py:459-474`), but an engine serving event/training-data
pipelines needs both of these, and each has a well-known naive form that
dies at scale:

* **as-of join** -- "for each left row, the latest right row at or before
  it".  The naive form is a per-row correlated subquery (a nested loop).
  Here it is ONE shuffle: tag both sides, union them, and run a per-key
  ordered window carrying the last-seen right payload forward -- the
  merge-scan formulation, O(n log n) per key, no pair blow-up.
* **range join** -- "right rows within [left.ts+lo, left.ts+hi] of the
  same key".  The naive form is a theta join that degenerates to a per-key
  cross product.  Here the time axis is bucketed at the window width:
  each left row explodes to the handful of buckets its interval covers,
  the join is a plain equi-join on (key, bucket), and the exact predicate
  prunes within the bucket -- pairs only materialize inside colliding
  buckets, exactly like an LSH band join.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import TimestampNTZType


def _ts_seconds(df: DataFrame, ts_col: str) -> F.Column:
    """Monotone fractional-seconds linearization of a timestamp column.

    TIMESTAMP casts straight to double (exact epoch seconds).  TIMESTAMP_NTZ
    cannot be cast to any numeric type, so it is linearized from its local
    fields (day number * 86400 + time-of-day); that form is independent of
    the session timezone and agrees exactly with NTZ interval arithmetic,
    which also operates on the local clock.
    """
    c = F.col(ts_col)
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return (
            F.datediff(c.cast("date"), F.to_date(F.lit("1970-01-01"))).cast(
                "double"
            )
            * 86400.0
            + F.hour(c).cast("double") * 3600.0
            + F.minute(c).cast("double") * 60.0
            + F.date_part(F.lit("SECOND"), c).cast("double")
        )
    return c.cast("double")


def _ts_micros(df: DataFrame, ts_col: str) -> F.Column:
    """Exact integer-microsecond linearization (see ``_ts_seconds``; this
    form is lossless, for ordering/frames where double rounding at the
    ~0.5 us scale could reorder ties)."""
    c = F.col(ts_col)
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return (
            F.datediff(c.cast("date"), F.to_date(F.lit("1970-01-01"))).cast(
                "long"
            )
            * 86_400_000_000
            + F.hour(c).cast("long") * 3_600_000_000
            + F.minute(c).cast("long") * 60_000_000
            # SECOND carries the fraction as DECIMAL(8,6): *1e6 is exact
            + (F.date_part(F.lit("SECOND"), c) * 1_000_000).cast("long")
        )
    return F.unix_micros(c)


def range_aggregate(
    df: DataFrame,
    on: Sequence[str],
    ts: str,
    aggs: Sequence[tuple],
    min_offset_s: float,
    max_offset_s: float,
) -> DataFrame:
    """Per-row aggregates over same-key rows within
    ``(ts + min_offset_s, ts + max_offset_s]``: the aggregate-only fast
    path beside ``range_join_bucketed``.

    When the caller needs per-row STATISTICS of the interval rather than
    the matching pairs themselves, materializing pairs (explode + equi-join
    + re-aggregate + join back: three shuffles) is pure overhead.  A RANGE
    window frame over an integer-microsecond order computes the same
    numbers in ONE shuffle on ``on`` with no row duplication, at any key
    cardinality.  ``aggs`` is a sequence of ``(aggregate_column, name)``
    pairs, e.g. ``(F.count("event_id"), "n_follow")``; each is evaluated
    over the frame and lands as column ``name``.
    """
    on = list(on)
    d = df.withColumn("_tmicros", _ts_micros(df, ts))
    lo = int(round(min_offset_s * 1_000_000)) + 1  # exclusive lower bound
    hi = int(round(max_offset_s * 1_000_000))
    w = (
        Window.partitionBy(*on)
        .orderBy("_tmicros")
        .rangeBetween(lo, hi)
    )
    for col, name in aggs:
        d = d.withColumn(name, col.over(w))
    return d.drop("_tmicros")


def _interval_s(seconds: float):
    """Seconds -> interval expression via make_interval on a fixed-point
    literal.  An f-stringed ``INTERVAL {float(x)} SECONDS`` breaks at
    plan time when repr(x) goes scientific (1e-05, 1e+20) -- Spark's
    interval literal parser rejects exponent notation (r11 ADVICE fix).
    Microsecond resolution, matching timestamp precision.

    Magnitudes are clamped to DECIMAL(18,6)'s max (~10^12 s, ~31,700
    years): make_interval's secs argument overflows past it (and the
    day-time interval type itself past ~9.2e12 s), while Spark
    timestamps end at year 9999 (~2.5e11 s from epoch) -- so any
    tolerance past the clamp is indistinguishable from infinite."""
    cap = 999_999_999_999.0
    s = max(-cap, min(cap, float(seconds)))
    return F.expr(f"make_interval(0, 0, 0, 0, 0, 0, {s:.6f})")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    prefix: str = "asof_",
    tiebreak: Optional[Sequence[str]] = None,
    allow_exact_matches: bool = True,
    direction: str = "backward",
    tolerance_s: Optional[float] = None,
) -> DataFrame:
    """As-of join: attach to every left row the nearest right row at or
    before it (``direction="backward"``: greatest ``right_ts`` <=
    ``left_ts``) or at or after it (``direction="forward"``: least
    ``right_ts`` >= ``left_ts``); strict inequality when
    ``allow_exact_matches=False``.  Left rows with no match keep null
    payload columns (left-outer semantics) -- pandas ``merge_asof``
    parity.

    ``payload`` columns from the matched right row land on the output as
    ``{prefix}{col}``.  Ties at equal ``right_ts`` resolve to the greatest
    ``tiebreak`` value.  Implementation is the union + per-key ordered
    window merge-scan (see module docstring): a single hash shuffle on
    ``on``, no correlated lookups, no pair explosion.  ``forward`` is the
    same scan over the reversed time order, so both directions cost
    identically.  ``tolerance_s`` nulls out matches farther than that many
    seconds from the left timestamp (merge_asof's ``tolerance``) -- a
    post-scan conditional, no extra shuffle.

    ``direction="nearest"`` (pandas merge_asof parity) picks whichever
    of the backward/forward candidates is closer in time, ties to the
    backward one; implemented as TWO ordered window scans over the
    SAME hash partitioning (one Exchange, two local sorts), so nearest
    costs one extra sort -- never an extra shuffle, never a pair
    explosion.  The single ``_side`` flag serves both scans: rights
    sort before lefts at equal ts in BOTH the asc and desc orders when
    matches are inclusive, after them when strict.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction}")
    on = list(on)
    payload = list(payload)
    tiebreak = list(tiebreak or [])
    # The merge-scan injects these internal columns (and an '__mts' field
    # into the payload struct); a caller column with the same name would be
    # silently shadowed and produce wrong matches -- fail loudly instead.
    reserved = {"_ats", "_side", "_match", "_match_f", "_payload"} | {
        f"_tb_{i}" for i in range(len(tiebreak))
    }
    clash = (set(left.columns) | set(payload)) & reserved
    if clash or "__mts" in payload:
        raise ValueError(
            f"column names reserved by asof_join: "
            f"{sorted(clash | ({'__mts'} & set(payload)))}"
        )

    # rights sort before lefts at equal ts for inclusive semantics, after
    # them for strict; tiebreak columns order rights at identical ts so
    # last() picks the greatest
    right_first = 0 if allow_exact_matches else 2
    r = right.select(
        *on,
        F.col(right_ts).alias("_ats"),
        F.lit(right_first).alias("_side"),
        *[F.col(t).alias(f"_tb_{i}") for i, t in enumerate(tiebreak)],
        F.struct(
            F.col(right_ts).alias("__mts"), *[F.col(c) for c in payload]
        ).alias("_payload"),
    )
    payload_type = r.schema["_payload"].dataType
    l = left.select(
        "*",
        F.col(left_ts).alias("_ats"),
        F.lit(1).alias("_side"),
        *[F.lit(None).alias(f"_tb_{i}") for i in range(len(tiebreak))],
        F.lit(None).cast(payload_type).alias("_payload"),
    )
    merged = l.unionByName(r, allowMissingColumns=True)

    def _carry(descending: bool):
        w = (
            Window.partitionBy(*on)
            .orderBy(
                F.col("_ats").desc() if descending else F.col("_ats").asc(),
                F.col("_side").asc(),
                *[
                    F.col(f"_tb_{i}").asc_nulls_first()
                    for i in range(len(tiebreak))
                ],
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last("_payload", ignorenulls=True).over(w)

    if direction == "nearest":
        both = merged.withColumn("_match", _carry(False)).withColumn(
            "_match_f", _carry(True)
        )
        mts_b = F.col("_match").getField("__mts")
        mts_f = F.col("_match_f").getField("__mts")
        ok_b = F.col("_match").isNotNull()
        ok_f = F.col("_match_f").isNotNull()
        if tolerance_s is not None:
            tol = _interval_s(tolerance_s)
            ok_b = ok_b & (mts_b >= F.col(left_ts) - tol)
            ok_f = ok_f & (mts_f <= F.col(left_ts) + tol)
        prefer_b = ok_b & (
            ~ok_f
            | ((F.col(left_ts) - mts_b) <= (mts_f - F.col(left_ts)))
        )
        chosen = F.when(prefer_b, F.col("_match")).when(
            ok_f, F.col("_match_f")
        )
        out_cols = [F.col(c) for c in left.columns] + [
            chosen.getField(c).alias(f"{prefix}{c}") for c in payload
        ]
        return both.filter(F.col("_side") == 1).select(*out_cols)

    carried = merged.withColumn(
        "_match", _carry(direction == "forward")
    )
    if tolerance_s is None:
        keep = F.col("_match").isNotNull()
    else:
        mts = F.col("_match").getField("__mts")
        tol = _interval_s(tolerance_s)
        keep = F.col("_match").isNotNull() & (
            mts >= F.col(left_ts) - tol
            if direction == "backward"
            else mts <= F.col(left_ts) + tol
        )
    out_cols = [F.col(c) for c in left.columns] + [
        F.when(keep, F.col("_match").getField(c)).alias(f"{prefix}{c}")
        for c in payload
    ]
    return carried.filter(F.col("_side") == 1).select(*out_cols)


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    min_offset_s: float,
    max_offset_s: float,
    bucket_seconds: Optional[float] = None,
) -> DataFrame:
    """Inner range join: pairs where ``right_ts`` falls in
    ``(left_ts + min_offset_s, left_ts + max_offset_s]`` for equal ``on``
    keys.

    The equi-join runs on (key, time-bucket) with each left interval
    exploded over the buckets it covers -- ceil(span/width)+1 rows per left
    row -- and the exact timestamp predicate applied after the join.
    Output: all left columns plus the right columns (caller aliases to
    avoid collisions before the call).
    """
    on = list(on)
    width = float(bucket_seconds or (max_offset_s - min_offset_s) or 1.0)
    lsec = _ts_seconds(left, left_ts)
    lb = F.floor((lsec + F.lit(float(min_offset_s))) / width).cast("long")
    ub = F.floor((lsec + F.lit(float(max_offset_s))) / width).cast("long")
    l = left.withColumn("_bucket", F.explode(F.sequence(lb, ub)))
    r = right.withColumn(
        "_bucket", F.floor(_ts_seconds(right, right_ts) / width).cast("long")
    )
    lo = F.col(left_ts) + _interval_s(min_offset_s)
    hi = F.col(left_ts) + _interval_s(max_offset_s)
    return (
        l.join(r, on + ["_bucket"])
        .filter((F.col(right_ts) > lo) & (F.col(right_ts) <= hi))
        .drop("_bucket")
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 2,
    q: int = 3,
    max_df: int = 50,
) -> DataFrame:
    """Fuzzy self-join: distinct-name pairs within ``max_dist`` edit
    distance, via q-gram blocking -- ``name_a, name_b, dist``.

    Scale shape (the reason this isn't a cross join): candidate pairs
    come from a self-equi-join on shared q-grams, with two pruning
    levers BEFORE the quadratic step -- the relation is the DISTINCT
    name set (identical raw names never pairwise-expand; a hot name
    repeated a million times contributes one row, the same pre-pass
    exact dedup gives MinHash-LSH in dedup.py), and q-grams shared by
    more than ``max_df`` names are dropped from blocking (posting-list
    cap, same lever as ngram_jaccard_pairs).  Levenshtein -- identical
    integer DP in Spark and DuckDB -- verifies survivors only.  A
    length-difference filter (edit distance >= length delta) prunes
    inside the gram join.  Capped blocking trades recall for the cap,
    exactly like every banded near-dup path in this repo; pairs sharing
    only ultra-common grams are the ones skipped.
    """
    names = df.select(F.col(name_col).alias("name")).distinct()
    gram_expr = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length(name) - {q - 1}, 1)),"
            f" i -> substring(name, i, {q}))"
        )
    )
    grams = names.select("name", F.explode(gram_expr).alias("g"))
    rare = grams.groupBy("g").agg(F.count("*").alias("gdf")).filter(
        F.col("gdf") <= max_df
    )
    # both self-join sides hang off `blocked`; cut so the q-gram explode
    # + rarity-filter join run once, not twice (r15)
    blocked = grams.join(F.broadcast(rare.select("g")), "g").localCheckpoint(
        eager=False
    )
    cand = (
        blocked.alias("a")
        .join(blocked.alias("b"), "g")
        .filter(F.expr("a.name < b.name"))
        .filter(
            F.expr(f"abs(length(a.name) - length(b.name)) <= {max_dist}")
        )
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein(F.col("name_a"), F.col("name_b"))
        )
        .filter(F.col("dist") <= max_dist)
        .orderBy("name_a", "name_b")
    )
