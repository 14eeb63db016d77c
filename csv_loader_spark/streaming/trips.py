"""Trip segmentation — one operator, two execution surfaces.

Semantics (shared by both): per user, events ordered by (ts, event_id); a
new TRIP starts when the gap from the previous event exceeds
``gap_minutes``; a trip's ``travel`` is the sum of |Δvalue| over
consecutive events *within* the trip (the carry-the-previous-point shape
that distinguishes trips from plain sessions — state must remember the
last position, not just the last time). The reference has no stateful
surface at all (its only state is two HashSets, CsvLoader.java:105-106);
this is the extension-surface operator family from SURVEY.md §2.3.

- :func:`segment_trips` — batch: lag → gap flag → cumulative trip id →
  group. One shuffle on user_id; windows + agg stay whole-stage codegen.
  Oracle-gated as ``q84_trip_segmentation``.
- :func:`segment_trips_stream` — streaming via
  ``applyInPandasWithState`` (event-time timeout). No entry point runs
  it; tests/test_transform_with_state.py checks it against the batch
  operator and tests/test_trips_fold_property.py checks its fold.

A streamed trip CLOSES and is emitted when (a) a later event for the user
arrives past the gap, or (b) the event-time watermark passes
``last_event + gap`` (timeout — emitted even if the user never returns).

Determinism: ``travel`` is accumulated in integer CENTS (values are 2dp
doubles; ``round(value*100)`` is exact) so the sum is order-independent
and bit-identical across engines and modes; the single ``/100.0`` at emit
is exact. Python-side rounding uses ``floor(x*100+0.5)`` (half-away, like
SQL round) — never Python's banker's ``round()``.

Scale: batch = one shuffle, bounded window state per user. Streaming
state is ONE fixed-size tuple per active user (never an event buffer);
timeouts garbage-collect idle users, so state size tracks concurrent
activity, not history. Arrow-batched per group — no per-row Python.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id bigint, trip_start timestamp, trip_end timestamp, "
    "n_events bigint, travel double"
)
# One fixed-size tuple per ACTIVE user; epoch µs + integer cents keep all
# arithmetic integral inside the state store.
# fields: start_us, last_us, last_cents, n, travel_cents
STATE_SCHEMA = (
    "start_us bigint, last_us bigint, last_cents bigint, n bigint, "
    "travel_cents bigint"
)

_US_PER_MIN = 60 * 1_000_000


def _cents(v: float) -> int:
    """value → integer cents, SQL-style half-away rounding (not banker's)."""
    return (
        int(math.floor(v * 100 + 0.5)) if v >= 0 else -int(math.floor(-v * 100 + 0.5))
    )


def _fold(
    cur: list | None, ts_us: list[int], values: list[float], gap_us: int
) -> tuple[list[tuple], list]:
    """Fold a sorted event batch into (closed_trips, open_state).

    The single definition of the incremental semantics: a stream folds
    each micro-batch into the state the previous one left.
    """
    closed: list[tuple] = []
    for t, v in zip(ts_us, values):
        c = _cents(float(v))
        if cur is None:
            cur = [t, t, c, 1, 0]
        elif t - cur[1] > gap_us:
            closed.append(tuple(cur))
            cur = [t, t, c, 1, 0]
        else:
            cur[4] += abs(c - cur[2])
            cur[1] = t
            cur[2] = c
            cur[3] += 1
    return closed, cur


def _batch_to_lists(batch: pd.DataFrame) -> tuple[list[int], list[float]]:
    """Sorted (ts epoch-µs, value) lists; tolerates ns- or µs-unit frames."""
    batch = batch.sort_values(["ts", "event_id"])
    ts_int = batch["ts"].astype("int64").tolist()
    if "[ns]" in str(batch["ts"].dtype):
        ts_int = [t // 1000 for t in ts_int]
    return ts_int, batch["value"].tolist()


def _trips_frame(user_id: int, trips: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(trips),
            "trip_start": [pd.Timestamp(t[0], unit="us") for t in trips],
            "trip_end": [pd.Timestamp(t[1], unit="us") for t in trips],
            "n_events": [t[3] for t in trips],
            "travel": [t[4] / 100.0 for t in trips],
        }
    )


# ---------------------------------------------------------------------------
# Batch
# ---------------------------------------------------------------------------


def segment_trips(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch trip segmentation. Needs columns user_id, event_id, ts, value.

    Returns one row per trip (open trips included — batch sees the whole
    history): user_id, trip_seq (1-based per user), trip_start, trip_end,
    n_events, travel.
    """
    gap_us = gap_minutes * _US_PER_MIN
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ts_us = F.unix_micros(F.col("ts"))
    cents = F.round(F.col("value") * 100).cast("long")
    gap = ts_us - F.lag(ts_us).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_us), F.lit(1)).otherwise(F.lit(0))
    step = F.when(is_new == 1, F.lit(0)).otherwise(F.abs(cents - F.lag(cents).over(w)))
    return (
        events.select("user_id", "event_id", "ts", "value")
        .withColumn("is_new", is_new)
        .withColumn("step_cents", step)
        .withColumn("trip_seq", F.sum("is_new").over(w_run))
        .groupBy("user_id", "trip_seq")
        .agg(
            F.min("ts").alias("trip_start"),
            F.max("ts").alias("trip_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("step_cents") / F.lit(100.0)).alias("travel"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming: applyInPandasWithState (runs on any Spark)
# ---------------------------------------------------------------------------


def segment_trips_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming trip segmentation via applyInPandasWithState.

    ``events`` must be a streaming DataFrame with a watermark on ``ts`` and
    columns user_id, event_id, ts, value. Emits each trip exactly once, when
    it closes (gap-arrival or watermark timeout). Open trips stay in state.
    """
    gap_us = gap_minutes * _US_PER_MIN

    def _fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            closed = [tuple(state.get)]
            state.remove()
        else:
            batch = pd.concat(list(pdfs))
            ts_int, values = _batch_to_lists(batch)
            cur = list(state.get) if state.exists else None
            closed, cur = _fold(cur, ts_int, values, gap_us)
            state.update(tuple(cur))
            state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)  # ms
        if closed:
            yield _trips_frame(user_id, closed)

    return events.groupBy("user_id").applyInPandasWithState(
        _fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
