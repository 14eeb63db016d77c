"""Trip segmentation, batch (oracle-gated as ``q84_trip_segmentation``).

Semantics: per user, events ordered by (ts, event_id); a new TRIP starts
when the gap from the previous event exceeds ``gap_minutes``; a trip's
``travel`` is the sum of |Δvalue| over consecutive events *within* the
trip (the carry-the-previous-point shape that distinguishes trips from
plain sessions — state must remember the last position, not just the
last time). The reference has no stateful surface at all (its only state
is two HashSets, CsvLoader.java:105-106); this is the extension-surface
operator family from SURVEY.md §2.3.

Determinism: ``travel`` is accumulated in integer CENTS (values are 2dp
doubles; ``round(value*100)`` is exact) so the sum is order-independent
and bit-identical across engines; the single ``/100.0`` at the end is
exact.

Scale: lag → gap flag → cumulative trip id → group. One shuffle on
user_id, bounded window state per user; windows + agg stay whole-stage
codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

_US_PER_MIN = 60 * 1_000_000


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

