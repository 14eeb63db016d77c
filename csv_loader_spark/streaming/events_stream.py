"""Streaming event analytics: the watermarked click-attribution join.

The DataFrame API is mode-agnostic, so the same transformation runs on
streaming and on batch frames. q165 (queries/relational4.py) runs
``attribution_pairs`` in batch under the oracle gate, and
tests/test_streaming_join.py runs it as a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attribution_pairs(
    views: DataFrame,
    clicks: DataFrame,
    *,
    within: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream INTERVAL join: every (view, click) pair
    for the same user where the click lands in [view_ts, view_ts +
    within] — the click-attribution shape. Mode-agnostic: on batch
    frames ``withWatermark`` is a no-op and the join is a plain interval
    join (q165's exact-oracle path); on streams the watermarks + the
    time-range condition BOUND THE JOIN STATE — each side buffers only
    rows younger than watermark + within, so state is GC'd continuously
    (the condition is what lets Spark compute both sides' state
    expiration; an unconstrained stream-stream join would buffer
    forever). Stream == batch is asserted in
    tests/test_streaming_join.py.

    ``how="left_outer"`` keeps unattributed views: on a stream the
    null-padded row for a never-clicked view is emitted ONLY once the
    watermark passes the view's join window (before that a matching
    click could still arrive) — the delayed-outer-emission semantics
    tests/test_streaming_join.py asserts batch-by-batch.

    Scale: the join shuffles both streams by user_id once; per-user
    state is the in-window row buffer only. At 1000 executors this is
    the standard keyed-state sharding — no broadcast, no driver state.
    """
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
        how,
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
    )
