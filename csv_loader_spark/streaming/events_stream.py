"""Streaming event analytics: the watermarked click-attribution join and
the windowed counts whose batch form is q22 (queries/relational.py).

The DataFrame API is mode-agnostic, so the same transformation runs on
streaming and on batch frames. q165 (queries/relational4.py) runs
``attribution_pairs`` in batch under the oracle gate, and
tests/test_streaming_join.py runs it as a stream. ``stream_events`` and
``windowed_counts`` are reached by no entry point; tests/test_events_stream.py
checks them against q22 in both modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_loader_spark.io.tables import normalize_event_ts
from csv_loader_spark.session import tune_session


def stream_events(
    spark: SparkSession, events_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Incremental parquet source over an events directory; normalizes the
    ts column (nanos-bigint or NTZ) exactly like the batch loader."""
    tune_session(spark)
    schema = spark.read.parquet(events_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.parquet(events_dir))


def windowed_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is set) event-time window counts
    with a late-data watermark. Works on both batch and streaming frames;
    state per open window is one partial aggregate, GC'd by the watermark."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


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
