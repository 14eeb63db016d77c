"""Trip segmentation as a stream through applyInPandasWithState:
end-to-end gap-split, timeout close and state carry, and
streaming-equals-batch on real table data."""

import json
import os

from pyspark.sql import functions as F

from csv_loader_spark.io.tables import load_table

from csv_loader_spark.streaming.trips import segment_trips, segment_trips_stream

SCHEMA = "user_id bigint, event_id bigint, ts timestamp, value double"

_US = 1_000_000
_GAP_US = 30 * 60 * _US


def _write_events(path, rows):
    with open(path, "w") as f:
        for uid, eid, ts, v in rows:
            f.write(
                json.dumps({"user_id": uid, "event_id": eid, "ts": ts, "value": v})
                + "\n"
            )


def _collect(spark, src, ckpt, name, one_file_per_trigger=False):
    reader = spark.readStream.schema(SCHEMA)
    if one_file_per_trigger:
        reader = reader.option("maxFilesPerTrigger", 1)
    stream = reader.json(str(src)).withWatermark("ts", "0 seconds")
    q = (
        segment_trips_stream(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name).collect()


def _key(r):
    return (r["user_id"], str(r["trip_start"]), str(r["trip_end"]), r["n_events"], r["travel"])


def test_trips_stream_gap_split_timeout_close_and_travel(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    # batch 1: user 1 one open trip (travel |3.50-1.00|=2.50); user 2 opens
    _write_events(
        src / "b1.json",
        [
            (1, 10, "2020-01-01 10:00:00", 1.00),
            (1, 11, "2020-01-01 10:10:00", 3.50),
            (2, 20, "2020-01-01 10:05:00", 5.00),
        ],
    )
    # batch 2: user 1 returns 2h later → trip 1 closes on ARRIVAL; user 2
    # gets an in-gap event (timeout must move to 10:50, not fire at 10:35)
    _write_events(
        src / "b2.json",
        [
            (1, 12, "2020-01-01 12:10:00", 4.00),
            (2, 21, "2020-01-01 10:20:00", 6.25),
        ],
    )
    rows = _collect(
        spark, src, str(tmp_path / "ckpt"), "trips_golden", one_file_per_trigger=True
    )
    assert sorted(_key(r) for r in rows) == [
        # user 1: closed by the 12:10 arrival
        (1, "2020-01-01 10:00:00", "2020-01-01 10:10:00", 2, 2.50),
        # user 2: closed by the watermark timeout (12:10 ≥ 10:20 + 30 min);
        # travel |6.25-5.00| proves the 10:20 event joined the open trip
        (2, "2020-01-01 10:05:00", "2020-01-01 10:20:00", 2, 1.25),
    ]
    # user 1's 12:10 trip is still open (12:40 > watermark) → not emitted
    assert len(rows) == 2


def test_trips_streaming_equals_batch_on_events_table(spark, tmp_path):
    sf_dir = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")
    batch = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )

    # stage as a directory for the file stream source
    src = tmp_path / "stream_src"
    batch.coalesce(1).write.parquet(str(src))

    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(str(src))
        .withWatermark("ts", "0 seconds")
    )
    q = (
        segment_trips_stream(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("trips_eq")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {_key(r) for r in spark.table("trips_eq").collect()}

    # expected: every batch trip already closed at the final watermark
    # (watermark = max event time, delay 0) — open trips stay in state
    max_us = batch.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    expected_df = segment_trips(batch, gap_minutes=30).where(
        # timeout is registered in ms: floor(µs/1000); fires when wm ≥ it
        ((F.unix_micros("trip_end") + _GAP_US) / 1000).cast("long") <= max_us // 1000
    )
    expected = {_key(r) for r in expected_df.collect()}
    assert got == expected
    assert len(got) > 10  # real segmentation happened, not a trivial pass
