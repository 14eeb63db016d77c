"""Trip segmentation across execution surfaces: applyInPandasWithState
end-to-end (gap-split, timeout close, state carry), streaming-equals-batch
on real table data, the transformWithStateInPandas StatefulProcessor
logic (timer bookkeeping, stale-timer guard) through a fake-state harness,
AND the live TWS protocol end-to-end (RocksDB state store) — runnable
since ensure_protobuf() discovers the image's vendored google.protobuf
runtime (session.py). The gate test covers the truly-absent
case and skips when the runtime is present."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from csv_loader_spark.io.tables import load_table

from csv_loader_spark.streaming.trips import (
    TripProcessor,
    segment_trips,
    segment_trips_stream,
    segment_trips_stream_tws,
    tws_available,
)

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


# ---------------------------------------------------------------------------
# TripProcessor (transformWithStateInPandas) logic via fake-state harness
# ---------------------------------------------------------------------------


class FakeValueState:
    def __init__(self):
        self.value = None

    def exists(self):
        return self.value is not None

    def get(self):
        return self.value

    def update(self, v):
        self.value = tuple(v)

    def clear(self):
        self.value = None


class FakeHandle:
    def __init__(self):
        self.state = FakeValueState()
        self.timers = set()

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.state

    def registerTimer(self, ms):
        self.timers.add(ms)

    def deleteTimer(self, ms):
        self.timers.discard(ms)


class FakeExpiredTimer:
    def __init__(self, ms):
        self.ms = ms

    def getExpiryTimeInMs(self):
        return self.ms


def _events_pdf(rows):
    return pd.DataFrame(
        {
            "user_id": [r[0] for r in rows],
            "event_id": [r[1] for r in rows],
            "ts": [pd.Timestamp(r[2]) for r in rows],
            "value": [r[3] for r in rows],
        }
    )


def test_trip_processor_fold_timers_and_stale_guard():
    proc = TripProcessor(_GAP_US)
    handle = FakeHandle()
    proc.init(handle)

    # batch 1: two in-gap events → no emission, one live timer at 10:10+30m
    out = list(
        proc.handleInputRows(
            (1,),
            iter([_events_pdf([(1, 10, "2020-01-01 10:00:00", 1.00),
                               (1, 11, "2020-01-01 10:10:00", 3.50)])]),
            None,
        )
    )
    assert out == []
    t1 = pd.Timestamp("2020-01-01 10:40:00").value // 10**6
    assert handle.timers == {t1}

    # a stale timer (old expiry) fires → guard refuses to close
    assert list(proc.handleExpiredTimer((1,), None, FakeExpiredTimer(t1 - 1))) == []
    assert handle.state.exists()

    # batch 2: event past the gap → trip 1 emitted, timer moved
    out = list(
        proc.handleInputRows(
            (1,),
            iter([_events_pdf([(1, 12, "2020-01-01 12:10:00", 4.00)])]),
            None,
        )
    )
    assert len(out) == 1
    emitted = out[0].iloc[0]
    assert (
        str(emitted["trip_start"]),
        str(emitted["trip_end"]),
        int(emitted["n_events"]),
        float(emitted["travel"]),
    ) == ("2020-01-01 10:00:00", "2020-01-01 10:10:00", 2, 2.50)
    t2 = pd.Timestamp("2020-01-01 12:40:00").value // 10**6
    assert handle.timers == {t2}

    # the live timer fires → open trip closed + state cleared
    out = list(proc.handleExpiredTimer((1,), None, FakeExpiredTimer(t2)))
    assert len(out) == 1 and int(out[0].iloc[0]["n_events"]) == 1
    assert not handle.state.exists()
    # firing again on empty state is a no-op
    assert list(proc.handleExpiredTimer((1,), None, FakeExpiredTimer(t2))) == []


def test_tws_gate_matches_environment(spark):
    if tws_available():
        pytest.skip("protobuf present: gate test is for the absent case")
    stream = (
        spark.readStream.format("rate").load()
        .selectExpr(
            "value AS user_id", "value AS event_id",
            "timestamp AS ts", "CAST(value AS DOUBLE) AS value",
        )
        .withWatermark("ts", "0 seconds")
    )
    with pytest.raises(ImportError, match="protobuf"):
        segment_trips_stream_tws(stream)


@pytest.mark.skipif(not tws_available(), reason="needs google.protobuf")
def test_trips_stream_tws_end_to_end(spark, tmp_path):
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = tmp_path / "events"
    src.mkdir()
    _write_events(
        src / "b1.json",
        [
            (1, 10, "2020-01-01 10:00:00", 1.00),
            (1, 11, "2020-01-01 10:10:00", 3.50),
            (1, 12, "2020-01-01 12:10:00", 4.00),
        ],
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .json(str(src))
        .withWatermark("ts", "0 seconds")
    )
    q = (
        segment_trips_stream_tws(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("trips_tws")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table("trips_tws").collect()
    assert sorted(_key(r) for r in rows) == [
        (1, "2020-01-01 10:00:00", "2020-01-01 10:10:00", 2, 2.50)
    ]
