"""Driver-gated entries for the two non-relational surfaces: Structured
Streaming execution and the reference-parity ingestion chain.

q57 runs a REAL streaming query (readStream → event-time window agg →
memory sink, availableNow trigger) whose final result is deterministic and
therefore oracle-checkable against batch SQL — proof the streaming path
computes the same answer as the batch path.

q58 runs the reference ingestion semantics (CsvLoader.java:112-148) over a
fixed literal row set covering every parse branch; the oracle is the golden
expected output (VALUES), making the parse chain itself driver-verified —
the pytest suite covers the file/compression sources that can't run from
literal rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import os
import shutil
import tempfile

from csv_loader_spark.io.pings import RAW_SCHEMA, project_pings
from csv_loader_spark.io.tables import load_table, normalize_event_ts, session_cached
from csv_loader_spark.queries.registry import query
from csv_loader_spark.session import tune_session
from csv_loader_spark.streaming.trips import segment_trips


def _stage_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Spark's file stream source requires a DIRECTORY; stage the single
    events.parquet into a temp dir (testdata is read-only), once per
    session and file state: a regenerated events.parquet is staged anew."""
    src = os.path.join(sf_dir, "events.parquet")

    def build() -> str:
        d = tempfile.mkdtemp(prefix="q57_stream_")
        shutil.copy(src, d)
        return d

    return session_cached(spark, src, ("q57_stream_dir", sf_dir), build)


@query(
    "q57_stream_tumbling",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS window_day,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window_time", "agg"),
)
def q57_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming daily tumbling window, executed for real:
    readStream(parquet) → watermark → window agg → memory sink, availableNow
    trigger, then the finished table is returned. Same F.window primitive as
    batch q22 — this entry proves stream execution matches batch SQL.

    Scale: availableNow is the backfill trigger (drain-all-then-stop); in
    production the same query runs continuously with the 1-hour watermark
    bounding window state."""
    tune_session(spark)
    path = _stage_stream_dir(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    raw = normalize_event_ts(spark.readStream.schema(schema).parquet(path))
    agg = (
        raw.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("window_day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    name = "q57_stream_tumbling_result"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# --- q58: ingestion-parity golden rows -------------------------------------

# (11 raw fields, or None for absent) covering: 3 timestamp formats ±
# fraction, narrow + wide layout, id truncation/sign, and three drop classes.
_RAW_ROWS = [
    # narrow, format 1 (explicit offset)
    ("2015-06-01 08:30:15+00", "101", "40.7128", "-74.006"),
    ("2015-06-01 08:30:15+05", "102", "41.0", "29.0"),
    # narrow, format 2 (no offset → UTC)
    ("2015-06-01 08:30:15", "104", "48.85", "2.35"),
    # narrow, format 3 (ISO-8601) + fraction
    ("2015-06-01T08:30:15.123456Z", "107", "55.75", "37.61"),
    # fraction with explicit offset
    ("2015-06-01 08:30:15.5+00", "106", "1.29", "103.85"),
    # signed id; >64-bit id truncates to low 64 bits (2^64+7 → 7)
    ("2015-06-01 08:30:16+00", "-9", "10.0", "20.0"),
    ("2015-06-01 08:30:17+00", "18446744073709551623", "11.0", "21.0"),
    # wide (11-field) layout: lat/lon from cols 9/10
    (
        "2015-06-01 09:00:00+00",
        "201",
        "f2",
        "f3",
        "f4",
        "f5",
        "f6",
        "f7",
        "f8",
        "40.1",
        "-73.9",
    ),
    # dropped: bad lat / bad time / bad id
    ("2015-06-01 08:30:15+00", "301", "abc", "-74.0"),
    ("not-a-time", "303", "40.7", "-74.0"),
    ("2015-06-01 08:30:15+00", "veh-7", "40.7", "-74.0"),
]

_ORACLE_ROWS = [
    ("'101'", 101, 1433147415000, 40.7128, -74.006),
    ("'102'", 102, 1433129415000, 41.0, 29.0),
    ("'104'", 104, 1433147415000, 48.85, 2.35),
    ("'107'", 107, 1433147415123, 55.75, 37.61),
    ("'106'", 106, 1433147415500, 1.29, 103.85),
    ("'-9'", -9, 1433147416000, 10.0, 20.0),
    ("'18446744073709551623'", 7, 1433147417000, 11.0, 21.0),
    ("'201'", 201, 1433149200000, 40.1, -73.9),
]


def _oracle_values() -> str:
    rows = ",\n      ".join(
        f"({s}, CAST({vid} AS BIGINT), CAST({ts} AS BIGINT), "
        f"CAST({lat} AS DOUBLE), CAST({lon} AS DOUBLE))"
        for s, vid, ts, lat, lon in _ORACLE_ROWS
    )
    return f"""
    SELECT * FROM (VALUES
      {rows}
    ) AS t(vehicle_id_str, vehicle_id, ts_millis, lat, lon)
    """


@query(
    "q58_ping_ingest",
    oracle=_oracle_values(),
    tags=("ingest", "parity"),
)
def q58_ping_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ingestion chain (variant projection → casts → multi-format
    time parse → BigInteger-style id truncation → malformed drop) over a
    fixed literal row set; the oracle is the golden expected output.

    The sf_dir tables aren't used: this entry pins the PARSE semantics, the
    one surface the star-schema queries can't reach. File/compression
    sources are covered by tests/test_pings_ingest.py."""
    # q58 reads no tables, so pin the session TZ here (every other query
    # gets it via load_table → tune_session); format-2 timestamps parse in
    # session TZ and the golden values assume UTC.
    tune_session(spark)
    padded = [row + (None,) * (11 - len(row)) for row in _RAW_ROWS]
    raw = spark.createDataFrame(padded, RAW_SCHEMA)
    return project_pings(raw)


@query(
    "q84_trip_segmentation",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS ts_us,
             CAST(round(value * 100) AS BIGINT) AS cents,
             lag(epoch_us(ts)) OVER w AS prev_us,
             lag(CAST(round(value * 100) AS BIGINT)) OVER w AS prev_cents
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    marked AS (
      SELECT *,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS is_new,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                  THEN 0 ELSE abs(cents - prev_cents) END AS step_cents
      FROM flagged
    ),
    trips AS (
      SELECT *,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS trip_seq
      FROM marked
    )
    SELECT user_id, trip_seq,
           min(ts_us) AS start_us,
           max(ts_us) AS end_us,
           count(*) AS n_events,
           CAST(sum(step_cents) AS BIGINT) / 100.0 AS travel
    FROM trips
    GROUP BY user_id, trip_seq
    """,
    tags=("session", "stateful", "trips"),
)
def q84_trip_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trip segmentation (30-min gap, |Δvalue| travel accumulated in exact
    integer cents), via streaming/trips.segment_trips."""
    trips = segment_trips(load_table(spark, sf_dir, "events"), gap_minutes=30)
    return trips.select(
        "user_id",
        "trip_seq",
        F.unix_micros("trip_start").alias("start_us"),
        F.unix_micros("trip_end").alias("end_us"),
        "n_events",
        "travel",
    )
