"""Reference-parity GPS-ping CSV ingestion (CsvLoader.java:72-194, ops 2-10).

The reference streams one CSV (plain / .gz / first-entry-of-.zip), projects
positionally with a per-record schema-variant switch, casts, drops malformed
rows, parses 3 timestamp formats, and truncates decimal id strings to int64 —
all single-threaded. Here the same semantics are a declarative DataFrame
chain that parses each field once: ``project_pings`` fences its typed
projection from the null filter, which Catalyst would otherwise push below
it with a copy of every parse expression. The chain is three SQL strings
(typed ``selectExpr``, ``inline`` fence, filter), so building it costs a
few py4j round trips instead of ~15 per composed Column call, and the
timestamp parse makes one pattern attempt per valid row (the guards in
functions/timestamps.py). Projection and filter still run in one
whole-stage-codegen pass. The scan is one task per file: the reader
parses RFC 4180 multi-line records (quoted fields may span lines), so a
plain CSV does not split either (perfbench's ``io.pings.input_partitions``
reads 1 for its 25k-row file), and .gz/.zip are unsplittable anyway —
same constraint as the reference, noted in SURVEY §7.4.

Layout (CsvLoader.java:120-127): col0=time, col1=vehicle_id, col2=lat,
col3=lon; records wider than 9 fields use col9=lat, col10=lon instead,
decided PER RECORD. NB the reference README documents a different column
order than the code; the code is authoritative (SURVEY §1.3).

Documented divergences from the reference (SURVEY §7.4):
- non-numeric vehicle_id: reference ABORTS the whole load (uncaught
  NumberFormatException, CsvLoader.java:146); we drop the row.
- ids wider than 38 digits: reference wraps arbitrary-precision; we NULL→drop
  (DecimalType(38,0) bound).
- a record with >=10 fields whose field 9 or 10 is EMPTY dispatches narrow
  here (Spark's CSV reader folds empty and absent fields both to NULL);
  the reference dispatches wide and then drops it on Double.parseDouble("").
  Either way the row only survives if its narrow lat/lon parse — a row can
  survive here that the reference drops, only when fields 2/3 are also valid
  doubles. Recorded, not observable in any fixture corpus.
- format-2 timestamps (no offset) use UTC, not the JVM default TZ.
- a UTF-8 BOM is stripped by Spark's CSV reader, so a BOM-prefixed first
  row parses normally here; the reference would prepend the BOM to the
  timestamp string, fail the parse, and drop that one row. Strictly more
  data retained; noted.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv_loader_spark.functions.ids import decimal_str_to_int64
from csv_loader_spark.functions.timestamps import parse_time_to_millis

# Widest layout the reference addresses is 11 fields (col10 = wide lon).
N_RAW_COLS = 11

RAW_SCHEMA = T.StructType(
    [T.StructField(f"_c{i}", T.StringType()) for i in range(N_RAW_COLS)]
)

# Clean output schema (FIXTURES.md §A): the reference's implicit typed tuple
# plus the raw id string (needed for the dual distinct metric, op 11).
PING_SCHEMA = T.StructType(
    [
        T.StructField("vehicle_id_str", T.StringType()),
        T.StructField("vehicle_id", T.LongType()),
        T.StructField("ts_millis", T.LongType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
    ]
)


# The one CSV parse of the pings source, shared by the batch reader and
# the streaming reader (streaming/pings.py) so the two cannot drift.
CSV_OPTIONS = dict(
    schema=RAW_SCHEMA,
    header=False,
    mode="PERMISSIVE",
    encoding="UTF-8",
    multiLine=True,
    escape='"',  # RFC 4180 doubled-quote escaping ("" inside a quoted
    # field), like commons-csv; Spark's default escape is backslash
)


def _extract_first_zip_entry(path: str, workdir: str | None = None) -> str:
    """Materialize ONLY the first entry of a .zip (CsvLoader.java:84-88 reads
    `zf.entries().nextElement()` once — later entries are ignored by design).

    Driver-side: zip has no splittable codec in Hadoop anyway, so a 1-file
    staging copy costs the same one pass the reference pays.
    """
    out_dir = workdir or tempfile.mkdtemp(prefix="csv_loader_zip_")
    with zipfile.ZipFile(path) as zf:
        names = zf.namelist()  # central-directory order == Java's entries()
        if not names:
            raise ValueError(f"zip archive has no entries: {path}")
        first = names[0]
        out_path = os.path.join(out_dir, "first_entry.csv")
        with zf.open(first) as src, open(out_path, "wb") as dst:
            shutil.copyfileobj(src, dst)
    return out_path


def read_pings_raw(spark: SparkSession, path: str) -> DataFrame:
    """Suffix-dispatch source (ops 2-5): plain / .gz / .zip-first-entry → raw
    11-column string DataFrame (absent trailing fields are NULL).

    Spark decompresses .gz by extension natively; .zip is staged driver-side.
    Suffix match is case-insensitive like the reference (:84,:90).

    Full RFC 4180: quoted fields may embed newlines, exactly like the
    reference's commons-csv — which makes every file a single task
    (records can span split boundaries).
    """
    lower = path.lower()
    if lower.endswith(".zip"):
        path = _extract_first_zip_entry(path)
    return spark.read.csv(path, **CSV_OPTIONS)


# Per-record variant switch (CsvLoader.java:124-127): any evidence of a
# >9-field record routes lat/lon to cols 9/10.
_WIDE = "(_c9 IS NOT NULL OR _c10 IS NOT NULL)"
# The typed fields as SQL fragments, shared by project_pings and
# rejected_pings: each null-producing parse is written once.
_VEHICLE_ID = decimal_str_to_int64("_c1")
_TS_MILLIS = parse_time_to_millis("_c0")
_LAT = f"try_cast(CASE WHEN {_WIDE} THEN _c9 ELSE _c2 END AS DOUBLE)"
_LON = f"try_cast(CASE WHEN {_WIDE} THEN _c10 ELSE _c3 END AS DOUBLE)"


def project_pings(raw: DataFrame) -> DataFrame:
    """Ops 6-10 as one declarative chain: variant projection, double cast,
    malformed drop, multi-format time parse, id truncation.

    All null-producing casts happen in one projection; the single trailing
    filter is the reference's catch-and-continue (CsvLoader.java:131-143).
    Between them sits a one-row ``inline``, a Generate the optimizer cannot
    push the filter through. Without it Catalyst pushes the filter below
    the projection and copies every parse expression into it, so each row
    is parsed twice.
    """
    projected = raw.selectExpr(
        "_c1 AS vehicle_id_str",
        f"{_VEHICLE_ID} AS vehicle_id",
        f"{_TS_MILLIS} AS ts_millis",
        f"{_LAT} AS lat",
        f"{_LON} AS lon",
    )
    fenced = projected.selectExpr(
        "inline(array(struct(vehicle_id_str, vehicle_id, ts_millis, lat, lon)))"
    )
    return fenced.filter(
        "lat IS NOT NULL AND lon IS NOT NULL"
        " AND ts_millis IS NOT NULL AND vehicle_id IS NOT NULL"
    )


def rejected_pings(raw: DataFrame) -> DataFrame:
    """The rows `project_pings` drops, with a reason column — the reference
    prints these and continues (CsvLoader.java:133,141); we keep them
    queryable (a strict superset of the reference's stdout log)."""
    bad_latlon = f"{_LAT} IS NULL OR {_LON} IS NULL"
    bad_time = f"{_TS_MILLIS} IS NULL"
    return raw.filter(
        f"{bad_latlon} OR {bad_time} OR {_VEHICLE_ID} IS NULL"
    ).selectExpr(
        "*",
        f"CASE WHEN {bad_latlon} THEN 'bad_latlon' WHEN {bad_time} THEN 'bad_time'"
        " ELSE 'bad_vehicle_id' END AS reject_reason",
    )


def read_pings(spark: SparkSession, path: str) -> DataFrame:
    """Full batch ingestion: source → clean typed pings (PING_SCHEMA)."""
    return project_pings(read_pings_raw(spark, path))


def distinct_vehicle_counts(pings: DataFrame) -> DataFrame:
    """Op 11: the reference's dual exact distinct metric (string ids vs
    truncated int64 ids — the pair exposes >64-bit truncation collisions,
    CsvLoader.java:105-106,165). One row: (n_records, n_vehicles, n_ids)."""
    return pings.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("vehicle_id_str").alias("n_vehicles"),
        F.countDistinct("vehicle_id").alias("n_ids"),
    )


def progress_line(records: int, vehicles: int, ids: int) -> str:
    """The reference's progress line (CsvLoader.java:165) for a load's
    record count and its two distinct-vehicle counts."""
    return (
        f"{records / 1e6:.2f}M records loaded, "
        f"{vehicles} unique vehicles ({ids} unique ids)"
    )
