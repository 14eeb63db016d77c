"""Loaders for the benchmark star-schema tables.

Parquet-first: every query reads columnar parquet so Catalyst predicate
pushdown / column pruning reach the scan (check with
``df.explain("formatted")`` — ``PushedFilters`` + a narrow ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_loader_spark.session import tune_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def file_fingerprint(path: str) -> tuple[int, int] | None:
    """(newest mtime_ns, total size) over a file or a directory tree —
    cheap identity for 'did the data under this path change'. Recurses the
    whole tree: a partitioned table (name.parquet/date=X/part-0.parquet)
    rewritten IN PLACE changes neither the top directory's stat nor its
    subdirs' sizes, only the leaf files' — one-level scanning would serve
    the stale cache for exactly the incident class this exists to close.
    Cost is one stat per file, paid per :func:`session_cached` call;
    trivial next to the footer read the cache saves. None when the path
    is missing (the subsequent read raises the real error).

    Known limitation: a same-size rewrite landing within the filesystem's
    mtime granularity is invisible to a stat-only identity — a sub-tick
    in-place regeneration on a coarse-mtime filesystem can still serve the
    stale plan. Accepted trade for a stat-only check; hash the parquet
    footers instead if that window ever matters."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        newest, total = st.st_mtime_ns, 0
        for dirpath, _dirnames, filenames in os.walk(path):
            newest = max(newest, os.stat(dirpath).st_mtime_ns)
            for fn in filenames:
                s = os.stat(os.path.join(dirpath, fn))
                newest = max(newest, s.st_mtime_ns)
                total += s.st_size
        return (newest, total)
    except OSError:
        return None


# One session cache for every frame derived from a parquet file: load_table's
# lazy table plans and the query library's persisted or checkpointed
# indexes. Keyed by the live session OBJECT (not id(): ids are reused after
# GC, and a frame bound to a dead session would poison the entry); pinning
# the handful of sessions a process creates is a bounded cost. A weak key
# frees nothing here: a cached DataFrame references its own session. Each
# entry carries its file's fingerprint (r7): a regenerated file under the
# same path (the lived r5 incident) rebuilds the entry instead of serving
# a frame whose schema, statistics or frozen rows describe dead bytes.
_SESSION_CACHE: dict[tuple[SparkSession, object], tuple[object, object]] = {}


def session_cached(spark: SparkSession, path: str, key: object, build):
    """``build()``'s value, kept per ``(spark, key)`` while ``path``'s
    :func:`file_fingerprint` is unchanged. On a change, every DataFrame
    in the stale value (a frame or a tuple of them) is unpersisted before
    ``build()`` runs again. ``build()`` decides what to materialize: a
    lazy plan, a persisted and counted frame, a localCheckpoint."""
    fp = file_fingerprint(path)
    hit = _SESSION_CACHE.get((spark, key))
    if hit is not None:
        if hit[0] == fp:
            return hit[1]
        stale = hit[1] if isinstance(hit[1], tuple) else (hit[1],)
        for v in stale:
            if isinstance(v, DataFrame):
                v.unpersist()
    value = build()
    _SESSION_CACHE[(spark, key)] = (fp, value)
    return value


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TimestampType (UTC instant).

    The driver has generated ``events.parquet`` two ways across rounds:

    - parquet TIMESTAMP(NANOS): Spark's vector reader rejects it, so the
      session sets ``nanosAsLong`` and the column arrives as ``bigint``
      nanos; rebuild by integer-dividing to µs (``DIV`` keeps the arithmetic
      in int64 — a double round-trip would lose precision at 1.7e18; the
      truncation-toward-zero matches DuckDB's ns→µs cast).
    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
      TIMESTAMP_NTZ, which watermarks and ``unix_micros`` reject; cast to
      TimestampType. The session TZ is pinned UTC, so the cast maps the wall
      clock to the same instant DuckDB's naive TIMESTAMP renders.
    """
    t = dict(df.dtypes).get(col)
    if t == "bigint":
        # Backtick-quote the column: a name with a space/hyphen/keyword
        # would otherwise mis-parse inside F.expr. DIV (not /) keeps the
        # arithmetic in int64.
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    elif t == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one benchmark table; pins session TZ to UTC first (determinism).

    ``events.ts`` arrives as nanos-as-bigint or TIMESTAMP_NTZ depending on
    the driver's parquet writer vintage — :func:`normalize_event_ts` maps
    both to TimestampType.
    """
    # tune_session runs on EVERY call, cache hit or miss: timestamp
    # rendering happens at collect time under the session's then-current
    # timezone, so a driver that flips the TZ between queries would
    # otherwise silently change results served from the plan cache.
    tune_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    # spark.read.parquet re-lists the file and re-reads the footer on
    # every call (~50-100 ms of driver time per table); multi-table
    # queries were paying this 4-6x per plan build. A DataFrame is an
    # immutable logical plan, so the session cache keeps it lazy.
    return session_cached(spark, path, path, lambda: _read_table(spark, path, name))


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    # The regenerated testdata writes ALL timestamps as parquet
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ, which
    # rejects watermarks/unix_micros and breaks ntz-vs-ltz comparisons in
    # the query library. Session TZ is pinned UTC, so casting to
    # TimestampType is instant-preserving and matches DuckDB's naive
    # TIMESTAMP rendering (the pre-regeneration semantics).
    #
    # Normally DEAD: session.py sets inferTimestampNTZ.enabled=false, so
    # these columns already arrive as TimestampType and the loop is a
    # no-op. It fires only when the parquet file embeds a Spark schema
    # whose metadata pins TIMESTAMP_NTZ (overriding the inference conf) —
    # and in that case the withColumn cast sits ABOVE the scan, so parquet
    # predicate pushdown on that column is lost. Deliberate trade:
    # correctness (queries keep running on such files) over pushdown on a
    # path that never triggers for driver-generated testdata.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    picked = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in picked}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views (for the SQL-surface operators, e.g. GROUPING SETS)."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
