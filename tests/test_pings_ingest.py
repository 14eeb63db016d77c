"""End-to-end batch ingestion tests (FIXTURES.md §A1-A5; CsvLoader.java:72-194)."""

import random

from conftest import (
    DIRTY_ROWS,
    NARROW_ROWS,
    WIDE_ROWS,
    WRAP_ROW,
    write_dirty_csv,
    write_gzip_csv,
    write_mixed_csv,
    write_narrow_csv,
    write_zip_csv,
)

from pyspark.sql import Column
from pyspark.sql import functions as F

from csv_loader_spark.functions.ids import decimal_str_to_int64
from csv_loader_spark.functions.timestamps import parse_time_to_millis
from csv_loader_spark.io.pings import (
    CSV_OPTIONS,
    PING_SCHEMA,
    distinct_vehicle_counts,
    project_pings,
    read_pings,
    read_pings_raw,
    rejected_pings,
)
from csv_loader_spark.profile import counting


def _by_id(df):
    return {
        r["vehicle_id"]: (r["ts_millis"], r["lat"], r["lon"]) for r in df.collect()
    }


def _expected(rows):
    return {vid: (ts, lat, lon) for _, (vid, ts, lat, lon) in rows}


def test_narrow_layout(spark, tmp_path):
    path = str(tmp_path / "narrow.csv")
    write_narrow_csv(path)
    df = read_pings(spark, path)
    assert df.schema == PING_SCHEMA
    assert _by_id(df) == _expected(NARROW_ROWS)


def test_mixed_layout_dispatches_per_record(spark, tmp_path):
    path = str(tmp_path / "mixed.csv")
    write_mixed_csv(path)
    got = _by_id(read_pings(spark, path))
    assert got == {**_expected(NARROW_ROWS), **_expected(WIDE_ROWS)}


def test_dirty_rows_dropped_pipeline_survives(spark, tmp_path):
    path = str(tmp_path / "dirty.csv")
    n_valid, n_dropped = write_dirty_csv(path)
    df = read_pings(spark, path)
    assert df.count() == n_valid
    # 2^64+1 wraps to 1 (BigInteger.longValue parity)
    assert 1 in _by_id(df)
    rej = rejected_pings(read_pings_raw(spark, path))
    assert rej.count() == n_dropped
    reasons = {r["reject_reason"] for r in rej.collect()}
    assert reasons == {"bad_latlon", "bad_time", "bad_vehicle_id"}


def test_gzip_source(spark, tmp_path):
    path = str(tmp_path / "narrow.csv.gz")
    write_gzip_csv(path)
    assert _by_id(read_pings(spark, path)) == _expected(NARROW_ROWS)


def test_zip_source_first_entry_only(spark, tmp_path):
    path = str(tmp_path / "narrow.zip")
    write_zip_csv(path)
    # decoy junk in the second entry must NOT surface (or pollute rejects)
    df = read_pings(spark, path)
    assert _by_id(df) == _expected(NARROW_ROWS)


def test_rfc4180_dialect_details(spark, tmp_path):
    """CRLF records, quoted numeric fields, doubled-quote escaping, and the
    documented BOM divergence (we keep the row; reference drops it)."""
    p = tmp_path / "rfc.csv"
    with open(p, "wb") as f:
        f.write("﻿".encode())  # BOM — stripped by Spark (divergence doc'd)
        f.write(b"2015-06-01 08:30:15+00,1,40.0,-74.0\r\n")  # CRLF
        f.write(b'"2015-06-01 08:30:16+00","2","41.5","-75.5"\r\n')  # quoted fields
        f.write(b'2015-06-01 08:30:17+00,"say ""hi""",40.0,-74.0\n')  # "" escape
    df = read_pings(spark, str(p))
    got = _by_id(df)
    assert set(got) == {1, 2}  # the embedded-quote id row is non-numeric → drop
    assert got[2] == (1433147416000, 41.5, -75.5)
    raw = read_pings_raw(spark, str(p)).collect()
    assert raw[2]["_c1"] == 'say "hi"'  # RFC 4180 unescaping, like commons-csv


def test_stray_quotes_hide_a_quoted_newline(spark, tmp_path):
    """A stray quote inside an unquoted field (commons-csv and Spark keep
    it as a literal) can pair with the quote that opens a multi-line
    field: every line below holds an even number of quotes, yet the file
    is 2 records, not 3. A line-split read would parse it as 3, so "no
    line with an odd quote count" cannot decide when splitting is safe."""
    p = tmp_path / "stray.csv"
    p.write_text('a,b"c,"d\ne",g"h\nx,y,z\n')
    assert [line.count('"') for line in p.read_text().splitlines()] == [2, 2, 0]
    rows = [tuple(r)[:4] for r in read_pings_raw(spark, str(p)).collect()]
    assert rows == [("a", 'b"c', "d\ne", 'g"h'), ("x", "y", "z", None)]
    line_split = spark.read.csv(str(p), **{**CSV_OPTIONS, "multiLine": False})
    assert line_split.count() == 3


def test_directory_of_csvs(spark, tmp_path):
    """A directory (or glob) of ping files reads as one dataset — the
    many-input-files shape the 100 TB path requires (SCALE.md)."""
    d = tmp_path / "pings"
    d.mkdir()
    write_narrow_csv(str(d / "part1.csv"))
    with open(d / "part2.csv", "w") as f:
        f.write("2015-06-01 10:00:00+00,901,10.0,20.0\n")
    df = read_pings(spark, str(d))
    assert df.count() == len(NARROW_ROWS) + 1
    assert 901 in _by_id(df)


def test_distinct_dual_counters_expose_truncation(spark, tmp_path):
    # two distinct id STRINGS that truncate to the same int64 (2^64+7 ≡ 7)
    path = str(tmp_path / "collide.csv")
    with open(path, "w") as f:
        f.write("2015-06-01 08:30:15+00,7,40.0,-74.0\n")
        f.write(f"2015-06-01 08:30:16+00,{2**64 + 7},40.1,-74.1\n")
    row = distinct_vehicle_counts(read_pings(spark, path)).collect()[0]
    assert (row["n_records"], row["n_vehicles"], row["n_ids"]) == (2, 2, 1)


def _operators(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _operators(children.apply(i))


def test_read_pings_parses_each_row_once(spark, tmp_path):
    """The null filter must not be pushed below the typed projection, which
    would copy every parse expression into it and parse each row twice."""
    path = str(tmp_path / "mixed.csv")
    write_mixed_csv(path)
    plan = read_pings(spark, path)._jdf.queryExecution().optimizedPlan()
    for fn in ("gettimestamp", "try_to_number"):
        holders = [
            op.nodeName() for op in _operators(plan)
            if fn in op.expressions().mkString(" ")
        ]
        assert len(holders) == 1, (fn, holders)


# --- the unguarded Column-composed parse chain, kept verbatim as the
# oracle for the SQL form in csv_loader_spark.functions -----------------

_FRAC_RE = r"\.(\d+)"
_TWO64 = "18446744073709551616"
_TWO63 = "9223372036854775808"


def _strip_fraction(col: Column) -> Column:
    """Remove the fractional-seconds token so the fixed formats match."""
    return F.regexp_replace(col, _FRAC_RE, "")


def _column_parse_time_to_millis(col: Column | str) -> Column:
    """String timestamp (3 accepted formats, optional fraction) → epoch ms.

    Returns NULL for unparseable input (the malformed-row filter drops those —
    reference behavior at CsvLoader.java:140-143, drop-and-log).
    """
    c = F.col(col) if isinstance(col, str) else col
    base = _strip_fraction(c)
    parsed = F.coalesce(
        # format 1: explicit numeric offset or Z, e.g. "2016-06-02 14:03:22+03"
        F.try_to_timestamp(base, F.lit("yyyy-MM-dd HH:mm:ssXXXXX")),
        F.try_to_timestamp(base, F.lit("yyyy-MM-dd HH:mm:ssXXX")),
        F.try_to_timestamp(base, F.lit("yyyy-MM-dd HH:mm:ssX")),
        # format 2: no offset → session TZ (pinned UTC)
        F.try_to_timestamp(base, F.lit("yyyy-MM-dd HH:mm:ss")),
        # format 3: general ISO-8601 ("2016-06-02T14:03:22Z", date-only, ...).
        # Spark's bare try_to_timestamp also accepts time-only strings like
        # "08:30:15" (today's date) — the reference's ISO-8601 parser does
        # not, so require a leading date.
        F.when(
            base.rlike(r"^\d{4}-\d{2}-\d{2}"), F.try_to_timestamp(base)
        ),
    )
    frac_str = F.regexp_extract(c, _FRAC_RE, 1)
    # reference: Double.parseDouble("0." + frac) * 1000, truncated toward zero
    frac_ms = F.when(frac_str == "", F.lit(0)).otherwise(
        F.floor(F.concat(F.lit("0."), frac_str).cast("double") * 1000).cast("long")
    )
    return (F.unix_millis(parsed) + frac_ms).alias("time_ms")


def _column_decimal_str_to_int64(col: Column | str) -> Column:
    """Decimal string → low-64-bit two's-complement long, BigInteger-style.

    Implemented with Decimal(38,0) arithmetic (handles ids up to 38 digits —
    wider than any real-world vehicle id; the reference handles unbounded
    width, divergence documented). pmod brings the value into [0, 2^64); the
    conditional subtraction reinterprets the top bit as the sign.
    """
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    # try_to_number('9'*38) accepts unsigned digit strings only; BigInteger
    # accepts a leading sign — parse magnitude and sign separately.
    magnitude = F.try_to_number(
        F.when(c.rlike(r"^[+-]"), F.substring(c, 2, 2147483647)).otherwise(c),
        F.lit("9" * 38),
    )  # NULL if not numeric
    # NB: `-magnitude` (Column.__neg__) loses precision on wide decimals
    # (routes through double); 0 - x stays exact decimal(38,0) arithmetic
    zero = F.lit(0).cast("decimal(38,0)")
    as_dec = F.when(c.startswith("-"), zero - magnitude).otherwise(magnitude)
    two64 = F.lit(_TWO64).cast("decimal(38,0)")
    two63 = F.lit(_TWO63).cast("decimal(38,0)")
    low64 = F.pmod(as_dec, two64)
    signed = F.when(low64 >= two63, low64 - two64).otherwise(low64)
    return signed.cast("long")


def _select_then_filter(raw):
    """project_pings as a plain select followed by the null filter, built
    from the unguarded Column-composed parse chain: the oracle for the
    fenced SQL chain."""
    wide = F.col("_c9").isNotNull() | F.col("_c10").isNotNull()
    projected = raw.select(
        F.col("_c1").alias("vehicle_id_str"),
        _column_decimal_str_to_int64(F.col("_c1")).alias("vehicle_id"),
        _column_parse_time_to_millis(F.col("_c0")).alias("ts_millis"),
        F.when(wide, F.col("_c9")).otherwise(F.col("_c2")).try_cast("double").alias("lat"),
        F.when(wide, F.col("_c10")).otherwise(F.col("_c3")).try_cast("double").alias("lon"),
    )
    return projected.filter(
        F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
        & F.col("ts_millis").isNotNull()
        & F.col("vehicle_id").isNotNull()
    )


def _fuzzed_lines(n: int, seed: int) -> list[str]:
    """Narrow and wide rows whose timestamp, id and coordinates are drawn
    from valid, boundary and malformed forms."""
    rng = random.Random(seed)

    def ts():
        if rng.random() < 0.15:
            return rng.choice(["", "not-a-time", "08:30:15", "2015-06-01",
                               "2015-13-45 99:99:99", " 2015-06-01 08:30:15",
                               "2015-06-01 08:30:15 +00", "2015-02-29 10:00:00"])
        def pick(common, edge):  # mostly accepted forms, some edge forms
            return rng.choice(common if rng.random() < 0.8 else edge)

        year = pick([f"{rng.randint(1900, 2100):04d}"], [
            f"{rng.randint(10000, 99999)}", f"+{rng.randint(10000, 99999)}",
            f"-{rng.randint(1000, 9999)}", f"+{rng.randint(1900, 2100)}",
        ])
        date = f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        time = f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
        frac = rng.choice(["", "", f".{rng.randint(0, 10**rng.randint(1, 9) - 1)}"])
        zone = pick(["", "Z", "+00", "+05", "-03", "+05:30", "+0530", "-11:00"],
                    ["z", "+05:30:15", "+053015", "+5", "-0", " +05", "UTC", "Z+05"])
        sep = pick([" ", "T"], ["t", "  "])
        return f"{date}{sep}{time}{frac}{zone}"

    def vid():
        return rng.choice([
            str(rng.randint(0, 10**6)), str(rng.randint(2**63, 2**64 + 10**6)),
            f"-{rng.randint(0, 2**63 + 5)}", f"+{rng.randint(0, 999)}",
            f" {rng.randint(0, 99)} ", f"00{rng.randint(0, 99)}",
            "9" * 38, "9" * 39, "", "veh-7", "1e5", "12.5",
        ])

    def coord():
        return rng.choice([
            repr(rng.uniform(-180, 180)), str(rng.randint(-90, 90)), "", "abc",
            "1e3", " 4.5", "-0.0", "NaN", "Infinity",
        ])

    lines = []
    for _ in range(n):
        if rng.random() < 0.3:
            filler = [str(rng.randint(0, 9)) for _ in range(7)]
            lines.append(",".join([ts(), vid(), *filler, coord(), coord()]))
        else:
            lines.append(",".join([ts(), vid(), coord(), coord()]))
    return lines


def test_fenced_projection_matches_select_then_filter(spark, tmp_path):
    path = tmp_path / "corpus.csv"
    lines = [line for line, _ in NARROW_ROWS + WIDE_ROWS] + DIRTY_ROWS + [WRAP_ROW]
    lines.append('2015-06-01 08:30:15+00,305,"a,b\nc",-74.0')
    path.write_text("".join(f"{line}\n" for line in lines + _fuzzed_lines(3000, seed=11)))
    raw = read_pings_raw(spark, str(path))
    got, want = project_pings(raw), _select_then_filter(raw)
    assert got.schema == want.schema

    def exact(rows):  # repr: NaN equals itself and -0.0 differs from 0.0
        return [tuple(map(repr, r)) for r in rows]

    got_rows = exact(got.collect())
    assert got_rows == exact(want.collect())
    assert 500 < len(got_rows) < 3000  # both kept and dropped rows


def test_guarded_time_parse_matches_unguarded_chain(spark):
    """Each guard skips only pattern attempts that cannot succeed, so the
    first success in the format chain — and every result — is unchanged,
    over the cross product of date, separator, time and offset forms."""
    dates = ["2015-06-01", "12345-06-01", "+12345-06-01", "-2015-06-01",
             "+2015-06-01", "0001-01-01", "2015-6-1", "15-06-01"]
    seps = [" ", "T", "t", "  ", ""]
    times = ["08:30:15", "8:30:15", "08:30", "08:30:15.5", "08:30:15.123456789", ""]
    zones = ["", "Z", "z", "+00", "+05", "-03", "+05:30", "+0530", "-11:00",
             "+05:30:15", "+053015", "+5", "-0", " +05", "UTC", " UTC", "Z+05",
             "+05Z", "-03:00:00", "+18", "+19", "--03", " Z"]
    forms = [f"{d}{s}{t}{z}" for d in dates for s in seps for t in times for z in zones]
    forms += ["", " ", "not-a-time", "08:30:15", ".5", "2015-06-01 08:30:15.",
              "2015-06-01 08:30:15.5.6+05", "2015.06.01 08:30:15"]
    df = spark.createDataFrame([(i, f) for i, f in enumerate(forms)], "i int, ts string")
    got = df.select("i", F.expr(parse_time_to_millis("ts")).alias("ms")).orderBy("i").collect()
    want = df.select("i", _column_parse_time_to_millis("ts").alias("ms")).orderBy("i").collect()
    assert [r["ms"] for r in got] == [r["ms"] for r in want]
    assert 300 < sum(r["ms"] is not None for r in got) < len(forms)


def test_int64_sql_form_is_the_column_form(spark):
    """decimal_str_to_int64's SQL text parses to the tree the composed
    Column form built: same analyzed and optimized plan."""
    df = spark.range(3).selectExpr("CAST(id AS STRING) AS id")
    got = df.select(F.expr(decimal_str_to_int64("id")).alias("v"))._jdf.queryExecution()
    want = df.select(_column_decimal_str_to_int64("id").alias("v"))._jdf.queryExecution()
    assert got.analyzed().sameResult(want.analyzed())
    assert got.optimizedPlan().sameResult(want.optimizedPlan())


def test_read_pings_build_round_trips(spark, tmp_path):
    """Building read_pings is a few SQL strings, not ~15 py4j round trips
    per composed Column call (the composed chain took 778)."""
    path = str(tmp_path / "narrow.csv")
    write_narrow_csv(path)
    with counting() as calls:
        df = read_pings(spark, path)
    assert calls["n"] <= 40, calls["n"]
    assert df.schema == PING_SCHEMA


def test_kept_and_rejected_rows_account_for_every_raw_row(spark, tmp_path):
    path = str(tmp_path / "dirty.csv")
    n_valid, n_dropped = write_dirty_csv(path)
    raw = read_pings_raw(spark, path)
    kept = project_pings(raw).count()
    reasons = {
        r["reject_reason"]: r["count"]
        for r in rejected_pings(raw).groupBy("reject_reason").count().collect()
    }
    assert (kept, sum(reasons.values())) == (n_valid, n_dropped)
    assert kept + sum(reasons.values()) == raw.count()
    # DIRTY_ROWS: short row, two bad coordinates, the header and the quoted
    # multi-line field fail lat/lon; two bad times; a non-numeric and an
    # empty id
    assert reasons == {"bad_latlon": 5, "bad_time": 2, "bad_vehicle_id": 2}
