"""Golden tests for the 3-format timestamp parse + fractional reconstruction
(CsvLoader.java:237-273 semantics; FIXTURES.md §A1)."""

import pytest
from pyspark.sql import functions as F

from csv_loader_spark.functions.timestamps import parse_time_to_millis

CASES = [
    # format 1: explicit offset
    ("2015-06-01 08:30:15+00", 1433147415000),
    ("2015-06-01 08:30:15+05", 1433129415000),
    ("2015-06-01 08:30:15-0330", 1433160015000),
    ("2015-06-01 08:30:15Z", 1433147415000),
    # format 2: no offset → UTC (documented divergence from JVM-default-TZ)
    ("2015-06-01 08:30:15", 1433147415000),
    # format 3: ISO-8601
    ("2015-06-01T08:30:15Z", 1433147415000),
    ("2015-06-01T08:30:15+02:00", 1433140215000),
    # fractional seconds: snip, parse base, add floor(frac*1000)
    ("2015-06-01 08:30:15.5+00", 1433147415500),
    ("2015-06-01 08:30:15.25Z", 1433147415250),
    ("2015-06-01T08:30:15.123456Z", 1433147415123),
    ("2015-06-01 08:30:15.9999", 1433147415999),
]

BAD = ["not-a-time", "2015-13-45 99:99:99", "", "08:30:15"]


def _parse_all(spark, values):
    df = spark.createDataFrame([(v,) for v in values], ["ts"])
    rows = df.select(F.col("ts"), F.expr(parse_time_to_millis("ts")).alias("ms")).collect()
    return {r["ts"]: r["ms"] for r in rows}


def test_golden_formats(spark):
    got = _parse_all(spark, [c[0] for c in CASES])
    for value, expected in CASES:
        assert got[value] == expected, value


@pytest.mark.parametrize("value", [b for b in BAD if b])
def test_unparseable_is_null(spark, value):
    got = _parse_all(spark, [value])
    assert got[value] is None


# --- property test: random instants x format x offset shape x fraction -----
# The golden cases above pin the reference's documented examples; this pins
# the full generative space (CsvLoader.java:237-273 semantics) against an
# independent Python model: epoch = naive-as-UTC minus offset, plus
# floor(double("0."+frac) * 1000).

import calendar
from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st


def _mk_case(epoch_s, sep, off_kind, off_h, off_m, frac_digits):
    base = datetime(1970, 1, 1) + timedelta(seconds=epoch_s)
    if off_kind == "none" or off_kind == "T_none":
        off_s = 0
        suffix = ""
    elif off_kind == "Z":
        off_s = 0
        suffix = "Z"
    else:
        sign = -1 if off_kind.startswith("neg") else 1
        off_s = sign * (off_h * 3600 + off_m * 60)
        sgn = "-" if sign < 0 else "+"
        shape = off_kind.split("_")[1]
        if shape == "hh":
            suffix = f"{sgn}{off_h:02d}"
            off_s = sign * off_h * 3600
        elif shape == "hhmm":
            suffix = f"{sgn}{off_h:02d}{off_m:02d}"
        else:  # hh:mm
            suffix = f"{sgn}{off_h:02d}:{off_m:02d}"
    frac = "" if frac_digits is None else "." + frac_digits
    s = base.strftime(f"%Y-%m-%d{sep}%H:%M:%S") + frac + suffix
    local_ms = calendar.timegm(base.timetuple()) * 1000
    frac_ms = 0 if frac_digits is None else int(float("0." + frac_digits) * 1000)
    return s, local_ms - off_s * 1000 + frac_ms


_case = st.tuples(
    st.integers(min_value=0, max_value=2_100_000_000),  # 1970..2036
    st.sampled_from([" ", "T"]),
    st.sampled_from(["none", "Z", "pos_hh", "neg_hh", "pos_hhmm",
                     "neg_hhmm", "pos_hh:mm", "neg_hh:mm"]),
    st.integers(min_value=0, max_value=13),
    st.integers(min_value=0, max_value=59),
    st.one_of(st.none(), st.text("0123456789", min_size=1, max_size=7)),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_case, min_size=1, max_size=30))
def test_timestamp_parse_property(spark, cases):
    built = [_mk_case(*c) for c in cases]
    got = _parse_all(spark, [s for s, _ in built])
    for s, expected in built:
        assert got[s] == expected, s
