"""Shared pytest fixtures: one local SparkSession per test run + CSV fixture
builders implementing FIXTURES.md §A."""

from __future__ import annotations

import gzip
import os
import sys
import zipfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_loader_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


# --- FIXTURES.md §A builders ----------------------------------------------

NARROW_ROWS = [
    # (csv_line, expected (vehicle_id, ts_millis, lat, lon)) — A1 variants
    ("2015-06-01 08:30:15+00,101,40.7128,-74.0060", (101, 1433147415000, 40.7128, -74.0060)),
    ("2015-06-01 08:30:15+05,102,41.0,29.0", (102, 1433129415000, 41.0, 29.0)),
    ("2015-06-01 08:30:15Z,103,51.5,-0.12", (103, 1433147415000, 51.5, -0.12)),
    ("2015-06-01 08:30:15,104,48.85,2.35", (104, 1433147415000, 48.85, 2.35)),
    ("2015-06-01T08:30:15Z,105,35.68,139.69", (105, 1433147415000, 35.68, 139.69)),
    ("2015-06-01 08:30:15.5+00,106,1.29,103.85", (106, 1433147415500, 1.29, 103.85)),
    ("2015-06-01T08:30:15.123456Z,107,55.75,37.61", (107, 1433147415123, 55.75, 37.61)),
]

WIDE_ROWS = [
    (
        "2015-06-01 09:00:00+00,201,f2,f3,f4,f5,f6,f7,f8,40.1,-73.9",
        (201, 1433149200000, 40.1, -73.9),
    ),
    (
        "2015-06-01 09:00:01Z,202,9.9,9.9,x,x,x,x,x,34.05,-118.24",
        (202, 1433149201000, 34.05, -118.24),
    ),
]

DIRTY_ROWS = [
    "x,y",  # too few columns
    "2015-06-01 08:30:15+00,301,abc,-74.0",  # non-numeric lat
    "2015-06-01 08:30:15+00,302,40.7,abc",  # non-numeric lon
    "not-a-time,303,40.7,-74.0",  # unparseable timestamp
    "2015-13-45 99:99:99,304,40.7,-74.0",  # invalid date parts
    "time,vehicle_id,lat,lon",  # header-looking row (self-healing drop)
    "2015-06-01 08:30:15+00,veh-7,40.7,-74.0",  # non-numeric id (we drop; ref aborts)
    "2015-06-01 08:30:15+00,,40.7,-74.0",  # empty id
]

WRAP_ROW = "2015-06-01 08:30:15+00,18446744073709551617,40.7,-74.0"  # 2^64+1 → 1


def write_narrow_csv(path: str) -> int:
    with open(path, "w", encoding="utf-8") as f:
        for line, _ in NARROW_ROWS:
            f.write(line + "\n")
    return len(NARROW_ROWS)


def write_mixed_csv(path: str) -> int:
    with open(path, "w", encoding="utf-8") as f:
        for i, (line, _) in enumerate(NARROW_ROWS):
            f.write(line + "\n")
            if i < len(WIDE_ROWS):
                f.write(WIDE_ROWS[i][0] + "\n")
    return len(NARROW_ROWS) + len(WIDE_ROWS)


def write_dirty_csv(path: str) -> tuple[int, int]:
    """Returns (n_valid, n_dropped)."""
    with open(path, "w", encoding="utf-8") as f:
        for line, _ in NARROW_ROWS:
            f.write(line + "\n")
        for line in DIRTY_ROWS:
            f.write(line + "\n")
        # RFC 4180: quoted field w/ comma + embedded newline parses fine, but
        # lands in a field position that fails the double cast → drop
        f.write('2015-06-01 08:30:15+00,305,"a,b\nc",-74.0\n')
        f.write(WRAP_ROW + "\n")
    return len(NARROW_ROWS) + 1, len(DIRTY_ROWS) + 1


def write_gzip_csv(path: str) -> int:
    with gzip.open(path, "wt", encoding="utf-8") as f:
        for line, _ in NARROW_ROWS:
            f.write(line + "\n")
    return len(NARROW_ROWS)


def write_zip_csv(path: str) -> int:
    """Two entries: first valid CSV, second decoy junk (only first is read)."""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("a_data.csv", "".join(line + "\n" for line, _ in NARROW_ROWS))
        zf.writestr("z_decoy.csv", "junk,junk\n" * 100)
    return len(NARROW_ROWS)
