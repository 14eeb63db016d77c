"""Seeded inputs for the benchmark, with expectations computed independently.

Two generators:

* ``write_pings`` writes GPS-ping CSV (plain or gzip) in the reference's
  layouts: narrow 4-field and wide 11-field records interleaved, every
  accepted timestamp format with and without fractional seconds, ids above
  2^63 (so the string and int64 distinct counts differ) and dirty rows of
  every reject class. Alongside the file it returns what a correct ingest
  must produce, derived from the generator's own records: the accepted
  rows as ``(vehicle_id, lat, lon, ts_millis)`` tuples, rejects by reason
  and the two distinct counts. Nothing here calls ``csv_loader_spark``.
* ``write_tables`` writes the star-schema parquet tables the headline
  queries read (``lineitem``, ``orders``, ... ``embeddings``) with the
  schemas and value ranges of the project's test data.
"""

from __future__ import annotations

import datetime as dt
import gzip
import math
import os
import random
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
_TS_START = dt.datetime(2015, 6, 1, tzinfo=dt.timezone.utc)
_TWO63, _TWO64 = 1 << 63, 1 << 64


@dataclass
class PingExpectation:
    """What ingesting one or more generated ping files must produce."""

    rows_in: int = 0
    rejected: Counter = field(default_factory=Counter)
    accepted: Counter = field(default_factory=Counter)  # row tuple -> copies
    id_strings: set = field(default_factory=set)
    id_ints: set = field(default_factory=set)

    @property
    def rows_out(self) -> int:
        return sum(self.accepted.values())

    @property
    def n_vehicles(self) -> int:
        return len(self.id_strings)

    @property
    def n_ids(self) -> int:
        return len(self.id_ints)

    def merge(self, other: "PingExpectation") -> None:
        self.rows_in += other.rows_in
        self.rejected.update(other.rejected)
        self.accepted.update(other.accepted)
        self.id_strings |= other.id_strings
        self.id_ints |= other.id_ints


def _signed64(v: int) -> int:
    v %= _TWO64
    return v - _TWO64 if v >= _TWO63 else v


def _fraction_ms(frac: str) -> int:
    # the reference: Double.parseDouble("0." + frac) * 1000, truncated
    return math.floor(float("0." + frac) * 1000) if frac else 0


#: (strftime pattern, suffix, offset hours) for the three accepted formats:
#: explicit offset or Z, no offset (read as UTC), and ISO-8601 with a T
_TS_SHAPES = (
    ("%Y-%m-%d %H:%M:%S", "+00", 0),
    ("%Y-%m-%d %H:%M:%S", "Z", 0),
    ("%Y-%m-%d %H:%M:%S", "+05", 5),
    ("%Y-%m-%d %H:%M:%S", "-03", -3),
    ("%Y-%m-%d %H:%M:%S", "", 0),
    ("%Y-%m-%dT%H:%M:%S", "Z", 0),
)


def _timestamp(rng: random.Random) -> tuple[str, int]:
    """A timestamp string in one of the accepted formats and its epoch ms."""
    when = _TS_START + dt.timedelta(seconds=rng.randrange(0, 180 * 86400))
    frac = rng.choice(["", "", "5", "25", "123", "123456", "9"])
    pattern, suffix, offset_h = rng.choice(_TS_SHAPES)
    local = when + dt.timedelta(hours=offset_h)
    text = local.strftime(pattern) + ("." + frac if frac else "") + suffix
    millis = int((when - _EPOCH).total_seconds()) * 1000 + _fraction_ms(frac)
    return text, millis


def _vehicle_pool(rng: random.Random, n: int) -> list[str]:
    """Decimal id strings; one in 50 lies above 2^63 and one in 50 is
    2^64 + k for a k already in the pool, so its int64 collides."""
    base = [str(rng.randrange(1, 10**13)) for _ in range(n)]
    pool = list(base)
    for i in range(0, n, 50):
        pool.append(str(_TWO63 + rng.randrange(1, 10**12)))
        pool.append(str(_TWO64 + int(base[i])))
    return pool


_DIRTY = (
    # (reason, builder(ts, vid, lat, lon) -> fields)
    ("bad_latlon", lambda ts, vid, lat, lon: [ts, vid, "abc", lon]),
    ("bad_latlon", lambda ts, vid, lat, lon: [ts, vid]),
    ("bad_latlon", lambda ts, vid, lat, lon: ["time", "vehicle_id", "lat", "lon"]),
    ("bad_time", lambda ts, vid, lat, lon: ["not-a-time", vid, lat, lon]),
    ("bad_time", lambda ts, vid, lat, lon: ["2015-13-45 99:99:99", vid, lat, lon]),
    ("bad_vehicle_id", lambda ts, vid, lat, lon: [ts, "veh-7", lat, lon]),
    ("bad_vehicle_id", lambda ts, vid, lat, lon: [ts, "", lat, lon]),
)


def ping_lines(seed: int, rows: int, vehicles: int = 500) -> tuple[list[str], PingExpectation]:
    """``rows`` CSV lines (no header) and their expectation; 2% are dirty."""
    rng = random.Random(seed)
    pool = _vehicle_pool(rng, vehicles)
    exp = PingExpectation(rows_in=rows)
    lines = []
    for _ in range(rows):
        ts, millis = _timestamp(rng)
        vid = rng.choice(pool)
        lat = f"{rng.uniform(-90, 90):.6f}"
        lon = f"{rng.uniform(-180, 180):.6f}"
        if rng.random() < 0.02:
            reason, build = rng.choice(_DIRTY)
            fields = build(ts, vid, lat, lon)
            exp.rejected[reason] += 1
        else:
            if rng.random() < 0.3:  # wide taxi layout: lat/lon at 9/10
                filler = [f"f{rng.randrange(100)}" for _ in range(7)]
                fields = [ts, vid, *filler, lat, lon]
            else:
                fields = [ts, vid, lat, lon]
            vid64 = _signed64(int(vid))
            exp.accepted[(vid64, float(lat), float(lon), millis)] += 1
            exp.id_strings.add(vid)
            exp.id_ints.add(vid64)
        lines.append(",".join(fields))
    return lines, exp


def write_pings(path: str, seed: int, rows: int) -> PingExpectation:
    """Write one ping file (gzip when ``path`` ends in .gz)."""
    lines, exp = ping_lines(seed, rows)
    data = ("\n".join(lines) + "\n").encode()
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "wb") as fh:
        fh.write(data)
    return exp


# ---------------------------------------------------------------------------
# Star-schema tables
# ---------------------------------------------------------------------------

_WORDS = (
    "a the data spark query table row column scan filter join agg group sort "
    "merge hash key value part line order customer batch stream window "
    "vector small big fast slow"
).split()


def _ts_us(rng: np.random.Generator, n: int, start: str, days: int, whole_days: bool) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    if whole_days:
        offs = rng.integers(0, days, n) * 86_400_000_000
    else:
        offs = rng.integers(0, days * 86_400_000_000, n)
    return pa.array(base + offs, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table the headline queries read; returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = max(15, int(15_000 * sf)), int(50_000 * sf), int(20_000 * sf)
    pick = lambda vals, n: pa.array(np.asarray(vals, dtype=object)[rng.integers(0, len(vals), n)])  # noqa: E731
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pick([f"{a} {b}" for a in ("large", "hot", "tiny", "blue", "old", "shiny", "dark", "soft")
                            for b in ("ring", "bolt", "gear", "nut", "pipe", "cog", "rod", "cap")], n_part),
            "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _ts_us(rng, n_ord, "1995-01-01", 2404, whole_days=True),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            # whole hundreds: every price * (1 - discount) * (1 + tax) is
            # then exact in cents. A sum that sits exactly on half a cent
            # rounds either way in Spark and DuckDB, by summation order.
            "l_extendedprice": np.round(rng.uniform(9.0, 1050.0, n_li)) * 100.0,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _ts_us(rng, n_li, "1995-01-02", 2498, whole_days=True),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts_us(rng, n_ev, "2024-01-01", 30, whole_days=False),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": pick(["click", "view", "purchase", "signup", "error"], n_ev),
            "value": _money(rng, n_ev, 0.0, 560.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    }
    texts = [" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(10, 90))])
             for _ in range(n_docs)]
    for i in range(0, n_docs, 600):  # a few exact duplicates for the dedup query
        texts[(i * 7 + 3) % n_docs] = texts[i]
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": pick(["de", "en", "es", "fr", "zh"], n_docs),
        "source": pick([f"src{i}" for i in range(20)], n_docs),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    vecs = rng.normal(0.0, 0.2, (n_vec, 64)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.reshape(-1), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    }
    counts = {}
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def write_gz_dir(out_dir: str, seed: int, files: int, rows: int) -> tuple[str, PingExpectation]:
    """``files`` gzip ping files of ``rows`` records each, one expectation."""
    os.makedirs(out_dir, exist_ok=True)
    exp = PingExpectation()
    for i in range(files):
        exp.merge(write_pings(os.path.join(out_dir, f"pings-{i:03d}.csv.gz"), seed * 1000 + i, rows))
    return out_dir, exp
