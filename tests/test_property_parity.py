"""Seeded randomized parity tests: a few hundred generated inputs run as ONE
Spark job per property (hypothesis-per-example would pay a Spark job per
case), compared against an independent pure-Python model of the reference
semantics."""

import random
from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from csv_loader_spark.functions.ids import decimal_str_to_int64
from csv_loader_spark.functions.timestamps import parse_time_to_millis

MASK64 = (1 << 64) - 1


def _py_biginteger_long(s: str):
    """Reference model: BigInteger(s).longValue() = low 64 bits, signed."""
    s = s.strip()
    try:
        v = int(s, 10)
    except ValueError:
        return None
    if len(s.lstrip("+-")) > 38:  # documented DecimalType(38,0) divergence
        return None
    low = v & MASK64
    return low - (1 << 64) if low >= (1 << 63) else low


def test_id_truncation_randomized(spark):
    rng = random.Random(42)
    cases = ["0", "-1", str(2**63), str(2**64), "9" * 38]
    for _ in range(300):
        digits = rng.randint(1, 38)
        sign = rng.choice(["", "-", "+"])
        cases.append(sign + "".join(rng.choice("0123456789") for _ in range(digits)))
    df = spark.createDataFrame([(c,) for c in cases], ["s"])
    got = [
        r["v"] for r in df.select(F.expr(decimal_str_to_int64("s")).alias("v")).collect()
    ]
    expected = [_py_biginteger_long(c) for c in cases]
    assert got == expected


def test_word_shingles_randomized(spark):
    from csv_loader_spark.functions.text import word_shingles

    rng = random.Random(99)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    cases = [" ".join(rng.choices(vocab, k=rng.randint(0, 8))) for _ in range(120)]

    def model(text, n=3):
        toks = text.lower().split()
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        seen, out = set(), []
        for g in grams:
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], ["i", "text"])
    got = {
        r["i"]: r["sh"]
        for r in df.select("i", word_shingles("text", 3).alias("sh")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == model(c), repr(c)


def test_timestamp_parse_randomized(spark):
    rng = random.Random(7)
    cases = []
    expected = []
    base = datetime(2012, 1, 1, tzinfo=timezone.utc)
    for _ in range(200):
        dt = base + timedelta(
            days=rng.randint(0, 4000),
            seconds=rng.randint(0, 86399),
        )
        ms = rng.choice([None, rng.randint(0, 999)])
        offset_h = rng.choice([None, 0, 2, -5])
        epoch_ms = int(dt.timestamp()) * 1000
        naive = dt.strftime("%Y-%m-%d %H:%M:%S")
        frac = f".{ms:03d}" if ms is not None else ""
        add = ms if ms is not None else 0
        if offset_h is None:
            cases.append(naive + frac)  # format 2: UTC (pinned)
            expected.append(epoch_ms + add)
        else:
            local = dt + timedelta(hours=offset_h)
            s = local.strftime("%Y-%m-%d %H:%M:%S") + frac + f"{offset_h:+03d}"
            cases.append(s)  # format 1: explicit offset
            expected.append(epoch_ms + add)
    df = spark.createDataFrame([(c,) for c in cases], ["s"])
    got = [
        r["v"] for r in df.select(F.expr(parse_time_to_millis("s")).alias("v")).collect()
    ]
    assert got == expected
