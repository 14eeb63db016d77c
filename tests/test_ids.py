"""BigInteger.longValue() truncation parity (CsvLoader.java:145-146)."""

from pyspark.sql import functions as F

from csv_loader_spark.functions.ids import decimal_str_to_int64


def _convert(spark, values):
    df = spark.createDataFrame([(v,) for v in values], ["id"])
    return [r["v"] for r in df.select(F.expr(decimal_str_to_int64("id")).alias("v")).collect()]


def test_in_range_and_signs(spark):
    assert _convert(spark, ["0", "123", "-123", "+45", " 7 "]) == [0, 123, -123, 45, 7]


def test_low_64_bit_truncation(spark):
    two63 = 2**63
    cases = {
        str(2**64 + 1): 1,  # wraps to 1
        str(2**64): 0,
        str(two63): -two63,  # top bit set → negative (two's complement)
        str(two63 - 1): two63 - 1,
        str(2**64 + two63 + 5): -two63 + 5,
    }
    assert _convert(spark, list(cases)) == list(cases.values())


def test_non_numeric_is_null_not_abort(spark):
    # divergence from reference (which aborts the load): droppable NULL
    assert _convert(spark, ["veh-7", "", "12.5", "1e3"]) == [None, None, None, None]
