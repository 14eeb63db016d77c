"""Spark's generated-class cache holds the whole headline query set, so a
headline query run again in the same session compiles no class. At Spark's default
of 100 entries the ten HEADLINE queries (~130 classes) evict each other and
every pass recompiles ~120 classes through Janino."""

from bench import HEADLINE
from csv_loader_spark.profile import compiling
from csv_loader_spark.queries.registry import get

SF_DIR = "/root/testdata/sf0.001"


def _headline_pass(spark):
    for name in HEADLINE:
        get(name).fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()


def test_second_headline_pass_compiles_nothing(spark):
    _headline_pass(spark)
    with compiling(spark) as compiles:
        _headline_pass(spark)
    assert compiles["n"] == 0, compiles["n"]
