"""Build-only smoke test: every registered query constructs its DataFrame
without raising. The test runs no action (a few builders run Spark jobs of
their own), so a registration or construction error fails here rather than
at bench or oracle time."""

import pytest
from pyspark.sql import DataFrame

from csv_loader_spark.queries.registry import all_specs

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(all_specs()))
def test_query_builds(spark, name):
    assert isinstance(all_specs()[name].fn(spark, SF_DIR), DataFrame)
