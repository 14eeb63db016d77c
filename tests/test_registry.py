"""The query registry rejects a mis-registered function at import time."""

import pytest

from csv_loader_spark.queries.registry import all_specs, query


def test_registry_rejects_one_argument_function():
    with pytest.raises(TypeError, match="must take \\(spark, sf_dir\\)"):

        @query("q_arity_probe")
        def helper(hourly):
            return hourly

    assert "q_arity_probe" not in all_specs()
