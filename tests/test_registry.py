"""The query registry rejects a mis-registered function at import time,
and its tags alone define the query sets the bench runs."""

import pytest

import bench
from csv_loader_spark.queries.registry import all_specs, query


def test_registry_rejects_one_argument_function():
    with pytest.raises(TypeError, match="must take \\(spark, sf_dir\\)"):

        @query("q_arity_probe")
        def helper(hourly):
            return hourly

    assert "q_arity_probe" not in all_specs()


def test_bench_sets_derive_from_tags():
    assert bench.HEADLINE == (
        "q01_pricing_summary",
        "q03_topn_revenue",
        "q05_nation_volume",
        "q07_brand_volume",
        "q13_window_topk",
        "q21_monthly_orders",
        "q23_sessionize",
        "q26_distinct_exact",
        "q28_dedup_exact",
        "q35_knn_bruteforce",
    )
    numbers = [int(n[1:n.index("_")]) for n in bench._ALL]
    assert len(bench._ALL) == 141
    assert numbers == sorted(numbers) and len(set(numbers)) == 141
    assert {g: len(bench.tagged(g)) for g in bench.GROUPS} == {
        "headline": 10, "r7": 5, "r8": 5, "r9": 14, "r10": 3,
        "r12": 63, "r13": 14, "r14": 25, "r15": 2,
    }
    # tools/bench_duckdb.py times every bench query's oracle SQL
    specs = all_specs()
    assert [n for n in bench._ALL if specs[n].oracle is None] == []
