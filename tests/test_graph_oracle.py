"""The trade-graph and PageRank queries against their DuckDB oracles.

q160, q232, q237 and q242 share ops/graph.trade_graph_edges and its oracle
CTEs; q160 and q213 share pagerank_oracle. Each query must equal its
oracle exactly (tools/check_oracle.py's compare) at sf0.001.
"""

import pytest

from csv_loader_spark.queries.registry import all_specs
from test_plans import SF_DIR
from tools.check_oracle import compare_exact, duck_conn


@pytest.fixture(scope="module")
def duck():
    con = duck_conn(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "q160_pagerank",
        "q213_textrank_keywords",
        "q232_label_propagation",
        "q237_bfs_levels",
        "q242_bounded_shortest_path",
    ],
)
def test_graph_query_matches_oracle(spark, duck, name):
    spec = all_specs()[name]
    got = spec.fn(spark, SF_DIR).toPandas()
    want = duck.execute(spec.oracle).fetchdf()
    assert len(got) > 0
    assert compare_exact(got, want) == []
