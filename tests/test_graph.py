"""Connected-components fixpoint on known graphs."""

from csv_loader_spark.ops.graph import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    rows = connected_components(df, "a", "b").collect()
    return {r["node"]: r["component"] for r in rows}


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_converges_past_one_hop(spark):
    # a 6-node path: label 1 must propagate the full diameter
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    assert set(got.values()) == {1}


def test_cycle_and_isolated_edge(spark):
    got = _cc(spark, [(7, 8), (8, 9), (9, 7), (100, 200)])
    assert got[7] == got[8] == got[9] == 7
    assert got[100] == got[200] == 100


def test_nonconvergence_raises_loudly_on_path_graph(spark):
    """A path graph's diameter ≈ n: min-label propagation moves one hop
    per round, so a tight iteration cap must FAIL, not silently return
    merge-undercounted components (r7 guard)."""
    import pytest

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="still changing after 6"):
        connected_components(path, "src", "dst", max_iterations=5)
    # with room to converge the same graph is one component rooted at 0
    ok = connected_components(path, "src", "dst", max_iterations=40)
    assert ok.agg({"component": "max"}).collect()[0][0] == 0


def test_exact_bound_convergence_does_not_raise(spark):
    """A graph converging in exactly max_iterations propagation rounds
    must succeed: the sum-equality check needs one confirming round, which
    must not count against the bound (r7 review fix)."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long"
    )
    ok = connected_components(path, "src", "dst", max_iterations=10)
    assert ok.agg({"component": "max"}).collect()[0][0] == 0


def test_kcore_peel_hand_graph(spark):
    """Peeling a lollipop: triangle {1,2,3} + pendant chain 3-4-5. With
    k=2 the chain peels over two rounds (5 first, then 4); the triangle
    survives with degree 2 everywhere."""
    from csv_loader_spark.ops.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "a long, b long"
    )
    got = {r["node"]: r["deg"] for r in kcore_peel(edges, 2, 3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_peel_fixed_rounds_is_prefix_of_fixpoint(spark):
    """One round removes only the currently-underdegree nodes: the 4-star
    center survives round 1 (deg 4) but dies in round 2 once its leaves
    (deg 1) are gone — with rounds=1 it must still be present."""
    from csv_loader_spark.ops.graph import kcore_peel

    star = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(star, "a long, b long")
    after1 = {r["node"] for r in kcore_peel(edges, 2, 1).collect()}
    assert after1 == set()  # leaves die round 1; center left with no edges
    # k=1: everything survives (every node has deg >= 1)
    all_nodes = {r["node"] for r in kcore_peel(edges, 1, 3).collect()}
    assert all_nodes == {0, 1, 2, 3, 4}


def test_symmetrized_dedup_edges_multiset_and_plan(spark):
    """The r15b one-shuffle edge build: equals distinct-then-symmetrize
    on a duplicated pair list (both orders, both directions, no spurious
    rows), and its physical plan carries exactly ONE shuffle exchange —
    the (src, dst) dedup must plan exchange-free on top of the src
    repartition (HashPartitioning(src) satisfies its clustering)."""
    from pyspark.sql import functions as F

    from csv_loader_spark.ops.graph import (
        explode_both_directions,
        symmetrized_dedup_edges,
    )

    raw = spark.createDataFrame(
        [(2, 3), (2, 3), (4, 3), (2, 5), (4, 3), (4, 7)], "cu long, su long"
    )
    got = symmetrized_dedup_edges(raw, "cu", "su")
    want = explode_both_directions(raw.distinct(), "cu", "su")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    plan = got._jdf.queryExecution().executedPlan().toString()
    # one "Exchange hashpartitioning" (the src repartition), none for the
    # dedup aggregate; createDataFrame feeds a local scan so no broadcast
    # exchange muddies the count
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # pagerank_fixed_point repartitions its input by src again before its
    # checkpoint: over this layout that plans no second exchange
    plan = got.repartition("src")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_symmetrized_dedup_edges_precondition_edge_cases(spark):
    """ADVICE r15: outside the no-self-pair / no-reversed-counterpart
    precondition the helper is NOT multiset-equivalent to
    distinct-then-explode — pin the actual divergent behavior so a
    future caller outside the even/odd or ordered-pair encodings trips
    over a documented fact, not a silent degree-count change."""
    from csv_loader_spark.ops.graph import symmetrized_dedup_edges

    # self-pair (5, 5): distinct-then-explode emits (5,5) TWICE; the
    # dedup form collapses them to ONE row
    self_pair = spark.createDataFrame([(5, 5)], "cu long, su long")
    got = symmetrized_dedup_edges(self_pair, "cu", "su").collect()
    assert [(r["src"], r["dst"]) for r in got] == [(5, 5)]

    # reversed counterparts (2, 3) and (3, 2): distinct keeps both pair
    # rows (4 exploded edges, each direction twice); the dedup form
    # returns each direction ONCE
    rev = spark.createDataFrame([(2, 3), (3, 2)], "cu long, su long")
    got = sorted(
        (r["src"], r["dst"])
        for r in symmetrized_dedup_edges(rev, "cu", "su").collect()
    )
    assert got == [(2, 3), (3, 2)]

