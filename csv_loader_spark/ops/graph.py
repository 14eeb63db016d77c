"""Iterative graph ops: connected components and fixed-point PageRank,
plus the trade-graph edge build, hub and PageRank oracle SQL that the
graph queries share.

Connected components is the dedup pipeline's last step: near-dup PAIRS
(from MinHash/SimHash/Jaccard) → duplicate CLUSTERS (keep one doc per
component). PageRank ranks nodes by link structure (Brin & Page 1998,
"The Anatomy of a Large-Scale Hypertextual Web Search Engine") — the
training-data use is domain/document authority scoring for curation
(e.g. quality-weighting a crawl by its link graph). Both are the
canonical iterative DataFrame algorithm — no single SQL expression
computes them, so we iterate.

Scale notes:
- each iteration is one shuffle (join on node) + one aggregation; rounds
  needed = graph diameter for components, a FIXED count for PageRank;
- ``localCheckpoint`` every round truncates the lineage — without it the
  plan doubles per iteration and the optimizer chokes by round ~10;
- components' convergence test is a cheap driver-side aggregate (sum of
  labels is monotonically decreasing, so equality == fixpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_loader_spark.io.tables import load_table

#: edge-count ceiling under which an iterative op narrows its working
#: frames. 4M edges ~ 64 MB of (long, long) rows — the point where
#: per-stage scheduling overhead dominates per-task work.
_SMALL_GRAPH_EDGE_MAX = 4_000_000

#: PageRank damping d = _DAMPING_NUM / _DAMPING_DEN, in exact integers.
_DAMPING_NUM, _DAMPING_DEN = 85, 100


def small_graph_coalesce(e: DataFrame) -> DataFrame:
    """Narrow a (lazily checkpointed) iterative working frame when the
    graph is measurably SMALL, else return it untouched.

    An iterative op on local[32] runs 3-10 rounds of 2-3 stages each at
    32 tasks/stage; for a graph of ~1M edges each task carries ~1 ms of
    work, so scheduling overhead IS the runtime (r14 measured q160 at
    4.6 s on 32-wide stages vs 2.8 s on 8-wide — and AQE's
    coalescePartitions cannot help because the map-side task count is
    pinned by the checkpointed RDD's block count, not by the shuffle
    read). A 100 TB edge list must keep every core busy instead, so the
    narrowing is SIZE-GATED the same way triangle_nodes gates its
    broadcast: count once (the action materializes the checkpoint every
    round reuses — effectively free for an executing caller), coalesce
    only under ``_SMALL_GRAPH_EDGE_MAX`` (4M) edges.
    ``coalesce`` on the materialized checkpoint is a narrow read-time
    merge — no recompute, values untouched.
    """
    if e.count() > _SMALL_GRAPH_EDGE_MAX:
        return e
    cpus = e.sparkSession.sparkContext.defaultParallelism
    return e.coalesce(max(2, cpus // 8))


def explode_both_directions(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(a, b) pair rows → (src, dst) rows in BOTH directions in one pass.

    The r15 symmetrization shape: a self-union (`e UNION ALL
    reverse(e)`) executes the pair plan twice (or forces a checkpoint
    just to share it) and doubles the partition count every downstream
    stage inherits; exploding a 2-element struct array emits both
    directed copies from one whole-stage-codegen pass over each pair
    row. Callers typically follow with ``.repartition("src")`` +
    ``.localCheckpoint()`` (see pagerank_fixed_point)."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
            )
        ).alias("x")
    ).select("x.src", "x.dst")


def symmetrized_dedup_edges(raw_pairs: DataFrame, a: str, b: str) -> DataFrame:
    """RAW (possibly duplicated) undirected pair rows → the deduplicated
    symmetrized (src, dst) edge list, shuffled exactly ONCE, partitioned
    by ``src``.

    PRECONDITION (r15 ADVICE): equivalence to distinct-then-explode
    holds only when the raw pairs contain NO self-pairs (a == b) and no
    reversed counterparts ((b, a) alongside (a, b)) — outside that, a
    self-pair yields 1 edge here vs 2 from the explode-after-distinct
    form, and (a, b)+(b, a) collapse to 2 edges instead of 4, altering
    degree counts. Every current caller guarantees it structurally:
    q160/q232/q237/q242 encode endpoints even/odd (2*custkey vs
    2*suppkey+1 — disjoint domains, so neither collision can occur), and
    ordered-pair builders (least/greatest a < b) exclude both by
    construction. See test_graph.py for the covering cases.

    The r15b edge-prep shape: ``raw.distinct()`` → explode → ``
    .repartition("src")`` pays TWO shuffles of the pair set (the
    distinct's (a, b) exchange, then the src one). Exploding the RAW
    pairs first and deduplicating ABOVE the src repartition pays one:
    ``HashPartitioning(src)`` satisfies the ``(src, dst)`` dedup's
    clustering requirement, so the ``dropDuplicates`` plans with NO
    exchange of its own.

    Distribution bound: this wins when raw pairs are NEAR-UNIQUE — the
    trade graph's dup ratio is ~1.1, so the pre-shuffle partial distinct
    the old shape ran map-side was a per-task hash table that deduped
    almost nothing (the q225 finding, see llm10.py), while this shape
    shuffles ~27% fewer rows in total (1.2M one-exchange vs 0.55M+1.1M
    two-exchange at sf0.1). A HEAVILY duplicated corpus (raw >> distinct
    pairs) inverts the trade — there, dedup before the shuffle and eat
    the second exchange. Measured (sf0.1, 8 interleaved reps, noop
    sink): medians 1.343 s (two-shuffle) vs 1.307 s (this) — local
    parity, the win is the removed exchange/stage at scale.

    Callers follow with ``.localCheckpoint(eager=False)`` (and may add
    payload columns derived from src+dst first — e.g. q242's weight,
    symmetric in the endpoints, is computed POST-dedup)."""
    return (
        explode_both_directions(raw_pairs, a, b)
        .repartition("src")
        .dropDuplicates(["src", "dst"])
    )


def trade_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer-supplier trade graph of q160, q232, q237 and q242:
    one (src, dst) row per direction of each distinct (customer,
    supplier) pair that shares an order. Node ids are even/odd encoded
    — 2*custkey for a customer, 2*suppkey+1 for a supplier — so the two
    domains never collide, which is the precondition
    symmetrized_dedup_edges needs. The frame is NOT checkpointed: each
    caller checkpoints it, q242 after adding its edge weight (w is
    symmetric in the endpoints, so computing it post-dedup leaves every
    edge's value unchanged).

    Edge prep (r15): both directions are EXPLODED from each (cu, su)
    pair in one pass — no self-union re-executing the join plan — and
    the edge list is hash-repartitioned by src before the caller's one
    checkpoint. On a cluster that co-locates each node's adjacency list
    for every round's join; on local[32] it halved per-round task counts
    vs the 2x-partitioned union (q237 x100 isolated 6.7-7.7 -> 5.4 s,
    q242 8.6-9.7 -> 6.1-6.7 s, q232 9.0 -> 6.3 s with its argmax
    aggregate). r15b: the pair dedup is folded ABOVE that src shuffle
    (symmetrized_dedup_edges). The trade pairs are near-unique (600k raw
    -> 587k distinct at sf0.1), so the old pre-explode distinct paid a
    second full exchange whose map-side partial distinct deduped almost
    nothing; edge multiset proven identical, 2 shuffles -> 1
    (plans/r15/q232_edge_build_before/after.txt,
    plans/r15/q237_edge_build_before/after.txt). pagerank_fixed_point's
    own ``repartition("src")`` over this frame plans no second exchange:
    the src layout already satisfies it (tests/test_graph.py).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("cu"),
        (F.col("l_suppkey") * 2 + 1).alias("su"),
    )
    return symmetrized_dedup_edges(pairs, "cu", "su")


def trade_graph_hub(e: DataFrame) -> int:
    """The max-out-degree ``src`` node of edge frame ``e``, smallest id on
    ties — the BFS/shortest-path root of q237 and q242. One 1-row collect
    (a bounded driver-side result, not a data-sized one)."""
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    return int(deg.orderBy(F.desc("d"), "node").limit(1).collect()[0]["node"])


#: DuckDB CTEs ``pairs`` and ``e(src, dst)``: the oracle form of
#: trade_graph_edges (distinct pairs, then both directions).
TRADE_GRAPH_SQL = """pairs AS (
      SELECT DISTINCT o_custkey * 2 AS cu, l_suppkey * 2 + 1 AS su
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    e AS (
      SELECT cu AS src, su AS dst FROM pairs
      UNION ALL SELECT su AS src, cu AS dst FROM pairs
    )"""

#: DuckDB CTEs ``hub_deg`` and ``hub(node)`` over ``e``: the oracle form
#: of trade_graph_hub.
TRADE_GRAPH_HUB_SQL = """hub_deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY src),
    hub AS (SELECT node FROM hub_deg ORDER BY d DESC, node LIMIT 1)"""


def pagerank_oracle(iters: int, scale: int) -> str:
    """DuckDB CTEs ``deg``, ``n`` and ``r0`` … ``r{iters}`` that reproduce
    pagerank_fixed_point exactly over a CTE ``e(src, dst)`` the caller
    defines first; the final ranks are ``r{iters}(node, pr)``. The rounds
    are unrolled: one ``s{i}`` (summed contributions) and one ``r{i}``
    per iteration. Nodes are the ``src`` set, which is every node of a
    symmetrized edge list."""
    base = scale * (_DAMPING_DEN - _DAMPING_NUM) // _DAMPING_DEN
    ctes = [
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src)",
        "n AS (SELECT DISTINCT src AS node FROM e)",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr FROM n)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""s{i} AS (
      SELECT e.dst AS node, CAST(sum(r{i - 1}.pr // d.deg) AS BIGINT) AS s
      FROM e JOIN r{i - 1} ON e.src = r{i - 1}.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.node,
             CAST({base} + ({_DAMPING_NUM} * coalesce(s{i}.s, 0)) // {_DAMPING_DEN}
                  AS BIGINT) AS pr
      FROM n LEFT JOIN s{i} USING (node)
    )"""
        )
    return ",\n    ".join(ctes)


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iterations: int = 20
) -> DataFrame:
    """Undirected connected components over an edge list.

    Returns (node, component) where component = min node id reachable.
    """
    # ONE materialization of the edge frame (r10): every propagation
    # round joins against `both`, and the caller's edge plan may be
    # expensive (q143 feeds the prefix-filtered Jaccard join here) —
    # without the checkpoint Spark re-executes that whole plan per round
    # (measured 7.5 s for a 477-node graph at sf0.1; ~2.5 s after).
    # Checkpoint BEFORE the union: the two union branches would otherwise
    # each materialize the edge plan once.
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=False
    )
    both = e0.unionAll(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # seed with the 1-hop neighborhood min (node vs its neighbors) — this
    # IS round one's result, computed with one aggregation instead of a
    # join round
    labels = (
        both.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("label"))
        .select(F.col("a").alias("node"), "label")
    )
    prev_sum = None
    # max_iterations bounds PROPAGATION rounds; convergence is detected by
    # sum-equality, which needs one extra confirming round after the last
    # change — hence the +1, so a graph converging in exactly
    # max_iterations rounds passes instead of raising spuriously.
    for _ in range(max_iterations + 1):
        neighbor_min = (
            labels.join(both, labels["node"] == both["b"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            # truncate lineage each round; LAZY so the convergence sum
            # below is the round's ONE job (materializes the blocks as a
            # side effect) instead of a checkpoint job plus a sum job
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # Rounds needed = graph diameter. Near-dup clusters are shallow
        # (~2-4), so hitting the cap means an adversarial long-chain graph
        # (diameter ≈ n) — returning the unconverged labels would silently
        # MERGE-UNDERCOUNT components, which for a dedup pipeline means
        # keeping duplicates. Fail loudly instead.
        raise RuntimeError(
            f"connected_components still changing after {max_iterations + 1} "
            f"propagation rounds (bound max_iterations={max_iterations} + 1 "
            "confirming round) — the graph's diameter exceeds the bound (a "
            "long-chain structure, not a near-dup cluster shape); raise "
            "max_iterations or pre-contract the chains"
        )
    return labels.select("node", F.col("label").alias("component"))


def pagerank_fixed_point(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """PageRank over a directed edge list in EXACT integer arithmetic.

    Ranks live in fixed-point units of 1/``scale``; every step is integer
    multiply / integer division (``div``), so the result is bit-identical
    across engines and runs — no float summation-order hazard — which is
    what makes the op oracle-checkable (q160). The recurrence per round:

        contrib(u) = pr(u) div out_deg(u)            -- u's per-edge share
        pr'(v) = (scale*(den-num)) div den
                 + (num * sum_{u->v} contrib(u)) div den

    i.e. the standard damped power iteration with d = num/den = 85/100,
    floored at each division. Dangling nodes (no out-edges)
    contribute nothing — the standard simplification; symmetrize the edge
    list to avoid them entirely. Fixed ``iterations`` (no convergence
    probe): rank ordering stabilizes in a few rounds and a fixed count
    keeps the job graph static.

    Scale: per round one equi-join of the edge list against the rank
    table (node-keyed, AQE-broadcastable when small) + one map-side
    combined sum by dst; the out-degree is FOLDED into the rank frame
    (static across rounds), so there is no second join per round. The
    edge frame is checkpointed ONCE and size-gate-narrowed for small
    graphs (see small_graph_coalesce); ranks are lazily checkpointed per
    round (lineage stays O(1), same rationale as connected_components
    above).
    """
    # hash-repartition by src before the one checkpoint (r15): co-locates
    # each node's out-adjacency for the per-round contrib join on a
    # cluster; locally it pins a clean 1-materialization block layout
    # (the q237/q242 edge-prep finding). small_graph_coalesce may then
    # narrow it for small graphs — coalesce on the materialized
    # checkpoint is a read-time merge, compatible with either layout.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    e = small_graph_coalesce(e)
    # out-degree FOLDED into the node frame (r14): deg is static across
    # rounds, so carrying it on the rank frame replaces the per-round
    # pr-deg join with a filter + projection — one join and its stage
    # removed from every round; values unchanged (nodes without
    # out-edges had no contrib row before, the deg > 0 filter drops the
    # same nodes now).
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nd = (
        nodes.join(deg, "node", "left")
        .select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    pr = nd.select("node", "deg", F.lit(scale).cast("long").alias("pr"))
    base = scale * (_DAMPING_DEN - _DAMPING_NUM) // _DAMPING_DEN
    for _ in range(iterations):
        contrib = pr.filter(F.col("deg") > 0).select(
            F.col("node").alias("src"), F.expr("pr div deg").alias("c")
        )
        s = (
            e.join(contrib, "src")
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .withColumnRenamed("dst", "node")
        )
        pr = (
            nd.join(s, "node", "left")
            .select(
                "node",
                "deg",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"({_DAMPING_NUM} * coalesce(s, 0L)) div {_DAMPING_DEN}")
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return pr.select("node", "pr")


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """``rounds`` iterations of k-core peeling (Seidman 1983, "Network
    structure and minimum degree"; Batagelj & Zaveršnik 2003 for the
    peeling algorithm) over an undirected edge list (columns ``a``,
    ``b``; one row per edge, endpoints distinct).

    Each round drops every node whose degree in the surviving subgraph
    is below ``k``, then recomputes degrees — deletions cascade. A FIXED
    round count (the q160 PageRank convention) keeps the job graph
    static and the operator oracle-checkable by unrolled SQL at any
    scale factor; run it to the graph's fixpoint by raising ``rounds``.

    Returns the surviving nodes with their degree in the final induced
    subgraph: columns ``(node, deg)``.

    Scale: per round two semi-joins of the edge list against the alive
    set (node-keyed equi-joins, AQE-broadcastable once the alive set
    shrinks) + one map-side-combined degree count. Edges and the alive
    frame are lazily checkpointed per round so lineage stays O(1).
    """
    # NO small_graph_coalesce here (r14, measured): the gate's count job
    # plus narrowed rounds came out +7% vs leaving the rounds wide —
    # peeling's semi-joins already shrink to AQE broadcasts as the alive
    # set collapses, so there is no 32-wide tail for the narrowing to
    # remove. Fresh-process A/B: 2.40 s -> 2.58 s at sf0.1.
    e = edges.select("a", "b").localCheckpoint(eager=False)
    for _ in range(rounds):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = deg.filter(F.col("deg") >= k).select("node").localCheckpoint(
            eager=False
        )
        e = (
            e.join(alive.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def root_depths(
    pointers: DataFrame,
    node: str = "node",
    parent: str = "parent",
    root_id: int = 1,
    max_rounds: int = 12,
) -> DataFrame:
    """Depth-to-root for every node of a FOREST given as (node, parent)
    pointer rows (the root itself is not listed; every parent chain must
    end at ``root_id``).

    POINTER DOUBLING (Wyllie 1979 list ranking): a (node, anc, depth)
    jump table self-joined until every pointer reaches the root — each
    round splices every pending node's ancestor pointer with that
    ancestor's own pointer and adds the depths, halving the remaining
    path, so convergence takes ceil(log2(max_depth)) node-keyed shuffle
    rounds (vs O(max_depth) rounds for the naive chase, and vs
    O(diameter) for connected_components' min-propagation above).
    Returns (node, depth) for every pointer row; depth >= 1.

    Raises after ``max_rounds`` doublings (2^max_rounds depth) — a chain
    that deep means the input is not the shallow forest this is for.
    Also raises on DANGLING parents (a non-root ``anc`` with no own
    pointer row): the splice join would otherwise leave a NULL ``anc``
    that fails the ``anc != root_id`` pending filter, so the loop would
    silently "converge" returning NULL depths — a contract violation
    must fail loudly instead (the deep-chain RuntimeError's sibling).
    """
    ptr = pointers.select(
        F.col(node).alias("node"),
        F.col(parent).alias("anc"),
        F.lit(1).cast("long").alias("depth"),
    ).localCheckpoint(eager=False)

    def _probe(frame: DataFrame) -> tuple[int, int]:
        """(pending, dangling) in ONE job over the round's checkpoint."""
        row = frame.agg(
            F.sum(
                F.when(F.col("anc") != root_id, 1).otherwise(0)
            ).alias("pending"),
            F.sum(F.when(F.col("anc").isNull(), 1).otherwise(0)).alias(
                "dangling"
            ),
        ).collect()[0]
        return int(row["pending"] or 0), int(row["dangling"] or 0)

    def _splice(frame: DataFrame) -> DataFrame:
        jump = frame.select(
            F.col("node").alias("j_node"),
            F.col("anc").alias("j_anc"),
            F.col("depth").alias("j_depth"),
        )
        return frame.join(
            jump, frame["anc"] == jump["j_node"], "left"
        ).select(
            "node",
            F.when(F.col("anc") == root_id, F.col("anc"))
            .otherwise(F.col("j_anc"))
            .alias("anc"),
            F.when(F.col("anc") == root_id, F.col("depth"))
            .otherwise(F.col("depth") + F.col("j_depth"))
            .alias("depth"),
        )

    # r15: TWO splices per materialization/probe. Each probe is a
    # driver-side job; probing after every splice cost one job per
    # doubling round (5 jobs for a depth-15 forest: initial probe + 4
    # rounds). Chaining two splice joins inside one lineage before the
    # lazy checkpoint + probe halves the job count (2 probe jobs for the
    # same forest) while the JOIN count is unchanged — on a scheduler-
    # latency-bound host the job floor, not the join width, is the cost
    # (guide §1.2: fix the number of passes first). A splice over an
    # already-converged frame is a values-level no-op (the when(anc ==
    # root) arms keep converged rows), so overshooting convergence by
    # one fused splice is harmless; the total splice count stays capped
    # at max_rounds, preserving the 2^max_rounds depth bound and the
    # deep-chain RuntimeError contract. NULL ancs from a DANGLING parent
    # propagate to descendant rows within a fused pair, so the raise
    # reports rows RESOLVED THROUGH a missing parent (>= the number of
    # directly-dangling rows) — same failure, loud either way.
    splices = 0
    while splices < max_rounds:
        for _ in range(min(2, max_rounds - splices)):
            ptr = _splice(ptr)
            splices += 1
        ptr = ptr.localCheckpoint(eager=False)
        n_pending, n_dangling = _probe(ptr)
        if n_dangling:
            raise RuntimeError(
                f"root_depths: {n_dangling} pointer row(s) resolved "
                f"through a parent that is absent and not root {root_id} "
                "(dangling parent — the input is not a forest rooted at "
                "root_id); NULL depths would otherwise be returned "
                "silently"
            )
        if n_pending == 0:
            return ptr.select("node", "depth")
    raise RuntimeError(
        f"root_depths still pending after {max_rounds} doubling rounds "
        f"(depth > 2^{max_rounds}) — the input is a deep chain, not a "
        "shallow forest; raise max_rounds or list-contract first"
    )
