"""Retrieval / graph-authority operators: BM25 top-k, PageRank, phrase search.

Public-literature basis:
- q159: Robertson et al., "Okapi at TREC-3" (1994) — the BM25 ranking
  function, with Lucene's non-negative idf variant
  ``ln(1 + (N - df + 0.5)/(df + 0.5))``. In a training-data pipeline this
  is the lexical retriever behind decontamination lookups and
  quality-by-query curation.
- q160: Brin & Page 1998 — PageRank as damped power iteration; re-expressed
  in exact integer fixed-point (ops/graph.py:pagerank_fixed_point) so the
  iterative result is bit-identical across engines and oracle-checkable.
  Authority scoring over a link graph is a standard crawl-curation signal.
- q161: positional inverted index / phrase query — Manning, Raghavan &
  Schütze, "Introduction to Information Retrieval" ch. 2 (positional
  postings, adjacency merge). Exact-phrase hits are the decontamination
  primitive for verbatim benchmark leakage.
- q166: exact triangle counting by degree-oriented wedge join — Schank &
  Wagner 2005 ("Finding, Counting and Listing All Triangles in Large
  Graphs"); Suri & Vassilvitskii, WWW 2011 for the MapReduce/partition
  shape. Clustering structure is a standard graph feature for
  source-quality analysis.

The reference (CsvLoader.java, 274 lines) has no retrieval surface; these
belong to the beyond-reference training-data operators mandated by the
build brief. Everything derives from the cited public papers and the
public Spark / DuckDB APIs.

Scale notes (100 TB):
- q159 never materializes a per-term score matrix: tokens shuffle once to
  (doc, term) counts, the CORPUS-level stats (N, avgdl, per-term df)
  reduce to one broadcast row, and scoring is a map-side expression over
  the per-doc tf pivot — the only per-doc state is |query| counters. The
  final top-k is a single ORDER BY k-limit (TakeOrderedAndProject — no
  global sort materialization).
- q159 determinism: each doc's score is a FIXED-ORDER left-to-right sum
  of |query| per-term expressions (a groupBy sum over doubles would be
  summation-order-nondeterministic); both engines evaluate the identical
  expression tree, so round(,4) agrees.
- q160's per-round cost is one node-keyed equi-join + one map-side
  combined sum (see ops/graph.py). The customer-supplier graph here
  stands in for a domain link graph; edges are symmetrized so no node
  dangles.
- q161 shuffles (doc, pos) int pairs for the PHRASE TERMS ONLY (filter
  pushed below the positional explode); the adjacency merge is an
  equi-join on (doc, pos+1) — position keys are unique per doc, so the
  join has no fan-out and cost stays linear in the postings touched.
- q166's orientation bounds every out-degree by O(sqrt(m)) so the wedge
  enumeration is at most m^1.5 — the known-optimal exact bound — where
  the naive wedge join pays sum(deg^2) and a single hub blows it up;
  all three shuffles carry int ids only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv_loader_spark.io.tables import load_table
from csv_loader_spark.ops.graph import (
    TRADE_GRAPH_SQL,
    pagerank_fixed_point,
    pagerank_oracle,
    trade_graph_edges,
)
from csv_loader_spark.queries.registry import query

# --- q159: BM25 top-k -------------------------------------------------------

#: fixed query: one rare term ('dup' marks the injected duplicate docs,
#: df ~ 5% of corpus) + two common ones — BM25's idf weighting is what
#: separates them.
BM25_TERMS = ("dup", "vector", "stream")
BM25_K1 = "1.2"
BM25_B = "0.75"
BM25_TOPK = 25


def _bm25_term_score(t: str) -> str:
    """One term's BM25 contribution as engine-portable SQL.

    Evaluates to exactly 0.0 when tf = 0 (numerator kills it), so missing
    terms need no CASE. Identical text runs on Spark and DuckDB; every
    name it references (tf_{t}, dl, nd, avgdl, df_{t}) is a column of the
    scored frame.
    """
    idf = f"ln(1.0 + (nd - df_{t} + 0.5) / (df_{t} + 0.5))"
    norm = f"(tf_{t} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
    return f"({idf} * (tf_{t} * ({BM25_K1} + 1.0)) / {norm})"


_BM25_SCORE = " + ".join(_bm25_term_score(t) for t in BM25_TERMS)


def _bm25_oracle() -> str:
    terms_in = ", ".join(f"'{t}'" for t in BM25_TERMS)
    tf_cols = ", ".join(
        f"CAST(sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_{t}"
        for t in BM25_TERMS
    )
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in BM25_TERMS
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
    tf AS (
      SELECT doc_id, {tf_cols}
      FROM toks WHERE term IN ({terms_in}) GROUP BY doc_id
    ),
    corpus AS (
      SELECT CAST(count(*) AS BIGINT) AS nd, avg(dl) AS avgdl FROM dl
    ),
    dfs AS (SELECT {df_cols} FROM tf),
    scored AS (
      SELECT tf.doc_id, round({_BM25_SCORE}, 4) AS bm25
      FROM tf JOIN dl USING (doc_id) CROSS JOIN corpus CROSS JOIN dfs
    )
    SELECT doc_id, bm25, n_rank FROM (
      SELECT doc_id, bm25,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
               AS n_rank
      FROM scored
    ) WHERE n_rank <= {BM25_TOPK}
    """


def bm25_scored(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, bm25 raw double): the shared BM25 scorer
    (tokenize → dl → tf pivot → 1-row corpus stats + dfs broadcasts →
    Catalyst score expression). Single source of truth for the lexical
    leg — q159 ranks it directly, q180's hybrid fusion reuses it, so a
    tokenizer or idf change can never drift the two apart."""
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf_{t}")
                for t in BM25_TERMS
            ]
        )
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("nd"), F.avg("dl").alias("avgdl")
    )
    dfs = tf.agg(
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in BM25_TERMS
        ]
    )
    return (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(dfs))
        .select("doc_id", F.expr(_BM25_SCORE).alias("bm25"))
    )


@query(
    "q159_bm25_topk",
    oracle=_bm25_oracle(),
    tags=("retrieval", "llm", "r12"),
)
def q159_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{BM25_TOPK} documents for a fixed multi-term query
    (k1=1.2, b=0.75, Lucene idf), scored wholly in Catalyst expressions
    over a per-doc tf pivot + one broadcast corpus-stats row."""
    d = load_table(spark, sf_dir, "documents")
    scored = bm25_scored(d).select(
        "doc_id", F.round("bm25", 4).alias("bm25")
    )
    # top-k FIRST (TakeOrderedAndProject — per-partition heaps, no global
    # sort, no single-partition window over the full scored set), then a
    # row_number over just the k survivors for the rank column
    topk = scored.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(BM25_TOPK)
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return topk.withColumn("n_rank", F.row_number().over(w).cast("int")).select(
        "doc_id", "bm25", "n_rank"
    )


# --- q160: integer fixed-point PageRank ------------------------------------

PR_ITERS = 3
PR_SCALE = 1_000_000
PR_TOPK = 20


@query(
    "q160_pagerank",
    oracle=f"""
    WITH {TRADE_GRAPH_SQL},
    {pagerank_oracle(PR_ITERS, PR_SCALE)}
    SELECT CAST(node AS BIGINT) AS node_id, pr AS pr_e6
    FROM r{PR_ITERS} ORDER BY pr_e6 DESC, node_id LIMIT {PR_TOPK}
    """,
    tags=("graph", "llm", "r12"),
)
def q160_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PR_TOPK} nodes by {PR_ITERS}-round fixed-point PageRank over the
    symmetrized customer-supplier trade graph (ops/graph.trade_graph_edges,
    node id = 2*custkey / 2*suppkey+1). Integer arithmetic end-to-end —
    the unrolled-CTE oracle reproduces it exactly."""
    pr = pagerank_fixed_point(
        trade_graph_edges(spark, sf_dir),
        "src",
        "dst",
        iterations=PR_ITERS,
        scale=PR_SCALE,
    )
    return (
        pr.select(F.col("node").cast("long").alias("node_id"), F.col("pr").alias("pr_e6"))
        .orderBy(F.col("pr_e6").desc(), F.col("node_id"))
        .limit(PR_TOPK)
    )


# --- q161: positional phrase search -----------------------------------------

#: fixed phrase set: a 2-gram and a 3-gram over the corpus vocabulary.
PHRASES = (("spark", "table"), ("key", "agg", "row"))


def _phrase_oracle() -> str:
    blocks = []
    for words in PHRASES:
        phrase = " ".join(words)
        joins = []
        conds = []
        for j in range(1, len(words)):
            joins.append(f"JOIN pos p{j} ON p{j}.doc_id = p0.doc_id")
            conds.append(f"p{j}.pos = p0.pos + {j} AND p{j}.term = '{words[j]}'")
        blocks.append(
            f"""
      SELECT '{phrase}' AS phrase, p0.doc_id,
             CAST(count(*) AS BIGINT) AS n_hits
      FROM pos p0 {" ".join(joins)}
      WHERE p0.term = '{words[0]}'{"".join(" AND " + c for c in conds)}
      GROUP BY p0.doc_id"""
        )
    return rf"""
    WITH toked AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
      FROM documents
    ),
    pos AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, l[CAST(i AS INTEGER)] AS term
      FROM toked, unnest(range(1, len(l) + 1)) AS t(i)
    )
    {" UNION ALL ".join(blocks)}
    """


@query(
    "q161_phrase_search",
    oracle=_phrase_oracle(),
    tags=("retrieval", "llm", "r12"),
)
def q161_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase occurrence counts per document via positional postings
    + adjacency equi-joins — one (doc, pos+j) join per extra phrase word,
    postings pre-filtered to the phrase terms."""
    d = load_table(spark, sf_dir, "documents")
    all_terms = sorted({w for p in PHRASES for w in p})
    pos = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "pos0", "term"
        ),
    ).filter(F.col("term").isin(*all_terms))
    # 1-based to match the oracle's range(1, len+1)
    pos = pos.select(
        "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "term"
    )
    results = []
    for words in PHRASES:
        phrase = " ".join(words)
        cur = pos.filter(F.col("term") == words[0]).select(
            "doc_id", F.col("pos").alias("p0")
        )
        for j, w in enumerate(words[1:], start=1):
            nxt = pos.filter(F.col("term") == w).select(
                "doc_id", (F.col("pos") - j).alias("p0")
            )
            cur = cur.join(nxt, ["doc_id", "p0"])
        results.append(
            cur.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits")).select(
                F.lit(phrase).alias("phrase"), "doc_id", "n_hits"
            )
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionAll(r)
    return out


# --- q166: triangle counting (degree-oriented wedge join) -------------------

TRI_TOPK = 15


def _co_order_part_pairs(li: DataFrame) -> DataFrame:
    """Per-order unordered distinct-part pair stream: one (a, b) row
    (a < b) per order per part pair — the shared edge generator for the
    co-order graph family (q166 triangles, q181 k-core).

    r15 shape: collect each order's DISTINCT parts into an in-stage set
    and DOUBLE-EXPLODE it (both Generate nodes run in whole-stage
    codegen), instead of the old distinct-items SELF-JOIN on the order
    key. The pair multiset is identical by construction — per order with
    k distinct parts both emit exactly C(k,2) ordered-(a<b) rows — and
    was verified exact by two-sided exceptAll against the join form at
    sf0.1 plus the unchanged q166/q181 oracles. The rewrite halves the
    exchange count (ok-keyed collect + (a,b)-keyed aggregate, vs
    distinct's (ok,pk) exchange + the join's ok exchange + the (a,b)
    aggregate exchange) and removes the join operator outright
    (guide §2.4: remove shuffles; §3.3: explode AFTER the join-free
    grouping, not a pair join before aggregation). Measured interleaved
    at sf0.1: 3.1-10.1 s -> 1.8-9.4 s per build, consistently ~40%
    under the join form in the same session.

    Skew bound: the expansion is |basket|² inside one task row — safe
    because the order->lineitem fan-out is data-model-bounded (TPCH
    caps it at 7 lines/order; the pair space per order is <= C(7,2)).
    An unbounded-basket corpus needs the q238 basket-cap convention
    (drop or split mega-baskets) BEFORE this expansion; AQE cannot
    split a single generated row group.
    """
    baskets = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.collect_set("l_partkey").alias("ps")
    )
    return (
        baskets.select(F.explode("ps").alias("a"), "ps")
        .select("a", F.explode("ps").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )


def _tri_edges_sql() -> str:
    return """
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
                      greatest(a.l_partkey, b.l_partkey) AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    """


def _triangle_oracle() -> str:
    return f"""
    WITH e AS ({_tri_edges_sql()}),
    t AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    n AS (
      SELECT x AS node FROM t
      UNION ALL SELECT y FROM t
      UNION ALL SELECT z FROM t
    ),
    c AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM n GROUP BY node)
    SELECT node, n_tri, n_rank FROM (
      SELECT node, n_tri,
             CAST(row_number() OVER (ORDER BY n_tri DESC, node) AS INTEGER)
               AS n_rank
      FROM c
    ) WHERE n_rank <= {TRI_TOPK}
    """


#: In-memory estimate per broadcast edge row: two longs plus hash-relation
#: overhead (unsafe row header + hash table load factor).
_TRI_BYTES_PER_EDGE = 32
#: Broadcast the closing edge list only when its estimated size is under
#: this many bytes (256 MiB of row payload — the estimate is
#: PRE-hash-relation, so the built broadcast relation is roughly double
#: that — far above Spark's 10 MB autoBroadcastJoinThreshold because this
#: hint is load-bearing: a shuffled closing join moves the O(m^1.5) wedge
#: stream, measured 21 s vs 4 s at sf0.1 — but bounded so a 100 TB-scale
#: co-order edge list of O(100M+) rows never hard-ODEs the executors;
#: above it the join shuffles and the m^1.5 wedge bound still holds).
_TRI_BROADCAST_MAX_BYTES = 256 << 20


def triangle_nodes(
    edges: DataFrame,
    broadcast_max_bytes: int = _TRI_BROADCAST_MAX_BYTES,
    n_edges: int | None = None,
) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    list (columns ``a`` < ``b``, distinct), via the degree-ordered wedge
    join (Schank & Wagner 2005; Suri & Vassilvitskii, WWW 2011 for the
    MapReduce shape): orient every edge from its lower-(degree, id)-rank
    endpoint to the higher, enumerate wedges only at each triangle's
    LOWEST-rank vertex, and close them with one equi-join on the
    (v, w) pair.

    Scale: orientation bounds every out-degree by O(sqrt(m)), so the
    wedge count is at most m^1.5 — the known-optimal bound for exact
    enumeration — instead of sum(deg^2), which a hub node would blow up.
    Three shuffles total (degree, wedge-center self-join, pair-closing
    join), all carrying int ids only. The closing-side broadcast is
    SIZE-GATED: the edge frame is counted once (materializing the same
    checkpoint every downstream branch reuses, so the action is free) and
    the hint applies only while ``m * 32 B`` fits under
    ``broadcast_max_bytes`` (256 MiB row payload by default, ~0.5 GiB
    built relation); larger graphs fall back to the shuffled join.
    Explain-only callers can pass ``n_edges`` to skip the gating count's
    materialization job.
    """
    e = edges.localCheckpoint(eager=False)
    if n_edges is None:
        # one action: materializes the checkpoint (deg / wedges / closing
        # all reuse it, so an EXECUTING caller pays nothing extra) and
        # yields the edge count the broadcast gate needs. Explain-only
        # callers (plan inspection, tests) that don't want the
        # materialization job pass n_edges explicitly. NOTE the 32 B/row
        # estimate is the row payload only, PRE-hash-relation (unsafe-row
        # headers + hash-table load factor roughly double it at build
        # time) — which is why the default cap sits at 256 MiB, ~0.5 GiB
        # actual relation, not at the executor-memory edge.
        n_edges = e.count()
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ranked = e.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dv"),
    ).localCheckpoint(eager=False)
    # pack (deg, id) into one long so the wedge-order filter is a single
    # primitive comparison inside codegen (struct-vs-struct ordering runs
    # interpreted); ids are positive ints, degrees < 2^31
    rank = (F.col("dv") * F.lit(1 << 32) + F.col("v")).alias("rk")
    w1 = oriented.select("u", F.col("v").alias("v1"), rank.alias("rk1"))
    w2 = oriented.select("u", F.col("v").alias("v2"), rank.alias("rk2"))
    # the closing-join key (v1, v2) PACKED into one long (same id < 2^31
    # bound as the rank packing above): a single-BIGINT equi-join key
    # routes Spark's broadcast hash join through LongHashedRelation (a
    # dense long-keyed map) instead of the generic UnsafeRow-keyed
    # relation — the probe side runs once per WEDGE, i.e. O(m^1.5)
    # times, so the per-probe constant is the whole game at the join.
    wedges = (
        w1.join(w2, "u")
        .filter(F.col("rk1") < F.col("rk2"))
        .withColumn("pk", F.col("v1") * F.lit(1 << 32) + F.col("v2"))
    )
    closing = oriented.select(
        (F.col("u") * F.lit(1 << 32) + F.col("v")).alias("pk")
    )
    # BROADCAST the closing side when it fits: the wedge stream is
    # O(m^1.5) rows and a shuffled closing join would move ALL of it
    # (measured 21 s for ~50M wedges at sf0.1 vs ~4 s broadcast — wedges
    # then stay inside the generating stage and only triangle hits
    # survive). The broadcast is the EDGE list, and the gate above keeps
    # the hint honest: past the size cap the join shuffles instead of
    # ODE-ing executors, and the m^1.5 wedge bound still holds.
    if n_edges * _TRI_BYTES_PER_EDGE <= broadcast_max_bytes:
        closing = F.broadcast(closing)
    tri = wedges.join(closing, "pk").select("u", "v1", "v2")
    # ONE pass over the triangle stream: explode the 3 corners in-stage
    # (a 3-branch unionAll would re-run the wedge join once per branch —
    # measured 3x the whole enumeration at sf0.1)
    nodes = tri.select(
        F.explode(F.array(F.col("u"), F.col("v1"), F.col("v2"))).alias("node")
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


@query(
    "q166_triangle_nodes",
    oracle=_triangle_oracle(),
    tags=("graph", "llm", "r12"),
)
def q166_triangle_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TRI_TOPK} parts by triangle participation in the co-order
    graph (parts that appear together in an order are adjacent) — the
    degree-oriented wedge join keeps exact counting at the m^1.5 bound;
    the oracle's unoriented 3-way brute join proves it exact."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _co_order_part_pairs(li).select("a", "b").distinct()
    counts = triangle_nodes(edges)
    topk = counts.orderBy(F.col("n_tri").desc(), F.col("node")).limit(TRI_TOPK)
    w = Window.orderBy(F.col("n_tri").desc(), F.col("node"))
    return topk.withColumn("n_rank", F.row_number().over(w).cast("int")).select(
        "node", "n_tri", "n_rank"
    )


# --- q181: k-core peeling over the support-filtered co-order graph ----------

KCORE_K = 3
KCORE_ROUNDS = 4
KCORE_SUPPORT = 2
KCORE_TOPK = 20


def _kcore_oracle() -> str:
    head = f"""
    WITH i AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.pk AS a, b.pk AS b
      FROM i a JOIN i b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING count(*) >= {KCORE_SUPPORT}
    )"""
    rounds = []
    for r in range(1, KCORE_ROUNDS + 1):
        prev = f"e{r - 1}"
        rounds.append(
            f"""
    d{r} AS MATERIALIZED (
      SELECT node, count(*) AS deg
      FROM (SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
      GROUP BY node
    ),
    a{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {KCORE_K}),
    e{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM {prev} e
      JOIN a{r} x ON e.a = x.node JOIN a{r} y ON e.b = y.node
    )"""
        )
    last = f"e{KCORE_ROUNDS}"
    return (
        head
        + ","
        + ",".join(rounds)
        + f""",
    fin AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS node FROM {last} UNION ALL SELECT b FROM {last})
      GROUP BY node
    )
    SELECT node, deg, n_rank FROM (
      SELECT node, deg,
             CAST(row_number() OVER (ORDER BY deg DESC, node) AS INTEGER)
               AS n_rank
      FROM fin
    ) WHERE n_rank <= {KCORE_TOPK}
    """
    )


@query(
    "q181_kcore_peel",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative", "r12"),
)
def q181_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_ROUNDS} rounds of {KCORE_K}-core peeling (Seidman 1983;
    Batagelj & Zaveršnik 2003) over the support-≥{KCORE_SUPPORT} co-order
    part graph: drop nodes with degree < {KCORE_K}, cascade, report the
    top-{KCORE_TOPK} survivors by final induced degree. Fixed round count
    (q160's convention) keeps the job graph static and the oracle an
    unrolled CTE chain; per round the plan is two node-keyed semi-joins
    + one map-side-combined degree count, edges lazily checkpointed."""
    from csv_loader_spark.ops.graph import kcore_peel

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        _co_order_part_pairs(li)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= KCORE_SUPPORT)
        .select("a", "b")
    )
    fin = kcore_peel(edges, KCORE_K, KCORE_ROUNDS)
    topk = fin.orderBy(F.col("deg").desc(), "node").limit(KCORE_TOPK)
    w = Window.orderBy(F.col("deg").desc(), "node")
    return topk.withColumn("n_rank", F.row_number().over(w).cast("int")).select(
        "node", F.col("deg").cast("long").alias("deg"), "n_rank"
    )
