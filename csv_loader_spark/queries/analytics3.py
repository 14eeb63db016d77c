"""Product-analytics / graph-authority / sequence operators, batch r13.

Public-literature basis:
- q211: ordered funnel analysis — the standard AARRR conversion funnel
  (e.g. Croll & Yoskovitz, "Lean Analytics"): first qualifying event per
  stage, each stage's timestamp strictly after the previous stage's.
- q212: Kleinberg 1999, "Authoritative sources in a hyperlinked
  environment" — HITS hubs/authorities, re-expressed in exact integer
  fixed point with per-round max-normalization (integer divide) so the
  iterative result is bit-identical across engines.
- q213: Mihalcea & Tarau 2004, "TextRank: Bringing Order into Text" —
  keyword extraction as PageRank over the word co-occurrence (adjacency)
  graph; rides ops/graph.pagerank_fixed_point, the q160 machinery.
- q214: exponentially-decayed (half-life) recency scoring — the standard
  recency-weighted popularity statistic; expressed in exact DYADIC fixed
  point (weight = SCALE >> (age/halflife)) so the decay sum is integer
  arithmetic end-to-end, no float pow().
- q215: Lin, Keogh, Lonardi & Chiu 2003, "A Symbolic Representation of
  Time Series" (SAX) — symbolic motif census; binning here is min-max
  integer quantization (not z-normalized PAA) so symbols are exact
  cross-engine integers rather than float-breakpoint comparisons.
- q216: Shannon 1948 — behavioral diversity as the entropy of each
  user's event-type mix.
- q217: incremental materialized-view maintenance as mergeable partial
  aggregates (the self-maintainable distributive/algebraic aggregate
  class — Gray et al. 1997's data-cube taxonomy); merge proven equal to
  full recompute by the oracle.
- q218: Bloom 1970 — runtime Bloom-filter join pruning (the distributed
  runtime-filter / sideways-information-passing pattern), with the
  filter materialized as data so admission is oracle-checkable.
- q219: classic cohort retention analysis (product-analytics standard).
- q220: gap-bounded funnel by chain existence — the windowFunnel family
  of sequence matches, exact reachability semantics.

The reference (CsvLoader.java, 274 lines) has no analytics surface;
these extend the beyond-reference operator families (SURVEY.md §2.3).
Everything derives from the cited public papers and the public
Spark / DuckDB APIs.

Scale notes (100 TB):
- q211 is one user-keyed shuffle per funnel stage (3 stages): each stage
  is a map-side-combinable min over the stage's filtered events joined
  to the previous stage's per-user frame on the user key; no window over
  raw events, no ordering of a user's full history.
- q212/q213 per round: one node-keyed equi-join of the edge list against
  the score table + one map-side combined sum; edge frames are
  checkpointed once. q213's ranks are lazily checkpointed per round
  (pagerank_fixed_point); q212's fixed 2-round loop skips per-round
  checkpoints — lineage stays shallow and the barriers measured net
  negative. The max-normalization is a 1-row broadcast. Overflow
  head-room: raw sums stay < SCALE * max-degree (BIGINT-safe to degrees
  ~9e12), and the normalization product s * SCALE rides DECIMAL(38,0)
  (see q212) so the renormalize step is not the binding constraint.
- q214 is map-only per row (shift + clamp) into one partkey-keyed sum;
  the anchor date is a 1-row broadcast.
- q215's windows run over the per-(type, hour) AGGREGATE (census-bounded
  — at most |types| * hours rows), never over raw events.
- q216 pivots the per-user counts to a FIXED event-type taxonomy (the
  q178 |states| convention) so the entropy sum is a fixed-order
  expression tree — identical float summation order on both engines —
  rather than an order-nondeterministic double aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv_loader_spark.functions import text as TXT
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.ops.graph import (
    explode_both_directions,
    pagerank_fixed_point,
    pagerank_oracle,
)
from csv_loader_spark.queries.registry import query

# --- q211: ordered conversion funnel ----------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")


@query(
    "q211_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(DISTINCT user_id) FROM events) AS BIGINT)
             AS n_users,
           CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_click,
           CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_purchase,
           CAST(CASE WHEN (SELECT count(*) FROM s1) = 0 THEN 0
                ELSE (SELECT count(*) FROM s3) * 10000
                     // (SELECT count(*) FROM s1) END AS BIGINT)
             AS conv_bp
    """,
    tags=("analytics", "funnel", "r13"),
)
def q211_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel: per user, the first view,
    the first click strictly AFTER that view, the first purchase strictly
    after that click; one row of stage counts + end-to-end conversion in
    integer basis points. Each stage is a user-keyed min — never a sort
    of a user's history — so funnel depth k costs k map-side-combinable
    aggregates."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n_users = e.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    c1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n_view"))
    c2 = s2.agg(F.count(F.lit(1)).cast("long").alias("n_click"))
    c3 = s3.agg(F.count(F.lit(1)).cast("long").alias("n_purchase"))
    return (
        n_users.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
        .select(
            "n_users",
            "n_view",
            "n_click",
            "n_purchase",
            F.expr(
                "CAST(CASE WHEN n_view = 0 THEN 0 "
                "ELSE n_purchase * 10000 DIV n_view END AS BIGINT)"
            ).alias("conv_bp"),
        )
    )


# --- q212: HITS hubs/authorities (integer fixed point) ----------------------

HITS_ITERS = 2
HITS_SCALE = 1_000_000
HITS_TOPK = 15


def _hits_oracle() -> str:
    ctes = [
        """pairs AS (
      SELECT DISTINCT o_custkey AS cu, l_suppkey AS su
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    h0 AS (SELECT DISTINCT cu, CAST({s} AS BIGINT) AS h FROM pairs)""".format(
            s=HITS_SCALE
        )
    ]
    prev_h = "h0"
    for i in range(1, HITS_ITERS + 1):
        ctes.append(
            f"""a{i}r AS (
      SELECT su, CAST(sum(h) AS BIGINT) AS s
      FROM pairs JOIN {prev_h} USING (cu) GROUP BY su
    ),
    a{i} AS (
      SELECT su, CAST(s * {HITS_SCALE} // (SELECT max(s) FROM a{i}r)
                 AS BIGINT) AS a
      FROM a{i}r
    ),
    h{i}r AS (
      SELECT cu, CAST(sum(a) AS BIGINT) AS s
      FROM pairs JOIN a{i} USING (su) GROUP BY cu
    ),
    h{i} AS (
      SELECT cu, CAST(s * {HITS_SCALE} // (SELECT max(s) FROM h{i}r)
                 AS BIGINT) AS h
      FROM h{i}r
    )"""
        )
        prev_h = f"h{i}"
    return f"""
    WITH {",".join(ctes)}
    SELECT su AS supp_id, a AS auth_e6, n_rank FROM (
      SELECT su, a,
             CAST(row_number() OVER (ORDER BY a DESC, su) AS INTEGER)
               AS n_rank
      FROM a{HITS_ITERS}
    ) WHERE n_rank <= {HITS_TOPK}
    """


@query(
    "q212_hits_authority",
    oracle=_hits_oracle(),
    tags=("graph", "analytics", "r13"),
)
def q212_hits_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{HITS_TOPK} suppliers by {HITS_ITERS}-round HITS authority over
    the bipartite customer->supplier trade graph (Kleinberg 1999).
    Mutual reinforcement in exact integer fixed point: authority(s) =
    sum of its customers' hub scores, hub(c) = sum of its suppliers'
    authorities, each round renormalized by `score * SCALE DIV max` —
    floored integer division, so the unrolled-CTE oracle reproduces the
    iteration bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # r16 edge build (the r15b/q225 finding applied to the bipartite
    # family member): the trade pairs are NEAR-UNIQUE (600k raw -> 587k
    # distinct at sf0.1), so `.distinct()`'s map-side partial aggregate
    # was a per-task hash table that deduped almost nothing, and its
    # (cu, su) exchange left the checkpoint partitioned by a key no
    # downstream op uses. Repartitioning by CU first and deduplicating
    # ABOVE that exchange keeps the shuffle count at one while (a)
    # dropping the useless map-side distinct (dedup happens once,
    # post-shuffle — HashPartitioning(cu) satisfies the (cu, su)
    # dedup's clustering) and (b) leaving the checkpointed frame
    # CU-partitioned, which the per-round hub aggregate (groupBy("cu")
    # after the broadcast su-join) and the seed-hub distinct reuse
    # exchange-free. At cluster scale, rounds where
    # the score frames exceed the broadcast threshold still re-exchange
    # by su for the authority leg — same trade as pagerank's rank join.
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("cu"), F.col("l_suppkey").alias("su"))
        .repartition("cu")
        .dropDuplicates(["cu", "su"])
        .localCheckpoint(eager=False)
    )
    # NO small_graph_coalesce on pairs (r14, measured): the gate's count
    # job cancels the narrowed rounds' savings at this fixed 2-round
    # depth (fresh-process A/B 2.40 s -> 2.49 s at sf0.1); pagerank-depth
    # loops amortize the count, this one doesn't.
    h = pairs.select("cu").distinct().select(
        "cu", F.lit(HITS_SCALE).cast("long").alias("h")
    )
    a = None
    # NO per-round checkpoints at the fixed 2-round depth: lineage stays
    # shallow and the materialization barriers cost more than the reuse
    # saves (measured 3.4-3.9 -> 2.8-3.6 s at sf0.1 without them); a
    # deeper-iteration variant should adopt pagerank_fixed_point's
    # lazy-checkpoint-per-round convention instead
    # Normalization: the product s * SCALE rides DECIMAL(38,0), because in
    # BIGINT it overflows once max-degree exceeds ~9.2e6 (s <= SCALE * deg
    # and SCALE^2 = 1e12 — the r13 ADVICE caught the old scale note
    # claiming ~9e12; ANSI Spark would error loudly, but a hub with 1e7+
    # neighbors is a plausible 100 TB graph). DIV on the decimal is exact
    # floored division, so the values are bit-identical to the BIGINT
    # form wherever both are defined; head-room is now 38 digits
    # (max-degree ~1e26). The oracle keeps the plain product: DuckDB sums
    # are already HUGEINT, so its multiply is 128-bit-safe.
    norm = f"CAST(CAST(s AS DECIMAL(38,0)) * {HITS_SCALE} DIV m AS BIGINT)"
    for _ in range(HITS_ITERS):
        ar = pairs.join(h, "cu").groupBy("su").agg(F.sum("h").alias("s"))
        ma = ar.agg(F.max("s").alias("m"))
        a = ar.crossJoin(F.broadcast(ma)).select(
            "su", F.expr(norm).alias("a")
        )
        hr = pairs.join(a, "su").groupBy("cu").agg(F.sum("a").alias("s"))
        mh = hr.agg(F.max("s").alias("m"))
        h = hr.crossJoin(F.broadcast(mh)).select(
            "cu", F.expr(norm).alias("h")
        )
    w = Window.orderBy(F.col("a").desc(), F.col("su"))
    return (
        a.withColumn("n_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("n_rank") <= HITS_TOPK)
        .select(F.col("su").alias("supp_id"), F.col("a").alias("auth_e6"), "n_rank")
    )


# --- q213: TextRank keywords ------------------------------------------------

TR_ITERS = 2
TR_SCALE = 1_000_000
TR_TOPK = 20
TR_MINLEN = 4


def _textrank_oracle() -> str:
    return rf"""
    WITH toks AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
    ),
    bg AS (
      SELECT t[i] AS a, t[i+1] AS b
      FROM toks, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
    ),
    pairs AS (
      SELECT DISTINCT least(a, b) AS pa, greatest(a, b) AS pb
      FROM bg
      WHERE length(a) >= {TR_MINLEN} AND length(b) >= {TR_MINLEN} AND a <> b
    ),
    e AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs
    ),
    {pagerank_oracle(TR_ITERS, TR_SCALE)}
    SELECT node AS word, pr AS pr_e6, n_rank FROM (
      SELECT node, pr,
             CAST(row_number() OVER (ORDER BY pr DESC, node) AS INTEGER)
               AS n_rank
      FROM r{TR_ITERS}
    ) WHERE n_rank <= {TR_TOPK}
    """


@query(
    "q213_textrank_keywords",
    oracle=_textrank_oracle(),
    tags=("text", "graph", "llm", "r13"),
)
def q213_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TR_TOPK} corpus keywords by {TR_ITERS}-round TextRank
    (Mihalcea & Tarau 2004): PageRank over the undirected word
    co-occurrence graph (adjacent-token pairs, tokens >= {TR_MINLEN}
    chars), in the q160 exact integer fixed point. The bigram stream
    comes from the zip-of-shifted-slices n-gram kernel (word_ngrams —
    no per-element re-evaluation), pairs dedup once corpus-wide, and
    the rank iteration is ops/graph.pagerank_fixed_point."""
    d = load_table(spark, sf_dir, "documents").select("text")
    g = F.split(F.col("g"), " ")
    bg = d.select(F.explode(TXT.word_ngrams("text", 2)).alias("g")).select(
        g.getItem(0).alias("a"), g.getItem(1).alias("b")
    )
    pairs = (
        bg.filter(
            (F.length("a") >= TR_MINLEN)
            & (F.length("b") >= TR_MINLEN)
            & (F.col("a") != F.col("b"))
        )
        .select(
            F.least("a", "b").alias("pa"), F.greatest("a", "b").alias("pb")
        )
        .distinct()
    )
    # one-pass symmetrization (r15): the explode emits
    # both directions from a single execution of the ngram+distinct
    # plan; pagerank_fixed_point checkpoints the exploded frame once.
    # r16: the symmetrized_dedup_edges fold q160 adopted was MEASURED
    # AND REJECTED here — bigram pairs dedup 592x (163,379 raw -> 276
    # distinct at sf0.1), exactly the heavily-duplicated regime the
    # helper's docstring bounds out: the fold would shuffle 2x the raw
    # stream where this shape's distinct exchange carries the map-side-
    # deduped rows and the internal src repartition moves only 552 edge
    # rows. Distinct-first stays.
    edges = explode_both_directions(pairs, "pa", "pb")
    pr = pagerank_fixed_point(
        edges, "src", "dst", iterations=TR_ITERS, scale=TR_SCALE
    )
    w = Window.orderBy(F.col("pr").desc(), F.col("node"))
    return (
        pr.withColumn("n_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("n_rank") <= TR_TOPK)
        .select(F.col("node").alias("word"), F.col("pr").alias("pr_e6"), "n_rank")
    )


# --- q214: half-life decayed demand (exact dyadic fixed point) --------------

DK_SCALE = 1 << 20
DK_HALF_DAYS = 7
DK_TOPK = 20


@query(
    "q214_decayed_demand",
    oracle=f"""
    WITH a AS (SELECT max(CAST(l_shipdate AS DATE)) AS anchor FROM lineitem),
    w AS (
      SELECT l_partkey,
             CAST({DK_SCALE} AS BIGINT) >> CAST(least(
               date_diff('day', CAST(l_shipdate AS DATE), a.anchor)
                 // {DK_HALF_DAYS}, 63) AS INTEGER) AS wgt
      FROM lineitem, a
    ),
    s AS (
      SELECT l_partkey,
             CAST(sum(wgt) AS BIGINT) AS decay_score,
             CAST(count(*) AS BIGINT) AS n_ship
      FROM w GROUP BY l_partkey
    )
    SELECT l_partkey AS part_id, decay_score, n_ship, n_rank FROM (
      SELECT *, CAST(row_number() OVER (
        ORDER BY decay_score DESC, l_partkey) AS INTEGER) AS n_rank
      FROM s
    ) WHERE n_rank <= {DK_TOPK}
    """,
    tags=("analytics", "timeseries", "r13"),
)
def q214_decayed_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{DK_TOPK} parts by recency-weighted demand with a
    {DK_HALF_DAYS}-day half-life — each shipment contributes
    ``SCALE >> (age_days div {DK_HALF_DAYS})``, i.e. exponential decay
    in exact DYADIC fixed point (integer shift, no float pow, shift
    clamped at 63 so Java's mod-64 shift semantics never wrap). Map-only
    per row into one partkey-keyed map-side-combinable sum; the anchor
    date is a 1-row broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate")
    anchor = li.agg(F.max(F.to_date("l_shipdate")).alias("anchor"))
    scored = (
        li.crossJoin(F.broadcast(anchor))
        .select(
            "l_partkey",
            # the shift MUST run in 64-bit: Spark's shiftright on an INT
            # base masks the shift mod 32 (Java semantics), so a clamp at
            # 63 would alias shifts 32-62 back onto 0-30 and resurrect
            # full-scale weights for years-old rows (caught by the oracle
            # at sf0.001); on a BIGINT base the mask is mod 64 and the
            # 63-clamp is exact (2^20 >> 63 = 0)
            F.expr(
                f"shiftright(CAST({DK_SCALE} AS BIGINT), CAST(least("
                f"datediff(anchor, to_date(l_shipdate)) div {DK_HALF_DAYS},"
                " 63) AS INT))"
            ).alias("wgt"),
        )
        .groupBy("l_partkey")
        .agg(
            F.sum("wgt").cast("long").alias("decay_score"),
            F.count(F.lit(1)).cast("long").alias("n_ship"),
        )
    )
    w = Window.orderBy(F.col("decay_score").desc(), F.col("l_partkey"))
    return (
        scored.withColumn("n_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("n_rank") <= DK_TOPK)
        .select(
            F.col("l_partkey").alias("part_id"),
            "decay_score",
            "n_ship",
            "n_rank",
        )
    )


# --- q215: SAX-style symbolic motif census ----------------------------------

SAX_SYMS = 4
SAX_MOTIF = 3


@query(
    "q215_sax_motifs",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    rng AS (
      SELECT event_type, min(v) AS mn, max(v) AS mx
      FROM hourly GROUP BY event_type
    ),
    sym AS (
      SELECT h.event_type, hr,
             CAST(((v - mn) * {SAX_SYMS}) // (mx - mn + 1) AS BIGINT) AS s
      FROM hourly h JOIN rng USING (event_type)
    ),
    seq AS (
      SELECT event_type, s,
             lead(s, 1) OVER w AS s2, lead(s, 2) OVER w AS s3
      FROM sym WINDOW w AS (PARTITION BY event_type ORDER BY hr)
    ),
    motifs AS (
      SELECT event_type,
             chr(97 + CAST(s AS INTEGER)) || chr(97 + CAST(s2 AS INTEGER))
               || chr(97 + CAST(s3 AS INTEGER)) AS motif
      FROM seq WHERE s3 IS NOT NULL
    ),
    counts AS (
      SELECT event_type, motif, CAST(count(*) AS BIGINT) AS n_occ
      FROM motifs GROUP BY event_type, motif
    ),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_motifs,
             CAST(sum(n_occ) AS BIGINT) AS n_windows
      FROM counts GROUP BY event_type
    )
    SELECT c.event_type, motif AS top_motif, n_occ, n_windows, n_motifs
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY event_type ORDER BY n_occ DESC, motif) AS rn
      FROM counts
    ) c JOIN stats USING (event_type)
    WHERE rn = 1
    """,
    tags=("analytics", "timeseries", "r13"),
)
def q215_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX-style symbolic motif census per event type (Lin et al. 2003):
    the hourly value series (exact integer cents) is quantized to
    {SAX_SYMS} symbols by per-series min-max INTEGER binning (no float
    breakpoints), {SAX_MOTIF}-symbol sliding windows become motifs, and
    each series reports its modal motif plus window/motif counts. Every
    window runs over the per-(type, hour) aggregate — census-bounded at
    |types| x hours rows — never over raw events."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hr"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "hr")
        .agg(F.sum("cents").alias("v"))
    )
    rng = hourly.groupBy("event_type").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    sym = hourly.join(rng, "event_type").select(
        "event_type",
        "hr",
        F.expr(f"CAST((v - mn) * {SAX_SYMS} DIV (mx - mn + 1) AS BIGINT)").alias(
            "s"
        ),
    )
    ws = Window.partitionBy("event_type").orderBy("hr")
    seq = sym.select(
        "event_type",
        "s",
        F.lead("s", 1).over(ws).alias("s2"),
        F.lead("s", 2).over(ws).alias("s3"),
    ).filter(F.col("s3").isNotNull())
    motifs = seq.select(
        "event_type",
        F.expr(
            "concat(chr(97 + CAST(s AS INT)), chr(97 + CAST(s2 AS INT)),"
            " chr(97 + CAST(s3 AS INT)))"
        ).alias("motif"),
    )
    counts = motifs.groupBy("event_type", "motif").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    stats = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_motifs"),
        F.sum("n_occ").cast("long").alias("n_windows"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("n_occ").desc(), F.col("motif")
    )
    top = counts.withColumn("rn", F.row_number().over(wr)).filter(
        F.col("rn") == 1
    )
    return top.join(stats, "event_type").select(
        "event_type",
        F.col("motif").alias("top_motif"),
        "n_occ",
        "n_windows",
        "n_motifs",
    )


# --- q216: behavioral entropy per user --------------------------------------

#: the generator's event taxonomy (alphabetical — the FIXED summation
#: order both engines' entropy expressions share; q178's |states|
#: fixed-taxonomy convention).
ENTROPY_TYPES = ("click", "error", "purchase", "signup", "view")


def _entropy_oracle() -> str:
    cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c{i}"
        for i, t in enumerate(ENTROPY_TYPES)
    )
    terms = " + ".join(
        f"(CASE WHEN c{i} = 0 THEN 0.0 ELSE c{i} * ln(c{i}) END)"
        for i in range(len(ENTROPY_TYPES))
    )
    return f"""
    WITH c AS (
      SELECT user_id,
             {cols},
             CAST(count(*) AS BIGINT) AS n_events
      FROM events
      WHERE event_type IN {ENTROPY_TYPES!r}
      GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST({' + '.join(f'CASE WHEN c{i} > 0 THEN 1 ELSE 0 END'
                            for i in range(len(ENTROPY_TYPES)))} AS BIGINT)
             AS n_types,
           round(ln(n_events) - ({terms}) / n_events, 4) AS entropy
    FROM c
    """


@query(
    "q216_user_entropy",
    oracle=_entropy_oracle(),
    tags=("analytics", "profiling", "r13"),
)
def q216_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: Shannon entropy (nats, 4dp) of the
    user's event-type mix, H = ln(n) - (sum c_i ln c_i)/n. The counts
    pivot to the FIXED taxonomy so the float sum is one fixed-order
    expression tree on both engines — a groupBy double-sum would be
    summation-order nondeterministic (the q159 BM25 determinism rule).
    One user-keyed map-side-combinable aggregate; everything after is
    per-row arithmetic."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*ENTROPY_TYPES)
    )
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
        .cast("long")
        .alias(f"c{i}")
        for i, t in enumerate(ENTROPY_TYPES)
    ]
    c = e.groupBy("user_id").agg(
        *aggs, F.count(F.lit(1)).cast("long").alias("n_events")
    )
    terms = " + ".join(
        f"(CASE WHEN c{i} = 0 THEN 0.0 ELSE c{i} * ln(c{i}) END)"
        for i in range(len(ENTROPY_TYPES))
    )
    n_types = " + ".join(
        f"CASE WHEN c{i} > 0 THEN 1 ELSE 0 END"
        for i in range(len(ENTROPY_TYPES))
    )
    return c.select(
        "user_id",
        "n_events",
        F.expr(f"CAST({n_types} AS BIGINT)").alias("n_types"),
        F.expr(f"round(ln(n_events) - ({terms}) / n_events, 4)").alias(
            "entropy"
        ),
    )


# --- q217: incremental materialized-view merge ------------------------------

IVM_SPLIT = "2000-01-01"


def ivm_partial(o: DataFrame) -> DataFrame:
    """Mergeable partial states of the per-priority view over a slice of
    orders rows carrying (o_orderpriority, cents)."""
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
    )


def ivm_merge(partials: DataFrame) -> DataFrame:
    """Merge any union of per-priority partial states into one state per
    priority — associative + commutative (sum/sum/min/max over partials),
    so merge(full) == merge(merge(a), b) for any slicing of the fact."""
    return partials.groupBy("o_orderpriority").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("sum_cents").cast("long").alias("sum_cents"),
        F.min("min_cents").cast("long").alias("min_cents"),
        F.max("max_cents").cast("long").alias("max_cents"),
    )


@query(
    "q217_incremental_view_merge",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS max_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("warehouse", "incremental", "r13"),
)
def q217_incremental_view_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-priority
    (count, sum, min, max) view is built as BASE-snapshot partial states
    (orders before {IVM_SPLIT}) merged with a DELTA batch's partial
    states (orders on/after) — the mergeable-aggregate contract every
    streaming/warehouse IVM rests on — while the oracle recomputes from
    scratch, proving merge == full recompute exactly. Exact integer
    cents throughout. Scale: each side is one map-side-combinable
    aggregate over its partition-prunable date slice; the merge touches
    only |groups| rows — the delta never rescans the base."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_orderdate"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    split = F.lit(IVM_SPLIT).cast("timestamp")
    base = ivm_partial(o.filter(F.col("o_orderdate") < split))
    delta = ivm_partial(o.filter(F.col("o_orderdate") >= split))
    return ivm_merge(base.unionByName(delta))


# --- q218: portable Bloom-filter join pruning -------------------------------

BLOOM_BITS = 1024
BLOOM_PRICE = 400_000  # build side: customers with an order above this


def _bloom_oracle() -> str:
    from csv_loader_spark.functions.hashing import hash32_sql

    h1 = hash32_sql("'k1:' || CAST(k AS VARCHAR)")
    h2 = hash32_sql("'k2:' || CAST(k AS VARCHAR)")
    return f"""
    WITH keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_totalprice > {BLOOM_PRICE}
    ),
    pos AS (
      SELECT ({h1}) % {BLOOM_BITS} AS p FROM keys
      UNION ALL SELECT ({h2}) % {BLOOM_BITS} FROM keys
    ),
    filt AS (
      -- 32-bit words: DuckDB range-checks << and 1<<63 overflows BIGINT,
      -- so the word width stays at 32 usable bits on both engines
      SELECT p // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS m
      FROM pos GROUP BY p // 32
    ),
    probe AS (
      SELECT k,
             ({h1}) % {BLOOM_BITS} AS p1,
             ({h2}) % {BLOOM_BITS} AS p2
      FROM (SELECT c_custkey AS k FROM customer)
    ),
    adm AS (
      SELECT pr.k,
             CASE WHEN ((coalesce(f1.m, 0) >> CAST(pr.p1 % 32 AS INTEGER)) & 1) = 1
                   AND ((coalesce(f2.m, 0) >> CAST(pr.p2 % 32 AS INTEGER)) & 1) = 1
                  THEN 1 ELSE 0 END AS admitted,
             CASE WHEN pr.k IN (SELECT k FROM keys) THEN 1 ELSE 0 END AS hit
      FROM probe pr
      LEFT JOIN filt f1 ON f1.w = pr.p1 // 32
      LEFT JOIN filt f2 ON f2.w = pr.p2 // 32
    )
    SELECT CAST((SELECT count(*) FROM keys) AS BIGINT) AS n_keys,
           CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(admitted) AS BIGINT) AS n_admitted,
           CAST(sum(hit) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN admitted = 1 AND hit = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN admitted = 1 AND hit = 0 THEN 1 ELSE 0 END)
                * 10000
                // greatest(count(*) - sum(hit), 1) AS BIGINT) AS fpp_bp
    FROM adm
    """


@query(
    "q218_bloom_join_prune",
    oracle=_bloom_oracle(),
    tags=("warehouse", "join", "r13"),
)
def q218_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning, engine-portable and EXACT: the
    build side's keys (customers with an order > {BLOOM_PRICE/100:.0f})
    hash twice (md5-derived 32-bit, the llm3 portable hash) into a
    {BLOOM_BITS}-bit filter materialized as 64-bit words via bit_or;
    the probe side (all customers) is admitted iff both bits are set,
    and the report measures the filter's exact false-positive rate
    against the true key set. This is the distributed runtime-filter
    pattern (Spark's own InBloomFilter pushdown, Bloom 1970) with the
    filter as DATA — {BLOOM_BITS // 32} 32-bit words broadcast to the probe —
    so the pruning decision is oracle-checkable bit-for-bit. Scale: the
    filter build is one aggregate to 16 rows; the probe pays two
    broadcast equi-joins and map-side bit tests, never a shuffle."""
    from csv_loader_spark.functions.hashing import hash32_spark_sql

    o = load_table(spark, sf_dir, "orders")
    keys = (
        o.filter(F.col("o_totalprice") > BLOOM_PRICE)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    h1 = hash32_spark_sql("'k1:' || CAST(k AS STRING)")
    h2 = hash32_spark_sql("'k2:' || CAST(k AS STRING)")
    pos = keys.select(F.expr(f"({h1}) % {BLOOM_BITS}").alias("p")).unionAll(
        keys.select(F.expr(f"({h2}) % {BLOOM_BITS}").alias("p"))
    )
    filt = pos.groupBy(F.expr("p div 32").alias("w")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)))").alias(
            "m"
        )
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    ph1 = hash32_spark_sql("'k1:' || CAST(k AS STRING)")
    ph2 = hash32_spark_sql("'k2:' || CAST(k AS STRING)")
    probe = c.select(
        "k",
        F.expr(f"({ph1}) % {BLOOM_BITS}").alias("p1"),
        F.expr(f"({ph2}) % {BLOOM_BITS}").alias("p2"),
    )
    f1 = filt.select(F.col("w").alias("w1"), F.col("m").alias("m1"))
    f2 = filt.select(F.col("w").alias("w2"), F.col("m").alias("m2"))
    adm = (
        probe.join(F.broadcast(f1), F.expr("w1 = p1 div 32"), "left")
        .join(F.broadcast(f2), F.expr("w2 = p2 div 32"), "left")
        .join(
            F.broadcast(keys.withColumn("_hit", F.lit(1))), "k", "left"
        )
        .select(
            F.expr(
                "CASE WHEN ((coalesce(m1, 0) >> CAST(p1 % 32 AS INT)) & 1) = 1"
                " AND ((coalesce(m2, 0) >> CAST(p2 % 32 AS INT)) & 1) = 1"
                " THEN 1 ELSE 0 END"
            ).alias("admitted"),
            F.coalesce(F.col("_hit"), F.lit(0)).alias("hit"),
        )
    )
    nk = keys.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    return (
        adm.agg(
            F.count(F.lit(1)).cast("long").alias("n_probe"),
            F.sum("admitted").cast("long").alias("n_admitted"),
            F.sum("hit").cast("long").alias("n_true"),
            F.sum(
                F.when((F.col("admitted") == 1) & (F.col("hit") == 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
        )
        .crossJoin(F.broadcast(nk))
        .select(
            "n_keys",
            "n_probe",
            "n_admitted",
            "n_true",
            "n_false_pos",
            F.expr(
                "CAST(n_false_pos * 10000 DIV greatest(n_probe - n_true, 1)"
                " AS BIGINT)"
            ).alias("fpp_bp"),
        )
    )


# --- q219: cohort retention matrix ------------------------------------------


@query(
    "q219_cohort_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    coh AS (SELECT user_id, min(wk) AS cohort FROM act GROUP BY user_id),
    size_ AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort
      FROM coh GROUP BY cohort
    ),
    cell AS (
      SELECT c.cohort,
             CAST(date_diff('day', c.cohort, a.wk) // 7 AS BIGINT) AS offs,
             CAST(count(*) AS BIGINT) AS n_active
      FROM act a JOIN coh c USING (user_id)
      GROUP BY c.cohort, date_diff('day', c.cohort, a.wk) // 7
    )
    SELECT strftime(cell.cohort, '%Y-%m-%d') AS cohort_week, offs, n_active,
           n_cohort,
           CAST(n_active * 10000 // n_cohort AS BIGINT) AS retention_bp
    FROM cell JOIN size_ USING (cohort)
    """,
    tags=("analytics", "cohort", "r13"),
)
def q219_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention matrix: users grouped by first-activity
    ISO week, each later week's active share in integer basis points.
    Scale: one user-keyed distinct to (user, week), one user-keyed min
    for the cohort, one (cohort, offset) aggregate — all map-side
    combinable; cohort sizes re-attach by broadcast. The offset is exact
    integer weeks: both engines truncate to the same ISO Monday, so
    day-difference div 7 agrees by construction."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    act = e.distinct()
    coh = act.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    size = coh.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    cell = (
        act.join(coh, "user_id")
        .groupBy(
            "cohort",
            F.expr("CAST(datediff(wk, cohort) div 7 AS BIGINT)").alias("offs"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    return cell.join(F.broadcast(size), "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "offs",
        "n_active",
        "n_cohort",
        F.expr("CAST(n_active * 10000 DIV n_cohort AS BIGINT)").alias(
            "retention_bp"
        ),
    )


# --- q220: gap-bounded window funnel (chain existence) ----------------------

WF_GAP_HOURS = 24


@query(
    "q220_window_funnel",
    oracle=f"""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    r2 AS (
      SELECT DISTINCT c.user_id, c.ts
      FROM c JOIN v ON c.user_id = v.user_id
       AND c.ts > v.ts
       AND c.ts <= v.ts + INTERVAL {WF_GAP_HOURS} HOUR
    ),
    r3 AS (
      SELECT DISTINCT p.user_id
      FROM p JOIN r2 ON p.user_id = r2.user_id
       AND p.ts > r2.ts
       AND p.ts <= r2.ts + INTERVAL {WF_GAP_HOURS} HOUR
    )
    SELECT CAST((SELECT count(DISTINCT user_id) FROM v) AS BIGINT) AS n_s1,
           CAST((SELECT count(DISTINCT user_id) FROM r2) AS BIGINT) AS n_s2,
           CAST((SELECT count(*) FROM r3) AS BIGINT) AS n_s3
    """,
    tags=("analytics", "funnel", "r13"),
)
def q220_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-bounded funnel by CHAIN EXISTENCE (the windowFunnel family):
    a user converts iff SOME view -> click -> purchase chain exists with
    each step within {WF_GAP_HOURS}h of the previous — not merely the
    first-touch chain q211 measures (greedy first-event funnels miss
    chains that start later; this is the exact reachability semantics).
    Stage k's reachable set comes from a user-keyed interval join of
    stage-k events against stage-(k-1)'s reachable events — the q199
    band-join shape: equi on user, range on time, fan-out bounded by
    per-user-per-window activity, never all-pairs."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("tv")
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("tc")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("tp")
    )
    gap = F.expr(f"INTERVAL {WF_GAP_HOURS} HOUR")
    r2 = (
        c.join(v, "user_id")
        .filter((F.col("tc") > F.col("tv")) & (F.col("tc") <= F.col("tv") + gap))
        .select("user_id", "tc")
        .distinct()
    )
    r3 = (
        p.join(r2, "user_id")
        .filter((F.col("tp") > F.col("tc")) & (F.col("tp") <= F.col("tc") + gap))
        .select("user_id")
        .distinct()
    )
    n1 = v.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_s1")
    )
    n2 = r2.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_s2")
    )
    n3 = r3.agg(F.count(F.lit(1)).cast("long").alias("n_s3"))
    return n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))


# --- q221: longest same-type run per user (gaps and islands) -----------------


@query(
    "q221_event_runs",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn_all,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_type
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS run_len,
             CAST(min(event_id) AS BIGINT) AS first_event
      FROM seq GROUP BY user_id, event_type, rn_all - rn_type
    )
    SELECT user_id, event_type AS run_type, run_len, first_event FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id
        ORDER BY run_len DESC, event_type, first_event) AS pick
      FROM runs
    ) WHERE pick = 1
    """,
    tags=("analytics", "window", "r13"),
)
def q221_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive same-type run per user — the classic
    gaps-and-islands formulation (rn_overall - rn_within_type is
    constant inside a run), then one keep-max pick per user with full
    deterministic tie-breaks. Streak detection is the sequence-quality
    primitive behind bot/burst screens. Scale: both row_numbers and the
    pick window partition on user_id (bounded by one user's history);
    the island aggregate is map-side combinable after the user shuffle —
    one exchange total, asserted in tests/test_plans.py."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    wa = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        "event_id",
        (F.row_number().over(wa) - F.row_number().over(wt)).alias("isl"),
    )
    runs = seq.groupBy("user_id", "event_type", "isl").agg(
        F.count(F.lit(1)).cast("long").alias("run_len"),
        F.min("event_id").cast("long").alias("first_event"),
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.col("run_len").desc(), F.col("event_type"), F.col("first_event")
    )
    return (
        runs.withColumn("pick", F.row_number().over(pick))
        .filter(F.col("pick") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("run_type"),
            "run_len",
            "first_event",
        )
    )


# --- q222: native pivot (status matrix per priority) --------------------------

PIVOT_STATUSES = ("F", "O", "P")


@query(
    "q222_status_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           {", ".join(
               f"CAST(sum(CASE WHEN o_orderstatus = '{s}' THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS n_{s.lower()}"
               for s in PIVOT_STATUSES
           )},
           CAST(count(*) AS BIGINT) AS n_total
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("relational", "pivot", "r13"),
)
def q222_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status matrix per priority through Spark's NATIVE pivot
    operator (`groupBy().pivot(col, values)`) — the long-to-wide twin of
    q191's unpivot, completing the reshape pair. The value list is
    pinned (the fixed-taxonomy convention), so the pivot plans as one
    aggregate with no distinct-values discovery job; the oracle is the
    equivalent conditional aggregation. Scale: a single
    map-side-combinable aggregate; |statuses| columns, not rows."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    )
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(PIVOT_STATUSES))
        .agg(F.count(F.lit(1)))
    )
    cols = [
        F.coalesce(F.col(s), F.lit(0)).cast("long").alias(f"n_{s.lower()}")
        for s in PIVOT_STATUSES
    ]
    total = sum(
        (F.coalesce(F.col(s), F.lit(0)) for s in PIVOT_STATUSES), F.lit(0)
    )
    return wide.select(
        "o_orderpriority", *cols, total.cast("long").alias("n_total")
    )


# --- q223: expectation suite (data-quality assertion report) ------------------

DQ_PRICE_MAX = 1_000_000  # o_totalprice sanity ceiling (dollars)


@query(
    "q223_expectation_suite",
    oracle=f"""
    WITH t AS (SELECT * FROM orders)
    SELECT 'row_count_min' AS check_name,
           CAST(count(*) AS BIGINT) AS measured,
           CAST(count(*) >= 1 AS INTEGER) AS passed FROM t
    UNION ALL
    SELECT 'orderkey_complete',
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
                AS INTEGER) FROM t
    UNION ALL
    SELECT 'orderkey_unique',
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
           CAST(count(*) = count(DISTINCT o_orderkey) AS INTEGER) FROM t
    UNION ALL
    SELECT 'price_positive',
           CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0
                AS INTEGER) FROM t
    UNION ALL
    SELECT 'price_below_ceiling',
           CAST(sum(CASE WHEN o_totalprice > {DQ_PRICE_MAX} THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice > {DQ_PRICE_MAX} THEN 1 ELSE 0 END)
                = 0 AS INTEGER) FROM t
    UNION ALL
    SELECT 'status_in_domain',
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 1 ELSE 0 END) = 0 AS INTEGER) FROM t
    """,
    tags=("quality", "audit", "r13"),
)
def q223_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style expectation suite over the orders table: completeness,
    key uniqueness, value bounds and domain membership, reported as one
    (check_name, measured, passed) row per assertion. All six checks
    fold into ONE map-side-combinable aggregate pass over the scan (the
    Deequ 'one scan, many metrics' contract — Schelter et al., VLDB
    2018); the report frame is built from that single 1-row aggregate,
    so table width, not row count, bounds the cost."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
            "null_keys"
        ),
        F.countDistinct("o_orderkey").alias("distinct_keys"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpos_price"
        ),
        F.sum(
            F.when(F.col("o_totalprice") > DQ_PRICE_MAX, 1).otherwise(0)
        ).alias("over_ceiling"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("bad_status"),
    ).localCheckpoint(eager=False)

    def check(name: str, measured: str, passed: str) -> DataFrame:
        return agg.select(
            F.lit(name).alias("check_name"),
            F.expr(f"CAST({measured} AS BIGINT)").alias("measured"),
            F.expr(f"CAST(CASE WHEN {passed} THEN 1 ELSE 0 END AS INT)").alias(
                "passed"
            ),
        )

    checks = [
        check("row_count_min", "n", "n >= 1"),
        check("orderkey_complete", "null_keys", "null_keys = 0"),
        check("orderkey_unique", "n - distinct_keys", "n = distinct_keys"),
        check("price_positive", "nonpos_price", "nonpos_price = 0"),
        check("price_below_ceiling", "over_ceiling", "over_ceiling = 0"),
        check("status_in_domain", "bad_status", "bad_status = 0"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


# --- q224: referential-integrity census ---------------------------------------

FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _fk_oracle() -> str:
    legs = []
    for child, ck, parent, pk in FK_EDGES:
        legs.append(
            f"""
    SELECT '{child}.{ck}' AS fk_edge,
           CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM {child} c
                 WHERE c.{ck} IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM {parent} p
                                   WHERE p.{pk} = c.{ck})) AS BIGINT)
             AS n_orphans"""
        )
    return " UNION ALL ".join(legs)


@query(
    "q224_fk_orphan_census",
    oracle=_fk_oracle(),
    tags=("quality", "audit", "join", "r13"),
)
def q224_fk_orphan_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity census over the full star schema: one row
    per FK edge with the child row count and the orphan count (non-null
    child keys with no parent). Each leg is a LEFT-ANTI equi-join —
    dimension parents broadcast, the lineitem legs shuffle once on the
    key — never a per-row subquery; the oracle's NOT EXISTS decorrelates
    to the same anti-join on DuckDB's side."""
    legs = []
    for child, ck, parent, pk in FK_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(
            F.col(pk).alias("__pk")
        )
        n_child = c.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
        orphans = (
            c.filter(F.col(ck).isNotNull())
            .join(p, F.col(ck) == F.col("__pk"), "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        )
        legs.append(
            n_child.crossJoin(F.broadcast(orphans)).select(
                F.lit(f"{child}.{ck}").alias("fk_edge"),
                "n_child",
                "n_orphans",
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out
