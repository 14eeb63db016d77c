"""r14 analytics, batches 2-4 (q228-q241): recursive hierarchy closure,
trailing-window actives, distribution drift, traffic-regularity bot
detection, label propagation, autocorrelation, rank-sum skew, Gini,
Fano burstiness, frontier BFS, item-item cosine CF, churn hazard,
CUPED, and mutual nearest neighbors.

Public-literature basis (q232+: Raghavan et al. 2007 LP; Sarwar et al.
2001 item-item CF; Deng et al. 2013 CUPED; Schwenk et al. 2021 mutual
NN; Newman/Massey/Kaplan-Meier classics per-docstring):
- q228: transitive-closure / ancestor-path queries are the canonical
  example of an operator Spark's DataFrame API lacks (no recursive CTE —
  SPARK-24497 stayed open for years); the scalable distributed answer is
  POINTER DOUBLING (path doubling), the classic O(log d) PRAM technique
  (Wyllie 1979 list ranking; Valiant's parallel prefix lineage), used by
  every BSP graph system for root-finding. The DuckDB oracle runs the
  same closure with ``WITH RECURSIVE`` — O(d) sequential steps — proving
  the log-round jump table reaches the identical fixed point.
- q229: trailing-window distinct actives (7-day "WAU" per day) — the
  standard engagement metric; computed by the emit-forward trick
  (each (day, user) observation votes for the next 7 calendar days)
  because SQL window frames cannot do COUNT(DISTINCT) over a range.
- q230: two-sample Kolmogorov-Smirnov drift between each source's
  document-length distribution and the rest of the corpus — the standard
  nonparametric drift test (Massey 1951) next to q190's binned PSI; the
  KS statistic is a max over ECDF gaps, computed here in EXACT integer
  cross-multiplication (|Fa*Nb - Fb*Na|) with one final rounded division.
- q231: bot detection by inter-arrival regularity — low coefficient of
  variation of gap times is the classic signature of scripted traffic
  (e.g. Gianvecchio et al. 2008, "Measurement and classification of
  humans and bots in internet chat"); CV is computed from exact integer
  microsecond sums (n·Σg² − (Σg)²), float only in the final sqrt/ratio.

The reference (CsvLoader.java, 274 lines) has no analytics surface; these
extend the beyond-reference training-data operators (SURVEY.md §2.3).

Scale notes (100 TB):
- q228's jump table is (node, anc, depth) — one row per node, re-joined
  to itself ceil(log2(max_depth)) times (4 rounds here, ~6 at 2^40
  nodes). Each round is ONE node-keyed shuffle; the naive chase is
  O(max_depth) rounds. Convergence is checked per round on the pending
  count (cheap count job on an already-checkpointed frame), so round
  count adapts to the data instead of being hard-coded. The synthetic
  forest's parent multiplier is 48271 (MINSTD), keeping parent-key
  arithmetic < 2^63 up to ~1.9e14 nodes.
- q229 emits exactly 7 rows per (day, user) observation — linear, one
  groupBy-day shuffle; the window length is a constant fan-out, never a
  self-join. The final distinct-count shuffles (day, user) pairs.
- q230's ECDF grid is |sources| x |distinct lengths| (quantize lengths
  into fixed-width bins first if the value domain is unbounded); the
  cumulative sums are one window sort per source — vocabulary-sized,
  not corpus-sized. All comparisons are exact BIGINT cross-products;
  the Fa·Nb product needs 128-bit (DECIMAL(38)) promotion once
  Na·Nb > 2^63, i.e. past ~6e9 rows per side.
- q231 is a per-user sort (window lag over the user's own partition) and
  one groupBy — both on the user key; per-user state is O(1) sufficient
  statistics, no per-user arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv_loader_spark.io.tables import load_table
from csv_loader_spark.ops.graph import (
    TRADE_GRAPH_HUB_SQL,
    TRADE_GRAPH_SQL,
    trade_graph_edges,
    trade_graph_hub,
)
from csv_loader_spark.queries.registry import query

# --- q228: ancestor closure by pointer doubling ------------------------------

#: MINSTD multiplier/offset for the derived parent edge; parent(p) is
#: uniform in [1, p-1], so the forest rooted at part 1 is acyclic with
#: expected depth O(log n) (max observed: 15 at sf0.1).
_PAR_MUL = 48271
_PAR_OFF = 12345

#: hard cap on doubling rounds (2^12 depth); the loop exits early on
#: convergence — this only bounds a pathological chain.
_MAX_DOUBLING_ROUNDS = 12


def _closure_oracle() -> str:
    return f"""
    WITH RECURSIVE walk(node, anc, depth) AS (
      SELECT p_partkey AS node,
             1 + (p_partkey * {_PAR_MUL} + {_PAR_OFF}) % (p_partkey - 1)
               AS anc,
             CAST(1 AS BIGINT) AS depth
      FROM part WHERE p_partkey >= 2
      UNION ALL
      SELECT node,
             1 + (anc * {_PAR_MUL} + {_PAR_OFF}) % (anc - 1) AS anc,
             depth + 1
      FROM walk WHERE anc >= 2
    ),
    depths AS (
      SELECT node, depth FROM walk WHERE anc = 1
      UNION ALL
      SELECT 1 AS node, CAST(0 AS BIGINT) AS depth
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node
    FROM depths GROUP BY depth ORDER BY depth
    """


def _parent_expr(col: str):
    """parent(p) = 1 + (p*MUL + OFF) mod (p-1): uniform in [1, p-1]."""
    c = F.col(col)
    return F.lit(1) + (c * F.lit(_PAR_MUL) + F.lit(_PAR_OFF)) % (c - F.lit(1))


@query(
    "q228_ancestor_closure",
    oracle=_closure_oracle(),
    tags=("graph", "relational", "r14"),
)
def q228_ancestor_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-to-root histogram of a derived part forest (parent(p) =
    1 + (48271·p + 12345) mod (p−1), root = part 1): (depth, n_parts,
    min_node, max_node) per depth.

    Spark has no recursive CTE, so the closure runs as POINTER DOUBLING:
    a (node, anc, depth) jump table self-joined log2(max_depth) times —
    each round replaces every pending ancestor pointer with its
    ancestor's pointer and adds the depths, halving the remaining path.
    4 rounds close depth 15 (sf0.1); the sequential WITH RECURSIVE
    oracle walks the same forest one step at a time and lands on the
    identical histogram. The doubling loop is ops/graph.py
    root_depths (property-tested against a Python chase on random
    forests in tests/test_graph_ops.py)."""
    from csv_loader_spark.ops.graph import root_depths

    part = load_table(spark, sf_dir, "part").select("p_partkey")
    ptr = part.filter(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").alias("node"),
        _parent_expr("p_partkey").alias("parent"),
    )
    got = root_depths(ptr, max_rounds=_MAX_DOUBLING_ROUNDS)
    root = spark.range(1, 2).select(
        F.col("id").alias("node"), F.lit(0).cast("long").alias("depth")
    )
    depths = got.unionAll(root)
    return (
        depths.groupBy("depth")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("node").cast("long").alias("min_node"),
            F.max("node").cast("long").alias("max_node"),
        )
        .orderBy("depth")
    )


# --- q229: trailing 7-day distinct actives ------------------------------------

_WAU_DAYS = 7


@query(
    "q229_rolling_actives",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    mx AS (SELECT max(CAST(ts AS DATE)) AS last_day FROM events),
    emit AS (
      SELECT CAST(d + CAST(i AS INTEGER) AS DATE) AS day, user_id
      FROM du, range(0, {_WAU_DAYS}) AS t(i)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM emit, mx
    WHERE day <= last_day
    GROUP BY day ORDER BY day
    """,
    tags=("analytics", "window", "r14"),
)
def q229_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{_WAU_DAYS}-day distinct active users per calendar day
    (rolling WAU): (day, active_users). COUNT(DISTINCT) over a RANGE
    frame is inexpressible as a window, so each (day, user) observation
    is emitted forward into the next {_WAU_DAYS} days (constant fan-out,
    linear) and the trailing window becomes a plain groupBy-day distinct
    count, clipped at the last observed day."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "user_id"
    )
    du = ev.distinct()
    last = ev.agg(F.max("d").alias("last_day"))
    emit = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(_WAU_DAYS - 1))).alias("i"),
        "d",
        "user_id",
    ).select(F.date_add(F.col("d"), F.col("i")).alias("day"), "user_id")
    return (
        emit.join(F.broadcast(last), emit["day"] <= last["last_day"])
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("active_users"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"), "active_users"
        )
        .orderBy("day")
    )


# --- q230: two-sample KS drift per source -------------------------------------


@query(
    "q230_ks_drift",
    oracle="""
    WITH counts AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars
    ),
    grid AS (
      SELECT s.source, v.v, coalesce(c.c, 0) AS c
      FROM (SELECT DISTINCT source FROM counts) s
      CROSS JOIN (SELECT DISTINCT v FROM counts) v
      LEFT JOIN counts c ON c.source = s.source AND c.v = v.v
    ),
    cum AS (
      SELECT source, v,
             sum(c) OVER (PARTITION BY source ORDER BY v) AS fa
      FROM grid
    ),
    tot AS (
      SELECT v, sum(c) OVER (ORDER BY v) AS ft
      FROM (SELECT v, CAST(sum(c) AS BIGINT) AS c
            FROM grid GROUP BY v) pv
    ),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS na
      FROM documents GROUP BY source
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    gaps AS (
      SELECT cum.source,
             abs(cum.fa * (n.n - s.na) - (tot.ft - cum.fa) * s.na) AS num
      FROM cum JOIN tot ON cum.v = tot.v
      JOIN sizes s ON s.source = cum.source
      CROSS JOIN n
    )
    SELECT g.source, s.na AS n_docs,
           round(CAST(max(g.num) AS DOUBLE) / (s.na * (n.n - s.na)), 4)
             AS ks
    FROM gaps g JOIN sizes s ON s.source = g.source CROSS JOIN n
    GROUP BY g.source, s.na, n.n
    ORDER BY ks DESC, g.source
    """,
    tags=("analytics", "llm", "r14"),
)
def q230_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic of each source's document-
    length distribution against the REST of the corpus: (source, n_docs,
    ks), ks = max_v |F_src(v) − F_rest(v)| evaluated at every observed
    length. The max is computed over EXACT integer cross-products
    |Fa·Nb − Fb·Na| (Fb = Ftotal − Fa, Nb = N − Na); the only float is
    the final division, rounded to 4dp — no data-sized float sums.

    At unbounded value domains, quantize v into fixed-width bins first;
    here n_chars is already small-domain.

    The post-histogram algebra lives in :func:`ks_from_length_counts`,
    which takes the mergeable length histogram as its only input."""
    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    counts = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return ks_from_length_counts(counts)


def ks_from_length_counts(counts: DataFrame) -> DataFrame:
    """(source, v, c) length-histogram → (source, n_docs, ks), the exact
    integer KS algebra of q230 (see its docstring). `counts` is the
    MERGEABLE sufficient statistic: histograms from disjoint row sets
    merge by summing c per (source, v). Sizes and the total derive from the histogram itself
    (na = Σ_v c, n = ΣΣ c), so callers need only the counts frame."""
    sources = counts.select("source").distinct()
    values = counts.select("v").distinct()
    grid = (
        sources.crossJoin(values)
        .join(counts, ["source", "v"], "left")
        .select("source", "v", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    w_src = Window.partitionBy("source").orderBy("v")
    cum = grid.select(
        "source", "v", F.sum("c").over(w_src).cast("long").alias("fa")
    )
    per_v = grid.groupBy("v").agg(F.sum("c").cast("long").alias("c"))
    w_all = Window.orderBy("v")
    tot = per_v.select("v", F.sum("c").over(w_all).cast("long").alias("ft"))
    sizes = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("na")
    )
    n = counts.agg(F.sum("c").cast("long").alias("n"))
    gaps = (
        cum.join(tot, "v")
        .join(F.broadcast(sizes), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "na",
            "n",
            F.abs(
                F.col("fa") * (F.col("n") - F.col("na"))
                - (F.col("ft") - F.col("fa")) * F.col("na")
            ).alias("num"),
        )
    )
    return (
        gaps.groupBy("source", "na", "n")
        .agg(F.max("num").alias("num"))
        .select(
            "source",
            F.col("na").alias("n_docs"),
            # guard the single-source degenerate (rest-of-corpus empty:
            # na*(n-na) = 0, which ANSI mode would throw on) — NULL ks;
            # on any multi-source corpus the branch is never taken, so
            # oracle parity is untouched
            F.when(
                F.col("na") < F.col("n"),
                F.round(
                    F.col("num").cast("double")
                    / (F.col("na") * (F.col("n") - F.col("na"))),
                    4,
                ),
            ).alias("ks"),
        )
        .orderBy(F.desc("ks"), "source")
    )


# --- q231: inter-arrival regularity (bot signature) ---------------------------

_BOT_MIN_EVENTS = 20
_BOT_TOP = 25


@query(
    "q231_bot_regularity",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
      FROM events
    ),
    stats AS (
      SELECT user_id,
             CAST(count(g) AS BIGINT) AS n_gaps,
             CAST(sum(g) AS BIGINT) AS sg,
             sum(CAST(g AS HUGEINT) * g) AS sgg
      FROM gaps WHERE g IS NOT NULL
      GROUP BY user_id
      HAVING count(g) >= {_BOT_MIN_EVENTS}
    )
    SELECT user_id, n_gaps,
           sg // (n_gaps * 1000) AS mean_gap_ms,
           round(
             sqrt(CAST(n_gaps * sgg - CAST(sg AS HUGEINT) * sg AS DOUBLE))
             / sg,
             4
           ) AS cv
    FROM stats
    ORDER BY cv ASC, user_id
    LIMIT {_BOT_TOP}
    """,
    tags=("analytics", "r14"),
)
def q231_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scripted-traffic detector (Gianvecchio et al. 2008 style): the
    {_BOT_TOP} most REGULAR users by coefficient of variation of their
    inter-event gaps — (user_id, n_gaps, mean_gap_ms, cv). Gaps are
    exact BIGINT microseconds (unix_micros lag per user); the CV comes
    from exact sufficient statistics: var·n² = n·Σg² − (Σg)², std =
    sqrt(var·n²)/n, mean = Σg/n, so cv = sqrt(n·Σg² − (Σg)²) / Σg —
    both engines feed the same integers to the same IEEE sqrt/divide.
    Σg² needs 128-bit headroom (DECIMAL(38) here, HUGEINT in the
    oracle): a 30-day µs gap squared is ~6.7e24. mean_gap_ms is exact
    integer division (DIV // on both engines, never a cast-of-double)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    gd = F.col("g").cast("decimal(38,0)")
    stats = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum("g").cast("long").alias("sg"),
            F.sum(gd * gd).cast("decimal(38,0)").alias("sgg"),
        )
        .filter(F.col("n_gaps") >= _BOT_MIN_EVENTS)
    )
    var_n2 = (
        F.col("n_gaps").cast("decimal(38,0)") * F.col("sgg")
        - F.col("sg").cast("decimal(38,0)") * F.col("sg").cast("decimal(38,0)")
    )
    return (
        stats.select(
            "user_id",
            "n_gaps",
            F.expr("sg DIV (n_gaps * 1000)").alias("mean_gap_ms"),
            F.round(
                F.sqrt(var_n2.cast("double")) / F.col("sg"), 4
            ).alias("cv"),
        )
        .orderBy("cv", "user_id")
        .limit(_BOT_TOP)
    )


# --- q232: synchronous label propagation (community detection) ---------------

#: fixed synchronous rounds; results are round-count-pinned (the q160 /
#: q212 convention), so the unrolled-CTE oracle reproduces them exactly.
_LP_ROUNDS = 3
_LP_TOP = 25


def _lp_oracle() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, _LP_ROUNDS + 1):
        rounds.append(
            f"""
    s{i} AS (
      SELECT e.dst, {prev}.label, CAST(count(*) AS BIGINT) AS c
      FROM e JOIN {prev} ON e.src = {prev}.node
      GROUP BY e.dst, {prev}.label
    ),
    l{i} AS (
      SELECT dst AS node, label
      FROM (
        SELECT dst, label,
               row_number() OVER (PARTITION BY dst
                                  ORDER BY c DESC, label ASC) AS rn
        FROM s{i}
      ) r WHERE rn = 1
    )"""
        )
        prev = f"l{i}"
    return f"""
    WITH {TRADE_GRAPH_SQL},
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
    {",".join(rounds)}
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
    FROM {prev}
    GROUP BY label
    ORDER BY n_members DESC, community
    LIMIT {_LP_TOP}
    """


@query(
    "q232_label_propagation",
    oracle=_lp_oracle(),
    tags=("graph", "analytics", "r14"),
)
def q232_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by {_LP_ROUNDS}-round SYNCHRONOUS label
    propagation (Raghavan et al. 2007) over the symmetrized customer-
    supplier trade graph (node ids as in q160): each round every node
    adopts the most frequent label among its neighbors, ties broken by
    smallest label — fully deterministic, so the unrolled-CTE oracle
    lands on the identical labeling. Output: top-{_LP_TOP} communities
    by size — (community, n_members).

    Scale: each round is one edge-keyed join + one (dst, label) count +
    one per-dst ARGMAX AGGREGATE (max of a (c, -label) struct — same
    deterministic winner as the oracle's row_number window, but hash-
    aggregated with map-side combine instead of sorted; r15 A/B at x100:
    9.0 -> 6.3 s together with the edge prep below). State one row per
    node. NO per-round checkpoints at this fixed 3-round depth: the edge
    frame is checkpointed once and the shallow label lineage executes
    once, so the materialization barriers cost more than they save
    (measured A/B at sf0.1: 2.9 -> 2.4 s without — the q212 finding; a
    deeper/convergence-looped variant should adopt pagerank_fixed_point's
    lazy checkpoint per round). Edge prep: ops/graph.trade_graph_edges."""
    e = trade_graph_edges(spark, sf_dir).localCheckpoint(eager=False)
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LP_ROUNDS):
        votes = (
            e.join(labels, e["src"] == labels["node"])
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        labels = (
            votes.groupBy("dst")
            .agg(
                F.max(
                    F.struct(
                        F.col("c").alias("c"), (-F.col("label")).alias("nl")
                    )
                ).alias("m")
            )
            .select(F.col("dst").alias("node"), (-F.col("m.nl")).alias("label"))
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(_LP_TOP)
    )


# --- q233: autocorrelation of daily revenue -----------------------------------

_ACF_MAX_LAG = 10


@query(
    "q233_revenue_acf",
    oracle=f"""
    WITH daily0 AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM lineitem GROUP BY d
    ),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily0),
    grid_idx AS (
      SELECT CAST(i AS BIGINT) AS idx,
             CAST(d0 + CAST(i AS INTEGER) AS DATE) AS d
      FROM bounds, unnest(range(0, CAST(d1 - d0 AS BIGINT) + 1)) AS t(i)
    ),
    grid AS (
      SELECT g.idx, coalesce(daily0.x, 0) AS x
      FROM grid_idx g LEFT JOIN daily0 ON daily0.d = g.d
    ),
    lags AS (SELECT CAST(k AS BIGINT) AS lag
             FROM unnest(range(1, {_ACF_MAX_LAG} + 1)) AS t(k)),
    prs AS (
      SELECT l.lag, a.x AS x, b.x AS y
      FROM lags l
      JOIN grid a ON TRUE
      JOIN grid b ON b.idx = a.idx + l.lag
    ),
    sums AS (
      SELECT lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM prs GROUP BY lag
    )
    SELECT lag, n AS n_pairs,
           round(
             CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)),
             4
           ) AS acf
    FROM sums ORDER BY lag
    """,
    tags=("analytics", "timeseries", "r14"),
)
def q233_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of DAILY REVENUE at lags 1..{_ACF_MAX_LAG}
    (the seasonality fingerprint next to q186's seasonal index and
    q188's cross-correlation): (lag, n_pairs, acf). The day grid is
    dense (missing days are exact 0), revenue is exact integer CENTS
    (the q199 convention), and each lag's Pearson r comes from exact
    128-bit sufficient statistics (DECIMAL(38) here, HUGEINT in the
    oracle — Σx² at 100 TB daily totals overflows BIGINT); the only
    floats are the final three casts into sqrt/divide, fed the same
    integers on both engines.

    Scale: the grid is |days| rows (calendar-sized, not row-sized);
    the lag fan-out is a constant {_ACF_MAX_LAG}x on the GRID, never on
    the fact table; the one fact-sized shuffle is the groupBy-day."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("d"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    daily = li.groupBy("d").agg(F.sum("cents").cast("long").alias("x"))
    bounds = daily.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    grid = (
        bounds.select(
            F.explode(
                F.sequence(F.lit(0), F.datediff(F.col("d1"), F.col("d0")))
            ).alias("idx"),
            "d0",
        )
        .select(
            F.col("idx").cast("long").alias("idx"),
            F.date_add(F.col("d0"), F.col("idx")).alias("d"),
        )
        .join(daily, "d", "left")
        .select("idx", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
        .localCheckpoint(eager=False)
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = grid.crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("idx") + F.col("lag")).alias("jidx"), F.col("x")
    )
    b = grid.select(F.col("idx").alias("jidx"), F.col("x").alias("y"))
    prs = a.join(b, "jidx")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = prs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * dec("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("x") * dec("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("y") * dec("y")).cast("decimal(38,0)").alias("syy"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    return sums.select(
        "lag",
        F.col("n").alias("n_pairs"),
        F.round(
            (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt((nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
            / F.sqrt((nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")),
            4,
        ).alias("acf"),
    ).orderBy("lag")


# --- q234: per-source rank-sum skew (Mann-Whitney) ----------------------------


@query(
    "q234_source_rank_skew",
    oracle="""
    WITH ranked AS (
      SELECT source,
             row_number() OVER (ORDER BY n_chars, doc_id) AS rk
      FROM documents
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
    per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(rk) AS BIGINT) AS rank_sum
      FROM ranked GROUP BY source
    )
    SELECT source, n_docs, rank_sum,
           round(CAST(rank_sum - n_docs AS DOUBLE)
                 / (n_docs * (n_total - 1)), 4) AS mean_pct_rank
    FROM per, n
    ORDER BY mean_pct_rank DESC, source
    """,
    tags=("analytics", "llm", "r14"),
)
def q234_source_rank_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney-style rank-sum skew per source: where each source's
    documents sit in the GLOBAL document-length ranking — (source,
    n_docs, rank_sum, mean_pct_rank) with mean_pct_rank = the average of
    the docs' global percent_ranks = (Σrank − n)/(n·(N−1)). One number
    per source showing long/short-document skew — the rank-based
    companion to q230's KS (robust to any monotone transform of the
    length). All sufficient statistics are exact BIGINT (ranks are
    unique via the doc_id tie-break); the single division is final.

    Scale: the global rank is computed TWO-LEVEL, never as a
    single-partition window over the table (the llm6/retrieval
    convention): per-VALUE counts → exclusive cumulative base over the
    bounded value domain (broadcast back), plus a row_number
    partitioned BY VALUE for the doc_id tie-break — rank = base + pos.
    The only single-partition window runs over |distinct lengths|
    (quantize first if the domain is unbounded, as q230 notes)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", "doc_id"
    )
    vals = d.groupBy("n_chars").agg(F.count(F.lit(1)).cast("long").alias("m"))
    w_v = Window.orderBy("n_chars")
    base = vals.select(
        "n_chars", (F.sum("m").over(w_v) - F.col("m")).alias("base")
    )
    w_pos = Window.partitionBy("n_chars").orderBy("doc_id")
    ranked = d.join(F.broadcast(base), "n_chars").select(
        "source",
        (F.col("base") + F.row_number().over(w_pos)).alias("rk"),
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    per = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("rk").cast("long").alias("rank_sum"),
    )
    return (
        per.crossJoin(F.broadcast(n))
        .select(
            "source",
            "n_docs",
            "rank_sum",
            F.round(
                (F.col("rank_sum") - F.col("n_docs")).cast("double")
                / (F.col("n_docs") * (F.col("n_total") - 1)),
                4,
            ).alias("mean_pct_rank"),
        )
        .orderBy(F.desc("mean_pct_rank"), "source")
    )


# --- q235: Gini concentration of customer revenue -----------------------------


@query(
    "q235_revenue_gini",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i
      FROM cust
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS HUGEINT) AS tot,
             sum(CAST(i AS HUGEINT) * cents) AS weighted
      FROM ranked
    )
    SELECT n AS n_customers,
           round(CAST(2 * weighted AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
                 - CAST(n + 1 AS DOUBLE) / n, 4) AS gini
    FROM s
    """,
    tags=("analytics", "r14"),
)
def q235_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue concentration (the
    one-number companion to q195's ABC/Pareto classes): G =
    2·Σ(i·x_(i))/(n·Σx) − (n+1)/n over the ascending-sorted per-customer
    totals — (n_customers, gini). Revenue is exact integer cents (q199
    convention); rank i is unique via the custkey tie-break (ties in x
    contribute the same G either way since Σ i over a tie block is
    fixed); Σ(i·x) takes 128-bit headroom. Floats appear only in the
    final two divisions, fed the same exact integers on both engines.

    Scale: the ascending rank is TWO-LEVEL (the q234/llm6 shape):
    customers bucket by cents DIV 1e6, per-bucket counts give exclusive
    cumulative bases over the bounded bucket domain, and a row_number
    partitioned BY BUCKET orders (cents, custkey) within — rank =
    base + pos. No single-partition window over the customer set."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = o.groupBy("o_custkey").agg(
        F.sum("cents").cast("long").alias("cents")
    )
    bkt = F.expr("cents DIV 1000000").alias("bkt")
    buckets = cust.select(bkt).groupBy("bkt").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    w_b = Window.orderBy("bkt")
    base = buckets.select(
        "bkt", (F.sum("m").over(w_b) - F.col("m")).alias("base")
    )
    w_pos = Window.partitionBy("bkt").orderBy("cents", "o_custkey")
    ranked = cust.select("o_custkey", "cents", bkt).join(
        F.broadcast(base), "bkt"
    ).select(
        "cents",
        (F.col("base") + F.row_number().over(w_pos)).cast("long").alias("i"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("tot"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).cast(
            "decimal(38,0)"
        ).alias("weighted"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_customers"),
        F.round(
            (F.lit(2) * F.col("weighted")).cast("double")
            / (nd * F.col("tot").cast("double"))
            - (F.col("n") + 1).cast("double") / nd,
            4,
        ).alias("gini"),
    )


# --- q236: burstiness (Fano factor) per event type -----------------------------


@query(
    "q236_event_burstiness",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, d
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(c * c) AS BIGINT) AS scc
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, sc AS n_events,
           round(CAST(n_days * scc - sc * sc AS DOUBLE)
                 / (CAST(n_days AS DOUBLE) * sc), 4) AS fano
    FROM stats
    ORDER BY fano DESC, event_type
    """,
    tags=("analytics", "timeseries", "r14"),
)
def q236_event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each event type as the FANO FACTOR of its daily
    counts (variance-to-mean ratio; 1 = Poisson, >1 = bursty): —
    (event_type, n_days, n_events, fano) with fano = (n·Σc² − (Σc)²) /
    (n·Σc), all sufficient statistics exact BIGINT over days the type
    was active. The index-dispersion companion to q231's per-user gap
    regularity: q231 ranks users, this ranks event TYPES.

    Scale: one (type, day) count shuffle + one per-type aggregate —
    state is day-grain, never row-grain. Σc² wants 128-bit promotion
    (the q231/q233 pattern) once daily per-type counts approach 3e9."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("d")
    )
    daily = ev.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    return stats.select(
        "event_type",
        "n_days",
        F.col("sc").alias("n_events"),
        F.round(
            (F.col("n_days") * F.col("scc") - F.col("sc") * F.col("sc")).cast(
                "double"
            )
            / (F.col("n_days").cast("double") * F.col("sc")),
            4,
        ).alias("fano"),
    ).orderBy(F.desc("fano"), "event_type")


# --- q237: BFS hop distances from the hub node --------------------------------

#: hop cap — both engines stop here, so the semantics stay identical
#: even on a graph whose eccentricity exceeds it.
_BFS_MAX_HOPS = 12


def _bfs_oracle() -> str:
    return f"""
    WITH RECURSIVE {TRADE_GRAPH_SQL},
    {TRADE_GRAPH_HUB_SQL},
    walk(node, lvl) AS (
      SELECT node, 0 FROM hub
      UNION
      SELECT e.dst, walk.lvl + 1
      FROM walk JOIN e ON e.src = walk.node
      WHERE walk.lvl < {_BFS_MAX_HOPS}
    ),
    lvls AS (SELECT node, CAST(min(lvl) AS BIGINT) AS lvl
             FROM walk GROUP BY node)
    SELECT lvl, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node
    FROM lvls GROUP BY lvl ORDER BY lvl
    """


@query(
    "q237_bfs_levels",
    oracle=_bfs_oracle(),
    tags=("graph", "analytics", "r14"),
)
def q237_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance histogram of a BFS from the HUB of the trade graph
    (the max-degree node, min-id tie-break): (lvl, n_nodes, min_node)
    per level, capped at {_BFS_MAX_HOPS} hops on both engines. The
    frontier loop is Spark's native BFS shape — per round one edge-keyed
    join expands the frontier and one anti-join drops visited nodes, so
    work per round is O(frontier edges), with lazily-checkpointed
    visited/frontier frames (the q160 convention). The oracle's
    recursive CTE explores (node, lvl) pairs and takes min(lvl) — same
    fixed point, sequential.

    Edge prep and hub: ops/graph.trade_graph_edges and trade_graph_hub.
    The prescribed connected-components PRE-PASS was measured and
    REJECTED: min-label propagation over the full edge list is itself a
    multi-source BFS (same per-round full-edge scans), so the pre-pass
    cost 13-19 s at x100 — 2-3x the entire direct BFS it was meant to
    shrink. Partition-by-component BFS only pays off when component
    labels already exist (e.g. maintained by the dedup pipeline), and
    then it is a filter, not a pre-pass.

    The visited set is kept as a UNION of the per-round frontier
    checkpoints (each already materialized) instead of a re-checkpointed
    growing frame — removes one checkpoint copy of O(|visited|) per
    round."""
    e = trade_graph_edges(spark, sf_dir).localCheckpoint(eager=False)
    frontier = spark.createDataFrame(
        [(trade_graph_hub(e), 0)], "node long, lvl long"
    ).localCheckpoint(eager=False)
    levels = [frontier]
    visited = frontier
    for i in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            e.join(frontier, e["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(i).cast("long").alias("lvl"))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        levels.append(nxt)
        visited = visited.unionAll(nxt)
        frontier = nxt
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionAll(lv)
    return (
        out.groupBy("lvl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node").cast("long").alias("min_node"),
        )
        .orderBy("lvl")
    )


# --- q238: item-item cosine collaborative filtering ---------------------------

#: flood guard: customers with more distinct parts than this are dropped
#: (the hot-bucket convention; mirrored in the oracle so both engines see
#: the same pair set).
_CF_MAX_BASKET = 100
_CF_TOP = 25


@query(
    "q238_item_cosine_cf",
    oracle=f"""
    WITH ui0 AS (
      SELECT o_custkey AS c, l_partkey AS p,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY c, p
    ),
    keep AS (
      SELECT c FROM ui0 GROUP BY c HAVING count(*) <= {_CF_MAX_BASKET}
    ),
    ui AS (SELECT ui0.* FROM ui0 JOIN keep USING (c)),
    norms AS (
      SELECT p, CAST(sum(q * q) AS BIGINT) AS nn FROM ui GROUP BY p
    ),
    dots AS (
      SELECT a.p AS p1, b.p AS p2, CAST(sum(a.q * b.q) AS BIGINT) AS dot
      FROM ui a JOIN ui b ON a.c = b.c AND a.p < b.p
      GROUP BY a.p, b.p
    )
    SELECT p1, p2, dot,
           round(dot / (sqrt(CAST(na.nn AS DOUBLE))
                        * sqrt(CAST(nb.nn AS DOUBLE))), 4) AS cosine
    FROM dots JOIN norms na ON na.p = p1 JOIN norms nb ON nb.p = p2
    ORDER BY cosine DESC, p1, p2
    LIMIT {_CF_TOP}
    """,
    tags=("analytics", "llm", "r14"),
)
def q238_item_cosine_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al. 2001): top-{TOP}
    part pairs by quantity-weighted cosine over the customer-part
    matrix — (p1, p2, dot, cosine). The quantity vector is exact BIGINT
    (l_quantity is integral; round() makes it so explicitly), dots and
    norms are exact integer sums, and the cosine is one rounded
    float expression over them.

    Scale: the pair candidates come from a self-join ON THE CUSTOMER —
    Σ|basket|² work — with a {_CF_MAX_BASKET}-part basket cap dropping
    degenerate mega-customers (the hot-bucket convention, mirrored in
    the oracle; q97/q119's flood-immunity shape). Norms broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ui0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .agg(F.sum(F.round("l_quantity").cast("long")).cast("long").alias("q"))
    )
    keep = (
        ui0.groupBy("c")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= _CF_MAX_BASKET)
        .select("c")
    )
    ui = ui0.join(keep, "c").localCheckpoint(eager=False)
    norms = ui.groupBy("p").agg(
        F.sum(F.col("q") * F.col("q")).cast("long").alias("nn")
    )
    # r15: the Σ|basket|² pair space is generated by collecting each
    # surviving customer's (p, q) rows into one in-stage list and
    # double-exploding it (both Generate nodes codegen'd), replacing the
    # c-keyed SELF-JOIN of ui against itself — the pair multiset and
    # every dot are identical (verified by two-sided exceptAll at sf0.1
    # plus the unchanged oracle), but the two join-side exchanges of ui
    # collapse into ONE c-keyed collect exchange and the join operator
    # disappears (guide §2.4). The {_CF_MAX_BASKET}-part cap is enforced
    # BEFORE the expansion, so the per-task blowup stays <= cap² rows.
    baskets = ui.groupBy("c").agg(
        F.collect_list(F.struct("p", "q")).alias("items")
    )
    dots = (
        baskets.select(F.explode("items").alias("x"), "items")
        .select("x", F.explode("items").alias("y"))
        .filter(F.col("x.p") < F.col("y.p"))
        .groupBy(F.col("x.p").alias("p1"), F.col("y.p").alias("p2"))
        .agg(F.sum(F.col("x.q") * F.col("y.q")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("p").alias("p1"), F.col("nn").alias("nn1"))
    nb = norms.select(F.col("p").alias("p2"), F.col("nn").alias("nn2"))
    return (
        dots.join(F.broadcast(na), "p1")
        .join(F.broadcast(nb), "p2")
        .select(
            "p1",
            "p2",
            "dot",
            F.round(
                F.col("dot")
                / (
                    F.sqrt(F.col("nn1").cast("double"))
                    * F.sqrt(F.col("nn2").cast("double"))
                ),
                4,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "p1", "p2")
        .limit(_CF_TOP)
    )


# --- q239: churn hazard table (Kaplan-Meier risk-set form) ---------------------


@query(
    "q239_churn_hazard",
    oracle="""
    WITH span AS (
      SELECT user_id,
             CAST(min(CAST(ts AS DATE)) AS DATE) AS first_d,
             CAST(max(CAST(ts AS DATE)) AS DATE) AS last_d
      FROM events GROUP BY user_id
    ),
    horizon AS (SELECT max(last_d) AS h FROM span),
    lives AS (
      -- churn day t = lifetime in days; users still active at the
      -- horizon are censored (observed = 0)
      SELECT CAST(last_d - first_d AS BIGINT) AS t,
             CASE WHEN last_d < h THEN 1 ELSE 0 END AS observed
      FROM span, horizon
    ),
    times AS (
      SELECT t,
             CAST(sum(observed) AS BIGINT) AS d,
             CAST(count(*) - sum(observed) AS BIGINT) AS censored
      FROM lives GROUP BY t
    ),
    risk AS (
      SELECT t, d, censored,
             CAST(sum(d + censored) OVER (ORDER BY t DESC) AS BIGINT)
               AS n_risk
      FROM times
    )
    SELECT t AS lifetime_days, n_risk, d AS n_churned, censored,
           round(CAST(d AS DOUBLE) / n_risk, 4) AS hazard
    FROM risk
    WHERE d > 0
    ORDER BY lifetime_days
    """,
    tags=("analytics", "r14"),
)
def q239_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier-style RISK TABLE for user churn: per observed
    lifetime t (days between a user's first and last event), the risk
    set n_risk = users with lifetime >= t (a reverse-cumulative sum),
    churn events d (users whose last activity precedes the global
    horizon — horizon-day users are CENSORED, the KM convention), and
    the discrete hazard d/n_risk — (lifetime_days, n_risk, n_churned,
    censored, hazard). The hazard column is the exact per-time factor
    of the KM product-limit estimator; the table deliberately stops
    short of the cumulative survival product, whose exp/ln chain is
    libm-dependent across engines (the repo's float-determinism rule) —
    every emitted number is exact integers plus ONE rounded division.

    Scale: one user-keyed min/max aggregate, one lifetime-keyed count,
    one reverse cumsum over the bounded lifetime domain (|distinct
    lifetimes| <= observation days)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    span = ev.groupBy("user_id").agg(
        F.min("d").alias("first_d"), F.max("d").alias("last_d")
    )
    horizon = span.agg(F.max("last_d").alias("h"))
    lives = span.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_d", "first_d").cast("long").alias("t"),
        F.when(F.col("last_d") < F.col("h"), 1).otherwise(0).alias("observed"),
    )
    times = lives.groupBy("t").agg(
        F.sum("observed").cast("long").alias("d"),
        (F.count(F.lit(1)) - F.sum("observed")).cast("long").alias("censored"),
    )
    w = Window.orderBy(F.desc("t"))
    risk = times.select(
        "t",
        "d",
        "censored",
        F.sum(F.col("d") + F.col("censored")).over(w).cast("long").alias(
            "n_risk"
        ),
    )
    return (
        risk.filter(F.col("d") > 0)
        .select(
            F.col("t").alias("lifetime_days"),
            "n_risk",
            F.col("d").alias("n_churned"),
            "censored",
            F.round(F.col("d").cast("double") / F.col("n_risk"), 4).alias(
                "hazard"
            ),
        )
        .orderBy("lifetime_days")
    )


# --- q240: CUPED variance-reduced A/B readout ----------------------------------

#: experiment split: user parity (deterministic, balanced); pre-period =
#: the first half of the observation window, post = the second half.
_CUPED_SPLIT_DAY = 15


@query(
    "q240_cuped_ab",
    oracle=f"""
    WITH base AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(ts AS DATE) - (SELECT min(CAST(ts AS DATE)) FROM events)
               AS dd,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    per_user AS (
      SELECT user_id, variant,
             CAST(sum(CASE WHEN dd < {_CUPED_SPLIT_DAY} THEN cents
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN dd >= {_CUPED_SPLIT_DAY} THEN cents
                           ELSE 0 END) AS BIGINT) AS y
      FROM base GROUP BY user_id, variant
    ),
    pooled AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx
      FROM per_user
    ),
    theta AS (
      SELECT n, sx,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS th
      FROM pooled
    ),
    arms AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(y) AS HUGEINT) AS vy,
             CAST(sum(x) AS HUGEINT) AS vx
      FROM per_user GROUP BY variant
    )
    SELECT variant, n_users,
           round(CAST(vy AS DOUBLE) / n_users / 100, 4) AS mean_post,
           round(
             (CAST(vy AS DOUBLE) / n_users
              - th * (CAST(vx AS DOUBLE) / n_users
                      - CAST(sx AS DOUBLE) / n)) / 100,
             4
           ) AS mean_cuped
    FROM arms, theta
    ORDER BY variant
    """,
    tags=("analytics", "r14"),
)
def q240_cuped_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al., WSDM
    2013): per variant (user parity), the raw post-period mean spend and
    the CUPED-adjusted mean  ŷ = ȳ_v − θ·(x̄_v − x̄)  with θ =
    cov(x,y)/var(x) estimated POOLED on per-user pre/post totals —
    (variant, n_users, mean_post, mean_cuped). Pre/post totals are exact
    integer cents; θ and the adjustment are scalar double expressions
    over exact 128-bit sums (n·Σxy − Σx·Σy over n·Σx² − (Σx)²), so both
    engines feed identical integers into identical IEEE arithmetic.

    Scale: one user-keyed aggregate + two 1-row reductions; the
    adjustment itself is O(|variants|)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d"), "value"
    )
    d0 = ev.agg(F.min("d").alias("d0"))
    base = ev.crossJoin(F.broadcast(d0)).select(
        "user_id",
        (F.col("user_id") % 2).alias("variant"),
        F.datediff("d", "d0").alias("dd"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    per_user = base.groupBy("user_id", "variant").agg(
        F.sum(
            F.when(F.col("dd") < _CUPED_SPLIT_DAY, F.col("cents")).otherwise(0)
        ).cast("long").alias("x"),
        F.sum(
            F.when(F.col("dd") >= _CUPED_SPLIT_DAY, F.col("cents")).otherwise(0)
        ).cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * dec("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("x") * dec("x")).cast("decimal(38,0)").alias("sxx"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    theta = pooled.select(
        "n",
        "sx",
        (
            (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("th"),
    )
    arms = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("y").cast("decimal(38,0)").alias("vy"),
        F.sum("x").cast("decimal(38,0)").alias("vx"),
    )
    return (
        arms.crossJoin(F.broadcast(theta))
        .select(
            "variant",
            "n_users",
            F.round(
                F.col("vy").cast("double") / F.col("n_users") / 100, 4
            ).alias("mean_post"),
            F.round(
                (
                    F.col("vy").cast("double") / F.col("n_users")
                    - F.col("th")
                    * (
                        F.col("vx").cast("double") / F.col("n_users")
                        - F.col("sx").cast("double") / F.col("n")
                    )
                )
                / 100,
                4,
            ).alias("mean_cuped"),
        )
        .orderBy("variant")
    )


# --- q241: mutual nearest neighbors (label-blocked) ----------------------------

_MNN_TOP = 25


@query(
    "q241_mutual_nn",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib, a.label AS label,
             list_sum(list_transform(range(1, len(a.v) + 1),
                                     i -> a.v[i] * b.v[i]))
               / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    best AS (
      SELECT ia, ib, label, sim,
             row_number() OVER (PARTITION BY ia
                                ORDER BY sim DESC, ib) AS rn
      FROM pairs
    )
    SELECT m1.ia AS vec_a, m1.ib AS vec_b,
           CAST(m1.label AS BIGINT) AS label,
           round(m1.sim, 4) AS cosine
    FROM best m1 JOIN best m2 ON m1.ia = m2.ib AND m1.ib = m2.ia
    WHERE m1.rn = 1 AND m2.rn = 1 AND m1.ia < m1.ib
    ORDER BY m1.sim DESC, vec_a
    LIMIT {_MNN_TOP}
    """,
    tags=("similarity", "llm", "r14"),
)
def q241_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL nearest-neighbor pairs over the embedding corpus — the
    bitext-mining / reciprocal-best-match primitive (e.g. CCMatrix,
    Schwenk et al. 2021): vectors a,b where each is the other's cosine
    top-1 WITHIN ITS LABEL BLOCK — top-{_MNN_TOP} pairs as (vec_a,
    vec_b, label, cosine). Blocking by label bounds the pair space at
    Σ|block|² (the SemDeDup cluster-bounded convention — at scale the
    block key is a coarse quantizer/LSH bucket, here the given label);
    the per-vector argmax is a window PARTITIONED by vector. Cosine
    rides the JVM higher-order dot (functions/vectors.py — no Python);
    ranking uses the RAW double (identical on both engines: same
    sequential fold over the same arrays), rounded only for output.

    Norms are precomputed ONCE PER VECTOR before the pair join (HOFs run
    interpreted — recomputing sqrt(Σx²) per PAIR per SIDE tripled the
    interpreted work: 12.0 -> ~4 s at sf0.1); the division uses the same
    doubles as the inline form, so results are bit-identical to the
    oracle's per-pair expression."""
    from csv_loader_spark.functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        V.as_double("embedding").alias("v"),
    ).withColumn("nrm", V.norm("v"))
    a = e.select(
        F.col("vec_id").alias("ia"),
        "label",
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("ib"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, a["label"] == b["label_b"])
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            "label",
            (V.dot("va", "vb") / (F.col("na") * F.col("nb"))).alias("sim"),
        )
    )
    w = Window.partitionBy("ia").orderBy(F.desc("sim"), F.asc("ib"))
    best = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    m1 = best.select(
        F.col("ia").alias("vec_a"),
        F.col("ib").alias("vec_b"),
        "label",
        "sim",
    )
    m2 = best.select(
        F.col("ia").alias("r_b"), F.col("ib").alias("r_a")
    )
    return (
        m1.join(
            m2,
            (m1["vec_a"] == m2["r_a"]) & (m1["vec_b"] == m2["r_b"]),
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.col("label").cast("long").alias("label"),
            "sim",
        )
        .orderBy(F.desc("sim"), "vec_a")
        .limit(_MNN_TOP)
        .select("vec_a", "vec_b", "label", F.round("sim", 4).alias("cosine"))
    )


# --- q242: hop-bounded weighted shortest paths (Bellman-Ford) ------------------

#: relaxation rounds — results are round-count-pinned (min weight over
#: paths of <= _BF_ROUNDS edges), the q160/q212/q232 convention.
_BF_ROUNDS = 4


def _bf_oracle() -> str:
    rounds = []
    prev = "d0"
    for i in range(1, _BF_ROUNDS + 1):
        # AS MATERIALIZED: each round references the previous table
        # TWICE — DuckDB's default CTE inlining would re-evaluate the
        # whole chain per reference, 2^rounds-fold (the q181 k-core
        # finding: 202 s -> 0.07 s; here the inlined form DNF'd >900 s
        # at x100 while the materialized chain matches Spark's
        # per-round checkpoints)
        rounds.append(
            f"""
    d{i} AS MATERIALIZED (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT we.dst AS node, {prev}.dist + we.w AS dist
        FROM {prev} JOIN we ON we.src = {prev}.node
      ) u GROUP BY node
    )"""
        )
        prev = f"d{i}"
    return f"""
    WITH {TRADE_GRAPH_SQL},
    we AS (SELECT src, dst, 1 + (src + dst) % 7 AS w FROM e),
    {TRADE_GRAPH_HUB_SQL},
    d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM hub),
    {",".join(rounds)}
    SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node
    FROM {prev} GROUP BY dist ORDER BY dist
    """


@query(
    "q242_bounded_shortest_path",
    oracle=_bf_oracle(),
    tags=("graph", "analytics", "r14"),
)
def q242_bounded_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED shortest distances from the trade-graph hub, bounded at
    {_BF_ROUNDS} hops: {_BF_ROUNDS} rounds of Bellman-Ford min-plus
    relaxation over edges weighted w = 1 + (cu+su) mod 7 (deterministic,
    symmetric) — (dist, n_nodes, min_node) per distance value. The
    weighted companion to q237's unit-hop BFS: BFS frontiers can't carry
    weights (a later round may find a CHEAPER path to a visited node),
    so every round re-relaxes the full distance table instead.

    Scale: per round one edge-keyed join + one node-keyed min — the
    distance table is one row per reached node. Rounds ARE checkpointed
    here (unlike q232): each round references the previous table TWICE
    (pass-through + relaxation legs), so without the checkpoint the
    plan re-executes doubly per round (2^k leaf blow-up).

    Edge prep and hub: ops/graph.trade_graph_edges and trade_graph_hub;
    the weight is added before the one checkpoint. The FUSED two-hop
    relaxation round (e2 = min-weight paths of length <= 2, halving the
    round count) was measured and REJECTED: this trade graph has
    sum(deg^2) = 25.3M two-hop paths per copy vs 97k edges (a 260x
    blowup — hub degree 538), and the fused run took 28.6-37.8 s at x10
    vs 6 s at x100 for the per-round form; min-plus fusion only pays on
    sparse graphs where sum(deg^2) = O(|E|)."""
    e = (
        trade_graph_edges(spark, sf_dir)
        .withColumn("w", F.lit(1) + (F.col("src") + F.col("dst")) % 7)
        .localCheckpoint(eager=False)
    )
    dist = spark.createDataFrame(
        [(trade_graph_hub(e), 0)], "node long, dist long"
    ).localCheckpoint(eager=False)
    for _ in range(_BF_ROUNDS):
        relaxed = (
            e.join(dist, e["src"] == dist["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return (
        dist.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node").cast("long").alias("min_node"),
        )
        .orderBy("dist")
    )


# --- q243: seasonal-hybrid anomaly days (S-H-ESD-style) ------------------------

_ESD_TOP = 15


@query(
    "q243_seasonal_anomaly_days",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM lineitem GROUP BY day
    ),
    d0 AS (SELECT min(day) AS d0 FROM daily),
    keyed AS (
      SELECT day, x,
             CAST(day - d0 AS BIGINT) % 7 AS dow
      FROM daily, d0
    ),
    season AS (
      SELECT dow, CAST(sum(x) // count(*) AS BIGINT) AS s
      FROM keyed GROUP BY dow
    ),
    resid AS (
      SELECT day, x, keyed.dow, x - s AS r, abs(x - s) AS ar
      FROM keyed JOIN season ON keyed.dow = season.dow
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY ar, day) AS rn,
             count(*) OVER () AS n
      FROM resid
    ),
    tm AS (
      SELECT CAST(sum(ar * (CASE WHEN (n + 1) // 2 = (n + 2) // 2
                                 THEN 2 ELSE 1 END)) AS BIGINT) AS tmad
      FROM ranked
      WHERE rn BETWEEN (n + 1) // 2 AND (n + 2) // 2
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, x AS cents, dow, r AS resid,
           round(CAST(2 * ar AS DOUBLE) / tmad, 4) AS z_mad
    FROM resid, tm
    WHERE tmad > 0
    ORDER BY z_mad DESC, day
    LIMIT {_ESD_TOP}
    """,
    tags=("analytics", "timeseries", "r14"),
)
def q243_seasonal_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-hybrid anomaly days (the S-H-ESD recipe: deseasonalize,
    then rank by robust deviation — Hochenbaum et al. 2017): daily
    revenue in exact cents, day-of-week seasonal component as the exact
    integer mean per weekday slot (dow = days-since-first mod 7 — pure
    arithmetic, no engine weekday-numbering mismatch), residual ranked
    by |r| / MAD — (day, cents, dow, resid, z_mad) for the top
    {_ESD_TOP}. The MAD is carried as the exact-integer TWICE-median
    (sum of the two middle |r|, doubling the single middle for odd n),
    so z = 2|r|/tmad is one rounded division over exact BIGINTs — no
    float median, no engine interpolation differences.

    Scale: day-grain throughout (the ranking window runs over the
    calendar-sized residual table, q230's bounded-domain convention);
    the one fact-sized shuffle is the groupBy-day."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("day"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    daily = li.groupBy("day").agg(F.sum("cents").cast("long").alias("x"))
    d0 = daily.agg(F.min("day").alias("d0"))
    keyed = daily.crossJoin(F.broadcast(d0)).select(
        "day", "x", (F.datediff("day", "d0") % 7).cast("long").alias("dow")
    )
    season = keyed.groupBy("dow").agg(
        F.expr("sum(x) DIV count(*)").cast("long").alias("s")
    )
    resid = keyed.join(F.broadcast(season), "dow").select(
        "day",
        "x",
        "dow",
        (F.col("x") - F.col("s")).alias("r"),
        F.abs(F.col("x") - F.col("s")).alias("ar"),
    )
    w = Window.orderBy("ar", "day")
    ranked = resid.select(
        "ar",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    m1 = F.expr("(n + 1) DIV 2")
    m2 = F.expr("(n + 2) DIV 2")
    tm = (
        ranked.filter((F.col("rn") >= m1) & (F.col("rn") <= m2))
        .agg(
            F.sum(
                F.col("ar")
                * F.when(m1 == m2, F.lit(2)).otherwise(F.lit(1))
            )
            .cast("long")
            .alias("tmad")
        )
    )
    return (
        resid.crossJoin(F.broadcast(tm))
        .filter(F.col("tmad") > 0)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("x").alias("cents"),
            "dow",
            F.col("r").alias("resid"),
            F.round((2 * F.col("ar")).cast("double") / F.col("tmad"), 4).alias(
                "z_mad"
            ),
        )
        .orderBy(F.desc("z_mad"), "day")
        .limit(_ESD_TOP)
    )


# --- q244: sample-bias chi-square audit ----------------------------------------


def _q244_oracle() -> str:
    from csv_loader_spark.queries.llm2 import _hash16_sql

    h = _hash16_sql("CAST(doc_id AS STRING)")
    return f"""
    WITH pop AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source
    ),
    samp AS (
      SELECT source, CAST(count(*) AS BIGINT) AS o
      FROM documents WHERE {h} % 2 = 0 GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS big_n,
             CAST((SELECT sum(o) FROM samp) AS BIGINT) AS k
      FROM pop
    ),
    terms AS (
      SELECT pop.source,
             CAST(pow(coalesce(samp.o, 0) * big_n - k * pop.n, 2) AS DOUBLE)
               / (CAST(k AS DOUBLE) * pop.n * big_n) AS term
      FROM pop LEFT JOIN samp ON pop.source = samp.source
      CROSS JOIN tot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sources,
           (SELECT k FROM tot) AS sample_n,
           round(list_sum(list_transform(
             list_sort(list(ROW(source, term))), r -> r[2])), 4) AS chi2
    FROM terms
    """


@query(
    "q244_sample_bias_chi2",
    oracle=_q244_oracle(),
    tags=("analytics", "llm", "r14"),
)
def q244_sample_bias_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of the q66-style deterministic 50%
    hash sample against the population SOURCE distribution — (n_sources,
    sample_n, chi2): the sampling-bias audit every reproducible-sampling
    pipeline should run. Per-source terms are (o·N − k·n)²/(k·n·N) —
    exact integer numerators (128-bit once counts pass ~3e9), one
    division per term — and the cross-source float SUM is an ORDERED
    FOLD over the source-sorted term array (collect_list → sort_array →
    aggregate here, list(ROW ORDER) → list_sum in the oracle): both
    engines add the same doubles in the same sequence, so the
    summation-order nondeterminism that rules out plain float SUM()
    (CLAUDE.md) does not apply. |sources| is group-bounded, so the
    array is tiny."""
    from csv_loader_spark.queries.llm2 import _hash16_spark_sql

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pop = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    samp = (
        d.filter(F.expr(_hash16_spark_sql("CAST(doc_id AS STRING)")) % 2 == 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    tot = pop.agg(F.sum("n").cast("long").alias("big_n")).crossJoin(
        samp.agg(F.sum("o").cast("long").alias("k"))
    )
    terms = (
        pop.join(samp, "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "k",
            (
                F.pow(
                    (
                        F.coalesce(F.col("o"), F.lit(0)) * F.col("big_n")
                        - F.col("k") * F.col("n")
                    ).cast("double"),
                    F.lit(2),
                )
                / (
                    F.col("k").cast("double")
                    * F.col("n")
                    * F.col("big_n")
                )
            ).alias("term"),
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.first("k").alias("sample_n"),
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("source", "term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ),
            4,
        ).alias("chi2"),
    )


# --- q245: vocabulary growth curve (Heaps' law) ---------------------------------

_VOCAB_BUCKETS = 10


@query(
    "q245_vocab_growth",
    oracle=f"""
    WITH mx AS (SELECT max(doc_id) AS mid FROM documents),
    firsts AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term,
             CAST(doc_id * {_VOCAB_BUCKETS} // (mid + 1) AS BIGINT) AS b
      FROM documents, mx
    ),
    first_b AS (
      SELECT term, CAST(min(b) AS BIGINT) AS fb FROM firsts GROUP BY term
    ),
    per AS (
      SELECT fb, CAST(count(*) AS BIGINT) AS new_terms
      FROM first_b GROUP BY fb
    )
    SELECT fb AS bucket, new_terms,
           CAST(sum(new_terms) OVER (ORDER BY fb) AS BIGINT) AS cum_vocab
    FROM per ORDER BY bucket
    """,
    tags=("llm", "analytics", "r14"),
)
def q245_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law meter): the corpus in doc_id
    order split into {_VOCAB_BUCKETS} equal id-range buckets; per bucket
    the count of unigrams whose FIRST occurrence falls there, plus the
    running vocabulary size — (bucket, new_terms, cum_vocab). The
    sub-linear flattening of cum_vocab is the standard crawl-health /
    dedup-effectiveness signal (a re-crawled corpus goes flat early).

    Scale: one term-keyed min aggregate (vocabulary-sized state) and a
    {_VOCAB_BUCKETS}-row cumsum. All exact integers."""
    from csv_loader_spark.functions import text as TXT

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = d.agg(F.max("doc_id").alias("mid"))
    firsts = d.crossJoin(F.broadcast(mx)).select(
        F.explode(TXT.tokens("text")).alias("term"),
        F.expr(f"doc_id * {_VOCAB_BUCKETS} DIV (mid + 1)")
        .cast("long")
        .alias("b"),
    )
    first_b = firsts.groupBy("term").agg(F.min("b").cast("long").alias("fb"))
    per = first_b.groupBy("fb").agg(
        F.count(F.lit(1)).cast("long").alias("new_terms")
    )
    w = Window.orderBy("fb")
    return per.select(
        F.col("fb").alias("bucket"),
        "new_terms",
        F.sum("new_terms").over(w).cast("long").alias("cum_vocab"),
    ).orderBy("bucket")
