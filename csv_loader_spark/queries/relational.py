"""Relational operator library — each operator as a named, oracle-checked query.

Covers the full surface SURVEY.md §2.3 plans: filter/project, equi/broadcast/
semi/anti/outer joins, non-equi (range) and as-of joins, hash aggregation,
rollup/cube/grouping sets, window functions (ranking, running, lag), sort/
limit/top-k, set operations, scalar string/date/math functions, JSON
extraction, event-time windows (batch-equivalent), sessionization, pivot,
percentiles, correlated subqueries, string aggregation.

Scale notes (100 TB design intent, per-query in docstrings):
- Dim tables (region/nation/supplier/part/customer) are broadcast — no shuffle
  of the fact side for those joins.
- Fact-fact joins (orders⋈lineitem) shuffle on the join key; at cluster scale
  both sides would be bucketed by orderkey to make this a zero-shuffle join.
- All aggregations are expressed via groupBy/agg so Catalyst plans
  partial(map-side) + final aggregation; nothing aggregates on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from csv_loader_spark.io.tables import load_table, register_views
from csv_loader_spark.queries.registry import query


# ---------------------------------------------------------------------------
# Scans, filters, projections, hash aggregation
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "filter", "flagship", "headline"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: filter → hash agg (8 aggregates).

    Scale: filter pushes to the parquet scan; agg is partial+final (map-side
    combine), shuffle carries only 6 grouped rows per partition.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q02_filter_project",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_retailprice
    FROM part
    WHERE p_size < 15 AND p_retailprice > 950.0
    """,
    tags=("filter", "project"),
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection; both must reach the parquet scan (pushdown)."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(
        (F.col("p_size") < 15) & (F.col("p_retailprice") > 950.0)
    ).select("p_partkey", "p_name", "p_brand", "p_retailprice")


@query(
    "q06_revenue_delta",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_delta,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "filter"),
)
def q06_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped scalar aggregate (single-row global agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "q03_topn_revenue",
    oracle="""
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o    ON c.c_custkey = o.o_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-03-15'
      AND l.l_shipdate  > TIMESTAMP '1996-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY sum(l.l_extendedprice * (1 - l.l_discount)) DESC, o.o_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "headline"),
)
def q03_topn_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped 3-way join + agg + deterministic top-N.

    Scale: customer (filtered on segment) is broadcast into orders; at
    cluster scale the orders⋈lineitem join shuffles on orderkey (bucket
    both). At sf0.1 the executed plan broadcasts lineitem instead
    (BroadcastHashJoin [o_orderkey], [l_orderkey], BuildRight).
    Ordering ties broken by o_orderkey so LIMIT is deterministic.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(revenue.alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round(F.col("_rev"), 2).alias("revenue"),
        )
    )


@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    tags=("join", "semi", "agg"),
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS via left-semi join with a non-equi conjunct."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    cond = (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate)
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q05_nation_volume",
    oracle="""
    SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n    ON n.n_regionkey = r.r_regionkey
    JOIN customer c  ON c.c_nationkey = n.n_nationkey
    JOIN orders o    ON o.o_custkey  = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN supplier s  ON l.l_suppkey  = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    tags=("join", "broadcast", "agg", "headline"),
)
def q05_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-way join; every dim side broadcast, one fact shuffle.

    Scale: region/nation/supplier/customer are broadcast; at cluster scale
    the only shuffle is orders⋈lineitem on orderkey. At sf0.1 the executed
    plan broadcasts lineitem too (BroadcastHashJoin [o_orderkey],
    [l_orderkey], BuildRight), so no join shuffles.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "q07_brand_volume",
    oracle="""
    SELECT p.p_brand,
           round(sum(l.l_quantity), 2) AS sum_qty,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 10
    GROUP BY p.p_brand
    """,
    tags=("join", "broadcast", "agg", "headline"),
)
def q07_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈broadcast-dim join + agg by a dim attribute (no fact shuffle
    before the join; agg shuffles only the small grouped result)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q08_semi_join",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    """,
    tags=("join", "semi"),
)
def q08_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q09_anti_join",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    """,
    tags=("join", "anti"),
)
def q09_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no high-value order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q10_outer_join_agg",
    oracle="""
    SELECT c.c_custkey,
           count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spend
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
    tags=("join", "outer", "agg"),
)
def q10_outer_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers, with null-aware agg."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@query(
    "q24_asof_join",
    oracle="""
    SELECT event_id AS purchase_id, user_id, prior_view_id
    FROM (
      SELECT event_id, user_id, event_type,
             last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_id
      FROM events
      WHERE event_type IN ('view', 'purchase')
    )
    WHERE event_type = 'purchase'
    """,
    tags=("join", "asof", "window"),
)
def q24_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest strictly-prior view by
    the same user, expressed as a single-pass window (no O(n²) join).

    Scale: one shuffle on user_id; within-partition sort by ts. This is the
    Spark-native as-of formulation — merge_asof semantics without pandas.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_id = F.when(F.col("event_type") == "view", F.col("event_id"))
    return (
        e.withColumn("prior_view_id", F.last(view_id, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id", "prior_view_id")
    )


@query(
    "q25_range_join",
    oracle="""
    SELECT a.user_id, count(*) AS n_pairs
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    GROUP BY a.user_id
    """,
    tags=("join", "range", "agg"),
)
def q25_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: click→purchase conversions within 10 minutes.

    Scale: the equi-conjunct (user_id) makes this a hash join with a range
    residual — NOT a cartesian product; skewed users handled by AQE.
    """
    e = load_table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts")
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts")
    )
    joined = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    return joined.groupBy(F.col("a_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube, distinct
# ---------------------------------------------------------------------------


@query(
    "q11_rollup",
    oracle="""
    SELECT r.r_name, n.n_name,
           grouping(r.r_name, n.n_name) AS g_id,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tags=("agg", "rollup"),
)
def q11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy agg (region → nation → grand total) with grouping_id
    to disambiguate the null markers."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping_id().alias("g_id"),
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


@query(
    "q12_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag, l_linestatus) AS g_id,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def q12_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two grouping columns (all 4 grouping sets)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("g_id"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q39_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           grouping(o_orderpriority, o_orderstatus) AS g_id,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
    tags=("agg", "grouping_sets", "sql"),
)
def q39_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (same Catalyst plan as the
    DataFrame rollup/cube — demonstrates the spark.sql entry path)."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               grouping_id(o_orderpriority, o_orderstatus) AS g_id,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@query(
    "q26_distinct_exact",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "distinct", "headline"),
)
def q26_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group — the distributed version of the
    reference's in-memory HashSet dual counters (CsvLoader.java:105-106)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q27_distinct_approx",
    oracle=None,  # HLL sketch values are implementation-specific → rows-only check
    tags=("agg", "distinct", "approx"),
)
def q27_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB-safe variant of the
    reference's unbounded exact distinct state (SURVEY.md §7.4)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Window functions, sort/limit/top-k
# ---------------------------------------------------------------------------


@query(
    "q13_window_topk",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
    tags=("window", "topk", "headline"),
)
def q13_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via row_number (deterministic tie-break on orderkey).

    Scale: single shuffle on the partition key; Spark plans a WindowGroupLimit
    (rank pushdown) so each partition keeps only K rows before the final sort.
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice", "rn"
        )
    )


@query(
    "q14_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_spend,
           round(lag(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey), 2) AS prev_price,
           rank() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
    FROM orders
    """,
    tags=("window", "analytic"),
)
def q14_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag + rank analytic windows over one partitioning."""
    o = load_table(spark, sf_dir, "orders")
    w_ord = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_rank = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_spend"),
        F.round(F.lag("o_totalprice").over(w_ord), 2).alias("prev_price"),
        F.rank().over(w_rank).alias("price_rank"),
    )


@query(
    "q15_sort_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 20
    """,
    tags=("sort", "limit"),
)
def q15_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject (per-partition top-N +
    driver merge) — no full sort at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@query(
    "q16_union",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    """,
    tags=("setop",),
)
def q16_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct)."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.union(b).distinct()


@query(
    "q17_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 50000
    """,
    tags=("setop",),
)
def q17_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    b = o.filter(F.col("o_totalprice") > 50000).select(F.col("o_custkey").alias("c_custkey"))
    return a.intersect(b)


@query(
    "q18_except",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("setop",),
)
def q18_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c_custkey"))
    return a.exceptAll(b).distinct()


# ---------------------------------------------------------------------------
# Scalar functions: string / date / math / JSON
# ---------------------------------------------------------------------------


@query(
    "q19_scalar_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                           AS name_upper,
           substr(p_name, 1, 8)                    AS name_prefix,
           length(p_name)                          AS name_len,
           replace(p_brand, '#', '_')              AS brand_slug,
           concat(p_brand, ':', p_type)            AS brand_type,
           p_size * 2 + 1                          AS size_odd,
           p_size % 5                              AS size_mod,
           abs(p_size - 25)                        AS size_dist,
           round(sqrt(p_retailprice), 4)           AS price_sqrt,
           floor(p_retailprice)                    AS price_floor,
           ceil(p_retailprice)                     AS price_ceil
    FROM part
    WHERE p_partkey < 200
    """,
    tags=("scalar", "string", "math"),
)
def q19_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar function battery (all JVM-side, codegen'd)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_brand"), F.lit("#"), F.lit("_")).alias("brand_slug"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        (F.col("p_size") * 2 + 1).alias("size_odd"),
        (F.col("p_size") % 5).alias("size_mod"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.round(F.sqrt("p_retailprice"), 4).alias("price_sqrt"),
        # Spark floor/ceil return BIGINT while DuckDB's return DOUBLE; cast so
        # the driver's value-hash sees identical representations (900.0 == 900.0).
        F.floor("p_retailprice").cast("double").alias("price_floor"),
        F.ceil("p_retailprice").cast("double").alias("price_ceil"),
    )


@query(
    "q21_monthly_orders",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER)  AS o_year,
           CAST(month(o_orderdate) AS INTEGER) AS o_month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY 1, 2
    """,
    tags=("date", "agg", "headline"),
)
def q21_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + monthly aggregation (date_trunc family)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    return o.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


@query(
    "q20_json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("json", "agg"),
)
def q20_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string column (events.props)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Event-time windows & sessionization (batch-equivalent of the streaming ops)
# ---------------------------------------------------------------------------


@query(
    "q22_tumbling_window",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("window_time", "agg"),
)
def q22_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time window (batch; q57_stream_tumbling runs
    the same F.window primitive as a stream)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "q23_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           count(DISTINCT session_id) AS n_sessions,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id
    """,
    tags=("session", "window", "headline"),
)
def q23_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: lag → gap flag →
    cumulative session id → per-user session stats. Single shuffle on user_id.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = W.partitionBy("user_id").orderBy("ts").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    return (
        e.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(w_run))
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Pivot, percentiles, correlated subquery, string agg
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(
    "q38_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS n_click,
           count(*) FILTER (WHERE event_type = 'view')     AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           count(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events
    GROUP BY user_id
    """,
    tags=("pivot", "agg"),
)
def q38_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into per-user count columns (explicit value list so
    the plan is a single pass, no distinct-values pre-query)."""
    e = load_table(spark, sf_dir, "events")
    piv = e.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    out = piv.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES]
    )
    return out


@query(
    "q40_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           round(quantile_cont(l_quantity, 0.50), 4) AS p50,
           round(quantile_cont(l_quantity, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def q40_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.25), 4).alias("p25"),
        F.round(F.percentile("l_quantity", 0.50), 4).alias("p50"),
        F.round(F.percentile("l_quantity", 0.75), 4).alias("p75"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("price_p90"),
    )


@query(
    "q41_correlated_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey, round(c.c_acctbal, 2) AS c_acctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
    """,
    tags=("subquery", "join"),
)
def q41_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (above-per-group-average), decorrelated into
    an agg + broadcast join — the plan Catalyst would produce for the SQL."""
    c = load_table(spark, sf_dir, "customer")
    avg_per_nation = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.avg("c_acctbal").alias("nation_avg")
    )
    return (
        c.join(F.broadcast(avg_per_nation), c.c_nationkey == F.col("nk"))
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", F.round("c_acctbal", 2).alias("c_acctbal"))
    )


@query(
    "q42_string_agg",
    oracle="""
    SELECT n.n_name,
           string_agg(DISTINCT c.c_mktsegment, ',' ORDER BY c.c_mktsegment) AS segments,
           count(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    tags=("agg", "string"),
)
def q42_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (collect_set → sort → join, matching
    DuckDB's string_agg DISTINCT ... ORDER BY)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )
