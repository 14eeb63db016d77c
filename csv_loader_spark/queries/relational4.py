"""Relational operator library, part 4 (r7): warehouse-maintenance shapes —
CDC upsert/merge and SCD type-2 history building.

A 100 TB corpus is not static: dimension snapshots take change feeds
(inserts/updates/deletes) and slowly-changing attributes need validity
intervals. Storage-side MERGE INTO belongs to the table format
(Delta/Iceberg); the ENGINE-side shape both of them execute underneath is
what these queries implement and oracle-check:

- q105: apply a changeset to a snapshot — full-outer join on the key,
  change wins, deletes drop. One shuffle on the merge key (the changeset
  would broadcast when small, but full-outer cannot broadcast — the
  shuffle-on-key plan IS the general merge plan).
- q106: collapse an event stream into SCD2 validity intervals — detect
  value changes with lag(), close each version with lead(). Two window
  passes over the same (user_id, ts) sort, one shuffle total.

Both changesets are synthesized deterministically from the base tables
(q86's injection pattern) so the oracle runs the identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from csv_loader_spark.io.tables import load_table
from csv_loader_spark.queries.registry import query


@query(
    "q105_cdc_upsert",
    oracle="""
    WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
    changes AS (
      SELECT o_orderkey, o_totalprice + 100 AS price, 'U' AS op
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice * 2, 'I'
      FROM orders WHERE o_orderkey % 1000 = 0
      UNION ALL
      SELECT o_orderkey, NULL, 'D' FROM orders WHERE o_orderkey % 10 = 5
    )
    SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
           coalesce(c.price, b.o_totalprice) AS o_totalprice,
           coalesce(c.op, 'K') AS src
    FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
    WHERE coalesce(c.op, 'K') <> 'D'
    """,
    tags=("join", "cdc", "merge", "r7"),
)
def q105_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert: apply a deterministic changeset (updates to every 10th
    key, inserts keyed past the snapshot range, deletes of every
    key = 5 mod 10) to the orders snapshot. Change rows win, deletes drop,
    untouched rows pass through tagged 'K' — the full post-merge table is
    the output, so the gate proves inserts landed, updates overrode,
    deletes vanished AND nothing else moved. Arithmetic (+100, *2) is
    exact on binary doubles — no rounding needed, both engines bit-agree.

    Scale: the engine shape under every MERGE INTO — a full-outer
    shuffle join on the merge key. Deletes ride the changeset as op
    markers, so one pass applies all three verbs; at the table-format
    layer the same plan writes per-file copy-on-write or merge-on-read."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_totalprice")
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + 100).alias("price"),
            F.lit("U").alias("op"),
        )
    )
    inserts = (
        o.filter(F.col("o_orderkey") % 1000 == 0)
        .select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            (F.col("o_totalprice") * 2).alias("price"),
            F.lit("I").alias("op"),
        )
    )
    deletes = (
        o.filter(F.col("o_orderkey") % 10 == 5)
        .select(
            "o_orderkey",
            F.lit(None).cast("double").alias("price"),
            F.lit("D").alias("op"),
        )
    )
    changes = updates.unionAll(inserts).unionAll(deletes)
    b, c = base.alias("b"), changes.alias("c")
    merged = b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full_outer")
    return merged.select(
        F.coalesce(F.col("c.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("c.price"), F.col("b.o_totalprice")).alias("o_totalprice"),
        F.coalesce(F.col("c.op"), F.lit("K")).alias("src"),
    ).filter(F.col("src") != "D")


@query(
    "q106_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type AS attr,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    changes AS (
      SELECT user_id, event_id, ts, attr
      FROM ordered WHERE prev IS NULL OR attr <> prev
    ),
    versions AS (
      SELECT user_id, event_id, ts AS valid_from, attr,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM changes
    )
    SELECT user_id, event_id,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           coalesce(strftime(valid_to, '%Y-%m-%d %H:%M:%S'), 'CURRENT')
             AS valid_to,
           attr
    FROM versions
    """,
    tags=("window", "scd2", "cdc", "r7"),
)
def q106_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history: collapse each user's event stream into validity
    intervals over the tracked attribute (event_type — low cardinality,
    so consecutive-equal RUNS genuinely collapse) — a new version opens
    where the attribute changes (lag detection), and closes when the next
    version opens (lead; the live version reads 'CURRENT'). The
    (ts, event_id) compound order makes ties deterministic.

    Scale: two window functions over the same (user_id, ts) sort — one
    shuffle on user_id, state = one row lookback/lookahead per partition.
    This is the dimension-history builder every warehouse runs; the
    output is directly joinable as-of (q24's shape) by validity range."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.col("event_type").alias("attr")
    )
    return scd2_intervals(e)


def scd2_intervals(events: DataFrame) -> DataFrame:
    """q106's pipeline over an arbitrary (user_id, event_id, ts, attr)
    frame."""
    order = [F.col("ts"), F.col("event_id")]
    w = W.partitionBy("user_id").orderBy(*order)
    ordered = events.select(
        "user_id",
        "event_id",
        "ts",
        "attr",
        F.lag("attr").over(w).alias("prev"),
    )
    changes = ordered.filter(
        F.col("prev").isNull() | (F.col("attr") != F.col("prev"))
    ).drop("prev")
    versions = changes.select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        "attr",
        F.lead("ts").over(w).alias("valid_to"),
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return versions.select(
        "user_id",
        "event_id",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.coalesce(F.date_format("valid_to", fmt), F.lit("CURRENT")).alias("valid_to"),
        "attr",
    )


@query(
    "q107_quality_report",
    oracle="""
    SELECT 'orders_null_custkey' AS check_name,
           count(*) FILTER (WHERE o_custkey IS NULL) AS n_violations,
           count(*) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'orders_dup_orderkey', count(*) - count(DISTINCT o_orderkey), count(*)
    FROM orders
    UNION ALL
    SELECT 'orders_nonpositive_price',
           count(*) FILTER (WHERE o_totalprice <= 0), count(*)
    FROM orders
    UNION ALL
    SELECT 'orders_fk_customer',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           count(*)
    FROM orders
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)),
           count(*)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           count(*) FILTER (WHERE l_quantity <= 0), count(*)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_range',
           count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1), count(*)
    FROM lineitem
    UNION ALL
    SELECT 'events_ts_in_range',
           count(*) FILTER (WHERE ts < TIMESTAMP '1990-01-01'
                               OR ts >= TIMESTAMP '2031-01-01'), count(*)
    FROM events
    """,
    tags=("agg", "quality", "audit"),
)
def q107_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint report (the deequ/dbt-test shape): null,
    uniqueness, range, date-ordering and referential-integrity checks as
    one (check_name, n_violations, n_rows) table — the audit a pipeline
    runs before promoting a batch.

    Scale (r8 consolidation, the deequ execution model): ALL of a table's
    row-local checks compute in ONE scan — a single conditional aggregate
    whose one-row result melts to (check_name, n_violations) rows via an
    explode of a struct array (JVM-side, output is |checks| rows) — so
    adding a check adds a column to an existing aggregate, never a rescan
    (plan-asserted: tests/test_plans.py). Each FK check is one LEFT join
    pass over the child computing violations (unmatched) and the child
    total TOGETHER — no separate count scan; parent side is distinct keys,
    broadcast when it is a dim. Output size is the number of CHECKS."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")
    cnt = F.count(F.lit(1))

    def cond_checks(tbl: DataFrame, checks: dict) -> DataFrame:
        """Every row-local check for one table in a single scan/aggregate,
        melted to one output row per check."""
        aggrow = tbl.agg(
            *[v.cast("long").alias(k) for k, v in checks.items()],
            cnt.cast("long").alias("_n_rows"),
        )
        pairs = F.array(
            *[
                F.struct(
                    F.lit(k).alias("check_name"), F.col(k).alias("n_violations")
                )
                for k in checks
            ]
        )
        return aggrow.select(
            F.explode(pairs).alias("_c"), F.col("_n_rows").alias("n_rows")
        ).select("_c.check_name", "_c.n_violations", "n_rows")

    def fk(name, child, child_key, parent, parent_key, broadcast_parent):
        """Referential check in one pass over the child: LEFT join against
        the distinct parent keys, count rows and unmatched together."""
        parent_side = parent.select(F.col(parent_key).alias("_pk")).distinct()
        if broadcast_parent:
            parent_side = F.broadcast(parent_side)
        return (
            child.join(parent_side, child[child_key] == F.col("_pk"), "left")
            .agg(
                F.count(F.when(F.col("_pk").isNull(), 1))
                .cast("long")
                .alias("n_violations"),
                cnt.cast("long").alias("n_rows"),
            )
            .select(F.lit(name).alias("check_name"), "n_violations", "n_rows")
        )

    rows = [
        cond_checks(
            o,
            {
                "orders_null_custkey": F.count(
                    F.when(F.col("o_custkey").isNull(), 1)
                ),
                "orders_dup_orderkey": cnt - F.countDistinct("o_orderkey"),
                "orders_nonpositive_price": F.count(
                    F.when(F.col("o_totalprice") <= 0, 1)
                ),
            },
        ),
        fk("orders_fk_customer", o, "o_custkey", c, "c_custkey", True),
        fk("lineitem_fk_orders", li, "l_orderkey", o, "o_orderkey", False),
        cond_checks(
            li,
            {
                "lineitem_nonpositive_qty": F.count(
                    F.when(F.col("l_quantity") <= 0, 1)
                ),
                "lineitem_discount_range": F.count(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                    )
                ),
            },
        ),
        cond_checks(
            e,
            {
                "events_ts_in_range": F.count(
                    F.when(
                        (F.col("ts") < F.lit("1990-01-01").cast("timestamp"))
                        | (F.col("ts") >= F.lit("2031-01-01").cast("timestamp")),
                        1,
                    )
                ),
            },
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# ---------------------------------------------------------------------------
# q124: ordered funnel (first-touch cascade)
# ---------------------------------------------------------------------------


@query(
    "q124_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS vt FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS ct
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.vt
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS pt
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.ct
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    steps AS (
      SELECT 1 AS ord, 'view' AS step, count(*) AS n_users FROM v
      UNION ALL
      SELECT 2, 'click', count(*) FROM c
      UNION ALL
      SELECT 3, 'purchase', count(*) FROM p
    )
    SELECT ord, step, n_users,
           CAST(CASE WHEN first_value(n_users) OVER (ORDER BY ord) = 0 THEN 0
                     ELSE n_users * 10000 // first_value(n_users)
                            OVER (ORDER BY ord) END AS BIGINT) AS conv_bp
    FROM steps
    """,
    tags=("analytics", "funnel", "events"),
)
def q124_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (first-touch cascade): users who VIEWED,
    then CLICKED strictly after their first view, then PURCHASED strictly
    after that first qualifying click — the product-analytics staple whose
    ORDER constraint a naive per-type count gets wrong (a purchase before
    any view must not convert). Conversion in integer basis points
    relative to step 1.

    Scale: three user-keyed aggregates, each a semi-join against the
    previous step's (user_id, ts) frame — the step frames shrink
    monotonically, join keys are all user_id (one partitioning reused),
    and no window runs over raw events. The final window orders 3 rows.
    """
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vt"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    steps = (
        v.agg(F.count("*").alias("n_users")).select(
            F.lit(1).alias("ord"), F.lit("view").alias("step"), "n_users"
        )
        .unionAll(
            c.agg(F.count("*").alias("n_users")).select(
                F.lit(2).alias("ord"), F.lit("click").alias("step"), "n_users"
            )
        )
        .unionAll(
            p.agg(F.count("*").alias("n_users")).select(
                F.lit(3).alias("ord"), F.lit("purchase").alias("step"), "n_users"
            )
        )
    )
    # zero guard (r9): on a corpus with no 'view' events DuckDB's `//`
    # raises division-by-zero while Spark's div yields NULL — both sides
    # emit 0 bp instead so query and oracle agree on empty funnels too
    base = F.first("n_users").over(W.orderBy("ord"))
    return steps.withColumn("_base", base).withColumn(
        "conv_bp",
        F.expr(
            "CAST(CASE WHEN _base = 0 THEN 0"
            " ELSE n_users * 10000 div _base END AS BIGINT)"
        ),
    ).drop("_base")


# ---------------------------------------------------------------------------
# q130: analytic rank family (percent_rank / cume_dist / ntile)
# ---------------------------------------------------------------------------


@query(
    "q130_analytic_ranks",
    oracle="""
    WITH spend AS (
      SELECT c.c_custkey, c.c_nationkey % 5 AS region_band,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT c_custkey, region_band, cents,
           CAST(floor(percent_rank() OVER w * 10000) AS BIGINT) AS pr_bp,
           CAST(floor(cume_dist() OVER w * 10000) AS BIGINT) AS cd_bp,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM spend
    WINDOW w AS (PARTITION BY region_band ORDER BY cents DESC, c_custkey)
    """,
    tags=("window", "rank"),
)
def q130_analytic_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic rank family on one window: customer spend per
    region band scored with percent_rank, cume_dist, and ntile(4)
    quartiles — the remaining ranking functions the window surface
    (q13/q14/q60) didn't exercise. Spend is summed in exact integer
    cents (the q60 convention) and the rank ratios floored to basis
    points, so the gate compares identical doubles, not decimal
    renderings; the (cents DESC, custkey) order is tie-free.

    Scale: one key-partitioned sort window over the pre-aggregated
    |customers|-row frame — the join and agg shuffle on custkey first,
    the window re-shuffles on the small region_band key. At real scale
    band count should exceed executor count or the heavy band becomes
    one task (the q112 skew audit's warning case).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy(
            "c_custkey", (F.col("c_nationkey") % 5).alias("region_band")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = W.partitionBy("region_band").orderBy(F.col("cents").desc(), F.col("c_custkey"))
    return spend.select(
        "c_custkey",
        "region_band",
        "cents",
        F.floor(F.percent_rank().over(w) * 10000).cast("long").alias("pr_bp"),
        F.floor(F.cume_dist().over(w) * 10000).cast("long").alias("cd_bp"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join (batch-equivalent of the streaming op)
# ---------------------------------------------------------------------------


@query(
    "q165_click_attribution",
    oracle="""
    WITH v AS (
      SELECT event_id AS view_id, user_id, ts AS view_ts
      FROM events WHERE event_type = 'view'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT v.user_id, view_id, click_id, view_ts, click_ts
      FROM v JOIN c ON v.user_id = c.user_id
       AND click_ts >= view_ts
       AND click_ts <= view_ts + INTERVAL 10 MINUTE
    )
    SELECT strftime(date_trunc('hour', click_ts), '%Y-%m-%d %H:%M:%S')
             AS click_hour,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT click_id) AS BIGINT) AS n_clicks,
           CAST(sum(epoch_us(click_ts) - epoch_us(view_ts)) AS BIGINT)
             AS delay_us_sum
    FROM p GROUP BY 1
    """,
    tags=("streaming", "join", "r12"),
)
def q165_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click attribution by watermarked interval join (the stream-stream
    join in streaming/events_stream.py:attribution_pairs, run here in its
    batch mode — same transformation, exact oracle): every click paired
    with each same-user view from the preceding 10 minutes, rolled up per
    click hour with an exact microsecond delay sum. The REAL streaming
    execution of the same function (availableNow -> memory sink, bounded
    join state via the watermark + time-range condition) is asserted
    stream == batch in tests/test_streaming_join.py."""
    from csv_loader_spark.streaming.events_stream import attribution_pairs

    e = load_table(spark, sf_dir, "events")
    pairs = attribution_pairs(
        e.filter(F.col("event_type") == "view"),
        e.filter(F.col("event_type") == "click"),
    )
    return (
        pairs.groupBy(
            F.date_format(F.date_trunc("hour", "click_ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("click_hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("click_id").alias("n_clicks"),
            F.sum(
                F.unix_micros("click_ts") - F.unix_micros("view_ts")
            ).alias("delay_us_sum"),
        )
    )
