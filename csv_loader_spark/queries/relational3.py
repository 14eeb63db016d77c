"""Relational operator library, part 3: window-frame variants, funnel and
retention analytics, skew-salted join, approximate percentiles.

The funnel/retention pair are the event-sequence shapes a training-data
pipeline runs constantly (user journeys, cohort decay); the salted join is
the skew toolkit made oracle-checkable (same result as the plain join, by
construction)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from csv_loader_spark.functions.hashing import hash16_spark_sql, hash16_sql
from csv_loader_spark.io.tables import load_table, register_views
from csv_loader_spark.ops.skew import salted_join
from csv_loader_spark.queries.registry import query

# md5-hex → 16-bit bucket, identical SQL on both engines (llm2.py owns it)
_HASH16_IMPORT = hash16_sql("CAST(doc_id AS VARCHAR)")


@query(
    "q60_window_frames",
    oracle="""
    WITH b AS (
      SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                  ) * 100 AS BIGINT) * 100 AS a,
             count(*) OVER (PARTITION BY o_custkey) AS n
      FROM orders
      WHERE o_custkey < 100
    )
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS sum_last3,
           ((2 * a + n) // (2 * n)) / 10000.0 AS avg_all,
           CAST(ntile(4) OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice, o_orderkey) AS INTEGER)
             AS price_quartile,
           round(percent_rank() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice, o_orderkey), 4)
             AS pct_rank,
           round(cume_dist() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice, o_orderkey), 4)
             AS cume,
           first_value(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS first_order
    FROM b
    """,
    tags=("window", "frames"),
)
def q60_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame battery: bounded ROWS frame, unbounded frame, ntile,
    percent_rank, cume_dist, first_value — one shuffle on the partition key
    serves every function (all share the same partitioning).

    avg_all dodges TWO cross-engine float traps the exact-string gate
    exposed: (1) avg over doubles is accumulation-order-sensitive, and
    (2) even on the bit-identical double 160954.70375 (really …749999),
    Spark's F.round rounds the shortest decimal repr (→ .7038) while
    DuckDB rounds the binary value (→ .7037). So the average is computed
    entirely in integers: exact cent sum × 100, then half-up division
    (2a+n) div (2n), then /10000.0 — both engines produce the identical
    double."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    by_date = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    by_price = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    full_frame = by_date.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    b = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(full_frame) * 100
        )
        .cast("long")
        .alias("_cents"),
        F.count(F.lit(1)).over(W.partitionBy("o_custkey")).alias("_n"),
    )
    return b.select(
        "o_orderkey",
        "o_custkey",
        F.round(
            F.sum("o_totalprice").over(by_date.rowsBetween(-2, 0)), 2
        ).alias("sum_last3"),
        (
            F.expr("(2 * _cents * 100 + _n) div (2 * _n)") / F.lit(10000.0)
        ).alias("avg_all"),
        F.ntile(4).over(by_price).cast("int").alias("price_quartile"),
        F.round(F.percent_rank().over(by_price), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(by_price), 4).alias("cume"),
        F.first("o_orderkey").over(full_frame).alias("first_order"),
    )


@query(
    "q61_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
    tags=("funnel", "sequence", "agg"),
)
def q61_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view → click → purchase): each stage keeps the
    earliest qualifying event strictly after the previous stage's.

    Scale: three shuffles on user_id, each stage's frontier is one row per
    surviving user — the standard iterative-frontier funnel, no event×event
    self-join."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    # one declarative plan (3 one-row aggregates cross-joined), no driver
    # actions during build
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


@query(
    "q62_retention",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
      FROM events
    )
    SELECT a.week AS week,
           count(DISTINCT a.user_id) AS n_active,
           count(DISTINCT b.user_id) AS n_retained,
           round(CAST(count(DISTINCT b.user_id) AS DOUBLE)
                 / count(DISTINCT a.user_id), 4) AS retention
    FROM active a
    LEFT JOIN active b ON b.user_id = a.user_id AND b.week = a.week + 1
    GROUP BY a.week
    """,
    tags=("retention", "cohort", "agg"),
)
def q62_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention: distinct (user, epoch-week) self-joined at
    +1 week. Scale: the distinct frontier is tiny vs the event log; the
    self-join shuffles on user_id only."""
    e = load_table(spark, sf_dir, "events")
    active = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
    ).distinct()
    a = active.alias("a")
    b = active.alias("b")
    return (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.week") == F.col("a.week") + 1),
            "left",
        )
        .groupBy(F.col("a.week").alias("week"))
        .agg(
            F.countDistinct(F.col("a.user_id")).alias("n_active"),
            F.countDistinct(F.col("b.user_id")).alias("n_retained"),
            F.round(
                F.countDistinct(F.col("b.user_id")).cast("double")
                / F.countDistinct(F.col("a.user_id")),
                4,
            ).alias("retention"),
        )
    )


@query(
    "q63_salted_join",
    oracle="""
    SELECT e.event_type,
           count(*) AS n_events,
           round(sum(e.value * c.c_acctbal), 2) AS weighted
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY e.event_type
    """,
    tags=("join", "skew", "salt"),
)
def q63_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew toolkit, oracle-checked: an n=8 deterministic salted join
    (ops/skew.py) produces bit-identical results to the plain join the
    oracle runs. Salt is hashed from event_id (high cardinality), the dim
    side is exploded ×8 — a hot user_id spreads over 8 shuffle partitions.

    On THIS data the plain broadcast join is faster; the query exists to
    prove the rewrite is semantics-preserving (the precondition for using
    it when one key owns 30% of a 100 TB fact table)."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    joined = salted_join(
        e, c, fact_key="user_id", dim_key="c_custkey", salt_source="event_id", n_salts=8
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * F.col("c_acctbal")), 2).alias("weighted"),
    )


@query(
    "q65_time_rollup",
    oracle="""
    SELECT coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
           coalesce(strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'), 'ALL')
             AS hour,
           CAST(grouping(date_trunc('day', ts)) + grouping(date_trunc('hour', ts))
                AS INTEGER) AS lvl,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
    """,
    tags=("rollup", "window_time", "hypertable", "agg"),
)
def q65_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-hierarchy rollup: hour → day → grand total in
    one pass (the batch form of a continuous aggregate; Spark plans ROLLUP
    as a single expand+agg, so the fact table is scanned once).

    Scale: at 100 TB this is the materialized-view refresh query — partition
    the sink by `day` and it backfills incrementally."""
    e = load_table(spark, sf_dir, "events")
    # pre-project the truncations: F.grouping() resolves against attribute
    # names, not against expression-aliased grouping columns
    pre = e.select(
        F.date_trunc("day", F.col("ts")).alias("_day"),
        F.date_trunc("hour", F.col("ts")).alias("_hour"),
        "value",
    )
    return (
        pre.rollup("_day", "_hour")
        .agg(
            (F.grouping("_day") + F.grouping("_hour"))
            .cast("int")
            .alias("lvl"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.coalesce(F.date_format("_day", "yyyy-MM-dd"), F.lit("ALL")).alias("day"),
            F.coalesce(
                F.date_format("_hour", "yyyy-MM-dd HH:mm:ss"), F.lit("ALL")
            ).alias("hour"),
            "lvl",
            "n_events",
            "sum_value",
        )
    )


@query(
    "q68_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    agg AS (
      SELECT date_trunc('hour', ts) AS hour, count(*) AS n, round(sum(value), 2) AS sv
      FROM events GROUP BY 1
    )
    SELECT strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS hour,
           coalesce(a.n, 0) AS n_events,
           coalesce(a.sv, 0.0) AS sum_value,
           (a.hour IS NULL) AS is_gap
    FROM hours h LEFT JOIN agg a ON a.hour = h.hour
    """,
    tags=("timeseries", "gap_fill", "agg"),
)
def q68_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time series with explicit gap rows: generate the full
    hour spine (sequence + explode) and left-join the hourly aggregate —
    the standard shape for feeding models that need contiguous time steps.

    Scale: the spine is hours-between-bounds (tiny) and broadcasts into the
    join; the fact side aggregates before joining, so the big table is
    touched once."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    agg = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("ahour")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv")
    )
    return (
        spine.join(agg, spine["hour"] == agg["ahour"], "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("sv"), F.lit(0.0)).alias("sum_value"),
            F.col("ahour").isNull().alias("is_gap"),
        )
    )


@query(
    "q69_json_keys",
    oracle="""
    SELECT event_type, k AS prop_key, count(*) AS n
    FROM (
      SELECT event_type, unnest(json_keys(props)) AS k FROM events
    )
    GROUP BY event_type, k
    """,
    tags=("json", "map", "agg"),
)
def q69_json_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured introspection: enumerate JSON property keys per event
    type (the schema-discovery pass run before promoting JSON blobs into
    typed columns). json_object_keys → explode → count; one scan, one
    shuffle of (type, key) partials."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type", F.explode(F.json_object_keys("props")).alias("prop_key")
        )
        .groupBy("event_type", "prop_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q70_array_functions",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 100
    )
    SELECT vec_id,
           len(v) AS n_dims,
           round(v[1], 4) AS first_dim,
           round(v[len(v)], 4) AS last_dim,
           round(v[1] + v[2] + v[3] + v[4], 4) AS sum_first4,
           round(list_max(v), 4) AS v_max,
           round(list_min(v), 4) AS v_min,
           round(list_sort(v)[2], 4) AS second_smallest,
           CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_positive
    FROM e
    """,
    tags=("array", "scalar"),
)
def q70_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery over embedding vectors: indexing, slice-sum,
    min/max, sort, filter-count — all JVM higher-order expressions (built
    via the SQL parser, csv_loader_spark/functions/vectors.py rationale)."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    v = "transform(embedding, x -> CAST(x AS DOUBLE))"
    return e.selectExpr(
        "vec_id",
        f"size({v}) AS n_dims",
        f"round(element_at({v}, 1), 4) AS first_dim",
        f"round(element_at({v}, size({v})), 4) AS last_dim",
        f"round(aggregate(slice({v}, 1, 4), 0.0D, (a, x) -> a + x), 4) AS sum_first4",
        f"round(array_max({v}), 4) AS v_max",
        f"round(array_min({v}), 4) AS v_min",
        f"round(element_at(array_sort({v}), 2), 4) AS second_smallest",
        f"CAST(size(filter({v}, x -> x > 0)) AS INT) AS n_positive",
    )


@query(
    "q71_lateral_topk",
    oracle="""
    SELECT n.n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal
      FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2
    ) c
    """,
    tags=("lateral", "subquery", "topk"),
)
def q71_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 customers per nation by balance.
    Catalyst rewrites the per-row subquery into a join + windowed rank —
    same physical shape as q13's window top-k, but declared the SQL-standard
    LATERAL way (the per-nation limit never materializes full partitions)."""
    register_views(spark, sf_dir, "nation", "customer")
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal
        FROM nation n, LATERAL (
          SELECT c_name, c_acctbal
          FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) c
        """
    )


@query(
    "q73_profile_documents",
    oracle="""
    SELECT 'doc_id' AS col, count(*) - count(doc_id) AS n_null,
           count(DISTINCT doc_id) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_v, CAST(max(doc_id) AS VARCHAR) AS max_v
    FROM documents
    UNION ALL
    SELECT 'lang', count(*) - count(lang), count(DISTINCT lang),
           min(lang), max(lang) FROM documents
    UNION ALL
    SELECT 'source', count(*) - count(source), count(DISTINCT source),
           min(source), max(source) FROM documents
    UNION ALL
    SELECT 'n_chars', count(*) - count(n_chars), count(DISTINCT n_chars),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM documents
    """,
    tags=("profiling", "agg"),
)
def q73_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling: per-column null count / distinct count / min-max —
    the pre-ingestion audit pass of a training-data pipeline, generated from
    the schema (one wide aggregate per column batch, single scan each).

    Scale: exact distinct per column shuffles per column; at 100 TB switch
    the distinct leg to approx_count_distinct (q27's primitive)."""
    d = load_table(spark, sf_dir, "documents")

    def profile(col: str) -> DataFrame:
        return d.agg(
            F.lit(col).alias("col"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_v"),
            F.max(col).cast("string").alias("max_v"),
        )

    out = None
    for c in ("doc_id", "lang", "source", "n_chars"):
        p = profile(c)
        out = p if out is None else out.unionAll(p)
    return out


@query(
    "q74_sequence_match",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
      FROM events
      GROUP BY user_id
    )
    SELECT user_id, length(s) AS n_events,
           regexp_matches(s, 'v.*c.*p') AS did_funnel,
           regexp_matches(s, 'ee') AS double_error
    FROM seq
    """,
    tags=("sequence", "regexp", "agg"),
)
def q74_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern matching: encode each user's time-ordered
    event types as a character string, then regex over it (v.*c.*p =
    view→click→purchase in order; ee = consecutive errors) — the
    MATCH_RECOGNIZE-lite idiom. Deterministic via the (ts, event_id) sort
    inside the aggregation.

    Scale: one shuffle on user_id; per-user strings stay tiny (#events)."""
    e = load_table(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                    )
                ),
                lambda s: s["c"],
            ),
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.length("s").alias("n_events"),
        F.col("s").rlike("v.*c.*p").alias("did_funnel"),
        F.col("s").rlike("ee").alias("double_error"),
    )


@query(
    "q75_histogram",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket
      FROM orders
    )
    SELECT bucket,
           bucket * 25000.0 AS lo,
           (bucket + 1) * 25000.0 AS hi,
           count(*) AS n
    FROM b
    GROUP BY bucket
    """,
    tags=("histogram", "agg"),
)
def q75_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor arithmetic (engine-portable, unlike
    width_bucket/histogram built-ins) — one scan, partial+final agg of at
    most #buckets rows per partition."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 25000.0).cast("long")
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * 25000.0).alias("lo"),
            ((F.col("bucket") + 1) * 25000.0).alias("hi"),
            "n",
        )
    )


@query(
    "q76_unpivot",
    oracle="""
    WITH wide AS (
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'click') AS n_click,
             count(*) FILTER (WHERE event_type = 'view')  AS n_view,
             count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
      FROM events GROUP BY user_id
    )
    SELECT user_id, metric, n FROM wide
    UNPIVOT (n FOR metric IN (n_click, n_view, n_purchase))
    """,
    tags=("unpivot", "melt", "agg"),
)
def q76_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-user counters back to long (metric, value)
    rows — the inverse of q38's pivot, via the native unpivot operator (a
    generate, not a shuffle)."""
    e = load_table(spark, sf_dir, "events")
    wide = e.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
    )
    return wide.unpivot(
        ids=["user_id"],
        values=["n_click", "n_view", "n_purchase"],
        variableColumnName="metric",
        valueColumnName="n",
    )


@query(
    "q77_stratified_sample",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, {_HASH16_IMPORT} AS bucket
      FROM documents
    )
    SELECT lang, count(*) AS n_sampled
    FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 6554 WHEN 'fr' THEN 16384
                             ELSE 32768 END
    GROUP BY lang
    """,
    tags=("sampling", "stratified", "llm"),
)
def q77_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language rates (10% en, 25%
    fr, 50% others) via the same md5-bucket primitive as q66 — per-group
    downsampling/upweighting for training-mix control, reproducible across
    engines and re-partitioning."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(hash16_spark_sql("CAST(doc_id AS STRING)"))
    rate = (
        F.when(F.col("lang") == "en", 6554)
        .when(F.col("lang") == "fr", 16384)
        .otherwise(32768)
    )
    return (
        d.select("lang", bucket.alias("bucket"), rate.alias("cut"))
        .filter(F.col("bucket") < F.col("cut"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@query(
    "q78_hll_mergeable",
    oracle=None,  # DataSketches HLL internals are engine-specific → rows-only
    tags=("agg", "approx", "sketch", "hll"),
)
def q78_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct sketches — the property that makes distinct-count
    scale: per-day HLL sketches (one pass) union into the overall count
    without touching raw data again. Emits per-day estimate vs exact and
    the merged overall row (day='ALL') — rel_err shows the sketch error
    being paid for the single-pass mergeability.

    Scale: sketch state is KB per group vs the full value set; re-use the
    stored sketches for any rollup (day→week→all) with hll_union_agg."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    per_day = e.groupBy(day).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact"),
    )
    daily = per_day.select(
        "day",
        F.hll_sketch_estimate("sk").alias("est"),
        "exact",
    )
    overall = per_day.agg(
        F.lit("ALL").alias("day"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    ).crossJoin(e.agg(F.countDistinct("user_id").alias("exact")))
    out = daily.unionAll(overall.select("day", "est", "exact"))
    return out.select(
        "day",
        "est",
        "exact",
        F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 4).alias(
            "rel_err"
        ),
    )


@query(
    "q64_approx_percentile",
    oracle=None,  # sketch-based: implementation-defined values → rows-only
    tags=("agg", "approx", "percentile"),
)
def q64_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch, accuracy 10000) per
    return flag — the scale path where q40's exact percentile (full sort per
    group) is too expensive. Mergeable sketch → one shuffle of sketch
    state, never raw values. Rows-only check: sketch internals are
    engine-specific (exact q40 is the value-checked twin)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", 0.5, 10000).alias("p50"),
        F.approx_percentile("l_extendedprice", 0.95, 10000).alias("p95"),
        F.approx_percentile("l_extendedprice", 0.99, 10000).alias("p99"),
    )


@query(
    "q89_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    )
    SELECT user_id,
           min(epoch_us(ts)) AS start_us,
           max(epoch_us(ts)) + 1800000000 AS end_us,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, sid
    """,
    tags=("session", "window_time"),
)
def q89_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE F.session_window (30-min gap) — the
    built-in primitive behind streaming session aggregation, exercised in
    batch where its result is oracle-checkable. Boundary semantics verified
    empirically: an event at exactly last+gap MERGES (new session only when
    the gap is strictly exceeded), and window.end = last_event + gap — the
    oracle mirrors both. q23 computes the same sessions with lag/cumsum;
    this entry pins the primitive the streaming path uses.

    Scale: session_window is a single hash-agg with session merge — no
    window-function sort over full partitions; state per open session only
    in streaming."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("start_us"),
            F.unix_micros("w.end").alias("end_us"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "q95_variant_json",
    oracle="""
    WITH a AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
               AS sum_k
      FROM events
      GROUP BY event_type
    )
    -- integer half-up division (see q60); k is never null in this data so
    -- count(*) == count(k) and the quotient is the exact avg
    SELECT event_type, n, sum_k,
           ((2 * sum_k * 10000 + n) // (2 * n)) / 10000.0 AS avg_k
    FROM a
    """,
    tags=("json", "variant"),
)
def q95_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON through Spark 4's VARIANT type: parse_json once,
    typed variant_get extraction, then a plain aggregate — the open-format
    path for schema-on-read columns that beats per-access string parsing
    (get_json_object re-parses the string per call; VARIANT parses once
    into a binary form and extraction is a field lookup). q20/q69 cover
    the classic string-path functions; this pins the Spark-4-native one.

    Scale: parse cost is once per row in the scan projection; the agg is
    the usual partial/final pair."""
    e = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
        )
        .select(
            "event_type",
            "n",
            "sum_k",
            # integer half-up division (q60's pattern), not round(avg(), 4)
            (F.expr("(2 * sum_k * 10000 + n) div (2 * n)") / 10000.0).alias(
                "avg_k"
            ),
        )
    )
