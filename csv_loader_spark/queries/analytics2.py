"""Analytics operator library, part 2: experiment analysis (Welch
two-sample t-test), multi-touch conversion attribution, and cumulative
unique-user curves.

Public-literature basis:
- q183: Welch 1947 ("The generalization of 'Student's' problem...") —
  the unequal-variance two-sample t statistic and its Satterthwaite
  degrees of freedom, the standard A/B-test readout.
- q184: multi-touch attribution (last-touch / first-touch / linear) —
  the standard marketing-analytics credit models (e.g. Shapley-style
  position models reduce to these on a single channel dimension).
- q185: cumulative distinct users via first-touch reduction: a running
  COUNT(DISTINCT) rewritten as min-date-per-user + running sum — the
  classic incremental form (each user counted exactly once, at their
  first appearance).

Scale notes (100 TB):
- q183 is one map-side-combinable aggregate per (event_type, variant);
  the t statistic is arithmetic over the 10-row stats frame.
- q184's touch↔purchase pairing is a user-keyed equi-join with a time
  band predicate (the q165 interval-join shape): bounded per user, no
  cartesian anywhere; the per-purchase touch census is a window over the
  paired frame, partitioned by purchase.
- q185 reduces the fact to one row per user (min-date aggregate) before
  any window; the running sum runs over the span-bounded day series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_loader_spark.io.tables import load_table
from csv_loader_spark.queries.registry import query

# --- q183: Welch two-sample t-test -------------------------------------------


@query(
    "q183_ab_welch_ttest",
    oracle="""
    WITH t AS (
      SELECT event_type, user_id % 2 AS variant, value FROM events
    ),
    s AS (
      SELECT event_type, variant,
             CAST(count(*) AS BIGINT) AS n,
             avg(value) AS m,
             var_samp(value) AS v
      FROM t GROUP BY 1, 2
    ),
    w AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             a.m AS m_a, b.m AS m_b,
             a.v / a.n + b.v / b.n AS se2,
             a.v / a.n AS qa, b.v / b.n AS qb
      FROM s a JOIN s b ON a.event_type = b.event_type
      WHERE a.variant = 0 AND b.variant = 1
    )
    SELECT event_type, n_a, n_b,
           round(m_a, 4) AS mean_a,
           round(m_b, 4) AS mean_b,
           round((m_a - m_b) / sqrt(se2), 4) AS t_stat,
           round(se2 * se2 / (qa * qa / (n_a - 1) + qb * qb / (n_b - 1)), 4)
             AS welch_dof
    FROM w
    """,
    tags=("stats", "experiment", "agg", "r12"),
)
def q183_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch unequal-variance two-sample t-test per event_type between a
    deterministic user split (user_id parity as the assignment hash):
    one combinable (event_type, variant) aggregate of n/mean/var_samp,
    then the t statistic and Satterthwaite dof as arithmetic over the
    10-row stats frame — no second pass over the facts."""
    e = load_table(spark, sf_dir, "events")
    s = (
        e.select(
            "event_type", (F.col("user_id") % 2).alias("variant"), "value"
        )
        .groupBy("event_type", "variant")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    a = s.filter(F.col("variant") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("m").alias("m_a"),
        F.col("v").alias("v_a"),
    )
    b = s.filter(F.col("variant") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("m").alias("m_b"),
        F.col("v").alias("v_b"),
    )
    j = a.join(b, "event_type")
    qa = F.col("v_a") / F.col("n_a")
    qb = F.col("v_b") / F.col("n_b")
    se2 = qa + qb
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("m_a", 4).alias("mean_a"),
        F.round("m_b", 4).alias("mean_b"),
        F.round((F.col("m_a") - F.col("m_b")) / F.sqrt(se2), 4).alias("t_stat"),
        F.round(
            se2 * se2
            / (qa * qa / (F.col("n_a") - 1) + qb * qb / (F.col("n_b") - 1)),
            4,
        ).alias("welch_dof"),
    )


# --- q184: multi-touch conversion attribution --------------------------------

#: attribution lookback window before each purchase.
ATTR_WINDOW_H = 24
ATTR_TOUCH_TYPES = ("click", "view")


@query(
    "q184_multi_touch_attribution",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, event_id AS touch_id, event_type AS touch_type,
             epoch_us(ts) AS tt
      FROM events WHERE event_type IN ('click', 'view')
    ),
    pairs AS (
      SELECT p.purchase_id, t.touch_id, t.touch_type, t.tt
      FROM p JOIN t ON p.user_id = t.user_id
       AND t.tt < p.pt AND t.tt >= p.pt - {ATTR_WINDOW_H} * 3600000000
    ),
    ranked AS (
      SELECT *,
             count(*) OVER (PARTITION BY purchase_id) AS n_touches,
             row_number() OVER (PARTITION BY purchase_id
                                ORDER BY tt DESC, touch_id) AS r_last,
             row_number() OVER (PARTITION BY purchase_id
                                ORDER BY tt ASC, touch_id) AS r_first
      FROM pairs
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(CASE WHEN r_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS last_touch_conv,
           CAST(sum(CASE WHEN r_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS first_touch_conv,
           round(sum(1.0 / n_touches), 4) AS linear_credit
    FROM ranked
    GROUP BY touch_type
    """,
    tags=("attribution", "join", "window", "r12"),
)
def q184_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution over a {ATTR_WINDOW_H}h lookback: pair
    every purchase with the user's preceding click/view touches (user-
    keyed equi-join with a time-band predicate — the q165 interval-join
    shape, bounded per user), then credit conversions three ways per
    touch channel: last-touch, first-touch (exact integer winners via
    per-purchase rank windows) and linear (1/n_touches split). The
    windows partition by purchase_id over the already-paired frame."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("pt"),
    )
    t = e.filter(F.col("event_type").isin(*ATTR_TOUCH_TYPES)).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.unix_micros("ts").alias("tt"),
    )
    pairs = p.join(t, "user_id").filter(
        (F.col("tt") < F.col("pt"))
        & (F.col("tt") >= F.col("pt") - ATTR_WINDOW_H * 3_600_000_000)
    )
    w_n = W.partitionBy("purchase_id")
    w_last = W.partitionBy("purchase_id").orderBy(F.col("tt").desc(), "touch_id")
    w_first = W.partitionBy("purchase_id").orderBy(F.col("tt").asc(), "touch_id")
    ranked = (
        pairs.withColumn("n_touches", F.count(F.lit(1)).over(w_n))
        .withColumn("r_last", F.row_number().over(w_last))
        .withColumn("r_first", F.row_number().over(w_first))
    )
    return ranked.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum(F.when(F.col("r_last") == 1, 1).otherwise(0)).alias(
            "last_touch_conv"
        ),
        F.sum(F.when(F.col("r_first") == 1, 1).otherwise(0)).alias(
            "first_touch_conv"
        ),
        F.round(F.sum(F.lit(1.0) / F.col("n_touches")), 4).alias("linear_credit"),
    )


# --- q185: cumulative unique users -------------------------------------------


@query(
    "q185_cumulative_uniques",
    oracle="""
    WITH f AS (
      SELECT user_id, min(epoch_us(ts) // 86400000000) AS first_day
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new
      FROM f GROUP BY 1
    )
    SELECT day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM d
    """,
    tags=("window", "distinct", "timeseries", "r12"),
)
def q185_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day WITHOUT a running COUNT(DISTINCT):
    reduce each user to their first epoch-day (one combinable aggregate),
    count first-appearances per day, running-sum the span-bounded day
    series — each user contributes exactly once, so the running sum IS
    the expanding distinct count at a fraction of the cost."""
    e = load_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.min(F.expr("unix_micros(ts) div 86400000000")).alias("first_day")
    )
    d = f.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return d.select(
        "day", "n_new", F.sum("n_new").over(w).cast("long").alias("cum_users")
    )


# --- q189: functional-dependency audit ---------------------------------------

#: candidate FDs to audit: (determinant, dependent)
FD_CANDIDATES = (
    ("l_orderkey", "l_returnflag"),
    ("l_partkey", "l_suppkey"),
    ("l_orderkey", "l_linestatus"),
)


def _fd_oracle() -> str:
    parts = []
    for lhs, rhs in FD_CANDIDATES:
        parts.append(
            f"""SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
                 CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating,
                 CAST(max(c) AS BIGINT) AS max_rhs_per_lhs,
                 CASE WHEN max(c) = 1 THEN 1 ELSE 0 END AS holds
               FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS c
                     FROM lineitem GROUP BY {lhs})"""
        )
    return "\nUNION ALL\n".join(parts)


@query(
    "q189_fd_audit",
    oracle=_fd_oracle(),
    tags=("profiling", "quality", "agg", "r12"),
)
def q189_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (the Deequ/constraint-mining shape,
    cf. Papenbrock et al. 2015 FD discovery): for each candidate
    lhs→rhs, count determinant groups whose rhs is not unique. One
    (lhs)-keyed distinct aggregate per candidate over a two-column
    pruned scan; violations and the max fan-out come from the same
    group census — no joins, no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    outs = []
    for lhs, rhs in FD_CANDIDATES:
        g = li.select(lhs, rhs).groupBy(lhs).agg(
            F.countDistinct(rhs).alias("c")
        )
        outs.append(
            g.agg(
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum((F.col("c") > 1).cast("long")).cast("long").alias(
                    "n_violating"
                ),
                F.max("c").cast("long").alias("max_rhs_per_lhs"),
            ).select(
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                "n_groups",
                "n_violating",
                "max_rhs_per_lhs",
                F.when(F.col("max_rhs_per_lhs") == 1, 1).otherwise(0).alias(
                    "holds"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# --- q190: PSI distribution drift --------------------------------------------

#: fixed equal-width value buckets (width 50 over [0, 500)) and Laplace
#: smoothing so empty buckets stay defined — (k+1)/(n+B) is exact
#: rational on both engines before the ln.
PSI_BUCKETS = 10
PSI_WIDTH = 50


@query(
    "q190_psi_drift",
    oracle=f"""
    WITH bounds AS (
      SELECT min(epoch_us(ts) // 86400000000) AS mn,
             max(epoch_us(ts) // 86400000000) AS mx
      FROM events
    ),
    tagged AS (
      SELECT event_type,
             CASE WHEN (epoch_us(ts) // 86400000000) < mn + 7 THEN 'a'
                  WHEN (epoch_us(ts) // 86400000000) > mx - 7 THEN 'b'
             END AS win,
             least(CAST(floor(value / {PSI_WIDTH}) AS BIGINT),
                   {PSI_BUCKETS - 1}) AS bucket
      FROM events CROSS JOIN bounds
    ),
    c AS (
      SELECT event_type, win, bucket, CAST(count(*) AS BIGINT) AS k
      FROM tagged WHERE win IS NOT NULL GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT DISTINCT event_type, unnest(range(0, {PSI_BUCKETS})) AS bucket
      FROM c
    ),
    f AS (
      SELECT g.event_type, g.bucket,
             coalesce(a.k, 0) AS ka, coalesce(b.k, 0) AS kb
      FROM grid g
      LEFT JOIN c a ON a.event_type = g.event_type
        AND a.bucket = g.bucket AND a.win = 'a'
      LEFT JOIN c b ON b.event_type = g.event_type
        AND b.bucket = g.bucket AND b.win = 'b'
    ),
    n AS (
      SELECT event_type,
             sum(ka) AS na, sum(kb) AS nb FROM f GROUP BY 1
    )
    SELECT f.event_type,
           round(sum(
             (CAST(ka + 1 AS DOUBLE) / (na + {PSI_BUCKETS})
              - CAST(kb + 1 AS DOUBLE) / (nb + {PSI_BUCKETS}))
             * ln((CAST(ka + 1 AS DOUBLE) / (na + {PSI_BUCKETS}))
                  / (CAST(kb + 1 AS DOUBLE) / (nb + {PSI_BUCKETS})))
           ), 4) AS psi
    FROM f JOIN n ON f.event_type = n.event_type
    GROUP BY f.event_type
    """,
    tags=("monitoring", "drift", "agg", "r12"),
)
def q190_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and last week of each
    event_type's value distribution (the standard model-monitoring drift
    meter): windows anchored at the DATASET's day span (first 7 days vs
    last 7, from one 1-row bounds broadcast), fixed {PSI_BUCKETS}
    equal-width buckets, Laplace-smoothed frequencies (exact rationals
    before the single ln), one bucket census + a
    {PSI_BUCKETS}-row-per-group fold. PSI < 0.1 = stable, 0.1-0.25 =
    drifting, > 0.25 = shifted (Karakoulas 2004 convention)."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    bounds = e.agg(
        F.min(day).alias("mn"), F.max(day).alias("mx")
    )
    win = (
        F.when(day < F.col("mn") + 7, "a")
        .when(day > F.col("mx") - 7, "b")
    )
    tagged = e.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        win.alias("win"),
        F.least(
            F.floor(F.col("value") / PSI_WIDTH).cast("long"),
            F.lit(PSI_BUCKETS - 1),
        ).alias("bucket"),
    ).filter(F.col("win").isNotNull())
    c = tagged.groupBy("event_type", "win", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    grid = (
        c.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(PSI_BUCKETS - 1))).alias("bucket"),
        )
    )
    a = c.filter(F.col("win") == "a").select(
        "event_type", "bucket", F.col("k").alias("ka")
    )
    b = c.filter(F.col("win") == "b").select(
        "event_type", "bucket", F.col("k").alias("kb")
    )
    f = (
        grid.join(a, ["event_type", "bucket"], "left")
        .join(b, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("ka", F.lit(0)).alias("ka"),
            F.coalesce("kb", F.lit(0)).alias("kb"),
        )
    )
    n = f.groupBy("event_type").agg(
        F.sum("ka").alias("na"), F.sum("kb").alias("nb")
    )
    j = f.join(F.broadcast(n), "event_type")
    pa = (F.col("ka") + 1).cast("double") / (F.col("na") + PSI_BUCKETS)
    pb = (F.col("kb") + 1).cast("double") / (F.col("nb") + PSI_BUCKETS)
    return j.groupBy("event_type").agg(
        F.round(F.sum((pa - pb) * F.log(pa / pb)), 4).alias("psi")
    )


# --- q191: unpivot (wide metrics → long form) --------------------------------

UNPIVOT_METRICS = ("sum_qty", "sum_price", "sum_disc")


@query(
    "q191_unpivot",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price,
             round(sum(l_discount), 2) AS sum_disc
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS metric_value FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM w
    """,
    tags=("unpivot", "relational", "r12"),
)
def q191_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: a wide per-group metrics row flipped to long
    (group, metric, value) form via DataFrame.unpivot — the Expand-based
    native operator, one pass over the 3-row aggregate, no union of
    re-scans (the oracle's UNION ALL re-reads a 3-row CTE; at scale
    unpivot's Expand touches each wide row once)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return w.unpivot(
        ["l_returnflag"],
        list(UNPIVOT_METRICS),
        "metric",
        "metric_value",
    )


# --- q192: decile lift curve ---------------------------------------------------

#: "positive" class definition for the lift readout.
LIFT_POS_LABELS = (0, 1, 2)
LIFT_DECILES = 10
#: doc_id bucket width for the intra-score rank split (r16): the
#: row_number window partitions by (n_chars, doc_id DIV W), so no window
#: partition can exceed W rows REGARDLESS of how hot a score value is —
#: the structural bound the r15 verdict asked for (a small score domain
#: at 100 TB made the per-score partitions n/|domain| rows). 2^20 keeps
#: the bucket-count frame ~1e6x smaller than the doc frame while a local
#: sf0.1 id range (< 2^20) degenerates to one bucket per score — same
#: execution cost as the per-score form, same code path at every scale.
LIFT_BUCKET_W = 1 << 20


@query(
    "q192_lift_curve",
    oracle=f"""
    WITH j AS (
      SELECT d.doc_id, d.n_chars,
             CASE WHEN e.label IN {LIFT_POS_LABELS} THEN 1 ELSE 0 END AS pos
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    deciled AS (
      SELECT *, ntile({LIFT_DECILES}) OVER (ORDER BY n_chars DESC, doc_id)
               AS decile
      FROM j
    ),
    agg AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM deciled GROUP BY decile
    ),
    tot AS (SELECT sum(n_pos) AS p_all, sum(n) AS n_all FROM agg)
    SELECT decile, n, n_pos,
           round(CAST(n_pos AS DOUBLE) / n, 4) AS pos_rate,
           round((CAST(n_pos AS DOUBLE) / n)
                 / (CAST(p_all AS DOUBLE) / n_all), 4) AS lift,
           round(CAST(sum(n_pos) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / p_all, 4) AS cum_capture
    FROM agg CROSS JOIN tot
    """,
    tags=("mleval", "window", "r12"),
)
def q192_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift curve (the standard model-eval readout): rank documents
    by a score (n_chars as the stand-in model score), cut into
    {LIFT_DECILES} ntile buckets (deterministic (score, doc_id) order),
    and report per-decile positive rate, lift over base rate, and
    cumulative capture.

    THREE-LEVEL rank (r16, de-skewing the r15 two-level form): the
    exact global rank of each row is (a) the broadcast cumulative count
    of strictly-better scores, plus (b) the within-score cumulative
    count of earlier doc_id BUCKETS (bucket = doc_id DIV
    {LIFT_BUCKET_W}, monotone in the doc_id tie-break), plus (c) a
    row_number PARTITIONED by (score, bucket) — no single-partition
    sort of the doc-level frame anywhere, and no window partition can
    exceed {LIFT_BUCKET_W} rows even for the hottest score (the r15
    form's per-score partitions were n/|score domain| rows at scale).
    Both offset tables derive from one bucket-level aggregate,
    checkpointed so its exchange executes once. The ntile bucket then
    derives arithmetically from (rank, n): with q = n div k and
    rem = n mod k, the first rem buckets hold q+1 rows — identical to
    the oracle's ntile() by definition."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    j = d.join(e, "doc_id").select(
        "doc_id",
        "n_chars",
        F.col("label").isin(*LIFT_POS_LABELS).cast("int").alias("pos"),
    )
    jb = j.withColumn("bkt", F.expr(f"doc_id DIV {LIFT_BUCKET_W}"))
    bc = (
        jb.groupBy("n_chars", "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    hist = bc.groupBy("n_chars").agg(F.sum("cnt").alias("cnt"))
    w_v = W.orderBy(F.col("n_chars").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    base = hist.select(
        "n_chars",
        F.coalesce(F.sum("cnt").over(w_v), F.lit(0)).alias("base"),
        F.sum("cnt").over(
            W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).alias("n_all_rows"),
    )
    w_b = W.partitionBy("n_chars").orderBy("bkt").rowsBetween(
        W.unboundedPreceding, -1
    )
    offs = bc.select(
        "n_chars",
        "bkt",
        F.coalesce(F.sum("cnt").over(w_b), F.lit(0)).alias("off"),
    )
    w_pos = W.partitionBy("n_chars", "bkt").orderBy("doc_id")
    ranked = (
        jb.join(F.broadcast(base), "n_chars")
        .join(offs, ["n_chars", "bkt"])
        .select(
            "pos",
            (
                F.col("base") + F.col("off") + F.row_number().over(w_pos)
            ).alias("r"),
            F.col("n_all_rows").alias("nn"),
        )
    )
    k = F.lit(LIFT_DECILES)
    qsz = F.expr(f"nn DIV {LIFT_DECILES}")
    rem = F.col("nn") % k
    cut = rem * (qsz + 1)
    decile = (
        F.when(
            F.col("r") <= cut,
            F.expr(f"(r - 1) DIV (nn DIV {LIFT_DECILES} + 1)") + 1,
        )
        .otherwise(
            rem + F.expr(
                f"(r - nn % {LIFT_DECILES} * (nn DIV {LIFT_DECILES} + 1) - 1)"
                f" DIV (nn DIV {LIFT_DECILES})"
            ) + 1
        )
        .cast("int")
    )
    agg = (
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
    )
    tot = agg.agg(
        F.sum("n_pos").alias("p_all"), F.sum("n").alias("n_all")
    )
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "n_pos",
            F.round(F.col("n_pos").cast("double") / F.col("n"), 4).alias(
                "pos_rate"
            ),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n"))
                / (F.col("p_all").cast("double") / F.col("n_all")),
                4,
            ).alias("lift"),
            F.round(
                F.sum("n_pos").over(w_cum).cast("double") / F.col("p_all"), 4
            ).alias("cum_capture"),
        )
    )


# --- q193: RFM segmentation -----------------------------------------------------

RFM_BINS = 5


@query(
    "q193_rfm_segments",
    oracle=f"""
    WITH p AS (
      SELECT user_id,
             max(epoch_us(ts)) AS last_us,
             CAST(count(*) AS BIGINT) AS freq,
             sum(value) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, monetary,
             ntile({RFM_BINS}) OVER (ORDER BY last_us DESC, user_id) AS r,
             ntile({RFM_BINS}) OVER (ORDER BY freq DESC, user_id) AS f,
             ntile({RFM_BINS}) OVER (ORDER BY monetary DESC, user_id) AS m
      FROM p
    )
    SELECT r, f, m,
           CAST(count(*) AS BIGINT) AS n_users,
           round(sum(monetary), 2) AS sum_monetary
    FROM scored GROUP BY r, f, m
    """,
    tags=("segmentation", "window", "r12"),
)
def q193_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency/frequency/monetary quintiles — the
    classic CRM cut): one purchase aggregate per user, three ntile
    windows over the |users|-row frame with deterministic tiebreaks,
    then the segment census. The facts are touched once; every window
    input is user-bounded."""
    e = load_table(spark, sf_dir, "events")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("value").alias("monetary"),
        )
    )
    scored = p.select(
        "user_id",
        "monetary",
        F.ntile(RFM_BINS).over(W.orderBy(F.col("last_us").desc(), "user_id")).alias("r"),
        F.ntile(RFM_BINS).over(W.orderBy(F.col("freq").desc(), "user_id")).alias("f"),
        F.ntile(RFM_BINS).over(W.orderBy(F.col("monetary").desc(), "user_id")).alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.sum("monetary"), 2).alias("sum_monetary"),
    )


# --- q197: sequence-gap audit (gaps and islands) ------------------------------


@query(
    "q197_id_gaps",
    oracle="""
    WITH ids AS (SELECT DISTINCT event_id AS id FROM events),
    isl AS (
      SELECT id, id - row_number() OVER (ORDER BY id) AS grp FROM ids
    ),
    islands AS (
      SELECT min(id) AS island_lo, max(id) AS island_hi,
             CAST(count(*) AS BIGINT) AS island_len
      FROM isl GROUP BY grp
    )
    SELECT island_lo, island_hi, island_len,
           lead(island_lo) OVER (ORDER BY island_lo) - island_hi - 1
             AS gap_after
    FROM islands
    """,
    tags=("islands", "window", "audit", "r12"),
)
def q197_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands audit over the event_id sequence (the classic
    id − row_number() grouping idiom): contiguous islands with their
    bounds/length and the gap to the next island — the completeness
    check a landing zone runs to spot dropped deliveries. One distinct
    + two windows over the id column only (pruned scan); the islands
    frame is tiny, the lead() runs there."""
    e = load_table(spark, sf_dir, "events")
    ids = e.select(F.col("event_id").alias("id")).distinct()
    isl = ids.withColumn(
        "grp", F.col("id") - F.row_number().over(W.orderBy("id"))
    )
    islands = isl.groupBy("grp").agg(
        F.min("id").alias("island_lo"),
        F.max("id").alias("island_hi"),
        F.count(F.lit(1)).cast("long").alias("island_len"),
    )
    return islands.select(
        "island_lo",
        "island_hi",
        "island_len",
        (
            F.lead("island_lo").over(W.orderBy("island_lo"))
            - F.col("island_hi")
            - 1
        ).alias("gap_after"),
    )


# --- q198: activity drawdown (running peak vs current) -----------------------


@query(
    "q198_activity_drawdown",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    dd AS (
      SELECT event_type, hr, cnt,
             max(cnt) OVER (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM hourly
    )
    SELECT event_type,
           CAST(max(peak) AS BIGINT) AS peak_rate,
           CAST(max(peak - cnt) AS BIGINT) AS max_drawdown,
           CAST(sum(CASE WHEN peak - cnt > peak // 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hours_below_half_peak
    FROM dd GROUP BY event_type
    """,
    tags=("window", "monitoring", "r12"),
)
def q198_activity_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity drawdown per event_type (the finance max-drawdown shape
    applied to traffic monitoring): running peak of the hourly rate,
    maximum drop below that peak, and hours spent under half the
    then-current peak. Entirely integer arithmetic over the
    span-bounded hour census — engine-exact, one window + one fold."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select("event_type", F.expr("unix_micros(ts) div 3600000000").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return drawdown_over_hourly(hourly)


def drawdown_over_hourly(hourly: DataFrame) -> DataFrame:
    """q198's drawdown body over a PREBUILT (event_type, hr, cnt) frame
    (r16: the q200 shared-hourly split; the registered q198's own plan
    is unchanged)."""
    w_peak = (
        W.partitionBy("event_type").orderBy("hr")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    dd = hourly.withColumn("peak", F.max("cnt").over(w_peak))
    return dd.groupBy("event_type").agg(
        F.max("peak").cast("long").alias("peak_rate"),
        F.max(F.col("peak") - F.col("cnt")).cast("long").alias("max_drawdown"),
        F.sum(
            (
                (F.col("peak") - F.col("cnt"))
                > F.expr("peak div 2")
            ).cast("long")
        )
        .cast("long")
        .alias("n_hours_below_half_peak"),
    )


# --- q199: duplicate-payment detector (1-D epsilon band join) -----------------

#: tolerance in cents and seconds for "suspiciously similar" payments.
DUP_EPS_CENTS = 1000
DUP_EPS_US = 3_600_000_000


@query(
    "q199_dup_payments",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS t
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT a.user_id,
             b.event_id AS dup_event, a.event_id AS orig_event,
             abs(b.cents - a.cents) AS d_cents,
             abs(b.t - a.t) AS d_us
      FROM p a JOIN p b
        ON a.user_id = b.user_id AND b.event_id > a.event_id
       AND CAST(floor(b.cents / {DUP_EPS_CENTS}.0) AS BIGINT)
             - CAST(floor(a.cents / {DUP_EPS_CENTS}.0) AS BIGINT)
             BETWEEN -1 AND 1
       AND abs(b.cents - a.cents) <= {DUP_EPS_CENTS}
       AND abs(b.t - a.t) <= {DUP_EPS_US}
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sus_pairs,
           CAST(min(d_us) // 1000000 AS BIGINT) AS min_gap_s,
           CAST(min(d_cents) AS BIGINT) AS min_d_cents
    FROM pairs GROUP BY user_id
    """,
    tags=("fraud", "join", "band", "r12"),
)
def q199_dup_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen: per user, purchase pairs within
    ±$10 and 1 hour of each other. The pair join is the 1-D version of
    q157's grid epsilon join — one side explodes into its amount band
    ±1 (band width == epsilon, so every qualifying pair matches exactly
    one probe band; floor() explicitly on both engines — Spark's `div`
    truncates toward zero while DuckDB's `//` floors, which diverges on
    negative amounts), the join keys are (user_id, band), and the exact
    |Δcents|/|Δt| predicates ride the join condition. No user's
    purchases ever cross-join another band."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_micros("ts").alias("t"),
    )
    a = p.select(
        "user_id",
        F.col("event_id").alias("orig_event"),
        F.col("cents").alias("c_a"),
        F.col("t").alias("t_a"),
        F.explode(
            F.array(
                F.expr(f"CAST(floor(cents / {DUP_EPS_CENTS}.0) AS BIGINT) - 1"),
                F.expr(f"CAST(floor(cents / {DUP_EPS_CENTS}.0) AS BIGINT)"),
                F.expr(f"CAST(floor(cents / {DUP_EPS_CENTS}.0) AS BIGINT) + 1"),
            )
        ).alias("band"),
    )
    b = p.select(
        "user_id",
        F.col("event_id").alias("dup_event"),
        F.col("cents").alias("c_b"),
        F.col("t").alias("t_b"),
        F.expr(f"CAST(floor(cents / {DUP_EPS_CENTS}.0) AS BIGINT)").alias("band"),
    )
    pairs = (
        a.join(b, ["user_id", "band"])
        .filter(
            (F.col("dup_event") > F.col("orig_event"))
            & (F.abs(F.col("c_b") - F.col("c_a")) <= DUP_EPS_CENTS)
            & (F.abs(F.col("t_b") - F.col("t_a")) <= DUP_EPS_US)
        )
        .select(
            "user_id",
            F.abs(F.col("c_b") - F.col("c_a")).alias("d_cents"),
            F.abs(F.col("t_b") - F.col("t_a")).alias("d_us"),
        )
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sus_pairs"),
        F.expr("min(d_us) div 1000000").cast("long").alias("min_gap_s"),
        F.min("d_cents").cast("long").alias("min_d_cents"),
    )


# --- q200: monitoring capstone -----------------------------------------------


def _capstone_oracle() -> str:
    from csv_loader_spark.queries.registry import get

    g = get("q171_gap_fill").oracle
    sm = get("q172_exp_smooth").oracle
    cp = get("q187_cusum_changepoint").oracle
    psi = get("q190_psi_drift").oracle
    dd = get("q198_activity_drawdown").oracle
    return f"""
    WITH gaps AS (
      SELECT event_type, CAST(sum(is_gap) AS BIGINT) AS n_gap_hours
      FROM ({g}) GROUP BY event_type
    ),
    sm_last AS (
      SELECT event_type, smoothed AS last_smoothed FROM (
        SELECT event_type, smoothed,
               row_number() OVER (PARTITION BY event_type ORDER BY hr DESC)
                 AS r
        FROM ({sm})
      ) WHERE r = 1
    ),
    cp AS (SELECT event_type, cp_hr, direction FROM ({cp})),
    psi AS (SELECT event_type, psi FROM ({psi})),
    dd AS (
      SELECT event_type, peak_rate, max_drawdown FROM ({dd})
    )
    SELECT gaps.event_type, n_gap_hours, last_smoothed, cp_hr, direction,
           psi, peak_rate, max_drawdown
    FROM gaps
    JOIN sm_last ON gaps.event_type = sm_last.event_type
    JOIN cp ON gaps.event_type = cp.event_type
    JOIN psi ON gaps.event_type = psi.event_type
    JOIN dd ON gaps.event_type = dd.event_type
    """


@query(
    "q200_monitoring_capstone",
    oracle=_capstone_oracle(),
    tags=("capstone", "monitoring", "timeseries", "r12"),
)
def q200_monitoring_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitoring dashboard row: per event_type, gap-repair census
    (q171), latest smoothed rate (q172), CUSUM changepoint + direction
    (q187), PSI drift (q190) and activity drawdown (q198).

    r16 (guide §2.4, the VERDICT #6 item — 2.90x DuckDB pooled-min at
    x100): four of the five legs start from the IDENTICAL
    (event_type, hr) hourly count aggregate, and composing the
    registered queries' fns re-scanned `events` and re-paid that
    exchange once per leg (5 scans, 4 hourly exchanges). The hourly
    census is now built ONCE and lazily checkpointed; the sm/cp/dd legs
    run the registered queries' extracted bodies
    (exp_smooth_over_hourly / cusum_over_hourly / drawdown_over_hourly
    — same expressions over the same values) on the shared frame, and
    the gaps leg reduces directly: q171's is_gap is 1 exactly for grid
    hours with no hourly row, so per type
    n_gap_hours = (max(hr) - min(hr) + 1) - count(observed hours) —
    value-identical to summing is_gap over the gap-filled grid, without
    the grid explode/join/window machinery. Only q190 (PSI — a
    different, value-bucketed aggregate) keeps its own scan: events
    scans 5 -> 2, hourly exchanges 4 -> 1. The oracle still nests the
    five registered oracle texts — single source of truth per leg —
    and tests/test_analytics2.py pins new-vs-composed equality."""
    from csv_loader_spark.queries.registry import get
    from csv_loader_spark.queries.relational5 import (
        _HR_SPARK,
        cusum_over_hourly,
        exp_smooth_over_hourly,
    )

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select("event_type", F.expr(_HR_SPARK).alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    gaps = hourly.groupBy("event_type").agg(
        (F.max("hr") - F.min("hr") + 1 - F.count(F.lit(1)))
        .cast("long")
        .alias("n_gap_hours")
    )
    sm = exp_smooth_over_hourly(hourly)
    w = W.partitionBy("event_type").orderBy(F.col("hr").desc())
    sm_last = (
        sm.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("event_type", F.col("smoothed").alias("last_smoothed"))
    )
    cp = cusum_over_hourly(hourly).select(
        "event_type", "cp_hr", "direction"
    )
    psi = get("q190_psi_drift").fn(spark, sf_dir)
    dd = drawdown_over_hourly(hourly).select(
        "event_type", "peak_rate", "max_drawdown"
    )
    return (
        gaps.join(sm_last, "event_type")
        .join(cp, "event_type")
        .join(psi, "event_type")
        .join(dd, "event_type")
        .select(
            "event_type",
            "n_gap_hours",
            "last_smoothed",
            "cp_hr",
            "direction",
            "psi",
            "peak_rate",
            "max_drawdown",
        )
    )


# --- q204: event-lateness audit (watermark tuning) ---------------------------

LATE_THRESH_US = 1_800_000_000  # 30 min


@query(
    "q204_lateness_audit",
    oracle=f"""
    WITH arr AS (
      SELECT event_type, epoch_us(ts) AS t,
             max(epoch_us(ts)) OVER (PARTITION BY event_type
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
      FROM events
    ),
    late AS (
      SELECT event_type, hwm - t AS late_us FROM arr
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_out_of_order,
           CAST(max(late_us) AS BIGINT) AS max_late_us,
           round(quantile_cont(CAST(late_us AS DOUBLE), 0.99), 4)
             AS p99_late_us,
           round(CAST(sum(CASE WHEN late_us > {LATE_THRESH_US} THEN 1
                               ELSE 0 END) AS DOUBLE) / count(*), 4)
             AS frac_beyond_30m
    FROM late GROUP BY event_type
    """,
    tags=("streaming", "audit", "window", "r12"),
)
def q204_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning audit: treat event_id as ARRIVAL order and
    event time as payload; per event, lateness = high-water-mark of
    event time seen so far minus own event time (exact integer µs via a
    running-max window). The summary — out-of-order fraction, max and
    p99 lateness, fraction beyond a 30-minute watermark — is exactly
    what sizes `withWatermark` for the streaming operators
    (events_stream/ingest loops). One window on the arrival order + one
    combinable fold; the p99 is the exact interpolated percentile."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type").orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    arr = e.select(
        "event_type",
        F.unix_micros("ts").alias("t"),
        F.max(F.unix_micros("ts")).over(w).alias("hwm"),
    ).select("event_type", (F.col("hwm") - F.col("t")).alias("late_us"))
    return arr.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("late_us") > 0).cast("long")).cast("long").alias(
            "n_out_of_order"
        ),
        F.max("late_us").cast("long").alias("max_late_us"),
        F.round(F.percentile(F.col("late_us").cast("double"), 0.99), 4).alias(
            "p99_late_us"
        ),
        F.round(
            F.sum((F.col("late_us") > LATE_THRESH_US).cast("long"))
            / F.count(F.lit(1)),
            4,
        ).alias("frac_beyond_30m"),
    )


# --- q205: funnel time-to-convert quantiles ----------------------------------

FUNNEL_PCTS = (0.5, 0.9)


@query(
    "q205_funnel_latency",
    oracle=f"""
    WITH v AS (
      SELECT user_id, min(epoch_us(ts)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t_buy
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.t_view
      GROUP BY e.user_id
    ),
    d AS (
      SELECT p.user_id,
             CAST(p.t_buy - v.t_view AS DOUBLE) / 60000000 AS mins
      FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT 0.5 AS pct,
           CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(mins, 0.5), 4) AS mins_to_convert
    FROM d UNION ALL SELECT 0.9 AS pct,
           CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(mins, 0.9), 4) AS mins_to_convert
    FROM d
    """,
    tags=("funnel", "percentile", "composition", "r12"),
)
def q205_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: first view → first subsequent
    purchase per user (the q61 funnel's edge), then exact interpolated
    quantiles of the conversion latency in minutes. Two per-user min
    aggregates + one broadcast-sized join; the percentile runs over the
    |converted users| frame."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.unix_micros("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t_buy"))
    )
    d = p.join(v, "user_id").select(
        ((F.col("t_buy") - F.col("t_view")).cast("double") / 60_000_000).alias(
            "mins"
        )
    )
    pcts = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        *[
            F.round(F.percentile("mins", pct), 4).alias(f"q_{i}")
            for i, pct in enumerate(FUNNEL_PCTS)
        ],
    )
    rows = [
        F.struct(
            F.lit(pct).alias("pct"),
            F.col("n_converted"),
            F.col(f"q_{i}").alias("mins_to_convert"),
        )
        for i, pct in enumerate(FUNNEL_PCTS)
    ]
    return pcts.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


# --- q209: proportional allocation (largest-remainder method) -----------------

ALLOC_SLOTS = 1000


@query(
    "q209_largest_remainder",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
    ),
    t AS (SELECT sum(n) AS tot FROM c),
    base AS (
      SELECT source, n,
             CAST({ALLOC_SLOTS} * n // tot AS BIGINT) AS floor_seats,
             {ALLOC_SLOTS} * n % tot AS rem
      FROM c CROSS JOIN t
    ),
    short AS (
      SELECT CAST({ALLOC_SLOTS} - sum(floor_seats) AS BIGINT) AS k FROM base
    ),
    ranked AS (
      SELECT source, n, floor_seats,
             row_number() OVER (ORDER BY rem DESC, source) AS r
      FROM base
    )
    SELECT source, n,
           CAST(floor_seats + CASE WHEN r <= k THEN 1 ELSE 0 END AS BIGINT)
             AS seats
    FROM ranked CROSS JOIN short
    """,
    tags=("allocation", "agg", "r12"),
)
def q209_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional apportionment of {ALLOC_SLOTS} slots across sources by
    the largest-remainder (Hamilton) method — the exact-integer allocator
    behind sampling budgets and shard counts: floor seats from the exact
    integer quota, the shortfall goes to the largest remainders
    (deterministic source tiebreak). Sums to exactly {ALLOC_SLOTS} by
    construction; everything is bigint arithmetic on a |sources|-row
    frame after one census aggregate."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.agg(F.sum("n").alias("tot"))
    base = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n",
        F.expr(f"{ALLOC_SLOTS} * n div tot").alias("floor_seats"),
        F.expr(f"{ALLOC_SLOTS} * n % tot").alias("rem"),
    )
    short = base.agg(
        (F.lit(ALLOC_SLOTS) - F.sum("floor_seats")).alias("k")
    )
    ranked = base.withColumn(
        "r", F.row_number().over(W.orderBy(F.col("rem").desc(), "source"))
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "source",
        "n",
        (
            F.col("floor_seats")
            + F.when(F.col("r") <= F.col("k"), 1).otherwise(0)
        )
        .cast("long")
        .alias("seats"),
    )


# --- q210: exact weighted median (duration-weighted) --------------------------


@query(
    "q210_weighted_median",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             epoch_us(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS w
      FROM events
    ),
    v AS (SELECT user_id, value, w FROM seq WHERE w IS NOT NULL),
    cum AS (
      SELECT user_id, value, w,
             sum(w) OVER (PARTITION BY user_id ORDER BY value, w
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(w) OVER (PARTITION BY user_id) AS tw
      FROM v
    )
    SELECT user_id, round(min(value), 4) AS weighted_median
    FROM cum WHERE 2 * cw >= tw GROUP BY user_id
    """,
    tags=("percentile", "window", "timeseries", "r12"),
)
def q210_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted median of `value` per user (q177's TWA sibling:
    the value the series spends half its TIME at or below): weights are
    exact integer microsecond holding intervals, the selector is the
    first value whose running weight reaches half the total (2*cw >= tw
    in pure bigint — no float half). One user-keyed window over the
    (value, w)-sorted frame; ties pinned by (value, w)."""
    e = load_table(spark, sf_dir, "events")
    w_seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    v = e.select(
        "user_id",
        "value",
        (F.unix_micros(F.lead("ts").over(w_seq)) - F.unix_micros("ts")).alias("w"),
    ).filter(F.col("w").isNotNull())
    w_cum = (
        W.partitionBy("user_id").orderBy("value", "w")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("user_id")
    cum = v.select(
        "user_id",
        "value",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("user_id")
        .agg(F.round(F.min("value"), 4).alias("weighted_median"))
    )
