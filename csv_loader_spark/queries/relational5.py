"""Relational operator library, part 5: time-series analytics — gap-fill
with forward-fill + linear interpolation, bounded-horizon exponential
smoothing, MAD outlier detection, grouped OLS regression, and Markov
next-event transition mining.

These are the dashboard/feature-engineering shapes an analytics engine
runs constantly over event streams (demand series with missing buckets,
smoothed KPIs, robust anomaly flags, per-segment trend fits, clickstream
transition models). The reference (CsvLoader.java, 274 lines) has no
analytics surface; these extend the beyond-reference operator inventory
(SURVEY.md §2.3 window/agg families).

Scale notes (100 TB):
- q171/q172 pre-aggregate to the HOUR grid first (map-side-combinable
  groupBy), so every window that follows runs over a span-bounded series
  (720 rows per group at this dataset's 30-day span), never over raw
  events. The generated grid is |groups| x span rows — independent of
  fact cardinality.
- q173 reuses the exact-percentile aggregate (one shuffle per pass) and
  re-attaches the 5-row group statistics via broadcast joins — the fact
  table is scanned, never sorted globally.
- q174 is a single map-side-combinable aggregate per group (Welford-style
  running moments inside Spark's regr_* / corr built-ins).
- q175 shuffles once on user_id for the lead() ordering, then aggregates
  a |states|^2-bounded transition matrix; the top-k window runs over that
  tiny matrix, not the events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_loader_spark.io.tables import load_table
from csv_loader_spark.queries.registry import query

#: epoch-hour derivation, exact integer division on both engines.
_HR_SPARK = "unix_micros(ts) div 3600000000"
_HR_DUCK = "epoch_us(ts) // 3600000000"


# --- q171: hourly gap-fill (forward-fill + linear interpolation) ------------


@query(
    "q171_gap_fill",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, {_HR_DUCK} AS hr,
             count(*) AS cnt, sum(value) AS sv
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM hourly GROUP BY 1
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(lo, hi)) AS hr FROM bounds
    ),
    joined AS (
      SELECT g.event_type, g.hr, h.cnt, h.sv
      FROM grid g LEFT JOIN hourly h
        ON g.event_type = h.event_type AND g.hr = h.hr
    ),
    filled AS (
      SELECT event_type, hr, cnt, sv,
        last_value(cnt IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY hr
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_cnt,
        first_value(cnt IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY hr
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_cnt,
        last_value(sv IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY hr
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_sv,
        last_value(CASE WHEN cnt IS NOT NULL THEN hr END IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY hr
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_hr,
        first_value(CASE WHEN cnt IS NOT NULL THEN hr END IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY hr
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_hr
      FROM joined
    )
    SELECT event_type, hr,
           CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS is_gap,
           CAST(coalesce(prev_cnt, next_cnt) AS BIGINT) AS cnt_ffill,
           round(CASE
             WHEN cnt IS NOT NULL THEN CAST(cnt AS DOUBLE)
             WHEN prev_cnt IS NULL THEN CAST(next_cnt AS DOUBLE)
             WHEN next_cnt IS NULL THEN CAST(prev_cnt AS DOUBLE)
             ELSE prev_cnt + (next_cnt - prev_cnt)
                  * CAST(hr - prev_hr AS DOUBLE) / (next_hr - prev_hr)
           END, 4) AS cnt_interp,
           round(coalesce(prev_sv, 0.0), 2) AS sum_ffill
    FROM filled
    """,
    tags=("timeseries", "window", "gapfill", "r12"),
)
def q171_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly demand series per event_type with missing buckets repaired:
    a complete epoch-hour grid is generated per group (sequence over the
    group's [min, max] span), left-joined to the hourly aggregate, then
    gaps are filled two ways — forward-fill (last observation carried
    forward, next-observation for the leading edge) and LINEAR
    INTERPOLATION between the bracketing observed hours. Interpolation
    runs on integer counts (exact arithmetic both engines); the grid is
    span-bounded so the windows never scale with fact cardinality."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select("event_type", F.expr(_HR_SPARK).alias("hr"), "value")
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select("event_type", F.explode(F.sequence("lo", "hi")).alias("hr"))
    )
    j = grid.join(hourly, ["event_type", "hr"], "left")
    w_back = (
        W.partitionBy("event_type").orderBy("hr")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_fwd = (
        W.partitionBy("event_type").orderBy("hr")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    observed_hr = F.when(F.col("cnt").isNotNull(), F.col("hr"))
    f = j.select(
        "event_type",
        "hr",
        "cnt",
        "sv",
        F.last("cnt", ignorenulls=True).over(w_back).alias("prev_cnt"),
        F.first("cnt", ignorenulls=True).over(w_fwd).alias("next_cnt"),
        F.last("sv", ignorenulls=True).over(w_back).alias("prev_sv"),
        F.last(observed_hr, ignorenulls=True).over(w_back).alias("prev_hr"),
        F.first(observed_hr, ignorenulls=True).over(w_fwd).alias("next_hr"),
    )
    interp = (
        F.when(F.col("cnt").isNotNull(), F.col("cnt").cast("double"))
        .when(F.col("prev_cnt").isNull(), F.col("next_cnt").cast("double"))
        .when(F.col("next_cnt").isNull(), F.col("prev_cnt").cast("double"))
        .otherwise(
            F.col("prev_cnt")
            + (F.col("next_cnt") - F.col("prev_cnt"))
            * (F.col("hr") - F.col("prev_hr")).cast("double")
            / (F.col("next_hr") - F.col("prev_hr"))
        )
    )
    return f.select(
        "event_type",
        "hr",
        F.when(F.col("cnt").isNull(), 1).otherwise(0).alias("is_gap"),
        F.coalesce("prev_cnt", "next_cnt").cast("long").alias("cnt_ffill"),
        F.round(interp, 4).alias("cnt_interp"),
        F.round(F.coalesce("prev_sv", F.lit(0.0)), 2).alias("sum_ffill"),
    )


# --- q172: bounded-horizon exponential smoothing -----------------------------

#: filter taps. alpha = 0.5 keeps every weight an exact binary fraction
#: (0.5**d), so numerator/denominator are EXACT doubles on both engines —
#: the 16-tap truncation bounds the horizon (weight beyond tap 15 is
#: 2^-16 < 2e-5, below the output rounding).
EWMA_TAPS = 16


def _ewma_oracle() -> str:
    num = " + ".join(
        f"coalesce(lag(cnt, {d}) OVER w, 0) * {0.5 ** d!r}" for d in range(EWMA_TAPS)
    )
    den = " + ".join(
        f"CASE WHEN lag(cnt, {d}) OVER w IS NULL THEN 0 ELSE {0.5 ** d!r} END"
        for d in range(EWMA_TAPS)
    )
    return f"""
    WITH hourly AS (
      SELECT event_type, {_HR_DUCK} AS hr, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    sm AS (
      SELECT event_type, hr, cnt, ({num}) / ({den}) AS s
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hr)
    )
    SELECT event_type, hr, cnt, round(s, 4) AS smoothed
    FROM sm
    WHERE hr % 24 = 0
    """


def exp_smooth_over_hourly(hourly: DataFrame) -> DataFrame:
    """q172's FIR smoothing over a PREBUILT (event_type, hr, cnt)
    hourly-count frame (r16: extracted so q200 can feed all its hourly
    legs from ONE shared events aggregate; the registered q172 builds
    its own hourly exactly as before, so its plan is unchanged)."""
    # the 16-tap num/den stacks as two F.expr strings with inline window
    # specs (r15): the composed lag/when/coalesce loop cost ~1.3k py4j
    # round trips per build; same lag trees, same exact binary-fraction
    # weights ({w!r}D round-trips the double literal exactly), and Spark
    # collapses the same-spec window functions into one Window operator
    # either way (see functions/text.py fast-path rationale)
    over = "OVER (PARTITION BY event_type ORDER BY hr)"
    num_sql = " + ".join(
        f"(coalesce(lag(cnt, {d}) {over}, 0) * {0.5 ** d!r}D)"
        for d in range(EWMA_TAPS)
    )
    den_sql = " + ".join(
        f"(CASE WHEN lag(cnt, {d}) {over} IS NOT NULL "
        f"THEN {0.5 ** d!r}D ELSE 0.0D END)"
        for d in range(EWMA_TAPS)
    )
    return (
        hourly.withColumn("s", F.expr(f"({num_sql}) / ({den_sql})"))
        .filter(F.col("hr") % 24 == 0)
        .select("event_type", "hr", "cnt", F.round("s", 4).alias("smoothed"))
    )


@query(
    "q172_exp_smooth",
    oracle=_ewma_oracle(),
    tags=("timeseries", "window", "r12"),
)
def q172_exp_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted smoothing of the hourly event-count series
    (alpha=0.5, {EWMA_TAPS}-tap truncated horizon, weights renormalized
    over the taps available near the series start). The recursive EWMA
    y_i = a*x_i + (1-a)*y_(i-1) is re-expressed as a FIR filter so the
    whole computation is a stack of lag() expressions inside one
    window — no iteration, no UDF, exact binary-fraction arithmetic.
    Output sampled at day boundaries (hr % 24 = 0) to keep the gate row
    set small; the plan computes every hour."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select("event_type", F.expr(_HR_SPARK).alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return exp_smooth_over_hourly(hourly)


# --- q173: MAD (median absolute deviation) outlier detection ----------------


@query(
    "q173_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, e.value, abs(e.value - m.med) AS d, m.med
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT dev.event_type,
           round(any_value(dev.med), 4) AS med,
           round(any_value(mad.mad), 4) AS mad,
           count(*) FILTER (WHERE dev.d > 3 * mad.mad) AS n_outliers,
           round(CAST(count(*) FILTER (WHERE dev.d > 3 * mad.mad) AS DOUBLE)
                 / count(*), 4) AS outlier_rate
    FROM dev JOIN mad ON dev.event_type = mad.event_type
    GROUP BY dev.event_type
    """,
    tags=("agg", "percentile", "robust", "r12"),
)
def q173_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection via Median Absolute Deviation:
    exact interpolated median per event_type (Spark `percentile` ==
    DuckDB `quantile_cont`, q40 precedent), broadcast the 5-row medians
    back, exact median of |x - med|, flag rows with deviation > 3*MAD.
    Two combinable percentile aggregates + two broadcast joins — the
    fact is scanned twice, never globally sorted."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("d", 0.5).alias("mad"))
    out = (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 4).alias("med"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.count(F.when(F.col("d") > 3 * F.col("mad"), 1)).alias("n_outliers"),
            F.round(
                F.count(F.when(F.col("d") > 3 * F.col("mad"), 1))
                / F.count(F.lit(1)),
                4,
            ).alias("outlier_rate"),
        )
    )
    return out


# --- q174: grouped OLS regression --------------------------------------------


@query(
    "q174_group_ols",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
           round(corr(l_extendedprice, l_quantity), 4) AS corr_xy
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "regression", "r12"),
)
def q174_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit of extendedprice on quantity:
    slope, intercept, R^2 and Pearson correlation from single-pass
    Welford-style running moments (Spark's regr_* / corr built-ins ==
    DuckDB's — both maintain centered co-moments, so the 4dp-rounded
    values agree). One map-side-combinable aggregate; no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4).alias("r2"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("corr_xy"),
    )


# --- q175: Markov next-event transitions -------------------------------------


@query(
    "q175_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    t AS (
      SELECT src, dst, count(*) AS cnt
      FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    p AS (
      SELECT src, dst, cnt,
             round(CAST(cnt AS DOUBLE)
                   / sum(cnt) OVER (PARTITION BY src), 4) AS p,
             CAST(row_number() OVER (PARTITION BY src
                                     ORDER BY cnt DESC, dst) AS INTEGER) AS rnk
      FROM t
    )
    SELECT src, dst, cnt, p, rnk FROM p WHERE rnk <= 3
    """,
    tags=("sequence", "window", "markov", "r12"),
)
def q175_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition model over per-user event sequences:
    lead() pairs consecutive events (one shuffle on user_id, event_id
    tiebreak for determinism), the transition matrix aggregates to at
    most |states|^2 rows, and row-normalized probabilities + top-3 next
    events per source state are windows over that tiny matrix — the
    clickstream never reaches a window."""
    e = load_table(spark, sf_dir, "events")
    w_seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w_seq).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    t = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    w_norm = W.partitionBy("src")
    w_rank = W.partitionBy("src").orderBy(F.col("cnt").desc(), "dst")
    return (
        t.withColumn("p", F.round(F.col("cnt") / F.sum("cnt").over(w_norm), 4))
        .withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("src", "dst", "cnt", "p", "rnk")
    )


# --- q186: hour-of-day seasonality index -------------------------------------


@query(
    "q186_seasonality_index",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, {_HR_DUCK} AS hr, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    hod AS (
      SELECT event_type, hr % 24 AS hod,
             CAST(sum(cnt) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_hours
      FROM hourly GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(n_events) AS s_all, sum(n_hours) AS h_all
      FROM hod GROUP BY 1
    )
    SELECT h.event_type, h.hod, h.n_events,
           round((CAST(h.n_events AS DOUBLE) / h.n_hours)
                 / (CAST(t.s_all AS DOUBLE) / t.h_all), 4) AS idx
    FROM hod h JOIN tot t ON h.event_type = t.event_type
    """,
    tags=("timeseries", "seasonality", "agg", "r12"),
)
def q186_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality index per event_type (demand-forecasting
    staple): mean hourly count at each hour-of-day divided by the
    group's overall hourly mean. Two combinable aggregates (hour census,
    then 24-bucket fold) + a 5-row broadcast join — the fact is scanned
    once and every downstream frame is bucket-bounded."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select("event_type", F.expr(_HR_SPARK).alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hod = hourly.groupBy(
        "event_type", (F.col("hr") % 24).alias("hod")
    ).agg(
        F.sum("cnt").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
    )
    tot = hod.groupBy("event_type").agg(
        F.sum("n_events").alias("s_all"), F.sum("n_hours").alias("h_all")
    )
    return hod.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hod",
        "n_events",
        F.round(
            (F.col("n_events").cast("double") / F.col("n_hours"))
            / (F.col("s_all").cast("double") / F.col("h_all")),
            4,
        ).alias("idx"),
    )


# --- q187: CUSUM changepoint in exact integer arithmetic ---------------------


@query(
    "q187_cusum_changepoint",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, {_HR_DUCK} AS hr, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, hr, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
             row_number() OVER (PARTITION BY event_type ORDER BY hr) AS t,
             sum(cnt) OVER (PARTITION BY event_type) AS s,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM hourly
    ),
    k AS (
      SELECT event_type, hr,
             CAST(n * pre - t * s AS BIGINT) AS cusum_scaled
      FROM c
    )
    SELECT event_type, hr AS cp_hr, cusum_scaled,
           CASE WHEN cusum_scaled >= 0 THEN 1 ELSE -1 END AS direction
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type
        ORDER BY abs(cusum_scaled) DESC, hr) AS r
      FROM k
    ) WHERE r = 1
    """,
    tags=("timeseries", "changepoint", "window", "r12"),
)
def q187_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint locator (Page 1954) per event_type over the
    hourly count series, in EXACT integer arithmetic: the mean-centered
    cumulative sum Σ(x_i - x̄) is scaled by n (n·prefix_t - t·S — all
    bigint, no float mean), and the changepoint is the argmax of its
    absolute value (earliest hour on ties). Windows run over the
    span-bounded hour census only; results are bit-identical across
    engines because nothing ever leaves integer arithmetic."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select("event_type", F.expr(_HR_SPARK).alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return cusum_over_hourly(hourly)


def cusum_over_hourly(hourly: DataFrame) -> DataFrame:
    """q187's CUSUM body over a PREBUILT (event_type, hr, cnt) frame
    (r16: the q200 shared-hourly split; the registered q187's own plan
    is unchanged — same expressions over its own hourly)."""
    w_pre = (
        W.partitionBy("event_type").orderBy("hr")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("event_type")
    c = hourly.select(
        "event_type",
        "hr",
        F.sum("cnt").over(w_pre).alias("pre"),
        F.row_number().over(W.partitionBy("event_type").orderBy("hr")).alias("t"),
        F.sum("cnt").over(w_all).alias("s"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    ).select(
        "event_type",
        "hr",
        (F.col("n") * F.col("pre") - F.col("t") * F.col("s"))
        .cast("long")
        .alias("cusum_scaled"),
    )
    w_arg = W.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_scaled")).desc(), "hr"
    )
    return (
        c.withColumn("r", F.row_number().over(w_arg))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("hr").alias("cp_hr"),
            "cusum_scaled",
            F.when(F.col("cusum_scaled") >= 0, 1).otherwise(-1).alias("direction"),
        )
    )


# --- q188: lead-lag cross-correlation ----------------------------------------

XCORR_LAGS = list(range(-3, 4))
XCORR_A = "click"
XCORR_B = "purchase"


@query(
    "q188_leadlag_xcorr",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, {_HR_DUCK} AS hr, CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE event_type IN ('{XCORR_A}', '{XCORR_B}')
      GROUP BY 1, 2
    ),
    a AS (SELECT hr, cnt FROM hourly WHERE event_type = '{XCORR_A}'),
    b AS (SELECT hr, cnt FROM hourly WHERE event_type = '{XCORR_B}'),
    lags AS (SELECT unnest([{", ".join(str(x) for x in XCORR_LAGS)}]) AS lag)
    SELECT l.lag,
           CAST(count(*) AS BIGINT) AS n,
           round(corr(a.cnt, b.cnt), 4) AS xcorr
    FROM lags l
    JOIN a ON TRUE
    JOIN b ON b.hr = a.hr + l.lag
    GROUP BY l.lag
    """,
    tags=("timeseries", "correlation", "r12"),
)
def q188_leadlag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag analysis: Pearson cross-correlation of the {XCORR_A} and
    {XCORR_B} hourly series at lags {XCORR_LAGS[0]}..{XCORR_LAGS[-1]}
    ("does one metric lead the other?"). The series are span-bounded
    hourly censuses; each lag is an (hr+lag) equi-join between them and
    one corr aggregate — 7 lags cost 7 tiny joins, never a re-scan of
    the facts."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type").isin(XCORR_A, XCORR_B))
        .select("event_type", F.expr(_HR_SPARK).alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    a = hourly.filter(F.col("event_type") == XCORR_A).select(
        F.col("hr").alias("hr_a"), F.col("cnt").alias("cnt_a")
    )
    b = hourly.filter(F.col("event_type") == XCORR_B).select(
        F.col("hr").alias("hr_b"), F.col("cnt").alias("cnt_b")
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in XCORR_LAGS])).alias("lag")
    )
    j = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("hr_b") == F.col("hr_a") + F.col("lag")
    )
    return j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("cnt_a", "cnt_b"), 4).alias("xcorr"),
    )


# --- q194: Benford first-digit audit -----------------------------------------


@query(
    "q194_benford_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                  1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM d GROUP BY digit
    ),
    n AS (SELECT sum(observed) AS n FROM c)
    SELECT digit, observed,
           round(CAST(observed AS DOUBLE) / n, 4) AS p_obs,
           round(log10(1.0 + 1.0 / digit), 4) AS p_benford,
           round(pow(CAST(observed AS DOUBLE) / n - log10(1.0 + 1.0 / digit), 2)
                 / log10(1.0 + 1.0 / digit) * n, 4) AS chi2_term
    FROM c CROSS JOIN n
    """,
    tags=("quality", "audit", "agg", "r12"),
)
def q194_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals (Benford 1938;
    the standard fraud/data-fabrication screen): observed first-digit
    frequencies vs log10(1+1/d), with the per-digit chi-square
    contribution. Digit extraction is exact integer/string arithmetic
    (explicit floor before the bigint cast — DuckDB's double→BIGINT cast
    ROUNDS while Spark's truncates — then first character), so the only float ops are the
    shared-formula frequencies — one combinable 9-row census."""
    o = load_table(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("observed"))
    n = c.agg(F.sum("observed").alias("n"))
    p_obs = F.col("observed").cast("double") / F.col("n")
    p_ben = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return c.crossJoin(F.broadcast(n)).select(
        "digit",
        "observed",
        F.round(p_obs, 4).alias("p_obs"),
        F.round(p_ben, 4).alias("p_benford"),
        F.round(F.pow(p_obs - p_ben, 2) / p_ben * F.col("n"), 4).alias(
            "chi2_term"
        ),
    )


# --- q195: ABC / Pareto classification ---------------------------------------

ABC_A_PCT = 80
ABC_B_PCT = 95


@query(
    "q195_abc_pareto",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100)
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c,
             sum(cents) OVER () AS tot_c
      FROM rev
    ),
    classed AS (
      SELECT l_partkey, cents,
             CASE WHEN cum_c * 100 <= tot_c * {ABC_A_PCT} THEN 'A'
                  WHEN cum_c * 100 <= tot_c * {ABC_B_PCT} THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked
    )
    SELECT abc,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS class_rev_cents
    FROM classed GROUP BY abc
    """,
    tags=("pareto", "window", "agg", "r12"),
)
def q195_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue,
    class A = the prefix holding {ABC_A_PCT}% of cumulative revenue,
    B to {ABC_B_PCT}%, C the tail. ENTIRELY integer arithmetic: per-part
    revenue is folded to exact cents, the running share comparison is
    cross-multiplied bigints (cum*100 <= tot*pct) — no double ever
    enters the classification or the class totals, so both engines are
    bit-identical (the float formulation diverged by one cent in the
    unordered 2.4e9-magnitude class sum). The one global sort runs on
    the reduced |parts| frame."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
        )
        .cast("long")
        .alias("cents")
    )
    w_cum = W.orderBy(F.col("cents").desc(), "l_partkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy()
    ranked = rev.select(
        "cents",
        F.sum("cents").over(w_cum).alias("cum_c"),
        F.sum("cents").over(w_all).alias("tot_c"),
    )
    abc = (
        F.when(F.col("cum_c") * 100 <= F.col("tot_c") * ABC_A_PCT, "A")
        .when(F.col("cum_c") * 100 <= F.col("tot_c") * ABC_B_PCT, "B")
        .otherwise("C")
    )
    return (
        ranked.select("cents", abc.alias("abc"))
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("class_rev_cents"),
        )
    )


# --- q196: Theil-Sen robust trend slope --------------------------------------


@query(
    "q196_theil_sen",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, {_HR_DUCK} AS hr, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, hr - min(hr) OVER (PARTITION BY event_type) AS t, cnt
      FROM hourly
    ),
    slopes AS (
      SELECT a.event_type,
             CAST(b.cnt - a.cnt AS DOUBLE) / (b.t - a.t) AS s
      FROM base a JOIN base b
        ON a.event_type = b.event_type AND b.t > a.t
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(s, 0.5), 4) AS theil_sen_slope
    FROM slopes GROUP BY event_type
    """,
    tags=("timeseries", "robust", "regression", "r12"),
)
def q196_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator (Theil 1950; Sen 1968) over each
    event_type's hourly count series: the median of all pairwise slopes
    (cnt_j - cnt_i)/(t_j - t_i). The pair join runs over the
    SPAN-BOUNDED hour census (≤ span² pairs per group — 259k at a
    30-day span, independent of fact cardinality), never over events;
    the median is the exact interpolated percentile (q40 precedent).
    Each slope is one integer difference ratio, identical across
    engines."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select("event_type", F.expr(_HR_SPARK).alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    base = hourly.select(
        "event_type",
        (F.col("hr") - F.min("hr").over(W.partitionBy("event_type"))).alias("t"),
        "cnt",
    )
    b = base.select(
        F.col("event_type"),
        F.col("t").alias("t2"),
        F.col("cnt").alias("cnt2"),
    )
    slopes = (
        base.join(b, "event_type")
        .filter(F.col("t2") > F.col("t"))
        .select(
            "event_type",
            (
                (F.col("cnt2") - F.col("cnt")).cast("double")
                / (F.col("t2") - F.col("t"))
            ).alias("s"),
        )
    )
    return slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.percentile("s", 0.5), 4).alias("theil_sen_slope"),
    )


# --- q207: 2-D skyline (Pareto-optimal points) -------------------------------


@query(
    "q207_skyline",
    oracle="""
    WITH pts AS (
      SELECT l_partkey,
             min(l_extendedprice / l_quantity) AS unit_price,
             max(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.l_partkey,
           round(p.unit_price, 4) AS unit_price,
           round(p.max_qty, 2) AS max_qty
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.unit_price <= p.unit_price AND q.max_qty >= p.max_qty
        AND (q.unit_price < p.unit_price OR q.max_qty > p.max_qty)
    )
    """,
    tags=("skyline", "window", "relational", "r12"),
)
def q207_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Börzsönyi et al. 2001, "The Skyline Operator"):
    Pareto-optimal parts minimizing unit price and maximizing order
    quantity. The Spark plan is the SORT-FILTER skyline — order points
    by (unit_price asc, max_qty desc) and keep those whose max_qty
    strictly exceeds the running maximum of everything cheaper (ties in
    price keep only the best qty) — ONE window over the |parts|
    aggregate, O(n log n), vs the oracle's quadratic NOT-EXISTS
    dominance proof: two independent formulations, one exact answer.
    Dominated-at-equal-coordinates duplicates are excluded exactly as
    the dominance definition requires (strict in at least one axis;
    coordinate-duplicate points all survive)."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.groupBy("l_partkey").agg(
        (F.min(F.col("l_extendedprice") / F.col("l_quantity"))).alias("unit_price"),
        F.max("l_quantity").alias("max_qty"),
    )
    w_prev = (
        W.orderBy(F.col("unit_price").asc(), F.col("max_qty").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # a point is dominated iff some PRIOR point (all priors have
    # price <= mine in this order) has qty >= mine and is strictly
    # better on one axis. Fold priors to max(struct(qty, -price)):
    # lexicographically the highest qty, and among equal-qty priors the
    # LOWEST price — if even that one isn't a strict dominator, none is.
    # (Folding max(struct(qty, price)) instead is subtly wrong: among
    # equal-qty priors it keeps the HIGHEST price and misses a cheaper
    # equal-qty dominator — pinned by the A(5,1)/B(5,2)/p(5,2) unit
    # test.)
    prev_best = F.max(
        F.struct(F.col("max_qty"), (-F.col("unit_price")).alias("neg_price"))
    ).over(w_prev)
    dominated = (
        prev_best.isNotNull()
        & (prev_best["max_qty"] >= F.col("max_qty"))
        & (
            (prev_best["max_qty"] > F.col("max_qty"))
            | (-prev_best["neg_price"] < F.col("unit_price"))
        )
    )
    return (
        pts.withColumn("dom", dominated)
        .filter(~F.col("dom"))
        .select(
            "l_partkey",
            F.round("unit_price", 4).alias("unit_price"),
            F.round("max_qty", 2).alias("max_qty"),
        )
    )


# --- q208: sweep-line max concurrency ----------------------------------------

#: each event "occupies" a fixed window after its timestamp.
CONC_HOLD_US = 600_000_000  # 10 minutes


@query(
    "q208_max_concurrency",
    oracle=f"""
    WITH iv AS (
      SELECT event_type, epoch_us(ts) AS s,
             epoch_us(ts) + {CONC_HOLD_US} AS e, event_id
      FROM events
    ),
    pts AS (
      SELECT event_type, s AS t, 1 AS d, event_id, 1 AS tie FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS d, event_id, 0 AS tie FROM iv
    ),
    sweep AS (
      SELECT event_type, t, d,
             sum(d) OVER (PARTITION BY event_type
               ORDER BY t, tie, d, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
      FROM pts
    )
    SELECT event_type,
           CAST(max(load) AS BIGINT) AS max_concurrent,
           CAST(min(t) AS BIGINT) AS first_us,
           CAST(max(t) AS BIGINT) AS last_us
    FROM sweep GROUP BY event_type
    """,
    tags=("sweepline", "interval", "window", "r12"),
)
def q208_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the sweep line: each event holds a
    10-minute interval; +1/−1 boundary points, one ordered running sum
    per event_type, global max. End points sort BEFORE coincident start
    points (tie column) so back-to-back intervals never double-count —
    the classic room-scheduling/peak-load operator, O(n log n), all
    integer µs arithmetic."""
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "event_type",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + CONC_HOLD_US).alias("e"),
        "event_id",
    )
    pts = iv.select(
        "event_type",
        F.col("s").alias("t"),
        F.lit(1).alias("d"),
        "event_id",
        F.lit(1).alias("tie"),
    ).unionByName(
        iv.select(
            "event_type",
            F.col("e").alias("t"),
            F.lit(-1).alias("d"),
            "event_id",
            F.lit(0).alias("tie"),
        )
    )
    w = (
        W.partitionBy("event_type").orderBy("t", "tie", "d", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sweep = pts.withColumn("load", F.sum("d").over(w))
    return sweep.groupBy("event_type").agg(
        F.max("load").cast("long").alias("max_concurrent"),
        F.min("t").cast("long").alias("first_us"),
        F.max("t").cast("long").alias("last_us"),
    )
