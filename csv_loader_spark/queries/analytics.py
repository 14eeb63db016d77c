"""Analytics operator library: association rules (basket lift),
time-weighted averages over irregular samples, session path mining,
one-pass table profiling, and hybrid lexical+dense retrieval fusion.

Public-literature basis:
- q176: Agrawal & Srikant 1994 (Apriori support/confidence), Brin et al.
  1997 (lift) — pairwise association rules over co-ordered parts.
- q177: time-weighted average over irregularly-sampled series, the
  TimescaleDB/kdb+ staple: integrate value over the holding interval to
  the next observation, divide by total covered time.
- q178: order-3 sequential pattern counts (n-gram path mining over
  per-user event sequences).
- q179: declarative data-profiling (the Deequ/TFX-data-validation shape):
  per-column null rate / distinct count / extrema in one pass.
- q180: Cormack, Clarke & Buettcher 2009, Reciprocal Rank Fusion —
  fuse a BM25 ranking with a dense cosine ranking; RRF computed in
  exact integer fixed-point (10^8 // (k + rank)) so the fused scores are
  bit-identical across engines.

Scale notes (100 TB):
- q176's pair stream is bounded by per-order basket size (TPC-H ≤ 7
  lines ⇒ ≤ 21 pairs/order): one shuffle on orderkey, linear fan-out —
  never an unguarded item×item self-join. Singleton counts broadcast.
- q177/q178 shuffle once on user_id; every window is per-user ordered.
- q179 is a UNION of per-column single-distinct aggregates: each branch
  scans one pruned column (together: one table-width of pages on
  columnar storage) with a two-stage partial distinct — measured 4.2×
  faster at sf0.1 than the single-scan multi-distinct, whose Expand
  replicates every row |cols|× into one wide shuffle; at petabyte scale
  swap in approx_count_distinct per the docstring note.
- q180 runs its two source rankings (each already scale-adjudicated),
  keeps top-N=100 each (TakeOrderedAndProject), and fuses 200 rows —
  the fusion itself is free at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_loader_spark.functions import vectors as VEC
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.queries.registry import query
from csv_loader_spark.queries.retrieval import _BM25_SCORE, BM25_TERMS

# --- q176: basket analysis (pairwise association rules) ----------------------

BASKET_TOPK = 20


@query(
    "q176_basket_lift",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
    singles AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY pk),
    pairs AS (
      SELECT a.pk AS part_a, b.pk AS part_b, CAST(count(*) AS BIGINT) AS c_ab
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.part_a, p.part_b, p.c_ab,
             round(CAST(p.c_ab AS DOUBLE) / sa.c, 4) AS conf_a_to_b,
             round(CAST(p.c_ab AS DOUBLE) * n.n_orders / (sa.c * sb.c), 4)
               AS lift
      FROM pairs p
      JOIN singles sa ON p.part_a = sa.pk
      JOIN singles sb ON p.part_b = sb.pk
      CROSS JOIN n
    )
    SELECT part_a, part_b, c_ab, conf_a_to_b, lift, n_rank FROM (
      SELECT *, CAST(row_number() OVER (
        ORDER BY c_ab DESC, part_a, part_b) AS INTEGER) AS n_rank
      FROM scored
    ) WHERE n_rank <= {BASKET_TOPK}
    """,
    tags=("association", "join", "agg", "r12"),
)
def q176_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BASKET_TOPK} co-ordered part pairs with confidence and lift
    (Apriori pairwise pass). The pair stream self-joins the per-order
    DISTINCT item list on orderkey — fan-out bounded by basket size
    (≤ 21 pairs/order at TPC-H's ≤ 7 lines), so the shuffle stays linear
    in lineitem. Singleton supports and the order count re-attach via
    broadcast; the rank window sees only the aggregated pair matrix."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n = items.agg(F.countDistinct("ok").alias("n_orders"))
    singles = items.groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
    b = items.select(F.col("ok"), F.col("pk").alias("pk_b"))
    pairs = (
        items.join(b, "ok")
        .filter(F.col("pk") < F.col("pk_b"))
        .groupBy(F.col("pk").alias("part_a"), F.col("pk_b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    sa = singles.select(F.col("pk").alias("part_a"), F.col("c").alias("c_a"))
    sb = singles.select(F.col("pk").alias("part_b"), F.col("c").alias("c_b"))
    scored = (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.round(F.col("c_ab") / F.col("c_a"), 4).alias("conf_a_to_b"),
            F.round(
                F.col("c_ab") * F.col("n_orders") / (F.col("c_a") * F.col("c_b")), 4
            ).alias("lift"),
        )
    )
    topk = scored.orderBy(
        F.col("c_ab").desc(), "part_a", "part_b"
    ).limit(BASKET_TOPK)
    w = W.orderBy(F.col("c_ab").desc(), "part_a", "part_b")
    return topk.withColumn("n_rank", F.row_number().over(w).cast("int")).select(
        "part_a", "part_b", "c_ab", "conf_a_to_b", "lift", "n_rank"
    )


# --- q177: time-weighted average over irregular samples ----------------------


@query(
    "q177_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             epoch_us(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS dur_us
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(dur_us) AS BIGINT) AS covered_us,
           round(sum(value * dur_us) / sum(dur_us), 4) AS twa
    FROM seq WHERE dur_us IS NOT NULL
    GROUP BY user_id
    """,
    tags=("timeseries", "window", "agg", "r12"),
)
def q177_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user over irregular samples:
    each observation holds until the next one (lead() duration in exact
    integer microseconds), TWA = Σ value·dur / Σ dur. One shuffle on
    user_id for the ordering; the integral is a plain combinable sum —
    no resampling grid needed, any sampling cadence works."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur_us").cast("long").alias("covered_us"),
        F.round(F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4).alias(
            "twa"
        ),
    )


# --- q178: session path mining (order-3 sequential patterns) ------------------

PATH_TOPK = 10


@query(
    "q178_path_mining",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT e1 || '>' || e2 || '>' || e3 AS path, CAST(count(*) AS BIGINT) AS cnt
      FROM seq WHERE e3 IS NOT NULL GROUP BY 1
    )
    SELECT path, cnt, n_rank FROM (
      SELECT path, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, path) AS INTEGER) AS n_rank
      FROM paths
    ) WHERE n_rank <= {PATH_TOPK}
    """,
    tags=("sequence", "window", "r12"),
)
def q178_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PATH_TOPK} order-3 event paths (u's consecutive event-type
    trigrams): two lead() taps in one per-user window, concat, count.
    The path census aggregates to ≤ |states|³ rows before any ranking —
    the clickstream itself never reaches the top-k."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    paths = (
        seq.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    topk = paths.orderBy(F.col("cnt").desc(), "path").limit(PATH_TOPK)
    w_rank = W.orderBy(F.col("cnt").desc(), "path")
    return topk.withColumn(
        "n_rank", F.row_number().over(w_rank).cast("int")
    ).select("path", "cnt", "n_rank")


# --- q179: one-pass table profiling ------------------------------------------

#: (column, kind) — kind drives which extrema slot the value lands in.
PROFILE_COLS = (
    ("l_orderkey", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
)


def _profile_oracle() -> str:
    parts = []
    for col, kind in PROFILE_COLS:
        if kind == "num":
            mn = f"round(CAST(min({col}) AS DOUBLE), 4)"
            mx = f"round(CAST(max({col}) AS DOUBLE), 4)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = f"min({col})", f"max({col})"
        parts.append(
            f"""SELECT '{col}' AS col_name,
                 CAST(count(*) - count({col}) AS BIGINT) AS n_null,
                 CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
                 {mn} AS min_num, {mx} AS max_num,
                 {ms} AS min_str, {xs} AS max_str
               FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts)


@query(
    "q179_profile_table",
    oracle=_profile_oracle(),
    tags=("profiling", "agg", "quality", "r12"),
)
def q179_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling report: one row per profiled column with null count,
    EXACT distinct count, and typed extrema. Planned as a UNION of
    per-column single-distinct aggregates: each branch scans ONE pruned
    column (on columnar storage the 5 branches together read exactly one
    table-width of pages) and plans the distinct as a two-stage partial
    distinct — measured 4.2x faster at sf0.1 than the single-scan
    multi-distinct, whose Expand replicates every row |cols|x into one
    wide shuffle. At petabyte scale swap the exact count(DISTINCT) for
    approx_count_distinct to drop the distinct shuffle entirely."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = []
    for col, kind in PROFILE_COLS:
        num = kind == "num"
        parts.append(
            li.select(col)
            .agg(
                (F.count(F.lit(1)) - F.count(col)).cast("long").alias("n_null"),
                F.countDistinct(col).cast("long").alias("n_distinct"),
                (
                    F.round(F.min(col).cast("double"), 4)
                    if num
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.round(F.max(col).cast("double"), 4)
                    if num
                    else F.lit(None).cast("double")
                ).alias("max_num"),
                (F.min(col) if not num else F.lit(None).cast("string")).alias(
                    "min_str"
                ),
                (F.max(col) if not num else F.lit(None).cast("string")).alias(
                    "max_str"
                ),
            )
            .select(F.lit(col).alias("col_name"), "*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- q180: hybrid retrieval via Reciprocal Rank Fusion ------------------------

RRF_K = 60
RRF_N = 100  # depth of each source ranking
RRF_TOPK = 25
RRF_SCALE = 100_000_000
#: dense query = the embedding of vec 0 (aligned with doc_id 0).
RRF_QUERY_VEC = 0


def _rrf_oracle() -> str:
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
    corpus AS (SELECT CAST(count(*) AS BIGINT) AS nd, avg(dl) AS avgdl FROM dl),
    dfs AS (SELECT {df_cols} FROM tf),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY ({_BM25_SCORE}) DESC, doc_id) AS r
      FROM tf JOIN dl USING (doc_id) CROSS JOIN corpus CROSS JOIN dfs
      QUALIFY r <= {RRF_N}
    ),
    q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id = {RRF_QUERY_VEC}
    ),
    dense AS (
      SELECT e.vec_id AS doc_id,
             row_number() OVER (ORDER BY
               list_sum(list_transform(range(1, len(q.v) + 1),
                                       i -> q.v[i] * ev[i]))
               / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(ev, x -> x * x)))) DESC,
               e.vec_id) AS r
      FROM (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
            FROM embeddings) e CROSS JOIN q
      QUALIFY r <= {RRF_N}
    ),
    fused AS (
      SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
             CAST(coalesce({RRF_SCALE} // ({RRF_K} + lex.r), 0)
                  + coalesce({RRF_SCALE} // ({RRF_K} + dense.r), 0) AS BIGINT)
               AS rrf_score,
             lex.r AS lex_rank, dense.r AS dense_rank
      FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
    )
    SELECT doc_id, rrf_score,
           CAST(lex_rank AS INTEGER) AS lex_rank,
           CAST(dense_rank AS INTEGER) AS dense_rank,
           n_rank
    FROM (
      SELECT *, CAST(row_number() OVER (
        ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS n_rank
      FROM fused
    ) WHERE n_rank <= {RRF_TOPK}
    """


@query(
    "q180_hybrid_rrf",
    oracle=_rrf_oracle(),
    tags=("retrieval", "similarity", "llm", "r12"),
)
def q180_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse the BM25 lexical ranking (q159's scorer) with a
    dense cosine ranking against doc 0's embedding via Reciprocal Rank
    Fusion (Cormack et al. 2009). Each source ranking is cut to its
    top-{RRF_N} with TakeOrderedAndProject, the fusion full-outer-joins
    ≤ 2·{RRF_N} rows, and the RRF score is exact integer fixed-point
    ({RRF_SCALE} div (k + rank)) — bit-identical across engines, no
    float-rounding hazard in the fused ordering."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    # lexical leg — THE q159 scorer (shared builder, retrieval.bm25_scored)
    from csv_loader_spark.queries.retrieval import bm25_scored

    lex_scored = bm25_scored(d)
    lex_top = lex_scored.orderBy(F.col("bm25").desc(), "doc_id").limit(RRF_N)
    lex = lex_top.withColumn(
        "r", F.row_number().over(W.orderBy(F.col("bm25").desc(), "doc_id"))
    ).select("doc_id", "r")

    # dense leg — cosine vs the broadcast query vector (F.expr HOFs from
    # functions/vectors.py: JVM-parsed once, no per-lambda py4j round-trips)
    ev = e.select("vec_id", VEC.as_double("embedding").alias("v"))
    q = ev.filter(F.col("vec_id") == RRF_QUERY_VEC).select(F.col("v").alias("qv"))
    sim = ev.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        VEC.cosine("v", "qv").alias("sim"),
    )
    dense_top = sim.orderBy(F.col("sim").desc(), "doc_id").limit(RRF_N)
    dense = dense_top.withColumn(
        "r", F.row_number().over(W.orderBy(F.col("sim").desc(), "doc_id"))
    ).select(F.col("doc_id").alias("d_doc"), F.col("r").alias("dr"))

    fused = (
        lex.join(dense, lex.doc_id == dense.d_doc, "full_outer")
        .select(
            F.coalesce("doc_id", "d_doc").alias("doc_id"),
            (
                F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + r)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + dr)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_score"),
            F.col("r").cast("int").alias("lex_rank"),
            F.col("dr").cast("int").alias("dense_rank"),
        )
    )
    topk = fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(RRF_TOPK)
    w = W.orderBy(F.col("rrf_score").desc(), "doc_id")
    return topk.withColumn("n_rank", F.row_number().over(w).cast("int")).select(
        "doc_id", "rrf_score", "lex_rank", "dense_rank", "n_rank"
    )


# --- q182: sampled join-cardinality estimation --------------------------------

#: 1-in-SAMPLE_MOD of DISTINCT keys enter the sample (hash-deterministic,
#: so both engines pick the same keys and the estimate is exact-checkable).
JCE_MOD = 64
JCE_KEYS = ("l_partkey", "l_suppkey")


def _jce_oracle() -> str:
    from csv_loader_spark.functions.hashing import hash32_sql

    parts = []
    for key in JCE_KEYS:
        h = hash32_sql(f"CAST({key} AS VARCHAR)")
        parts.append(
            f"""
    SELECT '{key}' AS key_col,
           CAST(sum(c * c) AS BIGINT) AS exact_pairs,
           CAST({JCE_MOD} * sum(CASE WHEN ({h}) % {JCE_MOD} = 0
                                     THEN c * c ELSE 0 END) AS BIGINT)
             AS est_pairs,
           CAST(abs({JCE_MOD} * sum(CASE WHEN ({h}) % {JCE_MOD} = 0
                                         THEN c * c ELSE 0 END)
                    - sum(c * c)) * 10000 // sum(c * c) AS BIGINT) AS err_bp
    FROM (SELECT {key}, CAST(count(*) AS BIGINT) AS c
          FROM lineitem GROUP BY {key})"""
        )
    return "\nUNION ALL\n".join(parts)


@query(
    "q182_join_size_estimate",
    oracle=_jce_oracle(),
    tags=("stats", "optimizer", "sampling", "r12"),
)
def q182_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics operator: estimate the self-equi-join
    cardinality Σ c_k² per key column from a deterministic 1/{JCE_MOD}
    HASH sample of DISTINCT keys (distinct-value sampling — Haas &
    Swami 1995 style — not row sampling, which underestimates skew),
    alongside the exact value and the measured error in basis points.
    The sample predicate hashes the key with the engine-portable
    md5-prefix hash (llm3), so both engines select identical keys and
    the estimate itself is oracle-exact. At scale the estimator is the
    product surface: the per-key counts aggregate is the only full
    pass, and a scan-level `WHERE hash(key) % {JCE_MOD} = 0` turns it
    into a 1/{JCE_MOD}-cost probe (the exact column here is the test
    harness)."""
    from csv_loader_spark.functions.hashing import hash32_spark_sql

    li = load_table(spark, sf_dir, "lineitem")
    outs = []
    for key in JCE_KEYS:
        counts = li.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        h = hash32_spark_sql(f"CAST({key} AS STRING)")
        sampled_sq = F.sum(
            F.when(F.expr(f"({h}) % {JCE_MOD} = 0"), F.col("c") * F.col("c"))
            .otherwise(F.lit(0))
        )
        exact_sq = F.sum(F.col("c") * F.col("c"))
        one = counts.agg(
            exact_sq.cast("long").alias("exact_pairs"),
            (F.lit(JCE_MOD) * sampled_sq).cast("long").alias("est_pairs"),
        ).select(
            F.lit(key).alias("key_col"),
            "exact_pairs",
            "est_pairs",
            F.expr("abs(est_pairs - exact_pairs) * 10000 div exact_pairs")
            .cast("long")
            .alias("err_bp"),
        )
        outs.append(one)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
