"""Round-5 LLM-pipeline operators: scale-shaped embedding dedup.

q97 composes the two halves that existed separately since round 3 — q36's
hyperplane-LSH candidate generation and q54's exact cosine verify — into
THE default embedding near-dup query. q54 stays as the all-pairs oracle
meter; q98 records the composition's recall against it, oracle-checked.

The LSH signatures are deterministic (fixed LCG hyperplanes, see
llm._hyperplanes), so unlike generic library LSH the candidate set is
reproducible in ANSI SQL: the oracle embeds the same plane constants as
literal lists and recomputes the same sign bits. That is what lets a
candidate-generation stage — usually rows-only territory — pass the exact
value-hash gate.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv_loader_spark.functions import vectors as VEC
from csv_loader_spark.io.tables import load_table, session_cached
from csv_loader_spark.queries.llm import _LSH_BITS, _LSH_TABLES, _hyperplanes
from csv_loader_spark.queries.llm2 import _COS_DUP_THRESHOLD
from csv_loader_spark.queries.registry import query

_PLANES = _hyperplanes(n=_LSH_TABLES * _LSH_BITS)

# Hot-bucket guard: a degenerate corpus (many identical / near-zero vectors)
# collapses into ONE bucket and reintroduces M^2 candidates there. Each
# (table, bucket) therefore keeps only its first HOT_BUCKET_CAP members
# (deterministic: ordered by vec_id), bounding any bucket's contribution at
# C(cap, 2) pairs. Trade: pairs whose BOTH endpoints are evicted from every
# shared bucket are lost — for natural corpora the cap never triggers
# (largest sf0.01 bucket ~ tens of rows), so measured recall (q98, 0.9322)
# is unchanged; under adversarial ×M duplication recall degrades gracefully
# instead of the join degenerating quadratically. The cap is a row_number
# window over (bucket) ordered by vec_id — same key as the candidate join,
# and reproducible in ANSI SQL so the exact oracle gate still holds.
# One constant, so the Spark plan and the oracle CTE below always bake
# the SAME value and the gate cannot silently diverge.
_HOT_BUCKET_CAP = 1024


def _planes_values_sql() -> str:
    """The hyperplane constants as DuckDB VALUES rows (t, b, p).

    repr() keeps full precision: the shortest decimal repr of a double
    round-trips exactly, so DuckDB parses bit-identical plane vectors to
    the ones Spark builds via VEC.lit_array_sql."""
    rows = []
    for i, p in enumerate(_PLANES):
        lst = "[" + ", ".join(repr(x) for x in p) + "]"
        rows.append(f"({i // _LSH_BITS}, {i % _LSH_BITS}, {lst})")
    return ",\n      ".join(rows)


# Shared oracle CTE chain: normalized vectors -> per-(vec, table) signature
# -> distinct candidate pairs sharing any table's bucket -> exact verify.
_LSH_DEDUP_CTES = f"""
    planes(t, b, p) AS (VALUES
      {_planes_values_sql()}
    ),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e
    ),
    sig AS (
      SELECT n.vec_id, pl.t,
             string_agg(CASE WHEN list_sum(list_transform(
                               range(1, len(n.v) + 1), i -> n.v[i] * pl.p[i]))
                             >= 0 THEN '1' ELSE '0' END,
                        '' ORDER BY pl.b) AS s
      FROM n CROSS JOIN planes pl
      GROUP BY n.vec_id, pl.t
    ),
    kept AS (
      SELECT vec_id, t, s FROM (
        SELECT vec_id, t, s,
               row_number() OVER (PARTITION BY t, s ORDER BY vec_id) AS rn
        FROM sig
      ) WHERE rn <= {_HOT_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM kept a JOIN kept b
        ON a.t = b.t AND a.s = b.s AND a.vec_id < b.vec_id
    ),
    verified AS (
      SELECT c.vec_a, c.vec_b,
             list_sum(list_transform(range(1, len(x.v) + 1),
                                     i -> x.v[i] * y.v[i]))
               / (x.nrm * y.nrm) AS sim
      FROM cand c
      JOIN n x ON x.vec_id = c.vec_a
      JOIN n y ON y.vec_id = c.vec_b
    )"""


def _sig_sql(t: int) -> str:
    """One LSH table's bucket string, e.g. ``'3:010110'``, as a SQL
    fragment over normalized column ``v``."""
    bits = [
        f"CASE WHEN {VEC.dot_sql('v', VEC.lit_array_sql(_PLANES[t * _LSH_BITS + i]))}"
        f" >= 0 THEN '1' ELSE '0' END"
        for i in range(_LSH_BITS)
    ]
    return f"concat('{t}:', {', '.join(bits)})"


# All 16 tables' signatures as ONE ~180 KB SQL array expression, parsed by
# a single F.expr at use time: the previous shape issued 96 separate
# F.expr(dot_sql(...)) calls, and those py4j parse round-trips alone cost
# ~2 s of driver time per plan BUILD (q98 rebuilds q97's plan, so the
# sf0.01 gate paid it three times). String assembly here is pure Python
# and runs once at import.
_SIG_ARRAY_SQL = "array({})".format(
    ", ".join(_sig_sql(t) for t in range(_LSH_TABLES))
)


def _tagged_rn(n: DataFrame) -> DataFrame:
    """(vec_id, bucket, rn): every vector fanned out to its per-table LSH
    buckets, with the hot-bucket row_number (ids only — narrow shuffle,
    same key the candidate join hashes on anyway)."""
    tagged = n.select(
        "vec_id", F.explode(F.expr(_SIG_ARRAY_SQL)).alias("bucket")
    )
    return tagged.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("bucket").orderBy("vec_id")),
    )


def _candidates_from_rn(rnf: DataFrame, cap: int) -> DataFrame:
    """The capped self-join over an already-tagged (vec_id, bucket, rn)
    frame — split out so the cache-fill path can feed a PERSISTED tagging
    pass to both this and the guard stats (one signature pass, not two)."""
    kept = rnf.filter(F.col("rn") <= cap).drop("rn")
    a = kept.select(F.col("vec_id").alias("vec_a"), "bucket")
    b = kept.select(F.col("vec_id").alias("vec_b"), "bucket")
    return (
        a.join(b, ["bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def _candidates_from(n: DataFrame, cap: int = _HOT_BUCKET_CAP) -> DataFrame:
    """Distinct (vec_a < vec_b) pairs sharing >=1 LSH table bucket, from a
    normalized frame ``(vec_id, v, nrm)``. Each bucket is capped at ``cap``
    members (first by vec_id — deterministic) before the self-join, so a
    degenerate corpus bounds at C(cap, 2) pairs per bucket instead of
    going quadratic (see _HOT_BUCKET_CAP)."""
    return _candidates_from_rn(_tagged_rn(n), cap)


def _guard_stats_from_rn(rnf: DataFrame, cap: int) -> dict:
    row = rnf.agg(
        F.max("rn").alias("max_bucket"),
        F.sum((F.col("rn") > cap).cast("long")).alias("n_evicted"),
        F.count_distinct(
            F.when(F.col("rn") > cap, F.col("bucket"))
        ).alias("n_buckets_over"),
    ).first()
    return {
        "cap": cap,
        "max_bucket": row["max_bucket"] or 0,
        "n_evicted": row["n_evicted"] or 0,
        "n_buckets_over": row["n_buckets_over"] or 0,
    }


def hot_bucket_guard_stats(n: DataFrame, cap: int = _HOT_BUCKET_CAP) -> dict:
    """One ids-only aggregate reporting whether (and how hard) the
    hot-bucket cap binds: a dedup query that silently drops true duplicate
    pairs past the cap needs its recall loss OBSERVABLE, not just
    documented. max_bucket = largest (table, bucket) population,
    n_evicted = member rows the cap removed, n_buckets_over = buckets
    affected. On-demand diagnostic form — runs its own tagging pass; the
    cache-fill path in _lsh_candidates instead persists the tagging frame
    and derives BOTH the stats and the candidate join from it, so the
    96-signature pass runs once per index build (an Observation on the
    shared frame would double-fire: it feeds both self-join sides)."""
    return _guard_stats_from_rn(_tagged_rn(n), cap)


_LOG = logging.getLogger(__name__)


def _lsh_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs for the embeddings table, plus the normalized-vector
    frame to verify them against. The candidate set is the reusable
    "index" of the LSH dedup (q98 re-runs q97's whole pipeline just to
    count its rows), so it is session-cached per embeddings file state and
    persisted: MEMORY_AND_DISK over the narrow (vec_a, vec_b) id pairs. On
    each index (re)build, logs the hot-bucket guard stats — a WARNING when
    the cap evicted anything, so recall degradation under a vector flood
    is visible at runtime."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VEC.as_double("embedding").alias("v")
    )
    n = e.withColumn("nrm", VEC.norm("v")).repartition(
        spark.sparkContext.defaultParallelism
    )
    cand = session_cached(
        spark,
        os.path.join(sf_dir, "embeddings.parquet"),
        ("q97_candidates", sf_dir),
        lambda: _build_candidates(n),
    )
    return cand, n


def _build_candidates(n: DataFrame) -> DataFrame:
    # ONE signature/tagging pass per index build: persist the narrow
    # (vec_id, bucket, rn) frame, read the guard stats off it (this also
    # materializes it), build + materialize the candidate pairs from the
    # cached copy, then free it — cand's lineage still contains the full
    # plan, so later recomputes (cache eviction) remain correct.
    rnf = _tagged_rn(n).persist()
    cand = None
    try:
        stats = _guard_stats_from_rn(rnf, _HOT_BUCKET_CAP)
        cand = _candidates_from_rn(rnf, _HOT_BUCKET_CAP).persist()
        cand.count()
    except BaseException:
        # cand was persisted but never cached (the materializing count or
        # the stats job failed) — release it rather than leak the entry
        if cand is not None:
            cand.unpersist()
        raise
    finally:
        rnf.unpersist()
    if stats["n_evicted"]:
        _LOG.warning(
            "q97 hot-bucket cap bound: %(n_evicted)d members evicted from "
            "%(n_buckets_over)d buckets (largest %(max_bucket)d > cap "
            "%(cap)d) — pairs wholly past the cap are LOST; recall "
            "degrades. Run exact dedup (q28) upstream or raise "
            "llm4._HOT_BUCKET_CAP.",
            stats,
        )
    else:
        _LOG.info("q97 hot-bucket cap inert: %s", stats)
    return cand


@query(
    "q97_lsh_cosine_dedup",
    oracle=f"""
    WITH {_LSH_DEDUP_CTES}
    SELECT vec_a, vec_b, round(sim, 4) AS cosine_sim
    FROM verified WHERE sim >= {_COS_DUP_THRESHOLD}
    """,
    tags=("dedup", "similarity", "lsh", "llm"),
)
def q97_lsh_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE default embedding near-dup query: hyperplane-LSH candidates
    (q36's signature tables, {_LSH_TABLES}x{_LSH_BITS}-bit) -> exact cosine
    verify (q54's expression, threshold {_COS_DUP_THRESHOLD}). Replaces the
    all-pairs q54 as the runnable path; q54 is demoted to the oracle meter
    that q98 measures recall against.

    Scale: candidates come from an equi-join on (table, bucket) — inverted-
    index cost Sum(bucket^2), never the n^2 product, and each bucket is
    capped at _HOT_BUCKET_CAP members so Sum(bucket^2) <= Sum(bucket)*cap
    even on a degenerate one-bucket corpus (tests/test_llm4_hot_bucket.py).
    The bucket join carries only ids; vectors re-attach by two id
    equi-joins AFTER the distinct, so the wide array columns never ride
    the candidate shuffle (narrower than q36's carry-the-vector shape — at
    1e9x64 floats that's the difference between shuffling ids and shuffling
    the corpus x L). Deterministic planes make even the candidate set
    oracle-checkable."""
    cand, n = _lsh_candidates(spark, sf_dir)
    x = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    y = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sim = VEC.dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= _COS_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("sim", 4).alias("cosine_sim"))
    )


@query(
    "q98_lsh_dedup_recall",
    oracle=f"""
    WITH {_LSH_DEDUP_CTES},
    lsh AS (
      SELECT count(*) AS n_lsh FROM verified
      WHERE sim >= {_COS_DUP_THRESHOLD}
    ),
    exact AS (
      SELECT count(*) AS n_exact
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, len(a.v) + 1),
                                    i -> a.v[i] * b.v[i]))
            / (a.nrm * b.nrm) >= {_COS_DUP_THRESHOLD}
    )
    SELECT e.n_exact, l.n_lsh,
           CASE WHEN e.n_exact = 0 THEN 1.0
                ELSE ((2 * l.n_lsh * 10000 + e.n_exact) // (2 * e.n_exact))
                     / 10000.0
           END AS recall
    FROM exact e, lsh l
    """,
    tags=("dedup", "similarity", "lsh", "evaluation", "llm"),
)
def q98_lsh_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of q97's LSH-routed near-dup pairs against q54's exact
    all-pairs ground truth — 'measure, don't guess' for the composition.
    q97's verify stage makes its pairs a subset of q54's, so recall is
    |q97| / |q54|, computed via integer half-up division (q60's pattern).
    Unlike the ANN meters (q72/q93) this one IS oracle-checkable because
    both sides are deterministic SQL. Measured at sf0.01: 0.9322 (55/59
    threshold pairs; the multi-table union-recall geometry note in llm.py
    predicts ~0.92-0.97 for sims 0.40-0.51)."""
    from csv_loader_spark.queries.registry import get

    lsh_n = (
        get("q97_lsh_cosine_dedup")
        .fn(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("n_lsh"))
    )
    exact_n = (
        get("q54_cosine_dedup")
        .fn(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return exact_n.crossJoin(lsh_n).select(
        "n_exact",
        "n_lsh",
        F.when(F.col("n_exact") == 0, F.lit(1.0))
        .otherwise(
            F.expr("(2 * n_lsh * 10000 + n_exact) div (2 * n_exact)") / 10000.0
        )
        .alias("recall"),
    )
