"""Round-8 operators: materialized data mixing, join-skew auditing, BPE
pair statistics, and sketch calibration.

- q111: TEMPERATURE-MIX SAMPLER — q92 computes the mix WEIGHTS; this
  materializes the mixed corpus: per-source acceptance thresholds from
  the T=2 weights, applied as a deterministic hash-accept per document
  (q66's md5-bucket convention — seed-free, engine-portable, stable
  under re-partitioning). The shape that scales: rates are a
  |sources|-row broadcast, the corpus is one scan + filter, no shuffle.
- q112: JOIN-KEY SKEW AUDIT — the heaviest keys per join column with
  their share of the table, the report that decides salting (q63) or
  AQE skew-join before a big join ships. One groupBy per audited column
  + a tiny window top-k.
- q113: BPE MERGE-STEP STATISTICS — corpus-wide adjacent-pair
  frequencies over the token stream (every occurrence, not per-doc
  distinct), top candidates by count: the counting kernel a BPE/
  wordpiece trainer iterates. One explode + one agg; the pair stream is
  built with the zip-of-shifted-slices shape (functions/text.py
  word_ngrams) so nothing hits the interpreted-HOF trap.
- q114: MINHASH CALIBRATION — for q34's verified near-dup pairs,
  the sketch's Jaccard ESTIMATE (fraction of agreeing minhashes)
  against the exact Jaccard it stands in for, per pair with the error.
  The q98/q109 'measure, don't guess' pattern applied to the sketch's
  VALUES rather than its candidate recall; fully oracle-checked because
  the md5 minhash family is engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from csv_loader_spark.functions import text as TXT
from csv_loader_spark.functions.hashing import hash16_spark_sql, hash16_sql
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.ops.dedup import N_HASHES, minhash_signatures
from csv_loader_spark.queries.llm import (
    _SHINGLE_CTE,
    _minhash_oracle_sigs,
    minhash_lsh_pairs,
)
from csv_loader_spark.queries.registry import query

# ---------------------------------------------------------------------------
# q111: deterministic temperature-mix sampler
# ---------------------------------------------------------------------------


@query(
    "q111_mix_sample",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    rates AS (
      -- accept rate sqrt(n_min/n_s): the T=2 mix normalized so the
      -- smallest source keeps every doc. floor(rate * 65536) is engine-
      -- deterministic: IEEE sqrt + an exact power-of-two scale.
      SELECT source,
             CAST(floor(sqrt(CAST(min(n_docs) OVER () AS DOUBLE) / n_docs)
                        * 65536) AS BIGINT) AS thr
      FROM counts
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {hash16_sql("CAST(d.doc_id AS VARCHAR)")} < r.thr
    """,
    tags=("mixing", "sampling", "llm"),
)
def q111_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature-rebalanced training mix (T=2): each
    source s keeps documents at rate sqrt(n_min/n_s) — the smallest
    source survives whole, big sources downsample toward equal footing —
    selected by md5 hash bucket per doc_id (q66's convention), so the
    sample is reproducible, seed-free, and identical on any engine or
    partitioning.

    Scale: the rate table is |sources| rows joined with an explicit
    broadcast; the corpus side is scan -> hash -> filter, zero shuffles
    (plan-asserted). At 100 TB this is the only acceptable shape — a
    rand() sample is neither reproducible nor replayable, and any
    shuffle-based stratifier moves the corpus to sample it."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    rates = counts.select(
        "source",
        F.floor(
            F.sqrt(
                F.min("n_docs").over(W.partitionBy()).cast("double")
                / F.col("n_docs")
            )
            * 65536
        ).alias("thr"),
    )
    bucket = F.expr(hash16_spark_sql("CAST(doc_id AS STRING)"))
    return (
        d.join(F.broadcast(rates), "source")
        .filter(bucket < F.col("thr"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# q112: join-key skew audit
# ---------------------------------------------------------------------------

_SKEW_TOPK = 5


def _skew_oracle(table: str, col: str) -> str:
    return f"""
    SELECT '{table}.{col}' AS key_col, CAST(key AS VARCHAR) AS key,
           n_rows, ((2 * n_rows * 10000 + total) // (2 * total)) / 10000.0
             AS share, rnk
    FROM (
      SELECT key, n_rows, CAST(sum(n_rows) OVER () AS BIGINT) AS total,
             row_number() OVER (ORDER BY n_rows DESC, key) AS rnk
      FROM (SELECT {col} AS key, count(*) AS n_rows FROM {table} GROUP BY 1)
    ) WHERE rnk <= {_SKEW_TOPK}
    """


@query(
    "q112_skew_report",
    oracle=" UNION ALL ".join(
        [
            _skew_oracle("lineitem", "l_orderkey"),
            _skew_oracle("orders", "o_custkey"),
            _skew_oracle("events", "user_id"),
        ]
    ),
    tags=("audit", "skew", "agg"),
)
def q112_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit: the {_SKEW_TOPK} heaviest keys per audited
    join column with their row count and share of the table — the number
    you read BEFORE a big join to decide broadcast / salting (q63) / AQE
    skew-join. A hot key here is the partition that will straggle.

    Scale: per column one partial-agg shuffle on the audited key (the
    same exchange the real join would need) down to |distinct| rows, then
    TakeOrdered top-{_SKEW_TOPK} over the aggregated frame (distributed
    partial top-k — NOT a single-partition window, which would serialize
    billions of distinct keys through one task); rank and share attach on
    the {_SKEW_TOPK}-row result."""
    parts = []
    for table, col in (
        ("lineitem", "l_orderkey"),
        ("orders", "o_custkey"),
        ("events", "user_id"),
    ):
        t = load_table(spark, sf_dir, table)
        # tie-break on the NATIVE key (the oracle's ORDER BY semantics) —
        # the string cast happens only at output
        counts = t.groupBy(F.col(col).alias("key")).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        # Adjudicated (r8 review): deriving the total from the counts
        # frame does NOT save the second scan (no ReusedExchange — the
        # limit and global-agg subtrees diverge before the exchange, so
        # Spark re-runs the groupBy: scan + shuffle again), while the
        # count-star pass below is an EMPTY-projection scan (no columns
        # decoded) — the cheapest possible second pass. The true
        # single-scan shape (sum() OVER () on counts, the oracle's form)
        # is a single-partition window over |distinct keys| rows — the
        # exact anti-pattern this docstring rules out at scale.
        total = t.groupBy().agg(F.count(F.lit(1)).alias("total"))
        top = counts.orderBy(F.col("n_rows").desc(), "key").limit(_SKEW_TOPK)
        parts.append(
            top.crossJoin(F.broadcast(total)).select(
                F.lit(f"{table}.{col}").alias("key_col"),
                F.col("key").cast("string").alias("key"),
                "n_rows",
                (
                    F.expr("(2 * n_rows * 10000 + total) div (2 * total)")
                    / 10000.0
                ).alias("share"),
                F.row_number()
                .over(W.orderBy(F.col("n_rows").desc(), F.col("key")))
                .alias("rnk"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# q113: BPE merge-step pair statistics
# ---------------------------------------------------------------------------

_BPE_TOPK = 20


@query(
    "q113_bpe_pairs",
    oracle=rf"""
    WITH toks AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS pair
      FROM toks WHERE len(t) >= 2
    )
    SELECT pair, count(*) AS n_occurrences,
           row_number() OVER (ORDER BY count(*) DESC, pair) AS rnk
    FROM pairs GROUP BY pair
    ORDER BY rnk LIMIT {_BPE_TOPK}
    """,
    tags=("text", "bpe", "llm"),
)
def q113_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE/wordpiece merge-step kernel: corpus-wide frequencies of
    ADJACENT symbol pairs (every occurrence — per-doc distinct would
    miscount merges), top {_BPE_TOPK} candidates. A tokenizer trainer
    iterates exactly this count -> merge winner -> recount loop; the
    counting pass is the distributed part and this is its shape.

    Scale: pair extraction is the zip-of-shifted-slices expression (no
    interpreted-HOF re-evaluation, functions/text.py word_ngrams) fused
    into the scan; one partial-agg shuffle on the pair key; the top-k is
    a TakeOrdered over the aggregated frame (distributed partial top-k,
    never a single-partition window over the whole pair vocabulary)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = d.select(F.explode(TXT.word_ngrams("text", 2)).alias("pair"))
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_occurrences"))
    top = counts.orderBy(F.col("n_occurrences").desc(), "pair").limit(_BPE_TOPK)
    return top.select(
        "pair",
        "n_occurrences",
        F.row_number()
        .over(W.orderBy(F.col("n_occurrences").desc(), "pair"))
        .alias("rnk"),
    )


# ---------------------------------------------------------------------------
# q114: minhash Jaccard-estimate calibration
# ---------------------------------------------------------------------------


@query(
    "q114_minhash_calibration",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_minhash_oracle_sigs()},
    inter AS (
      SELECT e1.doc_id AS doc_a, e2.doc_id AS doc_b, count(*) AS n_inter
      FROM exploded e1
      JOIN exploded e2 ON e1.s = e2.s AND e1.doc_id < e2.doc_id
      JOIN cand c ON c.doc_a = e1.doc_id AND c.doc_b = e2.doc_id
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT i.doc_a, i.doc_b,
             CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter)
               AS jac
      FROM inter i
      JOIN doc_sizes sa ON sa.doc_id = i.doc_a
      JOIN doc_sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter)
            >= 0.3
    ),
    agree AS (
      SELECT v.doc_a, v.doc_b, v.jac,
             {" + ".join(f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))}
               AS n_agree
      FROM verified v
      JOIN sigs a ON a.doc_id = v.doc_a
      JOIN sigs b ON b.doc_id = v.doc_b
    )
    SELECT doc_a, doc_b,
           ((2 * n_agree * 10000 + {N_HASHES}) // (2 * {N_HASHES}))
             / 10000.0 AS est_jaccard,
           round(jac, 4) AS exact_jaccard,
           round(abs(((2 * n_agree * 10000 + {N_HASHES})
                      // (2 * {N_HASHES})) / 10000.0 - round(jac, 4)), 4)
             AS abs_err
    FROM agree
    """,
    tags=("dedup", "lsh", "evaluation", "llm"),
)
def q114_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration for the MinHash family: per verified near-dup
    pair (q34's output), the Jaccard the 6-hash sketch ESTIMATES
    (agreeing-minhash fraction — the unbiased estimator the LSH banding
    is built on) next to the exact Jaccard, with the absolute error. q110
    proves the candidate GENERATOR loses nothing; this measures how well
    the sketch's VALUES track truth — the number that justifies (or
    indicts) using est_jaccard as a cheap pre-filter at scale, where
    exact verification is the expensive stage.

    Scale: reuses q34's capped candidate pipeline; the signature frames
    re-attach by two id equi-joins (6 short hash columns, not shingle
    sets), so calibration adds no candidate-set growth."""
    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(d)
    pairs = minhash_lsh_pairs(d)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    est = (
        F.expr(
            f"(2 * n_agree * 10000 + {N_HASHES}) div (2 * {N_HASHES})"
        )
        / 10000.0
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_agree", n_agree.cast("long"))
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            F.col("jaccard").alias("exact_jaccard"),
            F.round(F.abs(est - F.col("jaccard")), 4).alias("abs_err"),
        )
    )
