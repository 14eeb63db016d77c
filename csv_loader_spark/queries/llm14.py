"""Round-12c training-data operators: contrastive pair mining, the
word2vec negative-sampling distribution, and deterministic T5-style
span-corruption masks.

Public-literature basis:
- q201: hard-negative mining for contrastive/metric learning
  (Schroff et al. 2015 FaceNet semi-hard mining; Karpukhin et al. 2020
  DPR's hard negatives): per anchor, the most-similar vector with a
  DIFFERENT label (hard negative) and the most-similar with the SAME
  label (hard positive).
- q202: Mikolov et al. 2013 (word2vec): negative samples drawn from the
  unigram distribution raised to the 3/4 power — the table every
  embedding trainer precomputes.
- q203: Raffel et al. 2020 (T5) span corruption: mask ~15% of tokens in
  spans (mean length ~3). Here span starts/lengths derive from the
  engine-portable md5-prefix hash of (doc_id, position), so the mask is
  a pure function of the data — reproducible across engines and runs,
  no RNG state.

Scale notes (100 TB):
- q201 broadcasts the |Q| anchors against the corpus (one scan, no
  shuffle of the corpus); the per-anchor argmax folds map-side via
  max(struct(sim, -id)) — ties deterministic. The documented scale path
  swaps the brute-force scan for the LSH/IVF-bucketed candidate
  generation (q36/q93's operators) — mining semantics unchanged.
- q202 is a token census + one window over the |vocab| aggregate.
- q203 is map-only: tokenize, hash positions, roll spans forward with a
  span-bounded self-join on the tiny per-doc span list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_loader_spark.functions import vectors as VEC
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.queries.registry import query

# --- q201: contrastive hard-negative / hard-positive mining ------------------

HN_QUERIES = 20  # vec_id < 20 are the anchors (q35 convention)


@query(
    "q201_hard_negatives",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < {HN_QUERIES}),
    pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
             CASE WHEN e.label = q.label THEN 1 ELSE 0 END AS same_label,
             list_sum(list_transform(range(1, len(q.v) + 1),
                                     i -> q.v[i] * e.v[i]))
             / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                * sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS sim
      FROM q JOIN e ON e.vec_id <> q.vec_id
    ),
    best AS (
      SELECT query_id, same_label, cand_id, sim,
             row_number() OVER (PARTITION BY query_id, same_label
                                ORDER BY sim DESC, cand_id) AS r
      FROM pairs
    )
    SELECT query_id,
           max(CASE WHEN same_label = 1 AND r = 1 THEN cand_id END)
             AS hard_pos_id,
           round(max(CASE WHEN same_label = 1 AND r = 1 THEN sim END), 4)
             AS hard_pos_sim,
           max(CASE WHEN same_label = 0 AND r = 1 THEN cand_id END)
             AS hard_neg_id,
           round(max(CASE WHEN same_label = 0 AND r = 1 THEN sim END), 4)
             AS hard_neg_sim
    FROM best GROUP BY query_id
    """,
    tags=("similarity", "contrastive", "llm", "r12"),
)
def q201_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-pair mining for contrastive training: per anchor (vec_id <
    {HN_QUERIES}), the most-cosine-similar vector with the SAME label
    (hard positive) and with a DIFFERENT label (hard negative). The
    anchor set broadcasts against one corpus scan; per-anchor winners
    fold map-side as max(struct(sim, -cand_id)) — deterministic ties,
    no window over the pair stream. At corpus scale the candidate
    stream routes through the LSH/IVF bucketed generators (q36/q93)
    instead of the brute scan. An anchor whose label no other vector
    shares keeps its row with NULL hard-positive columns (conditional
    aggregation on BOTH engines — an inner-join oracle would silently
    drop such anchors and diverge from this plan)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", VEC.as_double("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    pairs = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            (F.col("label") == F.col("q_label")).alias("same"),
            F.col("vec_id").alias("cand_id"),
            VEC.cosine("v", "qv").alias("sim"),
        )
    )
    best = pairs.groupBy("query_id").agg(
        F.max(
            F.when(
                F.col("same"),
                F.struct(F.col("sim"), (-F.col("cand_id")).alias("nid")),
            )
        ).alias("bp"),
        F.max(
            F.when(
                ~F.col("same"),
                F.struct(F.col("sim"), (-F.col("cand_id")).alias("nid")),
            )
        ).alias("bn"),
    )
    return best.select(
        "query_id",
        (-F.col("bp.nid")).cast("long").alias("hard_pos_id"),
        F.round("bp.sim", 4).alias("hard_pos_sim"),
        (-F.col("bn.nid")).cast("long").alias("hard_neg_id"),
        F.round("bn.sim", 4).alias("hard_neg_sim"),
    )


# --- q202: word2vec negative-sampling distribution ---------------------------

NEG_TOPK = 30
NEG_POWER = 0.75


@query(
    "q202_negative_sampling",
    oracle=rf"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents
    ),
    c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY w),
    p AS (
      SELECT w, cnt, pow(CAST(cnt AS DOUBLE), {NEG_POWER}) AS wgt,
             sum(pow(CAST(cnt AS DOUBLE), {NEG_POWER})) OVER () AS z
      FROM c
    ),
    ranked AS (
      SELECT w, cnt, round(wgt / z, 4) AS p_neg,
             CAST(row_number() OVER (ORDER BY cnt DESC, w) AS INTEGER)
               AS n_rank,
             round(sum(wgt) OVER (ORDER BY cnt DESC, w
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / z, 4)
               AS cum_p
      FROM p
    )
    SELECT w, cnt, p_neg, cum_p, n_rank FROM ranked
    WHERE n_rank <= {NEG_TOPK}
    """,
    tags=("text", "sampling", "llm", "r12"),
)
def q202_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec negative-sampling table: unigram counts raised to
    {NEG_POWER}, normalized, with the cumulative mass in frequency-rank
    order (the prefix an alias/bisect sampler consumes). One token
    census; every window runs over the |vocab| aggregate. Top-{NEG_TOPK}
    rows gate the result; the distribution itself is corpus-wide."""
    from csv_loader_spark.functions import text as TXT

    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(TXT.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wgt = F.pow(F.col("cnt").cast("double"), NEG_POWER)
    z = F.sum(wgt).over(W.partitionBy())
    w_rank = W.orderBy(F.col("cnt").desc(), "w")
    w_cum = w_rank.rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = c.select(
        "w",
        "cnt",
        F.round(wgt / z, 4).alias("p_neg"),
        F.round(F.sum(wgt).over(w_cum) / z, 4).alias("cum_p"),
        F.row_number().over(w_rank).cast("int").alias("n_rank"),
    )
    return ranked.filter(F.col("n_rank") <= NEG_TOPK).select(
        "w", "cnt", "p_neg", "cum_p", "n_rank"
    )


# --- q203: deterministic T5 span-corruption masks ----------------------------

#: a span STARTS at token position i when hash(doc_id, i) % SPAN_EVERY == 0
#: (≈1/SPAN_EVERY start rate); its length is 2 + hash % 3 (mean 3).
SPAN_EVERY = 18
SPAN_LEN_MOD = 3


def _span_hash(doc: str, pos: str) -> tuple[str, str]:
    """(duckdb_sql, spark_sql) for the portable position hash."""
    from csv_loader_spark.functions.hashing import hash32_spark_sql, hash32_sql

    expr = f"CAST({doc} AS VARCHAR) || ':' || CAST({pos} AS VARCHAR)"
    sexpr = f"concat(CAST({doc} AS STRING), ':', CAST({pos} AS STRING))"
    return hash32_sql(expr), hash32_spark_sql(sexpr)


@query(
    "q203_span_corruption",
    oracle=(
        lambda h=_span_hash("doc_id", "i")[0]: rf"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents
    ),
    pos AS (
      SELECT t.doc_id, len(t.toks) AS n_tok, u.i
      FROM t, LATERAL unnest(range(1, len(t.toks) + 1)) AS u(i)
    ),
    starts AS (
      SELECT doc_id, n_tok, i AS s,
             2 + ({h}) % {SPAN_LEN_MOD} AS span_len
      FROM pos WHERE ({h}) % {SPAN_EVERY} = 0
    ),
    covered AS (
      SELECT DISTINCT doc_id, n_tok, s + o AS pos
      FROM starts, LATERAL unnest(range(0, span_len)) AS v(o)
      WHERE s + o <= n_tok
    )
    SELECT doc_id,
           CAST(any_value(n_tok) AS BIGINT) AS n_tok,
           CAST(count(*) AS BIGINT) AS masked_tokens,
           round(CAST(count(*) AS DOUBLE) / any_value(n_tok), 4)
             AS mask_ratio
    FROM covered GROUP BY doc_id
    """
    )(),
    tags=("text", "masking", "llm", "r12"),
)
def q203_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption masks derived PURELY from the portable
    hash of (doc_id, token position): a span starts where
    hash % {SPAN_EVERY} == 0 and runs 2 + hash % {SPAN_LEN_MOD} tokens
    (mean 3, ≈15% coverage) — reproducible across engines, runs, and
    partitionings with no RNG state to checkpoint. Map-only: tokenize,
    explode positions, filter starts, explode each span's offsets,
    distinct-count covered positions per doc."""
    from csv_loader_spark.functions import text as TXT

    _, spark_hash = _span_hash("doc_id", "i")
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", TXT.tokens("text").alias("toks")).select(
        "doc_id",
        F.size("toks").alias("n_tok"),
        F.explode(F.sequence(F.lit(1), F.size("toks"))).alias("i"),
    )
    h = F.expr(spark_hash)
    starts = toks.filter(h % SPAN_EVERY == 0).select(
        "doc_id",
        "n_tok",
        F.col("i").alias("s"),
        (F.lit(2) + (h % SPAN_LEN_MOD)).alias("span_len"),
    )
    covered = (
        starts.select(
            "doc_id",
            "n_tok",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + F.col("span_len") - 1)
            ).alias("pos"),
        )
        .filter(F.col("pos") <= F.col("n_tok"))
        .distinct()
    )
    return covered.groupBy("doc_id").agg(
        F.first("n_tok").cast("long").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("masked_tokens"),
        F.round(F.count(F.lit(1)).cast("double") / F.first("n_tok"), 4).alias(
            "mask_ratio"
        ),
    )


# --- q206: audio features through real WAV bytes ------------------------------


@query(
    "q206_audio_features",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             800 + (doc_id % 5) * 160 AS n,
             8 + (doc_id % 7) AS half,
             8000 + (doc_id % 9) * 500 AS amp
      FROM documents
    )
    SELECT doc_id,
           1 AS parse_ok,
           8000 AS sr,
           CAST(n AS INTEGER) AS n_samples,
           CAST(n // 8 AS INTEGER) AS duration_ms,
           round(CAST(amp AS DOUBLE), 4) AS rms,
           CAST((n - 1) // half AS INTEGER) AS zero_crossings,
           CAST(amp AS INTEGER) AS peak
    FROM p
    """,
    tags=("multimodal", "audio", "llm", "r12"),
)
def q206_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column plumbing proven end-to-end THROUGH THE BYTES: real
    RIFF/WAVE PCM16 files are synthesized per document (the audio-lake
    stand-in, ops/multimodal.attach_fake_audio), then a second
    Arrow-batched stage PARSES the chunk list and computes duration /
    RMS / zero-crossings / peak from the decoded samples
    (ops/multimodal.audio_features — never from metadata). The oracle
    states the closed forms of the synthesized square waves (RMS ==
    amplitude, crossings == (n-1) div half-period), so any parse or
    feature bug fails the exact gate. Map-only: two mapInPandas stages,
    no shuffle."""
    from csv_loader_spark.ops.multimodal import attach_fake_audio, audio_features

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    feats = audio_features(attach_fake_audio(d))
    return feats.select(
        "doc_id",
        F.col("parse_ok").cast("int").alias("parse_ok"),
        "sr",
        "n_samples",
        "duration_ms",
        F.round("rms", 4).alias("rms"),
        "zero_crossings",
        "peak",
    )
