"""Round-8 operators, part two: passage-granular dedup, deterministic
corpus splits, per-document duplication metering, and quantized vector
search.

- q115: PASSAGE-LEVEL EXACT DEDUP (CCNet-style) — dedup at sub-document
  granularity: split every document into fixed 20-word passages, keep
  only the globally-first occurrence of each distinct passage, and
  reassemble each document from its surviving passages. The shape that
  scales: passages shuffle once on their own text (the dedup key), the
  reassembly shuffles once on doc_id — no all-pairs anything, and the
  passage key space shrinks with duplication.
- q116: DETERMINISTIC STRATIFIED SPLIT — train/valid/test assignment by
  portable md5 hash-bucket (q66's convention: seed-free, stable under
  re-partitioning and engine-portable), reported per (source, split)
  with exact basis-point shares. One scan + one tiny agg; the
  assignment itself is map-only and needs no shuffle at 100 TB.
- q117: PER-DOC DUPLICATION FRACTION (RefinedWeb-style dup meter) —
  for each document, the fraction of its distinct 3-gram shingles that
  also appear in at least one other document. This is the corpus-health
  number dedup pipelines monitor; integer basis points so the exact
  gate never touches float rounding.
- q118: INT8 SCALAR-QUANTIZED KNN + RECALL — per-dimension min/max
  scalar quantization of the embedding column to 8 bits, cosine top-k
  over the DEQUANTIZED vectors, and the per-query recall against the
  exact top-k — fully oracle-checked (both rankings and their overlap
  are deterministic double arithmetic mirrored in DuckDB). This is the
  production memory-bound trick (4x smaller vectors -> 4x less scan
  traffic) with its accuracy cost measured, not guessed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from csv_loader_spark.functions import text as TXT
from csv_loader_spark.functions import vectors as VEC
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.ops.curate import (
    PASSAGE,
    QUOTA_KEY_SQL,
    SPLIT_KEY_SQL,
    URL_RE,
    curate,
    doc_passages,
    passage_keep_first,
    quota_rank,
    split_case,
    split_col,
)
from csv_loader_spark.queries.llm import (
    _KNN_K,
    _KNN_QUERIES,
    _SHINGLE_CTE,
    _shingled,
)
from csv_loader_spark.queries.registry import get, query

# ---------------------------------------------------------------------------
# q115: passage-level exact dedup
# ---------------------------------------------------------------------------

_PASSAGE_CTE = rf"""
    toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n
      FROM documents
    ),
    passages AS (
      SELECT doc_id, i,
             array_to_string(t[1 + i * {PASSAGE} : i * {PASSAGE} + {PASSAGE}], ' ') AS passage
      FROM toks, LATERAL unnest(range(0, (n - 1) // {PASSAGE} + 1)) AS u(i)
      WHERE n >= 1
    ),
    flagged AS (
      SELECT doc_id, i, passage,
             row_number() OVER (PARTITION BY md5(passage)
                                ORDER BY doc_id, i) = 1 AS keep
      FROM passages
    )
"""


@query(
    "q115_passage_dedup",
    oracle=f"""
    WITH {_PASSAGE_CTE}
    SELECT doc_id,
           count(*) AS n_passages,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN keep THEN passage END, ' ' ORDER BY i), ''))
             AS kept_fp
    FROM flagged
    GROUP BY doc_id
    """,
    tags=("dedup", "text", "llm", "r8"),
)
def q115_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style sub-document dedup: split each doc into fixed
    20-word passages, keep only the globally-first occurrence of
    each distinct passage (first = smallest (doc_id, position)), and
    report each doc's passage count, surviving count, and the fingerprint
    of its reassembled (order-preserving) deduped text.

    Scale: one shuffle on the passage key (window keep-first — the dedup
    key, whose cardinality FALLS with duplication), one shuffle on
    doc_id for reassembly. No pairwise joins; boilerplate passages
    collapse into single hot groups that a window top-1 handles in one
    pass. The partition key is md5(passage) — the 100 TB shuffle-width
    bound promoted to the code's default (r9), mirrored in the oracle;
    a 32-byte key regardless of passage length, ordering within a
    bucket unchanged (doc_id, i).
    """
    d = load_table(spark, sf_dir, "documents")
    flagged = doc_passages(d).withColumn("keep", passage_keep_first())
    kept_structs = F.array_sort(
        F.collect_list(
            F.when(F.col("keep"), F.struct(F.col("i"), F.col("passage")))
        )
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_passages"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(F.transform(kept_structs, lambda s: s["passage"]), " ")
        ).alias("kept_fp"),
    )


# ---------------------------------------------------------------------------
# q116: deterministic stratified train/valid/test split
# ---------------------------------------------------------------------------

@query(
    "q116_stratified_split",
    oracle=f"""
    WITH assigned AS (
      SELECT source,
             {split_case(SPLIT_KEY_SQL)} AS split
      FROM documents
    ),
    counts AS (
      SELECT source, split, count(*) AS n_docs FROM assigned GROUP BY source, split
    )
    SELECT source, split, n_docs,
           CAST(n_docs * 10000 // sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
             AS share_bp
    FROM counts
    """,
    tags=("sampling", "split", "llm"),
)
def q116_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 96/2/2 train/valid/test assignment: split =
    hash16(doc_id || salt) % 100 bucketed — seed-free, engine-portable,
    and stable under re-partitioning/appends (a doc's split never changes
    when the corpus grows, unlike rand()-with-seed or ntile approaches).
    Reports per (source, split) document counts and exact basis-point
    shares — the stratification audit.

    Scale: the assignment is a map-only expression on a pushed 2-column
    scan; the report aggregates to |sources|x3 rows. The window total
    runs on the already-aggregated frame, not the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    assigned = d.select("source", split_col().alias("split"))
    counts = assigned.groupBy("source", "split").agg(F.count("*").alias("n_docs"))
    tot = F.sum("n_docs").over(W.partitionBy("source"))
    return counts.withColumn("_tot", tot).withColumn(
        "share_bp", F.expr("CAST(n_docs * 10000 div _tot AS BIGINT)")
    ).drop("_tot")


# ---------------------------------------------------------------------------
# q117: per-document duplication fraction (RefinedWeb-style dup meter)
# ---------------------------------------------------------------------------


@query(
    "q117_dup_fraction",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    df AS (
      SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS c
      FROM exploded
    )
    SELECT doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
             AS dup_bp
    FROM df
    GROUP BY doc_id
    """,
    tags=("dedup", "metrics", "llm", "r8"),
)
def q117_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication fraction: the share of a doc's distinct
    3-gram shingles that appear in >= 2 documents — the corpus-health
    meter dedup pipelines track (a doc at 10000 bp is pure boilerplate;
    the corpus-wide distribution decides whether near-dup dedup is worth
    its shuffle). Integer basis points (floor) keep the exact gate away
    from float rounding entirely.

    Scale: explode per-doc DISTINCT shingles (bounded by doc length),
    one shuffle on the shingle for the document-frequency window, one
    shuffle back on doc_id for the roll-up. Same sub-quadratic posting
    shape as q34/q96; a df cap (stop-list) bolts on unchanged if a
    boilerplate flood makes shingle groups hot.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = d.filter(F.size(TXT.tokens("text")) >= 3).select(
        "doc_id", F.explode(TXT.word_shingles("text")).alias("s")
    )
    c = F.count("*").over(W.partitionBy("s"))
    df = sh.withColumn("c", c)
    n_dup = F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).cast("long")
    return (
        df.groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"), n_dup.alias("n_dup"))
        .withColumn("dup_bp", F.expr("CAST(n_dup * 10000 div n_shingles AS BIGINT)"))
    )




def _quantized_knn_recall(spark: SparkSession, joined: DataFrame) -> DataFrame:
    """Shared search/recall scaffolding for the quantized-KNN family
    (q118 SQ8, q125 PQ): given (vec_id, v exact-double-vector, d
    dequantized-vector), broadcast the query slice against the corpus
    (q35's shape — the corpus never hash-shuffles), compute exact and
    quantized cosine ranks in ONE pair pass with two windows, and roll up
    per-query recall in basis points. One copy so a tie-break or recall
    change can never drift between the two quantizers."""
    corpus = (
        joined.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            F.col("d").alias("cd"),
        )
        .withColumn("cn", VEC.norm("cv"))
        .withColumn("cdn", VEC.norm("cd"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    queries = (
        joined.filter(F.col("vec_id") < _KNN_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("d").alias("qd"),
        )
        .withColumn("qn", VEC.norm("qv"))
        .withColumn("qdn", VEC.norm("qd"))
    )
    pairs = corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
    sim = VEC.dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    qsim = VEC.dot("qd", "cd") / (F.col("qdn") * F.col("cdn"))
    we = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    wq = W.partitionBy("query_id").orderBy(F.col("qsim").desc(), F.col("neighbor_id"))
    ranked = pairs.select(
        "query_id", "neighbor_id", sim.alias("sim"), qsim.alias("qsim")
    ).select(
        "query_id",
        F.row_number().over(we).alias("exact_rank"),
        F.row_number().over(wq).alias("quant_rank"),
    )
    hit = F.sum(
        F.when((F.col("exact_rank") <= _KNN_K) & (F.col("quant_rank") <= _KNN_K), 1)
        .otherwise(0)
    ).cast("long")
    return (
        ranked.groupBy("query_id")
        .agg(hit.alias("n_hit"))
        .withColumn("recall_bp", F.expr(f"CAST(n_hit * 10000 div {_KNN_K} AS BIGINT)"))
    )


# ---------------------------------------------------------------------------
# q118: int8 scalar-quantized KNN with exact-oracle recall
# ---------------------------------------------------------------------------


@query(
    "q118_sq8_knn_recall",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
      FROM e, LATERAL unnest(range(1, len(v) + 1)) AS u(i)
      GROUP BY i
    ),
    arrs AS (
      SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims
    ),
    dq AS (
      SELECT vec_id, v,
             list_transform(range(1, len(v) + 1), i ->
               mns[i] + (CASE WHEN mxs[i] = mns[i] THEN 0.0
                              ELSE CAST(floor((v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]) + 0.5) AS DOUBLE)
                         END) * (mxs[i] - mns[i]) / 255.0) AS d
      FROM e, arrs
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
               / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.v, x -> x * x)))) AS sim,
             list_sum(list_transform(range(1, len(q.d) + 1), i -> q.d[i] * c.d[i]))
               / (sqrt(list_sum(list_transform(q.d, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.d, x -> x * x)))) AS qsim
      FROM dq q JOIN dq c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_KNN_QUERIES}
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
               AS exact_rank,
             row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, neighbor_id)
               AS quant_rank
      FROM pairs
    )
    SELECT query_id,
           CAST(sum(CASE WHEN exact_rank <= {_KNN_K} AND quant_rank <= {_KNN_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN exact_rank <= {_KNN_K} AND quant_rank <= {_KNN_K}
                         THEN 1 ELSE 0 END) * 10000 // {_KNN_K} AS BIGINT) AS recall_bp
    FROM ranked
    GROUP BY query_id
    """,
    tags=("similarity", "quantization", "llm", "r8"),
)
def q118_sq8_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column (per-dimension
    min/max, the FAISS SQ8 recipe) + cosine top-k over the
    DEQUANTIZED vectors, reporting each query's recall against the exact
    top-k in integer basis points. The production memory trick —
    4x smaller vectors, 4x less scan bandwidth — with its accuracy cost
    measured per query and proven against an exact oracle (quantization,
    both rankings, and the overlap are deterministic double arithmetic,
    identical expression shapes both engines).

    Scale: the per-dim min/max is one narrow agg broadcast back as two
    d-length arrays (at 100 TB: train on a sample — the codebook is a
    statistic, not a per-row artifact); quantize is map-only; the search
    reuses q35's broadcast-queries shape so the corpus never shuffles;
    both rankings come out of ONE pair pass (two windows over the same
    |Q|x|corpus| similarity frame, one shuffle).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VEC.as_double("embedding").alias("v")
    )
    stats = (
        e.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    arrs = stats.agg(
        F.expr(
            "transform(array_sort(collect_list(named_struct('i', i, 'mn', mn))), s -> s.mn)"
        ).alias("mns"),
        F.expr(
            "transform(array_sort(collect_list(named_struct('i', i, 'mx', mx))), s -> s.mx)"
        ).alias("mxs"),
    )
    # Quantize -> dequantize entirely in zip_with lambdas that touch only
    # their own variables (functions/text.py documents why outer-expression
    # references inside HOF lambdas are a 20x trap).
    dq = (
        e.crossJoin(F.broadcast(arrs))
        .withColumn(
            "z", F.expr("zip_with(v, mns, (x, lo) -> named_struct('x', x, 'lo', lo))")
        )
        .withColumn(
            "q",
            F.expr(
                "zip_with(z, mxs, (s, hi) -> CASE WHEN hi = s.lo THEN 0.0D "
                "ELSE CAST(floor((s.x - s.lo) * 255.0D / (hi - s.lo) + 0.5D) AS DOUBLE) END)"
            ),
        )
        .withColumn(
            "d",
            F.expr(
                "zip_with(q, zip_with(mns, mxs, (lo, hi) -> named_struct('lo', lo, 'hi', hi)), "
                "(qi, s) -> s.lo + qi * (s.hi - s.lo) / 255.0D)"
            ),
        )
        .select("vec_id", "v", "d")
    )
    return _quantized_knn_recall(spark, dq)


# ---------------------------------------------------------------------------
# q119: prefix-filtered exact Jaccard join (PPJoin-style)
# ---------------------------------------------------------------------------

_TAU = 0.5  # must match q33's threshold — q119 shares q33's oracle

# The df-sorted token index is referenced three times in q119's DAG
# (prefix explode, verify side a, verify side b); Spark re-computes
# unshared subtrees, so the index is persisted once per (session, dir)
# and invalidated on file change — llm4._CAND_CACHE's exact pattern.
_TOKIDX_CACHE: dict[
    tuple[SparkSession, str], tuple[tuple[int, int] | None, DataFrame]
] = {}


def prefix_jaccard_index(shingled: DataFrame) -> DataFrame:
    """(doc_id, shingles) → (doc_id, toks, n_sh, pref): every doc's
    distinct shingles sorted by ascending document frequency (token
    tie-break — one global total order) plus the PPJoin prefix slice.
    One explode + one token-keyed shuffle + one collect. NOT persisted —
    callers that reference it more than once (q119 does, three subtrees)
    must persist it themselves."""
    ex = shingled.select("doc_id", F.explode("shingles").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return (
        ex.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(named_struct('df', df, 's', s))),"
                " x -> x.s)"
            ).alias("toks")
        )
        .withColumn("n_sh", F.size("toks"))
        .withColumn(
            "pref",
            F.expr(
                f"slice(toks, 1, n_sh - CAST(ceil(n_sh * {_TAU}) AS INT) + 1)"
            ),
        )
    )


def prefix_jaccard_candidates(index: DataFrame) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from prefix tokens, pruned by the
    AllPairs length filter and the PPJoin positional filter — both
    LOSSLESS for J >= tau (see q119's docstring for the argument)."""
    prefix = index.select("doc_id", "n_sh", F.posexplode("pref").alias("p", "s"))
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    pa, pb = F.col("a.p") + 1, F.col("b.p") + 1
    overlap_ub = F.lit(1) + F.least(na - pa, nb - pb)
    overlap_need = F.expr(
        f"CAST(ceil((a.n_sh + b.n_sh) * {_TAU} / (1 + {_TAU})) AS INT)"
    )
    return (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.greatest(na, nb) * _TAU <= F.least(na, nb))
            & (overlap_ub >= overlap_need),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def prefix_jaccard_pairs(index: DataFrame) -> DataFrame:
    """Verified (doc_a, doc_b, jaccard) pairs with J >= tau from a
    (persisted) prefix index: generate candidates from prefix tokens,
    verify on the full sorted-token arrays (array_intersect, JVM-side)."""
    cand = prefix_jaccard_candidates(index)
    sa = index.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("sha"))
    sb = index.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("shb"))
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sha", "shb")))
        .withColumn("na", F.size("sha"))
        .withColumn("nb", F.size("shb"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return verified.filter(jac >= _TAU).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


def _df_sorted_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-per-(session, dir) prefix index over the documents
    table; persisted because three plan subtrees read it (building it
    thrice measured 8.2 s vs 0.9 s at sf0.1). At 100 TB this
    materialization IS the algorithm's index — every set-similarity
    system writes it before the join. Lifecycle (fingerprint
    invalidation, persist, leak-safe materialization) lives in the shared
    io.tables.persisted_by_fingerprint helper."""
    import os

    from csv_loader_spark.io.tables import persisted_by_fingerprint

    return persisted_by_fingerprint(
        _TOKIDX_CACHE,
        (spark, sf_dir),
        os.path.join(sf_dir, "documents.parquet"),
        lambda: prefix_jaccard_index(_shingled(spark, sf_dir)),
    )


def jaccard_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dup-cluster family's edge list (q67, q143): every (doc_a,
    doc_b) pair with exact 3-gram Jaccard >= 0.5, generated through the
    PREFIX-FILTERED join above — the lossless 100 TB shape — instead of
    the naive Σdf² explode-and-self-join it replaced in r10.
    tests/test_plans.py asserts this function's plan carries the PPJoin
    prune (positional/length filters in the candidate join condition,
    array_intersect verification) and no cartesian shape, so a
    regression back to the raw-shingle self-join fails CI."""
    return prefix_jaccard_pairs(_df_sorted_tokens(spark, sf_dir)).select(
        "doc_a", "doc_b"
    )


@query(
    "q119_prefix_jaccard_join",
    oracle=get("q33_ngram_jaccard").oracle,
    tags=("dedup", "similarity", "llm", "r8"),
)
def q119_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.5 join via PREFIX FILTERING (the
    PPJoin/AllPairs family, Xiao et al. WWW'08; Bayardo et al. WWW'07):
    order every doc's shingles by ascending document frequency (rarest
    first, token string tie-break — one global total order), keep only the
    first n - ceil(tau*n) + 1 tokens as the doc's PREFIX, generate
    candidate pairs from prefix tokens only — further pruned by the
    AllPairs LENGTH filter (J >= tau forces tau*max(|A|,|B|) <=
    min(|A|,|B|)) and the PPJoin POSITIONAL filter (for the first shared
    token at positions pa/pb in the df-sorted lists, every other common
    token follows it in BOTH lists because the order is one global total
    order, so overlap <= 1 + min(na-pa, nb-pb), which must reach
    ceil((na+nb)*tau/(1+tau))) — then verify candidates exactly on the
    full shingle sets. All three prunes are provably lossless for
    J >= tau, and proven here the strong way: the oracle is LITERALLY
    q33's naive inverted-index SQL, so the exact gate certifies the
    optimized algorithm returns the identical pair set with identical
    similarities (candidates measured 409,103 -> 124,979 at sf0.1).

    Scale: this is the 100 TB form of exact set-similarity join. q33's
    cost is sum(df^2) over ALL tokens — boilerplate shingles explode it;
    here only PREFIX tokens (the rarest ~half of each doc, where df is
    smallest by construction) generate candidates, so the quadratic term
    runs over the low-df tail and the hot head tokens never join.
    Verification ships full shingle arrays only for surviving candidate
    pairs (array_intersect, JVM-side). The df-sorted per-doc arrays are
    built with ONE explode + ONE collect (no per-doc window, shingles
    computed once, not three times — measured 10.0 s -> see BASELINE.md);
    ordering by df costs one token-keyed shuffle — the classic trade.
    """
    return prefix_jaccard_pairs(_df_sorted_tokens(spark, sf_dir))


# ---------------------------------------------------------------------------
# q120: pairwise-cosine histogram (dedup-threshold calibration audit)
# ---------------------------------------------------------------------------

_HIST_SAMPLE = 200  # vec_id < 200: the deterministic pair sample
_HIST_BINS = 40  # [-1, 1] in 0.05 steps


@query(
    "q120_cosine_histogram",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < {_HIST_SAMPLE}
    ),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
               / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ),
    binned AS (
      SELECT least(CAST(floor((sim + 1.0) * 20.0) AS INTEGER), {_HIST_BINS - 1}) AS bin
      FROM pairs
    ),
    counts AS (
      SELECT bin, count(*) AS n_pairs FROM binned GROUP BY bin
    )
    SELECT bin, n_pairs,
           CAST(n_pairs * 10000 // sum(n_pairs) OVER () AS BIGINT) AS share_bp
    FROM counts
    """,
    tags=("similarity", "metrics", "llm"),
)
def q120_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of pairwise cosine similarities over a deterministic
    vector sample, in 0.05-wide bins over [-1, 1] — the audit that picks
    the near-dup threshold (q97/q98's 0.95, q33's 0.5) from the corpus's
    actual similarity landscape instead of folklore. Integer bins and
    basis-point shares keep the exact gate away from float output.

    Scale: the sample is the knob — |S|^2/2 pairs from a broadcast
    |S|-row frame, corpus untouched. The histogram is a |bins|-row agg;
    the share window runs on 40 rows.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _HIST_SAMPLE
    ).select("vec_id", VEC.as_double("embedding").alias("v"))
    a = e.select(F.col("vec_id").alias("ia"), F.col("v").alias("va")).withColumn(
        "na", VEC.norm("va")
    )
    b = e.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb")).withColumn(
        "nb", VEC.norm("vb")
    )
    pairs = a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
    sim = VEC.dot("va", "vb") / (F.col("na") * F.col("nb"))
    binned = pairs.select(
        F.least(
            F.floor((sim + F.lit(1.0)) * F.lit(20.0)).cast("int"),
            F.lit(_HIST_BINS - 1),
        ).alias("bin")
    )
    counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n_pairs"))
    return counts.withColumn(
        "_tot", F.sum("n_pairs").over(W.partitionBy())
    ).withColumn("share_bp", F.expr("CAST(n_pairs * 10000 div _tot AS BIGINT)")).drop(
        "_tot"
    )


# ---------------------------------------------------------------------------
# q121: per-source quota cap (domain-cap curation sampling)
# ---------------------------------------------------------------------------

_QUOTA = 30  # max docs kept per source


@query(
    "q121_source_quota",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {QUOTA_KEY_SQL}, doc_id
             ) AS rnk
      FROM documents
    )
    SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_QUOTA}
    """,
    tags=("sampling", "curation", "llm", "r8"),
)
def q121_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source cap: keep at most 30 documents per source,
    chosen by portable hash order (seed-free random-but-deterministic,
    stable under re-partitioning; doc_id tie-break) — the 'no single
    domain dominates the corpus' curation rule every web-scale pipeline
    applies before training.

    Scale: one shuffle on source; the rank<=N filter is the shape
    Catalyst rewrites to WindowGroupLimit (per-partition partial top-N
    before the shuffle, q13's plan), so a mega-source never materializes
    beyond N rows per map task.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "source")
        .withColumn("rnk", quota_rank().cast("long"))
        .filter(F.col("rnk") <= _QUOTA)
    )


# ---------------------------------------------------------------------------
# q122: per-source corpus datacard
# ---------------------------------------------------------------------------


@query(
    "q122_corpus_datacard",
    oracle=r"""
    WITH d AS (
      SELECT source, lang, text,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n_tok,
             count(*) OVER (PARTITION BY md5(text)) AS text_df
      FROM documents
    ),
    base AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             CAST(sum(n_tok) * 100 // count(*) AS BIGINT) AS mean_tok_x100,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(sum(CASE WHEN text_df >= 2 THEN 1 ELSE 0 END) * 10000
                  // count(*) AS BIGINT) AS dup_docs_bp
      FROM d GROUP BY source
    ),
    langs AS (
      SELECT source, lang, count(*) AS cnt,
             row_number() OVER (PARTITION BY source
                                ORDER BY count(*) DESC, lang) AS rnk
      FROM d GROUP BY source, lang
    )
    SELECT b.source, b.n_docs, b.total_tokens, b.mean_tok_x100, b.n_langs,
           l.lang AS top_lang,
           CAST(l.cnt * 10000 // b.n_docs AS BIGINT) AS top_lang_bp,
           b.dup_docs_bp
    FROM base b JOIN langs l ON l.source = b.source AND l.rnk = 1
    """,
    tags=("metrics", "report", "llm"),
)
def q122_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus DATACARD: document and token counts, mean doc
    length, language diversity (distinct langs + dominant language and its
    share), and the exact-duplicate document rate — the one-row-per-source
    health report a curation pipeline publishes alongside the corpus
    (HuggingFace dataset cards, Dolma's source tables). Integer basis
    points and x100 fixings keep the exact gate rounding-free.

    Scale: one corpus scan feeds both aggregates (per-source base stats,
    per-(source, lang) mode); the exact-dup flag rides an md5(text)-keyed
    window (the same shuffle exact dedup pays, with the 32-byte hashed
    key as the code default since r9 — raw text never becomes a shuffle
    key). The mode table is |sources|x|langs| rows; its window and the
    final join are broadcast-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(TXT.tokens("text"))
    enriched = d.select(
        "source",
        "lang",
        n_tok.alias("n_tok"),
        F.count("*").over(W.partitionBy(F.md5("text"))).alias("text_df"),
    )
    base = (
        enriched.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum(F.when(F.col("text_df") >= 2, 1).otherwise(0)).alias("_dups"),
        )
        .withColumn(
            "mean_tok_x100", F.expr("CAST(total_tokens * 100 div n_docs AS BIGINT)")
        )
        .withColumn("dup_docs_bp", F.expr("CAST(_dups * 10000 div n_docs AS BIGINT)"))
        .drop("_dups")
    )
    langs = (
        enriched.groupBy("source", "lang")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("source").orderBy(F.col("cnt").desc(), F.col("lang"))
            ),
        )
        .filter(F.col("rnk") == 1)
    )
    return (
        base.join(
            F.broadcast(langs.select("source", F.col("lang").alias("top_lang"), "cnt")),
            "source",
        )
        .withColumn("top_lang_bp", F.expr("CAST(cnt * 10000 div n_docs AS BIGINT)"))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "mean_tok_x100",
            "n_langs",
            "top_lang",
            "top_lang_bp",
            "dup_docs_bp",
        )
    )


# ---------------------------------------------------------------------------
# q123: containment join (doc-inside-doc near-containment dedup)
# ---------------------------------------------------------------------------

_CONT_BP = 8000  # containment threshold: |A ∩ B| / |A| >= 0.8


@query(
    "q123_containment_join",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM exploded a
      JOIN exploded b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(i.n_inter * 10000 // sa.n_sh AS BIGINT) AS cont_bp
    FROM inter i
    JOIN doc_sizes sa ON sa.doc_id = i.doc_a
    WHERE i.n_inter * 10000 // sa.n_sh >= {_CONT_BP}
    """,
    tags=("dedup", "similarity", "llm"),
)
def q123_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT join: ordered pairs (doc_a, doc_b) where at least
    80% of doc_a's distinct 3-gram shingles also appear in doc_b — the
    asymmetric cousin of the Jaccard join that catches quotes, excerpts,
    and doc-inside-doc duplication that symmetric similarity misses (a
    short doc fully quoted inside a long one has tiny Jaccard but
    containment 1.0). Curation rule: drop the contained side, keep the
    superset. Integer basis points (floor) keep the gate rounding-free.

    Scale: the q119 prefix machinery SPECIALIZED to containment, on the
    same persisted df-sorted index. Containment is asymmetric, so only
    the PROBE side prunes: if >= ceil(0.8*|A|) of A's tokens are in B,
    then by pigeonhole A's first |A| - ceil(0.8*|A|) + 1 df-sorted tokens
    (~20%, the rarest) contain a common one — candidates come from
    A-prefix x B-FULL instead of full x full (per token: prefix_df x df
    instead of df^2, and boilerplate tokens have ~zero prefix_df), plus
    the length filter |B| >= ceil(0.8*|A|) in the join. Verification
    re-attaches the index arrays by id AFTER the distinct. The oracle
    stays the naive inverted-index SQL, so the exact gate certifies the
    pruning lossless (measured 6.0 s -> see BASELINE.md at sf0.1).
    """
    idx = _df_sorted_tokens(spark, sf_dir)
    cont = _CONT_BP / 10000.0
    aprefix = idx.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("na"),
        F.explode(
            F.expr(f"slice(toks, 1, n_sh - CAST(ceil(n_sh * {cont}) AS INT) + 1)")
        ).alias("s"),
    )
    ball = idx.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("nb"),
        F.explode("toks").alias("s"),
    )
    cand = (
        aprefix.join(
            ball,
            (aprefix["s"] == ball["s"])
            & (F.col("doc_a") != F.col("doc_b"))
            & (F.col("nb") >= F.expr(f"CAST(ceil(na * {cont}) AS INT)")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = idx.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("sha"))
    sb = idx.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("shb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sha", "shb")).cast("long"))
        .withColumn("na", F.size("sha"))
        .withColumn("cont_bp", F.expr("CAST(n_inter * 10000 div na AS BIGINT)"))
        .filter(F.col("cont_bp") >= _CONT_BP)
        .select("doc_a", "doc_b", "n_inter", "cont_bp")
    )


# ---------------------------------------------------------------------------
# q125: product-quantized KNN with exact-oracle recall
# ---------------------------------------------------------------------------


def quantized_recall_oracle_tail() -> str:
    """The shared pairs/ranked/recall oracle tail of the quantized-KNN
    family (q118/q125/q134): expects a CTE ``joined(vec_id, v, d)`` with
    the exact and dequantized double vectors — the SQL twin of
    :func:`_quantized_knn_recall`, factored (r9) so the IVFPQ twin cannot
    drift from the PQ/SQ8 ones."""
    return f"""pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
               / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.v, x -> x * x)))) AS sim,
             list_sum(list_transform(range(1, len(q.d) + 1), i -> q.d[i] * c.d[i]))
               / (sqrt(list_sum(list_transform(q.d, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.d, x -> x * x)))) AS qsim
      FROM joined q JOIN joined c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_KNN_QUERIES}
    ),
    ranked AS (
      SELECT query_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
               AS exact_rank,
             row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, neighbor_id)
               AS quant_rank
      FROM pairs
    )
    SELECT query_id,
           CAST(sum(CASE WHEN exact_rank <= {_KNN_K} AND quant_rank <= {_KNN_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN exact_rank <= {_KNN_K} AND quant_rank <= {_KNN_K}
                         THEN 1 ELSE 0 END) * 10000 // {_KNN_K} AS BIGINT) AS recall_bp
    FROM ranked
    GROUP BY query_id"""


def _pq_cb_spark() -> str:
    """The frozen PQ codebooks as a 3-level Spark literal array fragment.
    Spark and DuckDB spell array literals differently (array(..) vs
    [..]) but the VALUES are the same full-precision reprs, so both
    engines quantize with bit-identical centroids (the ivf_centroids
    pattern one level deeper)."""
    from csv_loader_spark.functions.pq_codebooks import CODEBOOKS

    mids = []
    for book in CODEBOOKS:
        mids.append(
            "array(" + ", ".join(VEC.lit_array_sql(c) for c in book) + ")"
        )
    return "array(" + ", ".join(mids) + ")"


def _pq_cb_duck() -> str:
    """DuckDB twin of :func:`_pq_cb_spark` — list literals, same values."""
    from csv_loader_spark.functions.pq_codebooks import CODEBOOKS

    def lit(x: float) -> str:
        r = repr(x)
        # scientific notation forces DOUBLE typing (a plain decimal literal
        # parses as DECIMAL and overflows scale 38 when multiplied)
        return r if "e" in r or "E" in r else r + "e0"

    def lvl1(c):
        return "[" + ", ".join(lit(x) for x in c) + "]"

    return (
        "["
        + ", ".join("[" + ", ".join(lvl1(c) for c in book) + "]" for book in CODEBOOKS)
        + "]"
    )


def _pq_oracle() -> str:
    from csv_loader_spark.functions.pq_codebooks import M_SUB, SUB_WIDTH, K

    cb = _pq_cb_duck()
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    subs AS (
      SELECT vec_id, m, v[m * {SUB_WIDTH} + 1 : m * {SUB_WIDTH} + {SUB_WIDTH}] AS sub,
             {cb}[m + 1] AS cbm
      FROM e, LATERAL unnest(range(0, {M_SUB})) AS u(m)
    ),
    enc AS (
      SELECT vec_id, m,
             list_sort(list_transform(range(1, {K + 1}), kk -> struct_pack(
               d := list_sum(list_transform(range(1, {SUB_WIDTH} + 1), i ->
                      (cbm[kk][i] - sub[i]) * (cbm[kk][i] - sub[i]))),
               k := kk,
               c := cbm[kk])))[1].c AS rec
      FROM subs
    ),
    dq AS (
      SELECT vec_id, flatten(list(rec ORDER BY m)) AS d
      FROM enc GROUP BY vec_id
    ),
    joined AS (
      SELECT e.vec_id, e.v, dq.d FROM e JOIN dq ON dq.vec_id = e.vec_id
    ),
    {quantized_recall_oracle_tail()}
    """


@query("q125_pq_knn_recall", oracle=_pq_oracle(), tags=("similarity", "quantization", "llm"))
def q125_pq_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-quantized KNN + recall (Jegou et al., TPAMI 2011): each
    vector is split into M=8 contiguous subvectors, each encoded as its
    nearest frozen per-subspace centroid (trained offline by
    tools/train_pq_codebooks.py, literals shared with the oracle — the
    ivf_centroids recipe one level deeper), reconstructed, and searched
    with cosine top-k; per-query recall against the exact ranking in
    basis points. Completes the quantization family: SQ8 (q118) costs
    d bytes/vector, PQ costs M*log2(K) BITS (here 32 bits vs 512 for
    SQ8 vs 2048 raw — the memory tier real billion-vector indexes live
    in), and the recall delta between q118 and q125 is the measured
    price of the extra 16x compression: on THIS corpus recall@5 is 0.98
    (SQ8, 512 bits) vs 0.05/0.03 at sf0.001/sf0.1 (PQ, 32 bits) — the
    synthetic embeddings are near-isotropic (no cluster structure for
    the codebooks to exploit), which is PQ's worst case; real embedding
    manifolds compress far better, but the honest number on this data is
    the low one, measured, not guessed. q134 (llm8.py) closes the loop:
    IVF-residual PQ — the coarse quantizer supplying the structure the
    data lacks — lifts recall@5 to 0.52 on the same corpus.

    Scale: encoding is map-only against a broadcast-literal codebook
    (explode to M rows/vector so the argmin lambda touches a COLUMN, not
    a re-evaluated expression — the functions/text.py HOF trap);
    reconstruction is one vec_id roll-up; the search reuses q35/q118's
    broadcast-queries single pair pass with two windows.
    """
    from csv_loader_spark.functions.pq_codebooks import K, M_SUB, SUB_WIDTH

    cb = _pq_cb_spark()
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VEC.as_double("embedding").alias("v")
    )
    subs = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.expr(f"slice(v, {m * SUB_WIDTH + 1}, {SUB_WIDTH})").alias(
                            "sub"
                        ),
                    )
                    for m in range(M_SUB)
                ]
            )
        ).alias("ms"),
    ).select(
        "vec_id",
        F.col("ms.m").alias("m"),
        F.col("ms.sub").alias("sub"),
        F.expr(f"element_at({cb}, ms.m + 1)").alias("cbm"),
    )
    # argmin over the subspace's K centroids: (distance, index, centroid)
    # structs sorted ascending — index breaks exact-distance ties exactly
    # like the oracle's struct_pack(d, k, c) sort.
    enc = subs.withColumn(
        "rec",
        F.expr(
            "array_sort(transform(cbm, (c, i) -> "
            "named_struct('d', aggregate(zip_with(sub, c, (x, y) -> (x - y) * (x - y)),"
            " 0.0D, (acc, x) -> acc + x), 'k', i, 'c', c)))[0].c"
        ),
    )
    dq = (
        enc.groupBy("vec_id")
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list(named_struct('m', m,"
                " 'rec', rec))), s -> s.rec))"
            ).alias("d")
        )
    )
    joined = e.join(dq, "vec_id")
    return _quantized_knn_recall(spark, joined)


# ---------------------------------------------------------------------------
# q126: cross-source overlap (leakage meter between corpus sources)
# ---------------------------------------------------------------------------


@query(
    "q126_source_overlap",
    oracle=rf"""
    WITH toks AS (
      SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT source, unnest(list_transform(range(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (
      SELECT source, count(*) AS n_sh FROM sh GROUP BY source
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, CAST(i.n_shared AS BIGINT) AS n_shared,
           CAST(i.n_shared * 10000 // (sa.n_sh + sb.n_sh - i.n_shared) AS BIGINT)
             AS jaccard_bp
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
    tags=("metrics", "dedup", "llm"),
)
def q126_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE overlap meter: for every pair of corpus sources, how
    many distinct 3-gram shingles they share and the Jaccard of their
    source-level shingle SETS — the leakage audit that catches one source
    republishing another (mirror sites, syndication, scraped re-posts)
    before doc-level dedup has to find every individual pair. Integer
    basis points keep the gate rounding-free.

    Scale: shingles are collapsed to DISTINCT (source, shingle) first, so
    the self-join key's multiplicity is bounded by |sources| (20 here, a
    few thousand at worst in a real corpus) — cost is sum over shingles
    of df'^2 with df' <= |sources|, i.e. LINEAR in distinct shingles,
    never quadratic in documents. One shingle-keyed shuffle, one
    |sources|^2-row aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.filter(F.size(TXT.tokens("text")) >= 3)
        .select("source", F.explode(TXT.word_shingles("text")).alias("s"))
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .withColumn(
            "jaccard_bp",
            F.expr("CAST(n_shared * 10000 div (na + nb - n_shared) AS BIGINT)"),
        )
        .select(
            "source_a", "source_b", F.col("n_shared").cast("long").alias("n_shared"),
            "jaccard_bp",
        )
    )


# ---------------------------------------------------------------------------
# q127: curation manifest (blocklist -> quota -> split, one composition)
# ---------------------------------------------------------------------------


# URL-injection scaffolding (q127/q132): the synthetic corpus carries no
# URLs, so the blocklist rule would be vacuous — every third doc gets a
# deterministic doc_id-derived URL appended, identical expression on both
# engines, so the rule measurably fires.
_INJECTED_TEXT_SQL = """CASE WHEN doc_id % 3 = 0
                  THEN text || ' see '
                       || CASE WHEN doc_id % 2 = 0 THEN 'https://SITE'
                               ELSE 'http://site' END
                       || CAST(doc_id % 7 AS VARCHAR)
                       || CASE WHEN doc_id % 2 = 0 THEN '.EXAMPLE'
                               ELSE '.example/page' || CAST(doc_id AS VARCHAR)
                          END
                  ELSE text END"""


def injected_url_text() -> Column:
    """Spark twin of ``_INJECTED_TEXT_SQL``."""
    return F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" see "),
            F.when(F.col("doc_id") % 2 == 0, F.lit("https://SITE")).otherwise(
                F.lit("http://site")
            ),
            (F.col("doc_id") % 7).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".EXAMPLE")).otherwise(
                F.concat(F.lit(".example/page"), F.col("doc_id").cast("string"))
            ),
        ),
    ).otherwise(F.col("text"))


def _q127_oracle() -> str:
    from csv_loader_spark.queries.llm5 import _BLOCKLIST

    blocked = ", ".join(f"'{b}'" for b in _BLOCKLIST)
    return f"""
    WITH injected AS (
      SELECT doc_id, source, n_chars,
             {_INJECTED_TEXT_SQL} AS text
      FROM documents
    ),
    surviving AS (
      SELECT doc_id, source, text
      FROM injected
      WHERE lower(coalesce(regexp_extract(text, '{URL_RE}', 1), ''))
            NOT IN ({blocked})
    ),
    quota AS (
      SELECT doc_id, source, text,
             row_number() OVER (PARTITION BY source ORDER BY {QUOTA_KEY_SQL}, doc_id)
               AS rnk
      FROM surviving
    )
    SELECT doc_id, source,
           {split_case(SPLIT_KEY_SQL)} AS split,
           CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
             AS n_tok
    FROM quota WHERE rnk <= {_QUOTA}
    """


@query("q127_curation_manifest", oracle=_q127_oracle(), tags=("curation", "llm"))
def q127_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURATION MANIFEST: :func:`ops.curate.curate` with the domain
    blocklist (q102's, URL-injection scaffolding included so the rule
    fires) and the per-source quota only, emitting (doc_id, source,
    split, n_tok) — the manifest a training job consumes. One corpus
    scan; the quota is the one source-keyed WindowGroupLimit shuffle.
    """
    from csv_loader_spark.queries.llm5 import _BLOCKLIST

    d = load_table(spark, sf_dir, "documents")
    inj = d.select("doc_id", "source", injected_url_text().alias("text"))
    kept, _ = curate(inj, blocklist=_BLOCKLIST, dedup=False, quota_cap=_QUOTA)
    return kept.select("doc_id", "source", "split", "n_tok")


# ---------------------------------------------------------------------------
# q128: split-contamination meter (train/test shingle leakage)
# ---------------------------------------------------------------------------


def _q128_oracle() -> str:
    return rf"""
    WITH assigned AS (
      SELECT doc_id, text, {split_case(SPLIT_KEY_SQL)} AS split FROM documents
    ),
    toks AS (
      SELECT doc_id, split, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM assigned
    ),
    sh AS (
      SELECT doc_id, split,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ),
    train_sh AS (
      SELECT DISTINCT s FROM sh WHERE split = 'train'
    ),
    ev AS (
      SELECT sh.doc_id, sh.split, count(*) AS n_sh,
             sum(CASE WHEN t.s IS NOT NULL THEN 1 ELSE 0 END) AS n_leaked
      FROM sh LEFT JOIN train_sh t ON t.s = sh.s
      WHERE sh.split <> 'train'
      GROUP BY 1, 2
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_leaked) AS BIGINT) AS n_leaked,
           CAST(sum(n_sh) AS BIGINT) AS n_shingles,
           CAST(sum(n_leaked) * 10000 // sum(n_sh) AS BIGINT) AS leak_bp
    FROM ev
    GROUP BY split
    """


@query("q128_split_contamination", oracle=_q128_oracle(), tags=("metrics", "split", "llm"))
def q128_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONTAMINATION meter: after q116's deterministic hash split,
    what fraction of each held-out split's distinct 3-gram shingles also
    occur in ANY train document — the eval-integrity audit that says
    whether the held-out loss is measuring generalization or memorized
    n-gram overlap (a hash split guarantees disjoint DOCUMENTS, not
    disjoint CONTENT — near-dup docs land in different splits and leak).
    Integer basis points; one row per held-out split.

    Scale: the train shingle set is a DISTINCT one-column frame keyed by
    shingle — the held-out side left-joins it on the shingle (same
    posting shape as q85's decontamination, whose gram-side broadcast
    applies when the held-out side is small); the roll-up is two tiny
    aggregates.
    """
    d = load_table(spark, sf_dir, "documents")
    assigned = d.select("doc_id", "text", split_col().alias("split")).filter(F.size(TXT.tokens("text")) >= 3)
    sh = assigned.select(
        "doc_id", "split", F.explode(TXT.word_shingles("text")).alias("s")
    )
    train_sh = sh.filter(F.col("split") == "train").select("s").distinct()
    held = sh.filter(F.col("split") != "train")
    ev = (
        held.join(
            train_sh.withColumn("_hit", F.lit(1)), "s", "left"
        )
        .groupBy("doc_id", "split")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0)).alias(
                "n_leaked"
            ),
        )
    )
    return (
        ev.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_leaked").cast("long").alias("n_leaked"),
            F.sum("n_sh").cast("long").alias("n_shingles"),
        )
        .withColumn(
            "leak_bp", F.expr("CAST(n_leaked * 10000 div n_shingles AS BIGINT)")
        )
    )


# ---------------------------------------------------------------------------
# q129: effective token count after passage dedup
# ---------------------------------------------------------------------------


@query(
    "q129_effective_tokens",
    oracle=f"""
    WITH {_PASSAGE_CTE},
    sized AS (
      SELECT f.doc_id, f.keep,
             len(string_split_regex(f.passage, ' ')) AS n_tok,
             d.source
      FROM flagged f JOIN documents d ON d.doc_id = f.doc_id
    )
    SELECT source,
           CAST(sum(n_tok) AS BIGINT) AS raw_tokens,
           CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
             AS kept_tokens,
           CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) * 10000
                // sum(n_tok) AS BIGINT) AS kept_bp
    FROM sized
    GROUP BY source
    """,
    tags=("dedup", "metrics", "llm"),
)
def q129_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE dataset size: per source, raw token count vs tokens
    surviving passage-level dedup (q115's keep-first) — the number that
    decides epochs/mixing when a source is internally repetitive (raw
    size overstates a boilerplate-heavy source's real contribution;
    Chinchilla-style budgeting needs the KEPT count). Integer basis
    points for the survival rate.

    Scale: exactly q115's two shuffles (passage keep-first, then a
    source roll-up instead of a doc roll-up) plus a broadcast-sized
    doc->source join.
    """
    d = load_table(spark, sf_dir, "documents")
    flagged = (
        doc_passages(d, extra=("source",))
        .withColumn("keep", passage_keep_first())
        .withColumn("n_tok", F.size(F.split(F.col("passage"), " ")))
    )
    kept = F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(0)).cast("long")
    return (
        flagged.groupBy("source")
        .agg(
            F.sum("n_tok").cast("long").alias("raw_tokens"),
            kept.alias("kept_tokens"),
        )
        .withColumn(
            "kept_bp", F.expr("CAST(kept_tokens * 10000 div raw_tokens AS BIGINT)")
        )
    )
