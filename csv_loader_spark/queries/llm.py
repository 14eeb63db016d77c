"""LLM-training-data-pipeline operators over `documents` / `embeddings`.

Deduplication (exact, MinHash+LSH, n-gram Jaccard), similarity search
(brute-force cosine top-k; LSH-bucketed ANN), text analysis (token stats,
quality scoring, language-id heuristic, fingerprinting), multimodal binary
columns.

Everything except the ANN variant is oracle-checked against DuckDB: the
MinHash here is deliberately built on md5 (available identically in both
engines) instead of Spark's murmur3 `hash()`, so even the sketch pipeline is
bit-reproducible cross-engine.

Scale notes: all dedup/similarity ops are shuffle-on-key joins over exploded
shingle/bucket tables — the standard inverted-index formulation that scales
horizontally; nothing ever materializes an O(n²) cross product except the
explicitly-bounded brute-force KNN baseline (20 query vectors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from csv_loader_spark.functions import text as TXT
from csv_loader_spark.functions import vectors as VEC
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.ops.dedup import (
    BAND_CAP,
    BAND_SIZE,
    N_HASHES,
    capped_bands,
    minhash_bands,
    shingled_docs,
)
from csv_loader_spark.queries.registry import query

# Shared oracle CTE: tokenized + shingled documents (word 3-grams, distinct).
_SHINGLE_CTE = r"""
    toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
                                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
      FROM toks
      WHERE len(t) >= 3
    ),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ),
    doc_sizes AS (
      SELECT doc_id, len(shingles) AS n_sh FROM sh
    )
"""


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, shingles: array<string>) with ≥3 tokens."""
    return shingled_docs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@query(
    "q28_dedup_exact",
    oracle=r"""
    SELECT md5(array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')) AS fp,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup", "llm", "headline"),
)
def q28_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content fingerprint: one survivor (min id)
    per content hash. Hash-groupBy — the scalable exact-dedup primitive."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(TXT.fingerprint("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "q29_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')) AS fp,
           len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens
    FROM documents
    """,
    tags=("text", "llm"),
)
def q29_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document content fingerprint (md5 over the normalized token
    stream) + token count."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TXT.fingerprint("text").alias("fp"),
        TXT.token_count("text").alias("n_tokens"),
    )


@query(
    "q33_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM exploded a
      JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN doc_sizes sa ON sa.doc_id = i.doc_a
    JOIN doc_sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5
    """,
    tags=("dedup", "similarity", "llm"),
)
def q33_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 3-gram Jaccard ≥ 0.5 via inverted-index
    self-join (explode shingles → equi-join on shingle → count intersections).

    Scale: no cross product — the join key is the shingle, so cost is
    Σ(docs-per-shingle²), the standard candidate-pair bound; hot shingles
    would be stop-listed at 100 TB (df cutoff), noted not needed here.
    """
    sh = _shingled(spark, sf_dir)
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def _minhash_cand_ctes(cap: int, sfx: str = "") -> str:
    """kept{sfx}/cand{sfx} CTEs over an existing ``bands`` CTE with the
    band-bucket cap parameterized — so a recall meter (q110) can place a
    second, differently-capped candidate chain beside the default one."""
    return f"""
    kept{sfx} AS (
      SELECT doc_id, band, bkey FROM (
        SELECT doc_id, band, bkey,
               row_number() OVER (PARTITION BY band, bkey
                                  ORDER BY doc_id) AS rn
        FROM bands
      ) WHERE rn <= {cap}
    ),
    cand{sfx} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM kept{sfx} a JOIN kept{sfx} b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    """


def _minhash_oracle_band_ctes() -> str:
    """sigs/bands CTEs (no candidate chain) over an existing ``exploded``
    CTE — shared with the ingest near-dup twin (llm8.py q131)."""
    cols = ",\n             ".join(
        f"min(md5('{i}:' || s)) AS h{i}" for i in range(N_HASHES)
    )
    bands = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, h{2*b} || h{2*b+1} AS bkey FROM sigs"
        for b in range(N_HASHES // BAND_SIZE)
    )
    return f"""
    sigs AS (
      SELECT doc_id,
             {cols}
      FROM exploded GROUP BY doc_id
    ),
    bands AS (
      {bands}
    )
    """


def _minhash_oracle_sigs() -> str:
    return f"""
    {_minhash_oracle_band_ctes()},
    {_minhash_cand_ctes(BAND_CAP)}
    """


@query(
    "q34_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_minhash_oracle_sigs()},
    inter AS (
      SELECT e1.doc_id AS doc_a, e2.doc_id AS doc_b, count(*) AS n_inter
      FROM exploded e1
      JOIN exploded e2 ON e1.s = e2.s AND e1.doc_id < e2.doc_id
      JOIN cand c ON c.doc_a = e1.doc_id AND c.doc_b = e2.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN doc_sizes sa ON sa.doc_id = i.doc_a
    JOIN doc_sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.3
    """,
    tags=("dedup", "lsh", "llm"),
)
def q34_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection: shingle → 6 md5 minhashes → 3 bands
    of 2 → band-bucket join → candidate pairs → exact-Jaccard verify ≥ 0.3.

    Scale: candidates come from equi-joins on (band, bucket-key) — the LSH
    trick that replaces the O(n²) pair space with collision buckets — and
    each bucket is capped at BAND_CAP members (r7) so a degenerate corpus
    bounds at C(cap, 2) pairs per bucket instead of Σ(bucket²) going
    quadratic. The md5 family keeps the sketch engine-portable
    (oracle-checkable), unlike murmur3 `F.hash`. Measured growth curve:
    SCALING.json 'minhash'. The pipeline is minhash_lsh_pairs,
    DataFrame-in because llm5's q110 and llm6's q114 reuse it.
    """
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


def minhash_lsh_pairs(docs: DataFrame, cap: int = BAND_CAP) -> DataFrame:
    """q34's pipeline over an arbitrary (doc_id, text) frame (see
    shingled_docs for why the DataFrame-in form exists). Each (band, bkey)
    bucket is capped at ``cap`` members (first by doc_id) before the
    candidate self-join — see BAND_CAP."""
    sh = shingled_docs(docs)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    bands = capped_bands(minhash_bands(docs), cap)
    ba, bb = bands.alias("a"), bands.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-Jaccard verification restricted to the candidate pairs
    e1 = ex.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s1"))
    e2 = ex.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s2"))
    inter = (
        cand.join(e1, "doc_a")
        .join(e2, "doc_b")
        .filter(F.col("s1") == F.col("s2"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= 0.3)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q30_token_stats",
    oracle=r"""
    SELECT doc_id,
           len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
           len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS n_distinct,
           length(text) AS n_chars
    FROM documents
    """,
    tags=("text", "llm"),
)
def q30_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: total + distinct tokens, char length."""
    d = load_table(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("n_chars"),
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in TXT.STOPWORDS)


@query(
    "q31_text_quality",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, text,
             string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           length(text) AS n_chars,
           len(toks) AS n_tokens,
           round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                 / length(text), 4) AS punct_ratio,
           round(CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                 / len(toks), 4) AS stopword_ratio,
           round(CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks), 4)
             AS avg_token_len
    FROM t
    """,
    tags=("text", "quality", "llm"),
)
def q31_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: punctuation ratio, stopword ratio, mean token
    length — the standard cheap filters of a pretraining-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    n_tok = F.size(toks).cast("double")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.round(TXT.punct_count("text").cast("double") / F.length("text"), 4).alias(
            "punct_ratio"
        ),
        F.round(TXT.stopword_count("text").cast("double") / n_tok, 4).alias(
            "stopword_ratio"
        ),
        F.round(
            F.length(F.concat_ws("", toks)).cast("double") / n_tok, 4
        ).alias("avg_token_len"),
    )


_LANG_MARKERS = {
    "en": ("the", "a", "is", "and"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "y", "de"),
    "de": ("der", "die", "und", "das"),
}


def _lang_score_sql() -> str:
    scores = ",\n           ".join(
        "len(list_filter(toks, x -> x IN ({}))) AS c_{}".format(
            ", ".join(f"'{w}'" for w in ws), lang
        )
        for lang, ws in _LANG_MARKERS.items()
    )
    return scores


@query(
    "q32_lang_id",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
           {_lang_score_sql()}
      FROM t
    )
    SELECT doc_id, lang,
           CASE
             WHEN c_en = 0 AND c_fr = 0 AND c_es = 0 AND c_de = 0 THEN 'und'
             WHEN c_en >= c_fr AND c_en >= c_es AND c_en >= c_de THEN 'en'
             WHEN c_fr >= c_es AND c_fr >= c_de THEN 'fr'
             WHEN c_es >= c_de THEN 'es'
             ELSE 'de'
           END AS pred_lang
    FROM scored
    """,
    tags=("text", "langid", "llm"),
)
def q32_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language-ID heuristic with a fixed-priority argmax
    (deterministic tie-break: en > fr > es > de, 'und' when no markers hit).

    The synthetic corpus shares one vocabulary across langs, so the
    *prediction quality* is meaningless here — the operator demonstrates the
    deterministic scoring plumbing a real n-gram lang-id would use.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = TXT.tokens("text")

    def marker_hits(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scored = d.select(
        "doc_id",
        "lang",
        *[marker_hits(ws).alias(f"c_{lang}") for lang, ws in _LANG_MARKERS.items()],
    )
    pred = (
        F.when(
            (F.col("c_en") == 0) & (F.col("c_fr") == 0) & (F.col("c_es") == 0) & (F.col("c_de") == 0),
            F.lit("und"),
        )
        .when(
            (F.col("c_en") >= F.col("c_fr"))
            & (F.col("c_en") >= F.col("c_es"))
            & (F.col("c_en") >= F.col("c_de")),
            F.lit("en"),
        )
        .when((F.col("c_fr") >= F.col("c_es")) & (F.col("c_fr") >= F.col("c_de")), F.lit("fr"))
        .when(F.col("c_es") >= F.col("c_de"), F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return scored.select("doc_id", "lang", pred.alias("pred_lang"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_KNN_K = 5
_KNN_QUERIES = 20  # vec_id < 20 are the query vectors


@query(
    "q35_knn_bruteforce",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < {_KNN_QUERIES}
    ),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * e.v[i]))
               / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS sim
      FROM q JOIN e ON e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id,
           round(sim, 4) AS cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS INTEGER) AS n_rank
    FROM pairs
    QUALIFY n_rank <= {_KNN_K}
    """,
    tags=("similarity", "knn", "llm", "headline"),
)
def q35_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against the
    full corpus, JVM-side zip_with/aggregate arithmetic, window top-k.

    Scale: queries are broadcast so the corpus is scanned once with no
    shuffle; the window re-shuffles only |Q|·|corpus| similarity rows — at
    real scale, pre-aggregate per partition with a bounded heap
    (see q36_ann_lsh for the sub-linear path).
    """
    e = load_table(spark, sf_dir, "embeddings")
    # Norms are precomputed per vector BEFORE the pair join: each corpus norm
    # is evaluated once instead of once per query pair (|Q|× less interpreted
    # higher-order-function work; identical double arithmetic, so the oracle
    # hash is unchanged).
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), VEC.as_double("embedding").alias("cv")
    ).withColumn("cn", VEC.norm("cv"))
    queries = (
        e.filter(F.col("vec_id") < _KNN_QUERIES)
        .select(F.col("vec_id").alias("query_id"), VEC.as_double("embedding").alias("qv"))
        .withColumn("qn", VEC.norm("qv"))
    )
    # The corpus parquet is one small file → one input partition; the
    # broadcast-nested-loop pair computation would otherwise run on a single
    # core. Spread it across the cluster (no-op at real scale where the scan
    # already has many partitions).
    corpus = corpus.repartition(spark.sparkContext.defaultParallelism)
    pairs = corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
    sim = VEC.dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("n_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("n_rank") <= _KNN_K)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("cosine_sim"), "n_rank")
    )


def _hyperplanes(dim: int = 64, n: int = 8) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy dependency at
    import time, stable across runs/machines)."""
    state = 0x2545F4914F6CDD1D
    planes = []
    for _ in range(n):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


# Multi-table LSH geometry: P(two vectors at angle θ share one table's
# b-bit signature) = (1-θ/π)^b; with L independent tables the union recall
# is 1-(1-p)^L. Measured on this corpus (500 vectors, top-5 truth,
# q72_ann_recall the meter, sf0.01):
#   L=16 b=6 → recall 0.47-0.62, candidates 24% of all-pairs
#   L=24 b=5 → recall 0.92,      candidates 53%
#   L=32 b=5 → recall 0.97,      candidates 63%
# Default L=24/b=5: the best recall-per-replication at test scale. The
# large candidate fractions are a SMALL-CORPUS artifact: expected random
# candidate fraction ≈ 1-(1-2^-b)^L, independent of n, while the work an
# index saves is (1 - that) × n — at 1e9 vectors you'd raise b toward
# ~log2(n/target_bucket_size) (b≈20-24) and keep L for recall; the
# equi-join-on-bucket shape is unchanged. Set per corpus here.
_LSH_TABLES = 24
_LSH_BITS = 5


@query(
    "q36_ann_lsh",
    oracle=None,  # LSH recall set is implementation-defined → rows-only check
    tags=("similarity", "ann", "lsh", "llm"),
)
def q36_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH: L independent b-bit
    signature tables (default 24×5, see geometry note above); candidates =
    pairs sharing ANY table's bucket; exact cosine re-rank of the deduped
    union, top-k.

    Scale: the (table, bucket) equi-join replaces the all-pairs product;
    the corpus is replicated ×L in the index (the classic LSH space-for-
    recall trade — tune L/b per corpus; q72_ann_recall measures it).
    Signature computation is one JVM-side pass over the scan."""
    e = load_table(spark, sf_dir, "embeddings")
    planes = _hyperplanes(n=_LSH_TABLES * _LSH_BITS)
    v_sql = VEC.as_double_sql("embedding")

    def table_sig(t: int):
        # one F.expr per table (r15): the composed when/cast/concat form
        # cost ~45 py4j round trips per table × 24 tables per build;
        # identical tree (CASE WHEN dot >= 0 THEN 1 ELSE 0 → cast string)
        bits = ", ".join(
            "CAST(CASE WHEN "
            + VEC.dot_sql("v", VEC.lit_array_sql(planes[t * _LSH_BITS + i]))
            + " >= 0 THEN 1 ELSE 0 END AS STRING)"
            for i in range(_LSH_BITS)
        )
        return F.expr(f"concat('{t}:', {bits})")

    tagged = (
        e.select(F.col("vec_id"), F.expr(v_sql).alias("v"))
        .withColumn("vn", VEC.norm("v"))
        .withColumn(
            "bucket", F.explode(F.array(*[table_sig(t) for t in range(_LSH_TABLES)]))
        )
    )
    a = tagged.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("vn").alias("qn"), "bucket"
    ).filter(F.col("query_id") < _KNN_QUERIES)
    b = tagged.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("vn").alias("cn"), "bucket"
    )
    cand = (
        a.join(b, ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qv", "qn", "neighbor_id", "cv", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])  # union across tables
    )
    sim = VEC.dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("n_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("n_rank") <= _KNN_K)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("cosine_sim"), "n_rank")
    )


# ---------------------------------------------------------------------------
# Multimodal binary columns
# ---------------------------------------------------------------------------


@query(
    "q37_multimodal_bytes",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           source AS media_source
    FROM documents
    """,
    tags=("multimodal", "binary", "llm"),
)
def q37_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary-column plumbing: payload as `binary` + typed metadata.

    The corpus has no real image/audio bytes, so the payload is the UTF-8
    encoding of `text` — the schema/partitioning/feature pattern is the real
    thing; the decode step lives in ops/multimodal.py behind mapInPandas.
    """
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
        F.col("source").alias("media_source"),
    )
