"""LLM-pipeline operators, part 2: SimHash near-dup, embedding-cosine
near-dup, IVF-style ANN, TF-IDF keyword extraction.

Same portability discipline as part 1: every hash is md5-derived so the
sketches are bit-reproducible in DuckDB; every float is rounded identically
on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from csv_loader_spark.functions import vectors as VEC
from csv_loader_spark.functions.hashing import hash16_spark_sql, hash16_sql
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.ops.graph import connected_components
from csv_loader_spark.ops.multimodal import attach_fake_media, extract_features
from csv_loader_spark.queries.llm import _SHINGLE_CTE
from csv_loader_spark.queries.registry import get, query

# ---------------------------------------------------------------------------
# SimHash near-dup detection
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 16
_SIMHASH_BANDS = 4  # 4 bands × 4 bits; hamming ≤ 3 ⇒ ≥1 band identical (pigeonhole)
_SIMHASH_MAX_HAMMING = 3


def _simhash_sigs_sql() -> str:
    """Per-doc 16-bit SimHash from distinct tokens: bit i of the fingerprint
    is set iff sum over tokens of ±1 (bit i of hash16(token)) is >= 0."""
    bit_scores = ", ".join(
        f"sum(CASE WHEN (h // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(_SIMHASH_BITS)
    )
    fp = " + ".join(f"(CASE WHEN s{i} >= 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_BITS))
    return f"""
    toks AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, {hash16_sql("tok")} AS h FROM toks
    ),
    scores AS (
      SELECT doc_id, {bit_scores} FROM hashed GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM scores
    )
    """


@query(
    "q53_simhash",
    oracle=f"""
    WITH {_simhash_sigs_sql()},
    bands AS (
      SELECT doc_id, b.band, (fp >> (b.band * 4)) & 15 AS bkey, fp
      FROM sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS fp_a, b.fp AS fp_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(fp_a, fp_b)) <= {_SIMHASH_MAX_HAMMING}
    """,
    tags=("dedup", "simhash", "llm"),
)
def q53_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 16-bit signature from md5-hashed distinct
    tokens, banded LSH candidate join (4 bands × 4 bits — pigeonhole-exact
    for hamming ≤ 3), xor+bit_count verify.

    Scale: signatures are one agg pass; candidates come from equi-joins on
    (band, band-key) buckets, never an all-pairs product. The md5 token hash
    keeps the sketch engine-portable (oracle-checkable)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        ).alias("tok"),
    )
    h = F.expr(hash16_spark_sql("tok")).alias("h")
    hashed = toks.select("doc_id", h)
    # single-F.expr construction for the 16 per-bit sums and the fp fold
    # (r15): the composed when/shiftright loops cost ~300 py4j round trips
    # per build; identical integer trees (see functions/text.py rationale)
    scores = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN shiftright(CAST(h AS INT), {i}) % 2 = 1 "
                f"THEN 1 ELSE -1 END) AS s{i}"
            )
            for i in range(_SIMHASH_BITS)
        ]
    )
    fp_sql = " + ".join(
        f"(CASE WHEN s{i} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    sigs = scores.select("doc_id", F.expr(f"CAST({fp_sql} AS BIGINT) AS fp"))

    band_ids = spark.range(_SIMHASH_BANDS).select(F.col("id").cast("int").alias("band"))
    bands = sigs.crossJoin(F.broadcast(band_ids)).select(
        "doc_id",
        "band",
        F.expr("shiftright(fp, band * 4) % 16").alias("bkey"),
        "fp",
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.filter(hamming <= _SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

_COS_DUP_THRESHOLD = 0.40  # tuned to the synthetic corpus (max pair sim ~0.51)


@query(
    "q54_cosine_dedup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
                 / (a.nrm * b.nrm), 4) AS cosine_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
          / (a.nrm * b.nrm) >= {_COS_DUP_THRESHOLD}
    """,
    tags=("dedup", "similarity", "llm"),
)
def q54_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ threshold) — the
    ORACLE METER, not the default path. All-pairs on purpose: it defines
    exact ground truth that q98 measures q97's recall against (0.9322 at
    sf0.01). Run q97_lsh_cosine_dedup for actual dedup — same verify
    expression, LSH-bucketed candidates, inverted-index cost instead of
    n². Threshold 0.40 is tuned to the synthetic corpus (no true dups;
    max pair sim ≈ 0.51)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VEC.as_double("embedding").alias("v")
    )
    n = e.withColumn("nrm", VEC.norm("v")).repartition(
        spark.sparkContext.defaultParallelism
    )
    a = n.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    sim = VEC.dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= _COS_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("sim", 4).alias("cosine_sim"))
    )


# ---------------------------------------------------------------------------
# IVF-style ANN (deterministic centroids → cell probe → re-rank)
# ---------------------------------------------------------------------------

from csv_loader_spark.functions.ivf_centroids import CENTROIDS as _IVF_CENT

_IVF_CENTROIDS = len(_IVF_CENT)  # trained offline, frozen as literals
_IVF_QUERIES = 20
_IVF_K = 5
_IVF_NPROBE = 3  # cells probed per query (recall dial; q93 is the meter)
_IVF_MASSIGN = 2  # cells each corpus vector is indexed under (space dial)


def _ivf_cent_values_sql() -> str:
    """The trained centroids as DuckDB VALUES rows (cid, cv) — same
    full-precision repr trick as llm4's hyperplanes, so both engines load
    bit-identical doubles."""
    return ",\n      ".join(
        "({}, [{}])".format(i, ", ".join(repr(x) for x in c))
        for i, c in enumerate(_IVF_CENT)
    )


# The same centroids as one Spark SQL literal relation (cid INT, cv
# ARRAY<DOUBLE>), every coordinate a D-suffixed repr, so Spark parses the
# exact doubles. A literal relation plans identically on every build,
# where a createDataFrame frame is a new RDD each time.
_IVF_CENT_SPARK_SQL = "SELECT * FROM VALUES {} AS cent(cid, cv)".format(
    ", ".join(f"({i}, {VEC.lit_array_sql(c)})" for i, c in enumerate(_IVF_CENT))
)


def _ivf_centroid_frame(spark: SparkSession) -> DataFrame:
    """(cid, cv, cn): the trained centroids with their norms (q55, q149)."""
    return spark.sql(_IVF_CENT_SPARK_SQL).withColumn("cn", VEC.norm("cv"))


@query(
    "q55_ivf_ann",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
    ),
    centv(cid, cv0) AS (VALUES
      {_ivf_cent_values_sql()}
    ),
    -- DuckDB types bare numeric literals DECIMAL; cast to DOUBLE before any
    -- arithmetic (decimal*decimal overflows scale 38 on 17-digit reprs)
    centd AS (
      SELECT cid, list_transform(cv0, x -> CAST(x AS DOUBLE)) AS cv FROM centv
    ),
    cent AS (
      SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn
      FROM centd
    ),
    ranked AS (
      SELECT n.vec_id, c.cid, n.v, n.nrm,
             row_number() OVER (
               PARTITION BY n.vec_id
               ORDER BY list_sum(list_transform(range(1, len(n.v) + 1),
                                                i -> n.v[i] * c.cv[i]))
                        / (n.nrm * c.cn) DESC, c.cid) AS rk
      FROM n CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, cid FROM ranked WHERE rk <= {_IVF_MASSIGN}),
    qcells AS (
      SELECT vec_id, cid FROM ranked
      WHERE rk <= {_IVF_NPROBE} AND vec_id < {_IVF_QUERIES}
    ),
    -- ids only through the probe join + dedup; vectors re-attach after
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, x.vec_id AS neighbor_id
      FROM qcells q JOIN assign x ON q.cid = x.cid AND q.vec_id <> x.vec_id
    )
    SELECT query_id, neighbor_id, cosine_sim, n_rank FROM (
      SELECT c.query_id, c.neighbor_id,
             round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]))
                   / (q.nrm * x.nrm), 4) AS cosine_sim,
             CAST(row_number() OVER (
               PARTITION BY c.query_id
               ORDER BY list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]))
                        / (q.nrm * x.nrm) DESC, c.neighbor_id) AS INTEGER) AS n_rank
      FROM cand c
      JOIN n q ON q.vec_id = c.query_id
      JOIN n x ON x.vec_id = c.neighbor_id
    ) WHERE n_rank <= {_IVF_K}
    """,
    tags=("similarity", "ann", "ivf", "llm"),
)
def q55_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: {_IVF_CENTROIDS} spherical
    k-means centroids (tools/train_ivf_centroids.py — Lloyd iterations as
    distributed DataFrame aggs, result frozen as literals in
    functions/ivf_centroids.py, the shipped-index-artifact pattern).
    Each corpus vector is indexed under its top-{_IVF_MASSIGN} cells
    (multi-assignment — the standard IVF redundancy lever), queries
    MULTI-PROBE their top-{_IVF_NPROBE} cells, candidates dedup to id
    pairs, exact re-rank top-k.

    Scale: assignment is a broadcast join against |C| centroids (one corpus
    scan); the probe join is an equi-join on cell id carrying ONLY ids —
    vectors re-attach by id equi-join after the dedup, so wide arrays never
    ride the candidate shuffle (same shape as q97). Measured on this corpus
    (q93 + offline sweep): k-means alone moved recall@5 0.74 → 0.74 at
    nprobe=3 (the synthetic corpus is near-structureless, max pair sim
    ~0.51, so better centroids can't help), while multi-assignment is the
    lever that works: massign=2 gives 0.64@1 / 0.80@2 / 0.94@3 for a 2x
    index and ~1.7x candidates. Frozen literal centroids keep the whole
    path deterministic → oracle-checkable, unlike library k-means."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VEC.as_double("embedding").alias("v")
    )
    n = e.withColumn("nrm", VEC.norm("v")).repartition(
        spark.sparkContext.defaultParallelism
    )
    cent = _ivf_centroid_frame(spark)
    csim = VEC.dot("v", "cv") / (F.col("nrm") * F.col("cn"))
    w_assign = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cid"))
    ranked = (
        n.crossJoin(F.broadcast(cent))
        .withColumn("csim", csim)
        .withColumn("rk", F.row_number().over(w_assign))
    )
    assign = ranked.filter(F.col("rk") <= _IVF_MASSIGN).select(
        F.col("vec_id").alias("neighbor_id"), "cid"
    )
    q = ranked.filter(
        (F.col("rk") <= _IVF_NPROBE) & (F.col("vec_id") < _IVF_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), F.col("cid").alias("qcid"))
    cand = (
        q.join(assign, (F.col("qcid") == F.col("cid")) & (F.col("query_id") != F.col("neighbor_id")))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = n.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    xv = n.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("xv"), F.col("nrm").alias("xn")
    )
    sim = VEC.dot("qv", "xv") / (F.col("qn") * F.col("xn"))
    w_rank = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cand.join(qv, "query_id")
        .join(xv, "neighbor_id")
        .withColumn("sim", sim)
        .withColumn("n_rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("n_rank") <= _IVF_K)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("cosine_sim"), "n_rank")
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------

_TFIDF_TOP = 3


@query(
    "q56_tfidf",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.term,
             round(t.tf * ln((nd.n_docs + 1.0) / (d.df + 1.0)), 4) AS tfidf
      FROM tf t JOIN df d USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tfidf, n_rank FROM (
      SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS INTEGER) AS n_rank
      FROM scored
    ) WHERE n_rank <= {_TFIDF_TOP}
    """,
    tags=("text", "tfidf", "llm"),
)
def q56_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-{_TFIDF_TOP} keywords per document: raw term counts ×
    smoothed idf = tf·ln((N+1)/(df+1)), deterministic (score, term) ranking.

    Scale: two shuffles ((doc,term) count, then term df) + a broadcast of
    the df table; no driver-side vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # one scalar to the driver; a literal in the plan
    tfidf = F.round(
        F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 4
    ).alias("tfidf")
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        tf.join(F.broadcast(df), "term")
        .select("doc_id", "term", tfidf)
        .withColumn("n_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("n_rank") <= _TFIDF_TOP)
        .select("doc_id", "term", "tfidf", "n_rank")
    )


# ---------------------------------------------------------------------------
# Multimodal feature extraction (Arrow-batched Python path)
# ---------------------------------------------------------------------------


@query(
    "q59_media_features",
    oracle="""
    WITH chars AS (
      SELECT doc_id, ord(substr(text, CAST(i AS INTEGER), 1)) AS c
      FROM documents, unnest(range(1, length(text) + 1)) AS t(i)
    ),
    mb AS (
      SELECT doc_id, round(avg(c), 4) AS mean_byte FROM chars GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE CAST(d.doc_id % 3 AS INTEGER)
             WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           octet_length(encode(d.text)) AS n_bytes,
           sha256(d.text) AS content_sha256,
           mb.mean_byte,
           CAST(d.doc_id % 640 + 16 AS INTEGER) AS decoded_width,
           CAST(d.doc_id % 480 + 16 AS INTEGER) AS decoded_height
    FROM documents d JOIN mb USING (doc_id)
    """,
    tags=("multimodal", "pandas_udf", "llm"),
)
def q59_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature pipeline through the REAL Python path:
    binary payload + typed metadata → Arrow-batched mapInPandas →
    (bytes, sha256, mean byte, decoded dims). The decode step is a
    deterministic stub (no image libs in this container — ops/multimodal.py);
    everything around it — schema, batching, Arrow transfer — is production
    shape, and the oracle recomputes the same features in SQL (the corpus is
    pure ASCII, so byte stats == char stats)."""
    d = load_table(spark, sf_dir, "documents")
    return extract_features(attach_fake_media(d))


# ---------------------------------------------------------------------------
# Deterministic sampling / split + dup clustering
# ---------------------------------------------------------------------------


@query(
    "q66_deterministic_sample",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, {hash16_sql("CAST(doc_id AS VARCHAR)")} AS bucket
      FROM documents
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < 52429 THEN 'train'
                WHEN bucket < 58982 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    WHERE bucket % 2 = 0
    """,
    tags=("sampling", "split", "llm"),
)
def q66_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sampling + train/val/test split by hash bucket (md5 of
    the id → 16-bit bucket; 80/10/10 split; keep even buckets = a stable
    50% sample). THE way to sample training data: engine-independent,
    seed-free, stable under re-partitioning and re-runs — rand()-based
    sampling is none of those. Portable across engines (oracle runs the
    identical arithmetic)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(hash16_spark_sql("CAST(doc_id AS STRING)")).alias("bucket")
    b = d.select("doc_id", bucket)
    split = (
        F.when(F.col("bucket") < 52429, F.lit("train"))
        .when(F.col("bucket") < 58982, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return b.filter(F.col("bucket") % 2 == 0).select("doc_id", "bucket", split.alias("split"))


@query(
    "q72_ann_recall",
    oracle=None,  # evaluates the impl-defined q36 ANN → rows-only by nature
    tags=("similarity", "ann", "evaluation", "llm"),
)
def q72_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the hyperplane-LSH ANN (q36) against brute-force ground
    truth (q35), per query vector plus a summary row (query_id = -1).

    The 'measure, don't guess' artifact for the approximate path: ANN
    speedups are only worth their recall loss if you can SEE the loss.
    Deterministic (both inputs are), but its values quantify the
    implementation-defined q36 → rows-only check."""
    return ann_recall(spark, sf_dir, "q36_ann_lsh")


def ann_recall(spark: SparkSession, sf_dir: str, ann_query: str) -> DataFrame:
    """Recall@k of the registered ANN query ``ann_query`` against q35's
    brute-force top-k: (query_id, k, n_hit, recall) per query plus a
    summary row with query_id = -1 (q72, q93)."""
    truth = get("q35_knn_bruteforce").fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ann = get(ann_query).fn(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hit = truth.join(
        ann, (truth["query_id"] == ann["aq"]) & (truth["neighbor_id"] == ann["an"]), "left"
    )
    per_query = hit.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.count("an").alias("n_hit"),
        F.round(F.count("an") / F.count(F.lit(1)), 4).alias("recall"),
    )
    overall = hit.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.count(F.lit(1)).alias("k"),
        F.count("an").alias("n_hit"),
        F.round(F.count("an") / F.count(F.lit(1)), 4).alias("recall"),
    )
    return per_query.unionAll(overall)


@query(
    "q79_dedup_keep_best",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id,
             md5(array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' '))
               AS fp,
             length(text) AS quality
      FROM documents
    )
    SELECT fp,
           arg_max(doc_id, quality + doc_id * 0.0000001) AS keep_doc_id,
           count(*) AS n_copies,
           max(quality) AS best_quality
    FROM scored
    GROUP BY fp
    """,
    tags=("dedup", "llm"),
)
def q79_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: per content fingerprint keep the BEST
    copy, not the first (survivor = max quality, doc_id as deterministic
    tie-break folded into the score) — real pipelines rank duplicates by
    quality before dropping. Same hash-groupBy scale shape as q28."""
    d = load_table(spark, sf_dir, "documents")
    from csv_loader_spark.functions import text as TXT

    quality = F.length("text")
    score = quality + F.col("doc_id") * 0.0000001  # unique → deterministic arg_max
    return d.select(
        TXT.fingerprint("text").alias("fp"),
        "doc_id",
        quality.alias("quality"),
        score.alias("score"),
    ).groupBy("fp").agg(
        F.max_by("doc_id", "score").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.max("quality").alias("best_quality"),
    )


@query(
    "q80_mix_report",
    oracle="""
    WITH counts AS (
      SELECT lang, source, count(*) AS n, sum(n_chars) AS chars
      FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (), 4) AS share_overall,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 4)
             AS share_in_lang,
           round(CAST(chars AS DOUBLE) / n, 2) AS avg_chars
    FROM counts
    """,
    tags=("reporting", "window", "agg"),
)
def q80_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix report: document share by (lang, source) with overall
    and within-language ratios — windows OVER an aggregate (the grouped
    rows, thousands not billions, are what the unpartitioned window sees)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars")
    )
    w_all = W.partitionBy()
    w_lang = W.partitionBy("lang")
    return counts.select(
        "lang",
        "source",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w_all), 4).alias(
            "share_overall"
        ),
        F.round(F.col("n").cast("double") / F.sum("n").over(w_lang), 4).alias(
            "share_in_lang"
        ),
        F.round(F.col("chars").cast("double") / F.col("n"), 2).alias("avg_chars"),
    )


@query(
    "q81_text_clean",
    oracle=r"""
    WITH noisy AS (
      -- deterministically inject the noise classes the cleaner removes
      -- (the corpus itself is clean synthetic text)
      SELECT doc_id,
             text || ' visit https://example.com/' || doc_id ||
             ' or mail bot' || doc_id || '@spam.io  end' AS raw
      FROM documents
    ),
    cleaned AS (
      SELECT doc_id, raw,
             trim(regexp_replace(regexp_replace(regexp_replace(raw,
               'https?://\S+', ' ', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
               '\s+', ' ', 'g')) AS clean
      FROM noisy
    )
    SELECT doc_id,
           length(raw) AS n_raw,
           length(clean) AS n_clean,
           md5(clean) AS clean_md5
    FROM cleaned
    """,
    tags=("text", "cleaning", "llm"),
)
def q81_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text cleaning for pretraining: scrub URLs and emails, collapse
    whitespace — pure JVM regexp chain, verified byte-for-byte via md5 of
    the cleaned text. Noise is injected deterministically (the synthetic
    corpus has none) so the scrub provably fires on every row."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" visit https://example.com/"),
        F.col("doc_id").cast("string"),
        F.lit(" or mail bot"),
        F.col("doc_id").cast("string"),
        F.lit("@spam.io  end"),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(raw, r"https?://\S+", " "),
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length(raw).alias("n_raw"),
        F.length(clean).alias("n_clean"),
        F.md5(clean).alias("clean_md5"),
    )


@query(
    "q82_char_ngrams",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
      FROM documents WHERE doc_id < 50
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, length(s) - 2),
                                          i -> substr(s, CAST(i AS INTEGER), 4)))
               AS gs
      FROM t WHERE length(s) >= 4
    )
    SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gram FROM grams
    """,
    tags=("text", "ngram", "llm"),
)
def q82_char_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 4-gram shingles (distinct) — the tokenizer-free granularity
    used when word boundaries are unreliable (CJK, code). Same
    sequence+transform construction as word shingles, over characters.

    The last 4-gram starts at length-3 (`length >= 4` guarded on both
    engines; DuckDB's `range` is end-exclusive). Built as a transform over
    arrays_zip of 4 shifted char slices, NOT `i -> substr(s, i, 4)`: an
    interpreted HOF lambda re-evaluates outer references per element, so
    the substr form re-runs the whole regexp_replace normalization once
    per gram (same trap as word_shingles — see functions/text.py)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    s = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    t = d.select("doc_id", s.alias("s")).filter(F.length("s") >= 4)
    grams = F.array_distinct(
        F.expr(
            "transform(arrays_zip("
            "slice(split(s, ''), 1, length(s) - 3), "
            "slice(split(s, ''), 2, length(s) - 3), "
            "slice(split(s, ''), 3, length(s) - 3), "
            "slice(split(s, ''), 4, length(s) - 3)), "
            "x -> concat(x['0'], x['1'], x['2'], x['3']))"
        )
    )
    return t.select("doc_id", grams.alias("gs")).select(
        "doc_id", F.size("gs").alias("n_grams"), F.explode("gs").alias("gram")
    )


@query(
    "q83_curation_pipeline",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang, n_chars, text,
             string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, n_chars,
             md5(array_to_string(t, ' ')) AS fp,
             len(t) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                  AS DOUBLE) / length(text) AS punct_ratio
      FROM toks
    ),
    survivors AS (
      SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM scored
    )
    SELECT doc_id, lang, n_tokens
    FROM survivors
    WHERE rn = 1                  -- exact-dedup survivor
      AND lang IN ('en', 'fr')    -- language filter
      AND n_tokens BETWEEN 20 AND 2000
      AND punct_ratio < 0.1       -- quality filter
    """,
    tags=("curation", "pipeline", "dedup", "quality", "llm"),
)
def q83_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone: a full curation pipeline as ONE declarative plan —
    tokenize → quality features → exact-dedup survivor election → language
    + length + punctuation filters → kept documents. Catalyst fuses the
    scalar stages; the only shuffles are the dedup window and nothing else.

    Scale: this is the shape of a real pretraining-data job; every stage is
    a column expression over one scan plus one fingerprint-partitioned
    window."""
    d = load_table(spark, sf_dir, "documents")
    from csv_loader_spark.functions import text as TXT

    toks = TXT.tokens("text")
    scored = d.select(
        "doc_id",
        "lang",
        TXT.fingerprint("text").alias("fp"),
        F.size(toks).alias("n_tokens"),
        (TXT.punct_count("text").cast("double") / F.length("text")).alias(
            "punct_ratio"
        ),
    )
    w = W.partitionBy("fp").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & F.col("lang").isin("en", "fr")
            & F.col("n_tokens").between(20, 2000)
            & (F.col("punct_ratio") < 0.1)
        )
        .select("doc_id", "lang", "n_tokens")
    )


@query(
    "q67_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM exploded a
      JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN doc_sizes sa ON sa.doc_id = i.doc_a
      JOIN doc_sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5
    ),
    und AS (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION ALL SELECT doc_b, doc_a FROM edges
    ),
    reach(node, root) AS (
      SELECT DISTINCT a, a FROM und
      UNION
      SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.node
    )
    SELECT node AS doc_id, min(root) AS cluster_id
    FROM reach GROUP BY node
    """,
    tags=("dedup", "graph", "iterative", "llm"),
)
def q67_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair list → duplicate CLUSTERS via iterative min-label
    propagation (ops/graph.py) — the step that turns pairwise Jaccard ≥ 0.5
    evidence into keep-one-per-component dedup decisions.

    Edge generation (r10): q119's PREFIX-FILTERED exact Jaccard join
    (llm7.prefix_jaccard_pairs) — candidate pairs come only from the
    rarest-token prefixes (AllPairs length filter + PPJoin positional
    filter, both provably lossless at J >= tau = 0.5), then exact
    verification on the full shingle arrays. The previous naive
    explode-and-self-join edge source was the one Σdf² shape in the tree
    (12.5M candidates / 5k docs on a boilerplate flood, SCALING.json
    `dedup`); prefix filtering bounds candidates by the low-df prefix
    tail (409,103 → 124,979 measured at sf0.1 for the identical pair
    set). The oracle deliberately KEEPS the naive inverted-index edge
    CTE: the exact gate then certifies end-to-end that the pruned edge
    source yields the identical component structure — a stronger proof
    than mirroring the prune on both sides.

    Iterative (non-single-SQL) on the Spark side: join+agg per round,
    lineage truncated via localCheckpoint, converges in diameter rounds.
    The oracle computes the same fixpoint with a recursive CTE."""
    # function-level import: llm7 imports llm2 at module level, so the
    # dependency must stay one-way at import time
    from csv_loader_spark.queries.llm7 import jaccard_dup_edges

    comp = connected_components(
        jaccard_dup_edges(spark, sf_dir), "doc_a", "doc_b"
    )
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
