"""Round-12 LLM-pipeline operators: data SELECTION and semantic dedup —
choosing pretraining candidates that look like a small high-quality
target domain, and pruning semantically redundant ones.

Public-literature basis, one operator per paper:
- q148: Xie et al. 2023, "Data Selection for Language Models via
  Importance Resampling" (DSIR) — hashed unigram+bigram bag features,
  an importance weight per document equal to the log-likelihood ratio
  of its features under the target vs raw feature distributions, and
  selection of the highest-weight candidates. Implemented in the
  deterministic top-k form (the oracle-able variant: Gumbel noise would
  make the draw engine-dependent); the weights are exactly DSIR's
  hashed n-gram estimator.
- q149: Abbas et al. 2023, "SemDeDup" — semantic dedup bounded by a
  coarse k-means partition.
- q150: Wenzek et al. 2020, "CCNet" — LM-perplexity quality scoring
  under a model trained on the curated split.
- q151: Rae et al. 2021, "Gopher" appendix A1.1 — the repetition-removal
  rules (top-n-gram and duplicate-n-gram character fractions).
- q152: Chung et al. 2023, "UniMax" — token-budget mixture allocation,
  computed in closed water-filling form.
- q153: CCNet §4.4 — per-language head/middle/tail perplexity buckets.
- q154: the model-based curation tier composed end-to-end (RefinedWeb/
  Dolma pipeline order), one manifest row per source.

The reference (CsvLoader.java, 274 lines) has no selection surface; this
is part of the beyond-reference training-data pipeline mandated by the
build brief. Everything here derives from the public paper + the Spark /
DuckDB public APIs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_loader_spark.functions import text as TXT
from csv_loader_spark.functions import vectors as VEC
from csv_loader_spark.functions.hashing import hash16_spark_sql, hash16_sql
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.queries.registry import query

#: hashed feature space: unigrams + bigrams folded into 2^16 buckets by
#: the portable md5-prefix hash (llm2's construction, so the Spark plan
#: and the DuckDB oracle bucket identically). DSIR's paper uses 10^4; a
#: 16-bit space keeps the log-ratio table broadcast-trivial (<= 65536
#: rows) while giving the estimator more resolution.
DSIR_BUCKETS = 1 << 16

#: deterministic selection size of the top-k form.
DSIR_TOP_K = 25


def _dsir_oracle() -> str:
    h = hash16_sql("feat")
    return rf"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    uni AS (SELECT doc_id, source, unnest(t) AS feat FROM toks),
    big AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS feat
      FROM toks WHERE len(t) >= 2
    ),
    feats AS (
      SELECT doc_id, source, {h} AS b
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
    ),
    tgt AS (SELECT * FROM feats WHERE doc_id % 10 = 0),
    raw AS (SELECT * FROM feats WHERE doc_id % 10 <> 0),
    ct AS (SELECT b, count(*) AS c FROM tgt GROUP BY b),
    cr AS (SELECT b, count(*) AS c FROM raw GROUP BY b),
    tot AS (
      SELECT (SELECT count(*) FROM tgt) AS nt,
             (SELECT count(*) FROM raw) AS nr
    ),
    ratio AS (
      SELECT cr.b,
             round(ln((coalesce(ct.c, 0) + 1.0) / (tot.nt + {DSIR_BUCKETS}.0))
                   - ln((cr.c + 1.0) / (tot.nr + {DSIR_BUCKETS}.0)), 9) AS lr
      FROM cr LEFT JOIN ct ON ct.b = cr.b CROSS JOIN tot
    ),
    scored AS (
      SELECT r.doc_id, r.source,
             count(*) AS n_feat,
             round(sum(t.lr), 4) AS dsir_score
      FROM raw r JOIN ratio t ON t.b = r.b
      GROUP BY 1, 2
    )
    SELECT doc_id, source, CAST(n_feat AS BIGINT) AS n_feat, dsir_score
    FROM scored
    ORDER BY dsir_score DESC, doc_id
    LIMIT {DSIR_TOP_K}
    """


def dsir_scores(target: DataFrame, raw: DataFrame) -> DataFrame:
    """DSIR importance weights over the ``raw`` candidates against the
    ``target`` domain sample: per doc, the sum over its unigram+bigram
    OCCURRENCES of the add-1-smoothed log-likelihood ratio of the
    feature's hash bucket under the target vs raw distributions
    (Xie et al. 2023 §2.2, hashed n-gram estimator). Both inputs are
    (doc_id, source, text); output (doc_id, source, n_feat, dsir_score),
    score rounded to 4dp after per-bucket 9dp rounding (the cross-engine
    float-sum discipline — see registry.py's determinism rules).

    Scale: the whole estimator is two hashed-count aggregations that
    map-side combine into <= DSIR_BUCKETS rows each, one broadcast of
    the <= 65536-row log-ratio table, and one per-doc sum — a groupBy on
    doc_id over the candidate token stream. Nothing is pairwise, no
    feature ever rides a shuffle wider than its 16-bit bucket id, and
    the target sample (small by construction in DSIR) is never joined
    row-to-row against the candidates: at 100 TB the candidate scan
    dominates and everything else is fixed-size. The per-doc feature
    arrays come from the zip-of-shifted-slices grams (functions/text.py:
    the HOF-lambda-trap-safe shape).

    The md5-prefix bucket hash is the dominant per-occurrence cost, so
    the hashed stream is built ONCE over a flagged target|raw union and
    lazily localCheckpoint-ed; the bucket-count aggregation, the totals,
    and the scoring join all read the materialized stream instead of
    re-running the hash (the streaming/ingest_dedup.py adjudication —
    recompute was 3 evaluations of the hash per occurrence, measured
    3.7 s -> checkpointed at sf0.1; the checkpoint is narrow
    (doc_id, source, int bucket, flag) executor-local rows)."""
    def _feats(docs: DataFrame, flag: int) -> DataFrame:
        return (
            docs.select(
                "doc_id",
                "source",
                F.explode(
                    F.concat(TXT.tokens("text"), TXT.word_ngrams("text", 2))
                ).alias("feat"),
            )
            .withColumn("b", F.expr(hash16_spark_sql("feat")))
            .drop("feat")
            .withColumn("is_t", F.lit(flag))
        )

    allf = (
        _feats(target, 1)
        .unionByName(_feats(raw, 0))
        .localCheckpoint(eager=False)
    )
    counts = allf.groupBy("b").agg(
        F.sum("is_t").alias("ct"),
        F.sum(1 - F.col("is_t")).alias("cr"),
    )
    tot = counts.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    ratio = (
        counts.filter(F.col("cr") > 0)
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    (F.col("ct") + 1.0) / (F.col("nt") + float(DSIR_BUCKETS))
                )
                - F.log(
                    (F.col("cr") + 1.0) / (F.col("nr") + float(DSIR_BUCKETS))
                ),
                9,
            ).alias("lr"),
        )
    )
    return (
        allf.filter(F.col("is_t") == 0)
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feat"),
            F.round(F.sum("lr"), 4).alias("dsir_score"),
        )
    )


@query(
    "q148_dsir_importance",
    oracle=_dsir_oracle(),
    tags=("selection", "quality", "llm", "r12"),
)
def q148_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: score every candidate document (doc_id % 10
    != 0) by how much more likely its hashed unigram+bigram features are
    under the TARGET domain sample's distribution (doc_id % 10 == 0, the
    held-out-split convention q132 established) than under the raw
    candidate distribution, and keep the deterministic top
    {DSIR_TOP_K} — the candidates that look most like the target domain.
    This is the selection operator a pretraining pipeline runs after
    dedup/decontamination to tilt a web-scale corpus toward a curated
    domain (Xie et al. 2023); the Gumbel-resampling variant differs only
    in adding noise before the top-k.

    Scale: see :func:`dsir_scores` — two bounded hashed aggregations, a
    broadcast log-ratio table, one candidate-side groupBy, and a
    TakeOrdered top-k; linear in the candidate corpus."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    target = d.filter(F.col("doc_id") % 10 == 0)
    raw = d.filter(F.col("doc_id") % 10 != 0)
    return (
        dsir_scores(target, raw)
        .orderBy(F.col("dsir_score").desc(), "doc_id")
        .limit(DSIR_TOP_K)
    )


# ---------------------------------------------------------------------------
# q149: SemDeDup — cluster-bounded semantic deduplication over embeddings
# ---------------------------------------------------------------------------

#: semantic-duplicate threshold, matched to q54/q97's corpus-tuned value
#: (the synthetic embeddings' max pair sim is ~0.51).
SEMDEDUP_TAU = 0.40


def _semdedup_oracle() -> str:
    from csv_loader_spark.queries.llm2 import _ivf_cent_values_sql

    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e
    ),
    centv(cid, cv0) AS (VALUES
      {_ivf_cent_values_sql()}
    ),
    centd AS (
      SELECT cid, list_transform(cv0, x -> CAST(x AS DOUBLE)) AS cv FROM centv
    ),
    cent AS (
      SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn
      FROM centd
    ),
    ranked AS (
      SELECT n.vec_id, c.cid,
             list_sum(list_transform(range(1, len(n.v) + 1),
                                     i -> n.v[i] * c.cv[i]))
               / (n.nrm * c.cn) AS csim,
             row_number() OVER (
               PARTITION BY n.vec_id
               ORDER BY list_sum(list_transform(range(1, len(n.v) + 1),
                                                i -> n.v[i] * c.cv[i]))
                        / (n.nrm * c.cn) DESC, c.cid) AS rk
      FROM n CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, cid, csim FROM ranked WHERE rk = 1),
    pairs AS (
      SELECT u.vec_id AS u_id, w.vec_id AS w_id
      FROM assign u JOIN assign w ON u.cid = w.cid
      WHERE u.csim < w.csim
         OR (u.csim = w.csim AND u.vec_id < w.vec_id)
    ),
    dups AS (
      SELECT DISTINCT p.w_id
      FROM pairs p
      JOIN n a ON a.vec_id = p.u_id
      JOIN n b ON b.vec_id = p.w_id
      WHERE list_sum(list_transform(range(1, len(a.v) + 1),
                                    i -> a.v[i] * b.v[i]))
            / (a.nrm * b.nrm) >= {SEMDEDUP_TAU}
    )
    SELECT a.vec_id, a.cid AS cluster_id,
           round(a.csim, 4) AS centroid_sim,
           CAST(CASE WHEN a.vec_id IN (SELECT w_id FROM dups)
                     THEN 1 ELSE 0 END AS INTEGER) AS is_dup
    FROM assign a
    """


@query(
    "q149_semdedup",
    oracle=_semdedup_oracle(),
    tags=("dedup", "similarity", "embedding", "llm", "r12"),
)
def q149_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication with the
    pairwise search BOUNDED by a coarse k-means partition — assign every
    embedding to its nearest trained centroid (the frozen
    ivf_centroids artifact, so both engines cluster bit-identically),
    compare pairs only WITHIN a cluster, and flag a vector as a
    semantic duplicate when a kept cluster-mate lies within cosine
    >= {SEMDEDUP_TAU}. Keep-preference follows the paper: the member
    FARTHEST from its centroid (lowest centroid sim) is kept first —
    SemDeDup's 'keep the outlier' rule — with vec_id as the
    deterministic tie-break; a vector is flagged iff some
    earlier-in-preference cluster-mate is within tau (the single-pass
    exists-dominator form of the paper's greedy, the q28/q53 keep-first
    convention — it can flag strictly more than the iterative greedy
    when dup chains exceed pairs, a conservative bias for a dedup).

    Scale: this is the published answer to 'pairwise cosine doesn't
    scale' — assignment is one broadcast-centroid scan, and the
    quadratic term is Sum |cluster|^2, controlled by k: at 10^10 docs
    one sizes k ~ N/10^4 so each cluster's pair block fits an executor
    (the paper runs exactly this shape at LAION scale). Pair candidates
    carry ONLY ids + the precedence scalar; vectors re-attach by id
    equi-join before the one dot-product filter (q55's
    wide-arrays-never-ride-the-shuffle discipline)."""
    from csv_loader_spark.functions.ivf_centroids import CENTROIDS

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VEC.as_double("embedding").alias("v")
    )
    n = e.withColumn("nrm", VEC.norm("v"))
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(CENTROIDS)], "cid INT, cv ARRAY<DOUBLE>"
    ).withColumn("cn", VEC.norm("cv"))
    csim = VEC.dot("v", "cv") / (F.col("nrm") * F.col("cn"))
    # nearest-centroid argmax as a partially-aggregating max(struct) —
    # (csim desc, cid asc) encoded as lexicographic (csim, -cid) — NOT a
    # row_number window: the groupBy combines map-side so no (vec, csim)
    # row ever rides the shuffle per centroid, where the window form
    # shuffles and sorts all |vecs| x k assignment rows.
    best = (
        n.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            F.struct(
                csim.alias("csim"), (-F.col("cid")).alias("nc")
            ).alias("cand"),
        )
        .groupBy("vec_id")
        .agg(F.max("cand").alias("m"))
    )
    assign = best.select(
        "vec_id",
        (-F.col("m.nc")).cast("int").alias("cid"),
        F.col("m.csim").alias("csim"),
    ).localCheckpoint(eager=False)
    u = assign.select(
        F.col("vec_id").alias("u_id"), "cid", F.col("csim").alias("u_csim")
    )
    w_side = assign.select(
        F.col("vec_id").alias("w_id"), "cid", F.col("csim").alias("w_csim")
    )
    pairs = (
        u.join(w_side, "cid")
        .filter(
            (F.col("u_csim") < F.col("w_csim"))
            | ((F.col("u_csim") == F.col("w_csim")) & (F.col("u_id") < F.col("w_id")))
        )
        .select("u_id", "w_id")
    )
    av = n.select(F.col("vec_id").alias("u_id"), F.col("v").alias("uv"), F.col("nrm").alias("un"))
    bv = n.select(F.col("vec_id").alias("w_id"), F.col("v").alias("wv"), F.col("nrm").alias("wn"))
    sim = VEC.dot("uv", "wv") / (F.col("un") * F.col("wn"))
    dups = (
        pairs.join(av, "u_id")
        .join(bv, "w_id")
        .filter(sim >= SEMDEDUP_TAU)
        .select("w_id")
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        assign.join(dups, assign["vec_id"] == dups["w_id"], "left")
        .select(
            "vec_id",
            F.col("cid").alias("cluster_id"),
            F.round("csim", 4).alias("centroid_sim"),
            F.coalesce(F.col("_dup"), F.lit(0)).cast("int").alias("is_dup"),
        )
    )

# ---------------------------------------------------------------------------
# q150: CCNet-style LM-perplexity quality scoring
# ---------------------------------------------------------------------------


def _lm_scored_sql(*carry: str) -> str:
    """Shared oracle CTE chain ending in ``scored`` — per-candidate-doc
    (doc_id, *carry, n_bigrams, avg_nll) under the curated-split bigram
    LM (q150's estimator; q153/q154 reuse it with other carry columns)."""
    cs = ", ".join(carry)
    qcs = ", ".join(f"b.{c}" for c in carry)
    grp = ", ".join(str(i + 1) for i in range(1 + len(carry)))
    return rf"""toks AS (
      SELECT doc_id, {cs},
             string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    big AS (
      SELECT doc_id, {cs},
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks WHERE len(t) >= 2
    ),
    uni AS (SELECT doc_id, unnest(t) AS w FROM toks),
    tb AS (SELECT g, count(*) AS cb FROM big WHERE doc_id % 10 = 0 GROUP BY g),
    tu AS (SELECT w, count(*) AS cu FROM uni WHERE doc_id % 10 = 0 GROUP BY w),
    voc AS (SELECT count(*) AS v FROM tu),
    scored AS (
      SELECT b.doc_id, {qcs},
             CAST(count(*) AS BIGINT) AS n_bigrams,
             round(-sum(round(ln(coalesce(tb.cb, 0) + 1.0)
                              - ln(coalesce(tu.cu, 0) + CAST(voc.v AS DOUBLE)),
                        9)) / count(*), 4) AS avg_nll
      FROM big b
      LEFT JOIN tb ON tb.g = b.g
      LEFT JOIN tu ON tu.w = split_part(b.g, ' ', 1)
      CROSS JOIN voc
      WHERE b.doc_id % 10 <> 0
      GROUP BY {grp}
    )"""


def _lm_perplexity_oracle() -> str:
    return f"""
    WITH {_lm_scored_sql("source")}
    SELECT doc_id, source, n_bigrams, avg_nll FROM scored
    """


@query(
    "q150_lm_perplexity",
    oracle=_lm_perplexity_oracle(),
    tags=("quality", "selection", "llm", "r12"),
)
def q150_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020):
    score every candidate document by its average negative log-likelihood
    under an add-1-smoothed bigram LM trained on the curated target split
    (doc_id % 10 == 0, the q132/q148 held-out convention) — CCNet's
    'perplexity under a Wikipedia-trained KenLM' filter with the 5-gram
    Kneser-Ney model replaced by the oracle-able bigram/add-1 estimator.
    Per candidate bigram (p, w): nll contribution
    -[ln(c_train(p w) + 1) - ln(c_train(p) + V)] with V = training
    unigram vocabulary size; unseen history backs off to the uniform
    1/V. Low avg_nll == fluent under the target domain; a pipeline
    thresholds or buckets on it (CCNet keeps the head/middle tail).

    Scale: train-side counts are two map-side-combining aggregations
    over the CURATED split (small by construction — CCNet's LM corpus is
    Wikipedia, not the web crawl), broadcast to the candidate scan; the
    candidate side is one explode + two broadcast equi-joins + one
    per-doc groupBy — linear in corpus size, nothing pairwise, no
    feature wider than a bigram string rides the shuffle. If the
    training split ever outgrew broadcast range the joins degrade
    gracefully to shuffle equi-joins on the gram key."""
    return lm_nll_scores(spark, sf_dir, "source")


def lm_nll_scores(spark: SparkSession, sf_dir: str, *carry: str) -> DataFrame:
    """q150's scorer body, shared with q153/q154: per candidate doc
    (doc_id, *carry, n_bigrams, avg_nll) under the curated-split
    add-1 bigram LM. See :func:`q150_lm_perplexity` for semantics and
    the scale adjudication."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", *carry, "text")
    train = d.filter(F.col("doc_id") % 10 == 0)
    cand = d.filter(F.col("doc_id") % 10 != 0)
    tb = (
        train.select(F.explode(TXT.word_ngrams("text", 2)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    tu = (
        train.select(F.explode(TXT.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    voc = tu.agg(F.count(F.lit(1)).alias("v"))
    feats = (
        cand.select(
            "doc_id", *carry, F.explode(TXT.word_ngrams("text", 2)).alias("g")
        )
        .withColumn("p", F.substring_index("g", " ", 1))
        .join(F.broadcast(tb), "g", "left")
        .join(F.broadcast(tu), F.col("p") == F.col("w"), "left")
        .crossJoin(F.broadcast(voc))
    )
    nll = F.round(
        F.log(F.coalesce(F.col("cb"), F.lit(0)) + 1.0)
        - F.log(F.coalesce(F.col("cu"), F.lit(0)) + F.col("v").cast("double")),
        9,
    )
    return feats.groupBy("doc_id", *carry).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(-F.sum(nll) / F.count(F.lit(1)), 4).alias("avg_nll"),
    )


def _ccnet_buckets_oracle() -> str:
    return f"""
    WITH {_lm_scored_sql("lang")}
    SELECT doc_id, lang, avg_nll,
           CASE ntile(3) OVER (PARTITION BY lang ORDER BY avg_nll, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM scored
    """


@query(
    "q153_ccnet_buckets",
    oracle=_ccnet_buckets_oracle(),
    tags=("quality", "selection", "llm", "r12"),
)
def q153_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020 §4.4): within
    each LANGUAGE, split the candidate documents into equal thirds by
    their LM score — 'head' (most fluent under the curated-domain LM),
    'middle', 'tail' — the partition CCNet publishes per language so a
    consumer can choose head-only, head+middle, etc. Scores come from
    :func:`lm_nll_scores` (q150's estimator); the split is an exact
    ntile(3) over (avg_nll, doc_id) — deterministic because the sort
    key is unique per partition.

    Scale: the scorer is q150's linear pipeline; the bucketing adds one
    window partitioned by language. Exact ntile implies a per-language
    sort — at 100 TB one replaces it with CCNet's actual mechanism
    (fixed thresholds read off a per-language score HISTOGRAM, one
    aggregation + a map-only bucket assignment); the ntile form is the
    exact semantic the histogram approximates, and per-language skew is
    bounded by the corpus's language mix."""
    from pyspark.sql import Window as W

    scored = lm_nll_scores(spark, sf_dir, "lang")
    w = W.partitionBy("lang").orderBy("avg_nll", "doc_id")
    nt = F.ntile(3).over(w)
    return scored.select(
        "doc_id",
        "lang",
        "avg_nll",
        F.when(nt == 1, "head")
        .when(nt == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# q151: Gopher repetition-removal rules (the half of A1.1 q137 doesn't cover)
# ---------------------------------------------------------------------------

#: (n, kind, threshold_pct): fraction of document characters attributable
#: to the top-occurring n-gram ("top") or to all n-grams occurring >= 2
#: times ("dup") must not exceed threshold_pct / 100 (Rae et al. 2021,
#: table A1 — word-n-gram subset; the line-based rules are inapplicable
#: to the single-line synthetic corpus and are documented out).
REP_RULES = ((2, "top", 20), (3, "top", 18), (4, "top", 16), (5, "dup", 15), (10, "dup", 10))

_REP_NS = tuple(sorted({n for n, _, _ in REP_RULES}))


def _repetition_oracle() -> str:
    gram_selects = "\n      UNION ALL\n".join(
        f"""      SELECT doc_id, {n} AS n,
             unnest(list_transform(range(1, len(t) - {n} + 2),
                    i -> array_to_string(list_slice(t, i, i + {n} - 1), ' '))) AS g
      FROM toks WHERE len(t) >= {n}"""
        for n in _REP_NS
    )
    frac_cols = ",\n           ".join(
        f"round(coalesce(max(CASE WHEN p.n = {n} THEN p.{kind} END), 0)"
        f" / CAST(d.n_chars AS DOUBLE), 4) AS {kind}{n}_frac"
        for n, kind, _ in REP_RULES
    )
    ok_expr = " AND ".join(
        f"coalesce(max(CASE WHEN p.n = {n} THEN p.{kind} END), 0) * 100"
        f" <= {pct} * d.n_chars"
        for n, kind, pct in REP_RULES
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE n_chars > 0
    ),
    grams AS (
{gram_selects}
    ),
    cnt AS (
      SELECT doc_id, n, g, count(*) AS c, length(g) AS l
      FROM grams GROUP BY 1, 2, 3
    ),
    p AS (
      SELECT doc_id, n,
             max(c * l) AS top,
             sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup
      FROM cnt GROUP BY 1, 2
    )
    SELECT d.doc_id,
           {frac_cols},
           CAST(CASE WHEN {ok_expr} THEN 1 ELSE 0 END AS INTEGER) AS ok_rep
    FROM documents d
    LEFT JOIN p ON p.doc_id = d.doc_id
    WHERE d.n_chars > 0
    GROUP BY d.doc_id, d.n_chars
    """


@query(
    "q151_repetition_rules",
    oracle=_repetition_oracle(),
    tags=("quality", "text", "llm", "r12"),
)
def q151_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition removal (Rae et al. 2021, A1.1 — the half the
    q137 rule pack does not cover): per document, the fraction of
    characters attributable to (a) the single most-repeated word n-gram
    (n = 2, 3, 4; 'top') and (b) all word n-grams occurring at least
    twice (n = 5, 10; 'dup'), each bounded by the paper's threshold,
    plus the conjunction ``ok_rep`` a filter stage consumes. Character
    attribution is occurrences x gram length (overlaps double-count, the
    published implementations' convention — e.g. Dolma's repetitions
    tagger); count ties in 'top' break toward more characters (max of
    c*len — equals the paper's value except on exact count ties). The
    line-based duplicate-line rules are inapplicable to this single-line
    corpus and deliberately omitted. Thresholds compare as integer
    cross-multiplications so both engines decide each flag exactly;
    the reported fractions round to 4dp.

    Scale: one explode into (doc_id, n, gram) covering all five n's,
    one count shuffle keyed (doc_id, n, gram), one per-(doc, n) fold,
    one pivot back to doc rows, one broadcast-free left join to the doc
    spine — linear in corpus size, no pairwise term, gram keys never
    exceed 10 words. This is the second-stage quality filter a real
    pipeline runs right after the map-only q137 pack."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)

    def _tag(n: int):
        # NOT a two-arg lambda with a default: F.transform dispatches on
        # lambda ARITY, so `lambda g, n=n:` silently becomes the binary
        # (element, index) form and binds n to the array position.
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    arrs = [F.transform(TXT.word_ngrams("text", n), _tag(n)) for n in _REP_NS]
    cnt = (
        d.select("doc_id", F.explode(F.concat(*arrs)).alias("ng"))
        .select("doc_id", "ng.n", "ng.g")
        .groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("chars", F.col("c") * F.length("g"))
    )
    per_n = cnt.groupBy("doc_id", "n").agg(
        F.max("chars").alias("top"),
        F.sum(F.when(F.col("c") >= 2, F.col("chars")).otherwise(0)).alias("dup"),
    )
    wide = per_n.groupBy("doc_id").pivot("n", list(_REP_NS)).agg(
        F.first("top").alias("top"), F.first("dup").alias("dup")
    )
    out = d.select("doc_id", "n_chars").join(wide, "doc_id", "left")
    cols = [F.col("doc_id")]
    ok = F.lit(True)
    for n, kind, pct in REP_RULES:
        chars = F.coalesce(F.col(f"{n}_{kind}"), F.lit(0))
        cols.append(
            F.round(chars / F.col("n_chars").cast("double"), 4).alias(
                f"{kind}{n}_frac"
            )
        )
        ok = ok & (chars * 100 <= F.lit(pct) * F.col("n_chars"))
    cols.append(ok.cast("int").alias("ok_rep"))
    return out.select(*cols)


# ---------------------------------------------------------------------------
# q152: UniMax-style token-budget mixture via closed-form water-filling
# ---------------------------------------------------------------------------

#: budget as a fraction of total corpus tokens (numerator/denominator —
#: integer arithmetic end-to-end so both engines compute the same budget).
MIX_BUDGET_NUM, MIX_BUDGET_DEN = 9, 10


def _water_fill_sql(cte: str) -> str:
    """Water-filling CTE fragment over an input CTE ``{cte}(source, n)``
    (n = BIGINT capacity). Emits wf_tot/wf_r/wf_flg/wf_agg and the final
    ``wf(source, n, saturated, alloc_tokens)`` — q152's exact arithmetic,
    shared with q154's capstone."""
    return f"""wf_tot AS (
      SELECT CAST(({MIX_BUDGET_NUM} * sum(n)) // {MIX_BUDGET_DEN} AS BIGINT) AS b,
             count(*) AS s
      FROM {cte}
    ),
    wf_r AS (
      SELECT source, n,
             row_number() OVER (ORDER BY n, source) AS rn,
             CAST(coalesce(sum(n) OVER (ORDER BY n, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cumb
      FROM {cte}
    ),
    wf_flg AS (
      SELECT wf_r.source, wf_r.n, wf_tot.b, wf_tot.s,
             CASE WHEN wf_r.n * (wf_tot.s - wf_r.rn + 1) <= wf_tot.b - wf_r.cumb
                  THEN 1 ELSE 0 END AS sat
      FROM wf_r CROSS JOIN wf_tot
    ),
    wf_agg AS (
      SELECT CAST(sum(CASE WHEN sat = 1 THEN n ELSE 0 END) AS BIGINT) AS satcap,
             CAST(sum(sat) AS BIGINT) AS nsat
      FROM wf_flg
    ),
    wf AS (
      SELECT f.source, f.n, CAST(f.sat AS INTEGER) AS saturated,
             round(CASE WHEN f.sat = 1 THEN CAST(f.n AS DOUBLE)
                        ELSE (f.b - a.satcap) / CAST(f.s - a.nsat AS DOUBLE)
                   END, 4) AS alloc_tokens
      FROM wf_flg f CROSS JOIN wf_agg a
    )"""


def _unimax_oracle() -> str:
    return rf"""
    WITH toks AS (
      SELECT source,
             CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
                  AS BIGINT) AS n
      FROM documents GROUP BY source
    ),
    {_water_fill_sql("toks")}
    SELECT source, n AS n_tokens, saturated, alloc_tokens FROM wf
    """


@query(
    "q152_unimax_mixture",
    oracle=_unimax_oracle(),
    tags=("selection", "mixing", "llm", "r12"),
)
def q152_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax-style token-budget mixture (Chung et al. 2023: allocate a
    training budget as UNIFORMLY as possible across sources, never
    drawing more than each source's capacity) computed in the CLOSED
    water-filling form instead of the paper's iterative loop: with
    sources sorted by capacity ascending, source i saturates iff
    cap_i * slots_remaining <= budget_still_unallocated — an integer
    cross-multiplication both engines decide exactly (the unsaturated
    set is provably a suffix: if row k fails the test, every later,
    larger row fails it too) — and every unsaturated source receives the
    common waterline (B - saturated_caps) / n_unsaturated. Budget here
    is {MIX_BUDGET_NUM}/{MIX_BUDGET_DEN} of corpus tokens with capacity
    = one epoch, i.e. 'take small sources fully, downsample the large
    ones to a common level' — the shape a pipeline runs to fit a token
    target without oversampling any source.

    Scale: per-source token counts are one map-side-combining
    aggregation over the corpus; everything after operates on the
    <= |sources|-row frame, where the single-partition window is over a
    few hundred rows at most (the q121 quota-frame convention) — the
    100 TB cost is the one corpus scan."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(TXT.token_count("text")).cast("long").alias("n"))
    )
    return water_fill(toks).select(
        "source",
        F.col("n").alias("n_tokens"),
        "saturated",
        "alloc_tokens",
    )


def water_fill(toks: DataFrame) -> DataFrame:
    """q152's closed-form water-filling over a tiny (source, n:long)
    capacity frame; returns (source, n, saturated, alloc_tokens). Shared
    with q154's capstone. See :func:`q152_unimax_mixture` for the
    saturation-suffix proof and the scale adjudication."""
    from pyspark.sql import Window as W

    tot = toks.agg(
        F.expr(
            f"CAST(({MIX_BUDGET_NUM} * sum(n)) div {MIX_BUDGET_DEN} AS BIGINT)"
        ).alias("b"),
        F.count(F.lit(1)).alias("s"),
    )
    w = W.orderBy("n", "source")
    r = toks.select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.row_number().over(w).alias("rn"),
        F.coalesce(
            F.sum("n").over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).cast("long").alias("cumb"),
    )
    flg = r.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        "b",
        "s",
        (F.col("n") * (F.col("s") - F.col("rn") + 1) <= F.col("b") - F.col("cumb"))
        .cast("int")
        .alias("sat"),
    )
    agg = flg.agg(
        F.sum(F.when(F.col("sat") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("satcap"),
        F.sum("sat").cast("long").alias("nsat"),
    )
    return flg.crossJoin(F.broadcast(agg)).select(
        "source",
        "n",
        F.col("sat").alias("saturated"),
        F.round(
            F.when(F.col("sat") == 1, F.col("n").cast("double")).otherwise(
                (F.col("b") - F.col("satcap"))
                / (F.col("s") - F.col("nsat")).cast("double")
            ),
            4,
        ).alias("alloc_tokens"),
    )


# ---------------------------------------------------------------------------
# q154: the model-based curation capstone (rules -> LM buckets -> budget)
# ---------------------------------------------------------------------------


def _gopher_ok_sql() -> str:
    """CTE fragment (reads the shared ``toks``): ``gop(doc_id, n_tok)``
    = candidate docs passing q137's four Gopher base rules; constants
    imported from llm8 so the capstone cannot drift from q137."""
    from csv_loader_spark.functions.text import STOPWORDS
    from csv_loader_spark.queries.llm8 import (
        _G_ALPHA_DEN,
        _G_ALPHA_NUM,
        _G_MAX_MWL,
        _G_MAX_WORDS,
        _G_MIN_MWL,
        _G_MIN_STOP,
        _G_MIN_WORDS,
    )

    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""gfeats AS (
      SELECT doc_id,
             len(t) AS n_tok,
             list_sum(list_transform(t, x -> len(x))) AS sum_len,
             len(list_filter(t, x -> x IN ({stops}))) AS n_stop,
             len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS n_alpha
      FROM toks
    ),
    gop AS (
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok
      FROM gfeats
      WHERE n_tok BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}
        AND sum_len >= {_G_MIN_MWL} * n_tok
        AND sum_len <= {_G_MAX_MWL} * n_tok
        AND n_stop >= {_G_MIN_STOP}
        AND {_G_ALPHA_DEN} * n_alpha >= {_G_ALPHA_NUM} * n_tok
    )"""


def _rep_ok_sql() -> str:
    """CTE fragment (reads the shared ``toks`` + documents for n_chars):
    ``rep(doc_id)`` = docs passing q151's five repetition rules; built
    from the same REP_RULES constants as q151."""
    gram_selects = "\n      UNION ALL\n".join(
        f"""      SELECT doc_id, {n} AS n,
             unnest(list_transform(range(1, len(t) - {n} + 2),
                    i -> array_to_string(list_slice(t, i, i + {n} - 1), ' '))) AS g
      FROM toks WHERE len(t) >= {n}"""
        for n in _REP_NS
    )
    ok_expr = " AND ".join(
        f"coalesce(max(CASE WHEN rp.n = {n} THEN rp.{kind} END), 0) * 100"
        f" <= {pct} * d.n_chars"
        for n, kind, pct in REP_RULES
    )
    return f"""rgrams AS (
{gram_selects}
    ),
    rcnt AS (
      SELECT doc_id, n, g, count(*) AS c, length(g) AS l
      FROM rgrams GROUP BY 1, 2, 3
    ),
    rp AS (
      SELECT doc_id, n,
             max(c * l) AS top,
             sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup
      FROM rcnt GROUP BY 1, 2
    ),
    rep AS (
      SELECT d.doc_id
      FROM documents d
      LEFT JOIN rp ON rp.doc_id = d.doc_id
      WHERE d.n_chars > 0
      GROUP BY d.doc_id, d.n_chars
      HAVING {ok_expr}
    )"""


def _capstone_oracle() -> str:
    return f"""
    WITH {_lm_scored_sql("source", "lang")},
    {_gopher_ok_sql()},
    {_rep_ok_sql()},
    surv AS (
      SELECT s.doc_id, s.source, s.lang, g.n_tok, s.avg_nll
      FROM scored s
      JOIN gop g ON g.doc_id = s.doc_id
      JOIN rep r ON r.doc_id = s.doc_id
    ),
    bkt AS (
      SELECT surv.*,
             ntile(3) OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS nt
      FROM surv
    ),
    kept AS (SELECT * FROM bkt WHERE nt <= 2),
    c_all AS (
      SELECT source, count(*) AS n_docs
      FROM documents WHERE doc_id % 10 <> 0 GROUP BY source
    ),
    c_rules AS (SELECT source, count(*) AS nr FROM surv GROUP BY source),
    c_kept AS (SELECT source, count(*) AS nk FROM kept GROUP BY source),
    wtoks AS (
      SELECT a.source, CAST(coalesce(sum(k.n_tok), 0) AS BIGINT) AS n
      FROM c_all a LEFT JOIN kept k ON k.source = a.source
      GROUP BY a.source
    ),
    {_water_fill_sql("wtoks")}
    SELECT a.source,
           CAST(a.n_docs AS BIGINT) AS n_docs,
           CAST(coalesce(r.nr, 0) AS BIGINT) AS n_rules_pass,
           CAST(coalesce(k.nk, 0) AS BIGINT) AS n_kept,
           w.n AS n_tokens_kept,
           w.saturated,
           w.alloc_tokens
    FROM c_all a
    LEFT JOIN c_rules r ON r.source = a.source
    LEFT JOIN c_kept k ON k.source = a.source
    JOIN wf w ON w.source = a.source
    """


@query(
    "q154_curation_capstone",
    oracle=_capstone_oracle(),
    tags=("curation", "quality", "selection", "mixing", "llm", "r12"),
)
def q154_curation_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MODEL-BASED curation tier composed end-to-end — the r12
    counterpart of q132's rule-based admission manifest, mirroring the
    published pipeline order (RefinedWeb/Dolma: heuristic filters, then
    model-based quality, then mixing): (1) candidates (doc_id % 10 != 0)
    pass q137's four Gopher base rules AND q151's five repetition rules;
    (2) survivors are scored by q150's curated-split bigram LM and
    bucketed per language by q153's ntile(3); the 'tail' third is
    dropped; (3) the kept documents' tokens are allocated across sources
    by q152's UniMax water-filling. Emits one row per source: docs in,
    rules survivors, head+middle kept, kept tokens, and the budgeted
    allocation — the manifest a pipeline owner reads before launching
    tokenization.

    Every stage reuses the exact constants/helpers of its standalone
    query (llm8 Gopher constants, REP_RULES, lm_nll_scores,
    water_fill), so the capstone proves the operators COMPOSE without
    semantic drift; each stage is individually oracle-gated and the
    composition is gated here.

    Scale: union of the stages' own adjudications — every rule and the
    scorer are linear corpus scans with broadcast side tables, the
    bucketing is the per-language sort (histogram thresholds at 100 TB,
    see q153), the allocation runs on the |sources|-row frame. Joins
    between stages are doc_id equi-joins carrying scalars only."""
    from csv_loader_spark.functions.text import STOPWORDS
    from csv_loader_spark.queries.llm8 import (
        _G_ALPHA_DEN,
        _G_ALPHA_NUM,
        _G_MAX_MWL,
        _G_MAX_WORDS,
        _G_MIN_MWL,
        _G_MIN_STOP,
        _G_MIN_WORDS,
    )
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    cand = d.filter(F.col("doc_id") % 10 != 0)

    t = TXT.tokens("text")
    gfeats = cand.select(
        "doc_id",
        F.size(t).alias("n_tok"),
        F.aggregate(
            F.transform(t, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
        ).alias("sum_len"),
        F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).alias("n_stop"),
        F.size(F.filter(t, lambda x: x.rlike("[a-z]"))).alias("n_alpha"),
    )
    gop = gfeats.filter(
        F.col("n_tok").between(_G_MIN_WORDS, _G_MAX_WORDS)
        & (F.col("sum_len") >= _G_MIN_MWL * F.col("n_tok"))
        & (F.col("sum_len") <= _G_MAX_MWL * F.col("n_tok"))
        & (F.col("n_stop") >= _G_MIN_STOP)
        & (_G_ALPHA_DEN * F.col("n_alpha") >= _G_ALPHA_NUM * F.col("n_tok"))
    ).select("doc_id", F.col("n_tok").cast("long").alias("n_tok"))

    rep = (
        q151_repetition_rules(spark, sf_dir)
        .filter(F.col("ok_rep") == 1)
        .select("doc_id")
    )

    scored = lm_nll_scores(spark, sf_dir, "source", "lang")
    surv = scored.join(gop, "doc_id").join(rep, "doc_id")
    nt = F.ntile(3).over(W.partitionBy("lang").orderBy("avg_nll", "doc_id"))
    kept = surv.withColumn("nt", nt).filter(F.col("nt") <= 2)

    c_all = cand.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    c_rules = surv.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("nr"))
    c_kept = kept.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("nk"))
    wtoks = (
        c_all.join(
            kept.groupBy("source").agg(F.sum("n_tok").alias("kt")), "source", "left"
        )
        .select("source", F.coalesce(F.col("kt"), F.lit(0)).cast("long").alias("n"))
    )
    wf = water_fill(wtoks)
    return (
        c_all.join(c_rules, "source", "left")
        .join(c_kept, "source", "left")
        .join(wf, "source")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("nr"), F.lit(0)).alias("n_rules_pass"),
            F.coalesce(F.col("nk"), F.lit(0)).alias("n_kept"),
            F.col("n").alias("n_tokens_kept"),
            "saturated",
            "alloc_tokens",
        )
    )
