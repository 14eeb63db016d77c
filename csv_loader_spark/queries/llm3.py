"""Training-data curation, batch 3: benchmark decontamination, PII
scrubbing, and repetition-based quality signals (q85-q87).

These extend the LLM-pipeline surface (SURVEY.md §2.3 / llm.py, llm2.py)
with three ops every large-corpus pipeline runs before training:

- q85: eval-set DECONTAMINATION — flag corpus docs sharing word n-grams
  with a held-out eval split. Candidate generation is an equi-join on the
  gram (the same inverted-index shape as q33/q34), never an all-pairs
  product; at 100 TB the gram join is the cost and high-df grams are the
  skew watch (stop-list, as in llm.py).
- q86: PII SCRUB — regex replacement of emails/phones with typed tags,
  plus per-doc match counts and a post-scrub fingerprint. The synthetic
  corpus contains no PII, so the query INJECTS deterministic PII derived
  from doc_id (same expression in Spark and the oracle) and then proves
  the scrubber removes exactly that. Patterns avoid lookaround so Java
  regex (Spark) and RE2 (DuckDB) agree.
- q87: REPETITION QUALITY (gopher-style): duplicate-word fraction,
  top-word fraction, duplicate-3-gram fraction per doc. One explode +
  two aggregations; all JVM-side expressions.

All three are exact-oracle checked (no rows-only carve-outs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_loader_spark.functions import text as TXT
from csv_loader_spark.functions.hashing import hash32_spark_sql, hash32_sql
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.queries.llm2 import ann_recall
from csv_loader_spark.queries.registry import query

# ---------------------------------------------------------------------------
# q85: eval-set decontamination (word 4-grams)
# ---------------------------------------------------------------------------

# 4-gram CTE: same tokenization as llm.py's _SHINGLE_CTE, one word wider.
_GRAM4_CTE = r"""
    toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 2),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
               AS grams
      FROM toks
      WHERE len(t) >= 4
    ),
    exploded AS (
      SELECT doc_id, unnest(grams) AS g FROM sh
    )
"""


@query(
    "q85_decontamination",
    oracle=f"""
    WITH {_GRAM4_CTE}
    SELECT c.doc_id,
           count(DISTINCT e.doc_id) AS n_eval_docs,
           count(DISTINCT c.g) AS n_shared_grams
    FROM exploded c
    JOIN exploded e ON c.g = e.g
    WHERE c.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
    GROUP BY c.doc_id
    """,
    tags=("decontamination", "dedup", "llm"),
)
def q85_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id % 10 ≠ 0) that share
    ≥1 distinct word 4-gram with the held-out eval split (doc_id % 10 = 0);
    per doc, how many eval docs it collides with and on how many grams.

    Scale: explode grams → equi-join on the gram → two count-distincts.
    Cost is Σ(docs-per-gram²) like every inverted-index candidate join;
    no cross product at any size. In production the eval side is a small
    broadcast (benchmarks are ~1e4 docs, corpus is 1e10)."""
    grams = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", TXT.word_shingles("text", 4).alias("grams"))
        .filter(F.size("grams") >= 1)
        .select("doc_id", F.explode("grams").alias("g"))
    )
    corpus = grams.filter(F.col("doc_id") % 10 != 0)
    eval_g = grams.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("eval_id"), "g"
    )
    return (
        corpus.join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("eval_id").alias("n_eval_docs"),
            F.countDistinct("g").alias("n_shared_grams"),
        )
    )


# ---------------------------------------------------------------------------
# q86: PII scrub (emails / phone numbers), deterministic injected fixture
# ---------------------------------------------------------------------------

# Lookaround-free patterns, identical semantics in Java regex and RE2.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def scrub_pii(col: F.Column) -> F.Column:
    """Replace emails then phones with typed placeholder tags (JVM-side)."""
    return F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


@query(
    "q86_pii_scrub",
    oracle=rf"""
    WITH injected AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or call 555-'
                    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_fp
    FROM injected
    """,
    tags=("pii", "cleaning", "llm"),
)
def q86_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count emails/phones per doc and fingerprint the
    scrubbed text. The corpus is synthetic and PII-free, so docs with
    doc_id % 7 = 0 get a deterministic email + phone appended (same
    expression on both engines) — the fingerprints then prove the scrubber
    removed exactly the injected spans and nothing else.

    Scale: three regexp passes per row, all inside whole-stage codegen;
    no shuffle at all (embarrassingly parallel over the scan)."""
    d = load_table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    return d.select("doc_id", injected.alias("text")).select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(PHONE_RE), 0)).alias("n_phones"),
        F.md5(scrub_pii(F.col("text"))).alias("scrubbed_fp"),
    )


# ---------------------------------------------------------------------------
# q87: repetition-based quality (gopher-style signals)
# ---------------------------------------------------------------------------


@query(
    "q87_repetition_quality",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    words AS (
      SELECT doc_id, unnest(t) AS w FROM toks
    ),
    per_word AS (
      SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
    ),
    word_stats AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_words,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(c) AS BIGINT) AS top_c
      FROM per_word GROUP BY doc_id
    ),
    gram_stats AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS n_grams,
             CASE WHEN len(t) >= 3 THEN
               len(list_distinct(list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
             ELSE 0 END AS n_distinct_grams
      FROM toks
    )
    SELECT w.doc_id,
           w.n_words,
           -- integer half-up division, not round(double,4): both engines
           -- round the SAME exact rational, dodging the .00005-boundary
           -- shortest-repr-vs-binary divergence (see q60_window_frames)
           ((2 * (w.n_words - w.n_distinct) * 10000 + w.n_words)
              // (2 * w.n_words)) / 10000.0 AS dup_word_frac,
           ((2 * w.top_c * 10000 + w.n_words) // (2 * w.n_words)) / 10000.0
             AS top_word_frac,
           CASE WHEN g.n_grams > 0 THEN
             ((2 * CAST(g.n_grams - g.n_distinct_grams AS BIGINT) * 10000
                 + g.n_grams) // (2 * CAST(g.n_grams AS BIGINT))) / 10000.0
           ELSE 0.0 END AS dup_3gram_frac
    FROM word_stats w JOIN gram_stats g ON w.doc_id = g.doc_id
    """,
    tags=("quality", "text", "llm"),
)
def q87_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals per doc: duplicate-word fraction,
    top-word fraction, duplicate-3-gram fraction — the classic filters for
    degenerate/templated text in pretraining corpora.

    Scale: one explode + (doc, word) partial-agg + per-doc agg for the word
    stats; the gram stats never explode (array expressions compute counts
    in place). Both shuffles key on doc_id/word — no skew beyond natural
    word frequency, bounded by per-doc token counts."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", TXT.tokens("text").alias("t"))

    per_word = (
        toks.select("doc_id", F.explode("t").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    word_stats = per_word.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_c"),
    )

    n = F.size(TXT.tokens("text"))
    # word_shingles is already distinct and uses the zip-of-slices shape
    # (a lambda indexing the inlined token alias would re-split the text
    # per gram — the interpreted-HOF trap, see functions/text.py)
    gram_stats = d.select(
        "doc_id",
        F.when(n >= 3, n - 2).otherwise(F.lit(0)).alias("n_grams"),
        F.size(TXT.word_shingles("text", 3)).alias("n_distinct_grams"),
    )

    return (
        word_stats.join(gram_stats, "doc_id")
        .select(
            "doc_id",
            "n_words",
            # integer half-up division (q60's pattern): both engines round
            # the same exact rational instead of a possibly-divergent double
            (
                F.expr(
                    "(2 * (n_words - n_distinct) * 10000 + n_words)"
                    " div (2 * n_words)"
                )
                / 10000.0
            ).alias("dup_word_frac"),
            (
                F.expr("(2 * top_c * 10000 + n_words) div (2 * n_words)")
                / 10000.0
            ).alias("top_word_frac"),
            F.when(
                F.col("n_grams") > 0,
                F.expr(
                    "(2 * CAST(n_grams - n_distinct_grams AS BIGINT) * 10000"
                    " + n_grams) div (2 * CAST(n_grams AS BIGINT))"
                )
                / 10000.0,
            )
            .otherwise(F.lit(0.0))
            .alias("dup_3gram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q88: decontaminated corpus (the removal half of q85's detection)
# ---------------------------------------------------------------------------


@query(
    "q88_remove_contaminated",
    oracle=f"""
    WITH {_GRAM4_CTE},
    contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM exploded c
      JOIN exploded e ON c.g = e.g
      WHERE c.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(len(string_split_regex(trim(lower(d.text)), '\\s+'))) AS BIGINT)
             AS n_tokens
    FROM documents d
    WHERE d.doc_id % 10 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    GROUP BY d.source
    """,
    tags=("decontamination", "cleaning", "llm"),
)
def q88_remove_contaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminated training corpus: drop every corpus doc flagged by the
    q85 gram-overlap detector (LEFT ANTI join on doc_id) and report the
    surviving per-source document/token mix — detection (q85) and removal
    (q88) together are the standard decontamination pipeline.

    Scale: the contaminated set is tiny relative to the corpus (it is
    bounded by eval-adjacent docs), so the anti-join broadcasts; everything
    else is one scan + one agg."""
    d = load_table(spark, sf_dir, "documents")
    contaminated = q85_decontamination(spark, sf_dir).select("doc_id")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    return (
        corpus.join(contaminated, "doc_id", "left_anti")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(TXT.tokens("text"))).alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q90/q91: BPE-ish tokenization + vocabulary induction
# ---------------------------------------------------------------------------

# GPT-2-style pretokenizer, simplified to the lookaround-free core so Java
# regex (Spark) and RE2 (DuckDB) agree byte-for-byte: runs of letters,
# runs of digits, runs of other non-space symbols.
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


@query(
    "q90_bpe_token_stats",
    oracle=rf"""
    WITH c AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n_ws_tokens,
             len(regexp_extract_all(lower(text), '{BPE_RE}')) AS n_bpe_tokens
      FROM documents
    )
    SELECT doc_id, n_ws_tokens, n_bpe_tokens,
           -- integer half-up division (see q60): same exact rational both engines
           ((2 * n_bpe_tokens * 10000 + n_ws_tokens) // (2 * n_ws_tokens))
             / 10000.0 AS bpe_per_word
    FROM c
    """,
    tags=("tokenize", "text", "llm"),
)
def q90_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both ways the prompt of a data pipeline needs it:
    whitespace words AND a BPE-ish pretokenizer regex (letter runs / digit
    runs / symbol runs — the lookaround-free core of the GPT-2 pattern),
    plus their ratio (the classic tokens-per-word cost estimate).

    Scale: two regexes per row, no shuffle, whole-stage codegen."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(TXT.tokens("text"))
    bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_RE), 0))
    return d.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
    ).select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        # integer half-up division (q60's pattern), not round(double, 4)
        (
            F.expr(
                "(2 * CAST(n_bpe_tokens AS BIGINT) * 10000 + n_ws_tokens)"
                " div (2 * CAST(n_ws_tokens AS BIGINT))"
            )
            / 10000.0
        ).alias("bpe_per_word"),
    )


@query(
    "q91_vocab_topk",
    oracle=rf"""
    SELECT t AS token, count(*) AS freq
    FROM (
      SELECT unnest(regexp_extract_all(lower(text), '{BPE_RE}')) AS t
      FROM documents
    )
    GROUP BY t
    ORDER BY freq DESC, token
    LIMIT 100
    """,
    tags=("tokenize", "vocab", "llm"),
)
def q91_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary induction: top-100 BPE-ish tokens by frequency
    (deterministic tie-break on the token) — the counting pass every
    BPE/unigram vocab trainer starts from.

    Scale: explode → partial+final agg on the token → TakeOrderedAndProject
    for the limit; the token-frequency skew (Zipf) lives entirely in the
    pre-aggregated map side."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(BPE_RE), 0)
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q92: temperature-scaled sampling weights for the training mix
# ---------------------------------------------------------------------------


@query(
    "q92_temperature_mix",
    oracle="""
    WITH counts AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (
      SELECT source, n_docs,
             CAST(sum(n_docs) OVER () AS BIGINT) AS total,
             CAST(max(n_docs) OVER () AS BIGINT) AS n_max
      FROM counts
    )
    SELECT source, n_docs,
           -- share: integer half-up division (see q60); t2_rel_weight keeps
           -- round-on-double (sqrt output is irrational — no exact form; the
           -- operands n_docs/n_max are bit-identical both engines)
           ((2 * n_docs * 10000 + total) // (2 * total)) / 10000.0 AS share,
           round(sqrt(CAST(n_docs AS DOUBLE) / n_max), 4) AS t2_rel_weight
    FROM tot
    """,
    tags=("mixing", "sampling", "llm"),
)
def q92_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights (T=2) per source: the standard
    rebalancing that up-weights small sources by sampling ∝ share^(1/T).
    Weights are expressed RELATIVE TO THE LARGEST source — sqrt(n/n_max)
    on two exact integers — rather than normalized over all sources,
    because a normalizing Σ·sqrt(p) is a float sum whose addend order (and
    so last ulp) is engine- and partition-dependent; the relative form is
    bit-deterministic on both engines. Integer window sums (total, n_max)
    are exact.

    Scale: one agg to ~|sources| rows, then windows over that tiny frame."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = W.partitionBy()
    tot = counts.select(
        "source",
        "n_docs",
        F.sum("n_docs").over(w).alias("total"),
        F.max("n_docs").over(w).alias("n_max"),
    )
    return tot.select(
        "source",
        "n_docs",
        # share via integer half-up division (q60's pattern); the sqrt
        # weight stays round-on-double (no exact integer form exists)
        (
            F.expr("(2 * n_docs * 10000 + total) div (2 * total)") / 10000.0
        ).alias("share"),
        F.round(
            F.sqrt(F.col("n_docs").cast("double") / F.col("n_max")), 4
        ).alias("t2_rel_weight"),
    )


# ---------------------------------------------------------------------------
# q93: IVF ANN recall meter (the q72 pattern, for the second ANN path)
# ---------------------------------------------------------------------------


@query(
    "q93_ivf_recall",
    oracle=None,  # quantifies q55's approximate output → rows-only by nature
    tags=("similarity", "ann", "evaluation", "llm"),
)
def q93_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the multi-probe IVF ANN (q55) against brute-force ground
    truth (q35), per query plus a summary row (query_id = -1) — the
    'measure, don't guess' artifact for the second approximate path.
    History this meter drove: 0.51@nprobe=1 / 0.74@3 with single
    assignment; trained k-means centroids alone moved nothing (0.74@3 —
    the corpus is near-structureless); massign=2 multi-assignment is what
    lifted it to 0.94@3 (see q55's docstring)."""
    return ann_recall(spark, sf_dir, "q55_ivf_ann")


# ---------------------------------------------------------------------------
# q94: winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

_WIN_W = 8  # window of consecutive gram hashes per fingerprint pick

# MOSS-style stop-list for the q96 near-dup join: a fingerprint held by
# more than _WINNOW_MAX_DF distinct documents is boilerplate (license
# headers, templates, navigation chrome), not evidence of copying — MOSS
# itself drops the most common fingerprints for exactly this reason
# (Schleimer/Wilkerson/Aiken §5, "positions ... that occur in many
# documents are likely boilerplate"). Dropping them bounds the posting-list
# self-join at C(max_df, 2) pairs per fingerprint, so candidate cost is
# Σ min(df, max_df)² — linear in corpus size once the cap binds — instead
# of the measured M² blow-up (SCALING.json `dedup` r6: 1.24 G pairs, 947 s,
# 48 GB heap at ×10 duplication). Unlike q97's keep-first-K bucket cap,
# DROP (not cap) is right here: a band-bucket collision certifies near-
# identity (high signal, keep some members), but a single hot fingerprint
# certifies only one shared 11-char substring (low signal at high df).
# Identical-content floods are exact dedup's job upstream (q28 runs first
# in the q83 curation pipeline). One constant, so the Spark plan and the
# oracle SQL bake the SAME value and the exact gate cannot silently
# diverge. 512 is inert at the sf0.01 gate (≤100 docs ⇒ df ≤ 100).
_WINNOW_MAX_DF = 512


def winnow_fps_oracle(where: str = "doc_id < 100") -> str:
    """q94's oracle SQL with a parameterized document filter, so
    tools/bench_scaling.py can run the identical pipeline over the full
    (multiplied) corpus — single source of truth for the SQL."""
    return rf"""
    WITH t AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
      FROM documents WHERE {where}
    ),
    grams AS (
      SELECT doc_id, i AS pos, {hash32_sql("substr(s, CAST(i AS INTEGER), 4)")} AS h,
             length(s) - 3 AS n_grams
      FROM t, LATERAL unnest(range(1, length(s) - 2)) AS u(i)
      WHERE length(s) >= 4
    ),
    mins AS (
      -- window over ALL gram rows so trailing windows see the full w hashes;
      -- the window-start filter comes AFTER (a pre-filter would truncate the
      -- last w-1 windows and break the shared-substring guarantee at doc ends)
      SELECT doc_id, pos, n_grams,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp
      FROM grams
    )
    SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp FROM mins
    WHERE pos <= n_grams - {_WIN_W - 1}
    """


def winnow_pairs_oracle(
    where: str = "doc_id < 100", max_df: int = _WINNOW_MAX_DF
) -> str:
    """q96's oracle SQL over the same parameterized filter, mirroring the
    MOSS stop-list: fingerprints with document frequency > max_df are
    dropped before the posting-list self-join (see _WINNOW_MAX_DF)."""
    return f"""
    WITH fps AS ({winnow_fps_oracle(where)}),
    kept AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps
      ) WHERE df <= {max_df}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """


@query(
    "q94_winnowing",
    oracle=winnow_fps_oracle(),
    tags=("fingerprint", "rolling-hash", "llm"),
)
def q94_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS-style rolling-hash fingerprinting): hash every char
    4-gram, slide a window of {_WIN_W} consecutive hashes, keep each
    window's minimum — the classic guarantee that any shared substring of
    length ≥ w+k-1 between two documents shares a fingerprint. Output is
    the distinct (doc_id, fp) set.

    Built entirely from row operations — posexplode positions, row-level
    substr/md5, and a ROWS-frame window min — so nothing touches an
    interpreted HOF lambda and the rolling min is whole-stage codegen over
    a doc-partitioned sort. Portable hash = first 32 bits of md5 via
    instr arithmetic (conv() has no DuckDB twin)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return winnow_fingerprints(d)


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """q94's pipeline over an arbitrary (doc_id, text) frame (DataFrame-in
    form for tools/bench_scaling.py — single implementation)."""
    from pyspark.sql import Window as W

    s = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    t = docs.select("doc_id", s.alias("s")).filter(F.length("s") >= 4)
    grams = t.select(
        "doc_id",
        (F.length("s") - 3).alias("n_grams"),
        F.posexplode(F.sequence(F.lit(1), F.length("s") - 3)).alias("_i", "pos"),
        F.expr(hash32_spark_sql("substr(s, CAST(pos AS INTEGER), 4)")).alias("h"),
    )
    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    # Window min over ALL gram rows first, THEN keep only window-start
    # positions: a pre-filter would drop the last w-1 grams from every
    # window and truncate trailing windows below w hashes, breaking the
    # shared-substring >= w+k-1 guarantee near document ends.
    mins = (
        grams.select(
            "doc_id", "pos", "n_grams", F.min("h").over(w).cast("long").alias("fp")
        )
        .filter(F.col("pos") <= F.col("n_grams") - (_WIN_W - 1))
        .select("doc_id", "fp")
    )
    return mins.distinct()


# ---------------------------------------------------------------------------
# q96: winnowing near-dup join (shared-substring detection)
# ---------------------------------------------------------------------------


def winnow_neardup_pairs(
    docs: DataFrame, max_df: int = _WINNOW_MAX_DF
) -> DataFrame:
    """q96's pipeline over an arbitrary (doc_id, text) frame.

    MOSS stop-list guard: fingerprints whose posting list exceeds max_df
    distinct documents are dropped entirely before the self-join (see
    _WINNOW_MAX_DF for the rationale and the measured M² failure it
    bounds). The document-frequency count is a window over the fp key —
    the SAME key the self-join hashes on, so Catalyst reuses one exchange
    for the count, the filter, and both join sides; the guard adds no new
    shuffle and the frame stays (doc_id, fp) ids-only throughout."""
    from pyspark.sql import Window as W

    fps = winnow_fingerprints(docs)
    kept = (
        fps.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("fp")))
        .filter(F.col("df") <= max_df)
        .drop("df")
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@query(
    "q96_winnow_neardup",
    oracle=winnow_pairs_oracle(),
    tags=("dedup", "rolling-hash", "llm"),
)
def q96_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates from shared winnowing fingerprints (≥2): the
    detector whole-doc hashing can't be — two documents sharing any long
    enough substring (w+k-1 chars) share fingerprints even when the rest
    of the text differs (partial overlap / quotation / template reuse).

    Scale: equi-join on the fingerprint — inverted-index cost like every
    candidate generator here; fingerprint density (~1/w of grams) keeps
    the index a fraction of corpus size, and the MOSS stop-list
    (_WINNOW_MAX_DF, r7) drops boilerplate fingerprints whose posting
    list exceeds max_df docs, bounding the join at Σ min(df, max_df)²
    instead of the M² measured in r6 (SCALING.json 'dedup': 1.24 G pairs
    at ×10 duplication pre-guard). Measured growth curve:
    tools/bench_scaling.py (SCALING.json 'winnow')."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return winnow_neardup_pairs(d)
