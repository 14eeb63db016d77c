"""Round-7 LLM-pipeline operators: the serving/packing half of a training
pipeline (q99-q103).

After curation (dedup/quality/decontam, llm.py-llm4.py) a corpus still has
to be SHAPED for training and inference: split into model-context chunks,
packed into fixed-token-budget sequences, filtered against a domain
blocklist, and batched by length. Each of these is a first-class operator
here, exact-oracle-checked:

- q99: sliding-window CHUNKING (size 32, stride 24) — the tokenizer
  "return_overflowing_tokens" shape. Pure Catalyst: sequence+transform for
  the window starts, slice for the chunk, md5 fingerprint per chunk.
- q100: BOUNDARY PACKING — concatenate-then-split-at-capacity (docs may
  straddle pack boundaries; GPT-style pretraining packing). One window
  cumsum per source, a div, an aggregate.
- q101: GREEDY FIRST-FIT PACKING — no-straddle variant (instruction-tuning
  style: a doc never splits). Inherently a sequential fold per source, so
  it runs as an Arrow-batched applyInPandas over (doc_id, n_tok) pairs —
  the narrow frame, never the text — and the DuckDB oracle replays the
  SAME fold as a recursive CTE, so even the stateful operator is
  exact-gate-checked.
- q102: DOMAIN BLOCKLIST FILTER — extract the first URL's domain, drop
  docs whose domain is blocklisted via a broadcast ANTI-join (the shape
  that scales: blocklists are small, the corpus is not). Synthetic corpus
  carries no URLs, so docs with doc_id % 3 == 0 get one injected
  deterministically (q86's PII-injection pattern, llm3.py:141).
- q103: LENGTH-BUCKET BATCHING STATS — power-of-2 length buckets and the
  padding waste per (source, bucket), the measure that motivates length
  grouping in inference serving.

Scale notes: q99/q103 are embarrassingly parallel over the scan (no
shuffle before the final agg); q100/q101 shuffle once on source (each
source packs independently — at 100 TB packing shards by source/shard-id
exactly like this); q102's blocklist is broadcast, corpus never shuffles.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from csv_loader_spark.functions import text as TXT
from csv_loader_spark.functions import vectors as VEC
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.ops.curate import URL_RE, blocklist_domain
from csv_loader_spark.queries.llm import (
    _KNN_K,
    _KNN_QUERIES,
    _SHINGLE_CTE,
    _minhash_cand_ctes,
    _minhash_oracle_sigs,
    minhash_lsh_pairs,
)
from csv_loader_spark.queries.llm3 import winnow_neardup_pairs, winnow_pairs_oracle
from csv_loader_spark.queries.registry import get, query

# Sized to the synthetic corpus (10-99 tokens/doc, median 56) so outputs
# are structurally interesting: ~2 chunks/doc, ~5 docs/pack.
_CHUNK = 32
_STRIDE = 24
_PACK_CAP = 256

_TOKS_CTE = r"""
    toks AS (
      SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\s+') AS t,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n
      FROM documents
    )
"""


# ---------------------------------------------------------------------------
# q99: sliding-window chunking
# ---------------------------------------------------------------------------


@query(
    "q99_chunk_sliding",
    oracle=f"""
    WITH {_TOKS_CTE},
    starts AS (
      SELECT doc_id, t, n,
             CASE WHEN n > {_CHUNK} THEN (n - {_CHUNK} + {_STRIDE} - 1) // {_STRIDE}
                  ELSE 0 END AS last_i
      FROM toks WHERE n >= 1
    ),
    chunks AS (
      SELECT doc_id, t, n, i AS chunk_id, 1 + i * {_STRIDE} AS start_tok
      FROM starts, LATERAL unnest(range(0, last_i + 1)) AS u(i)
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(least({_CHUNK}, n - start_tok + 1) AS BIGINT) AS n_tok,
           md5(array_to_string(t[start_tok : start_tok + {_CHUNK} - 1], ' ')) AS chunk_fp
    FROM chunks
    """,
    tags=("text", "chunking", "llm", "r7"),
)
def q99_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (size {_CHUNK}, stride {_STRIDE}): every doc
    becomes overlapping token windows — the `return_overflowing_tokens`
    shape every context-bounded trainer/embedder needs. The last window is
    placed so coverage reaches the final token (it may be shorter than the
    full chunk); windows overlap by chunk - stride tokens.

    Scale: sequence+transform build the start offsets from the token count
    alone, the lambda touches only its own variable (no HOF re-evaluation
    trap, see functions/text.py), and chunk extraction is slice() on the
    already-split array — one scan, no shuffle, linear in output size."""
    d = load_table(spark, sf_dir, "documents")
    t = TXT.tokens("text")
    base = d.select(
        "doc_id", t.alias("t"), F.size(t).alias("n")
    ).filter(F.col("n") >= 1)
    last_i = F.when(
        F.col("n") > _CHUNK,
        F.expr(f"(n - {_CHUNK} + {_STRIDE} - 1) div {_STRIDE}"),
    ).otherwise(F.lit(0))
    starts = base.withColumn("last_i", last_i).select(
        "doc_id",
        "t",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("last_i"))).alias("chunk_i"),
    ).select(
        "doc_id",
        "t",
        "n",
        F.col("chunk_i").cast("long").alias("chunk_id"),
        (F.lit(1) + F.col("chunk_i") * _STRIDE).cast("long").alias("start_tok"),
    )
    return starts.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.least(F.lit(_CHUNK), F.col("n") - F.col("start_tok") + 1)
        .cast("long")
        .alias("n_tok"),
        F.md5(
            F.array_join(F.slice("t", F.col("start_tok").cast("int"), _CHUNK), " ")
        ).alias("chunk_fp"),
    )


# ---------------------------------------------------------------------------
# q100: boundary packing (docs straddle pack boundaries)
# ---------------------------------------------------------------------------


@query(
    "q100_pack_boundary",
    oracle=f"""
    WITH {_TOKS_CTE},
    cum AS (
      SELECT doc_id, source, n,
             sum(n) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n AS first_tok
      FROM toks
    )
    SELECT source, CAST(first_tok // {_PACK_CAP} AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tok,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM cum
    GROUP BY source, first_tok // {_PACK_CAP}
    """,
    tags=("packing", "window", "llm"),
)
def q100_pack_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-then-split packing (GPT-style pretraining): per source,
    docs in doc_id order form one token stream cut every {_PACK_CAP}
    tokens; a doc belongs to the pack where its FIRST token lands (docs
    may straddle the cut — the trainer reads across). Output is the pack
    manifest: doc/token counts and doc-id span per (source, pack).

    Scale: one window cumsum per source partition + one aggregate on the
    same key — a single shuffle, and the window state is one running sum.
    Pack ids are deterministic (doc_id order), so shards can be rebuilt
    independently and reproducibly."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    cum = d.select(
        "doc_id", "source", TXT.token_count("text").alias("n")
    ).withColumn("first_tok", F.sum("n").over(w) - F.col("n"))
    return (
        cum.groupBy(
            "source",
            F.expr(f"first_tok div {_PACK_CAP}").cast("long").alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("n_tok"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# q101: greedy first-fit packing (no doc ever splits)
# ---------------------------------------------------------------------------


def pack_fold(n_toks, cur=0, fill=0, started=False, capacity=_PACK_CAP):
    """THE first-fit fold — one implementation, two surfaces: the batch
    packer below and the recursive-CTE oracle (same recurrence in SQL);
    ``cur``/``fill`` let a caller resume it from a carried state. A doc that would overflow the budget opens the
    next pack; an oversize doc gets a pack of its own; the very first doc
    never opens a new pack (``started``)."""
    packs = []
    for n in n_toks:
        if started and fill + n > capacity:
            cur += 1
            fill = 0
        started = True
        fill += n
        packs.append(cur)
    return packs, cur, fill, started


def _greedy_pack(pdf: pd.DataFrame) -> pd.DataFrame:
    """The sequential first-fit fold, one pandas batch per source: docs in
    doc_id order (see pack_fold for the shared recurrence)."""
    pdf = pdf.sort_values("doc_id")
    packs, _cur, _fill, _ = pack_fold(pdf["n_tok"])
    pdf = pdf.copy()
    pdf["pack_id"] = pd.array(packs, dtype="int64")
    return pdf


@query(
    "q101_pack_greedy",
    oracle=f"""
    WITH RECURSIVE {_TOKS_CTE},
    ord AS (
      SELECT doc_id, source, n,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM toks
    ),
    packed AS (
      SELECT source, doc_id, rn, n, CAST(0 AS BIGINT) AS pack_id, n AS fill
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.source, o.doc_id, o.rn, o.n,
             CASE WHEN p.fill + o.n > {_PACK_CAP} THEN p.pack_id + 1
                  ELSE p.pack_id END,
             CASE WHEN p.fill + o.n > {_PACK_CAP} THEN o.n
                  ELSE p.fill + o.n END
      FROM packed p JOIN ord o ON o.source = p.source AND o.rn = p.rn + 1
    )
    SELECT source, doc_id, CAST(n AS BIGINT) AS n_tok, pack_id
    FROM packed
    """,
    tags=("packing", "stateful", "llm", "r7"),
)
def q101_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-in-order packing (instruction-tuning style: a doc NEVER
    splits across packs): walk each source's docs in doc_id order, close
    the pack when the next doc would exceed {_PACK_CAP} tokens. Inherently
    a sequential fold — no window expression computes it — so it runs as
    applyInPandas over the (doc_id, n_tok) id frame (Arrow batch per
    source; the text never leaves the JVM), and the oracle replays the
    identical fold as a recursive CTE, making this stateful operator
    exact-gate-checked rather than rows-only.

    Scale: one shuffle on source; each group's state is two integers. At
    100 TB packing shards by (source, shard) exactly like this — the fold
    is linear and the frame entering Python is two ints per doc."""
    d = load_table(spark, sf_dir, "documents")
    narrow = d.select(
        "source", "doc_id", TXT.token_count("text").cast("long").alias("n_tok")
    )
    return narrow.groupBy("source").applyInPandas(
        _greedy_pack, schema="source string, doc_id long, n_tok long, pack_id long"
    )


# ---------------------------------------------------------------------------
# q102: domain blocklist filter
# ---------------------------------------------------------------------------

_BLOCKLIST = ("site1.example", "site4.example")


@query(
    "q102_domain_filter",
    oracle=f"""
    WITH injected AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' see '
                       || CASE WHEN doc_id % 2 = 0 THEN 'https://SITE'
                               ELSE 'http://site' END
                       || CAST(doc_id % 7 AS VARCHAR)
                       || CASE WHEN doc_id % 2 = 0 THEN '.EXAMPLE'
                               ELSE '.example/page' || CAST(doc_id AS VARCHAR)
                          END
                  ELSE text END AS text
      FROM documents
    ),
    tagged AS (
      SELECT doc_id, source,
             lower(coalesce(regexp_extract(text, '{URL_RE}', 1), ''))
               AS domain
      FROM injected
    )
    SELECT doc_id, source, domain
    FROM tagged
    WHERE domain NOT IN ('site1.example', 'site4.example')
    """,
    tags=("filter", "anti-join", "llm"),
)
def q102_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist filtering: extract each doc's first URL domain
    (either scheme, any case, path optional), lowercase it, and drop docs
    from blocklisted domains — the standard provenance filter in
    web-corpus curation. The synthetic corpus has no URLs, so docs with
    doc_id % 3 == 0 get one injected deterministically (q86's injection
    pattern), alternating https+UPPERCASE+no-path with http+lowercase+path
    so the gate exercises the normalization; docs without a URL pass
    trivially (domain = '').

    Scale: the blocklist is a broadcast ANTI-join — the corpus never
    shuffles, the blocklist rides the task closure; regexp extraction is
    whole-stage codegen. A 10M-domain production blocklist still
    broadcasts at ~100 MB of hashes."""
    from csv_loader_spark.queries.llm7 import injected_url_text

    d = load_table(spark, sf_dir, "documents")
    tagged = d.select(
        "doc_id", "source", blocklist_domain(injected_url_text()).alias("domain")
    )
    block = F.broadcast(
        tagged.sparkSession.createDataFrame(
            [(b,) for b in _BLOCKLIST], "blocked string"
        )
    )
    return tagged.join(
        block, tagged["domain"] == block["blocked"], "left_anti"
    )


# ---------------------------------------------------------------------------
# q104: incremental-ingest dedup (batch twin of the stream-static path)
# ---------------------------------------------------------------------------


@query(
    "q104_ingest_dedup",
    oracle=r"""
    WITH fps AS (
      SELECT doc_id, source,
             md5(array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')) AS fp
      FROM documents
    ),
    index_fps AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    arrivals AS (SELECT * FROM fps WHERE doc_id % 2 = 1),
    novel AS (
      SELECT doc_id, source, fp,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM arrivals
      WHERE fp NOT IN (SELECT fp FROM index_fps)
    )
    SELECT doc_id, source, fp FROM novel WHERE rn = 1
    """,
    tags=("dedup", "incremental", "llm"),
)
def q104_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: even doc_ids play the ACCEPTED corpus
    (reduced to its fingerprint index), odd doc_ids play the arriving
    batch; only arrivals whose content is absent from the index — and not
    a duplicate of an earlier arrival — land, via
    streaming/ingest_dedup.novel_documents.

    Scale: the index probe is an anti-join on the fingerprint — the index
    frame is one hashed column, so at 10^10 accepted docs it is an
    id-table shuffle (or a bucketed/broadcast probe), never a corpus
    rescan; the within-batch dedup is the q28 groupBy shape."""
    from csv_loader_spark.streaming.ingest_dedup import (
        fingerprint_index,
        novel_documents,
    )

    d = load_table(spark, sf_dir, "documents")
    index = fingerprint_index(d.filter(F.col("doc_id") % 2 == 0))
    arrivals = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source", "text")
    return novel_documents(arrivals, index).select("doc_id", "source", "fp")


# ---------------------------------------------------------------------------
# q103: length-bucket batching stats
# ---------------------------------------------------------------------------

_BUCKETS = (16, 32, 64, 128, 256, 512, 1024)


def _bucket_case_sql(col: str) -> str:
    # Past the top bucket a doc becomes its own exact-size "bucket"
    # (ELSE col, not ELSE top): clamping into the top bucket would make
    # pad_waste NEGATIVE for over-length docs — you cannot pad down; such
    # docs get truncated or split, and a waste metric must not hide them.
    arms = " ".join(f"WHEN {col} <= {b} THEN {b}" for b in _BUCKETS)
    return f"CASE {arms} ELSE {col} END"


@query(
    "q103_length_buckets",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT source, CAST({_bucket_case_sql("n")} AS BIGINT) AS bucket,
           count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tok,
           CAST({_bucket_case_sql("n")} * count(*) - sum(n) AS BIGINT) AS pad_waste
    FROM toks
    GROUP BY source, {_bucket_case_sql("n")}
    """,
    tags=("agg", "serving", "llm"),
)
def q103_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching stats: docs binned to the next power-of-2
    token length, with the padding waste (bucket - actual, summed) a
    same-bucket batcher would pad — the number that justifies length
    grouping in inference serving. Integer CASE laddering, not
    float log2: exact on both engines at bucket boundaries.

    Scale: one scan, partial agg map-side, one exchange on the tiny
    (source, bucket) key space."""
    d = load_table(spark, sf_dir, "documents")
    n = TXT.token_count("text")
    bucket = F.expr(_bucket_case_sql("n")).cast("long")
    return (
        d.select("source", n.alias("n"))
        .groupBy("source", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("n_tok"),
        )
        .withColumn(
            "pad_waste",
            (F.col("bucket") * F.col("n_docs") - F.col("n_tok")).cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# q108: brute-force KNN, Arrow/numpy path (the wide-embedding scale twin)
# ---------------------------------------------------------------------------


def _topk_idx(sims, ids, k):
    """Indices of the top-k under the SAME comparator as the global Spark
    window: sim DESC with NaN FIRST (Spark/DuckDB treat NaN as the largest
    double — a zero-norm vector's 0/0 sim must survive the prefilter, or
    q108 would diverge from q35 exactly on degenerate rows), tiebreak
    neighbor_id ASC. np.lexsort alone sorts NaN last, hence the +inf map."""
    import numpy as np

    key = np.where(np.isnan(sims), np.inf, sims)
    return np.lexsort((ids, -key))[:k]


def _knn_arrow_batches(qids, QM, qn, k):
    """mapInPandas generator factory: per Arrow batch, compute the
    query x batch cosine matrix in numpy, fold each query's top-k into a
    running PER-PARTITION best set, and emit once per partition — the
    bounded-heap partial q35's docstring prescribes for real scale (per-
    batch emission would multiply the window input by batches-per-
    partition). The per-dimension accumulation loop reproduces the JVM
    aggregate's LEFT-TO-RIGHT float order exactly (a BLAS matmul
    reassociates and could flip a 4dp rounding boundary or a near-tie
    rank), so the output bit-matches q35 and shares its oracle."""
    import numpy as np

    dim = QM.shape[1]

    def gen(batches):
        import pandas as pd

        # running per-query best: parallel arrays, <= k rows per query
        best_n = [np.empty(0, dtype=np.int64) for _ in qids]
        best_s = [np.empty(0, dtype=np.float64) for _ in qids]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            sims = np.zeros((len(qids), len(ids)))
            xn = np.zeros(len(ids))
            for j in range(dim):  # sequential over dims == JVM fold order
                sims += QM[:, j : j + 1] * X[:, j][None, :]
                xn += X[:, j] * X[:, j]
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = sims / (qn[:, None] * np.sqrt(xn)[None, :])
            for qi in range(len(qids)):
                cand = np.flatnonzero(ids != qids[qi])
                merged_n = np.concatenate([best_n[qi], ids[cand]])
                merged_s = np.concatenate([best_s[qi], sims[qi][cand]])
                sel = _topk_idx(merged_s, merged_n, k)
                best_n[qi], best_s[qi] = merged_n[sel], merged_s[sel]
        out_q, out_n, out_s = [], [], []
        for qi in range(len(qids)):
            out_q.extend([qids[qi]] * len(best_n[qi]))
            out_n.extend(best_n[qi].tolist())
            out_s.extend(best_s[qi].tolist())
        yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "sim": out_s})

    return gen


@query(
    "q108_knn_arrow",
    oracle=get("q35_knn_bruteforce").oracle,
    tags=("similarity", "knn", "arrow", "llm", "r7"),
)
def q108_knn_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q35's brute-force cosine top-k re-expressed on the Arrow path:
    numpy batch arithmetic inside mapInPandas with a per-batch bounded
    top-k, then one tiny global window. Same oracle as q35 — the two
    implementations are interchangeable by construction, and the gate
    proves it.

    Why it exists: q35's zip_with/aggregate expressions are
    CodegenFallback (interpreted per element) — fine at this corpus
    (64-dim, 2k vectors: the JVM path even wins on fixed overhead,
    1.4 s vs 8.2 s at the gate) but not at production embedding widths.
    Measured on synthetic 1024-dim data: at 2k vectors the two tie
    (0.68 vs 0.77 s), at 20k vectors the Arrow path wins 2.7x
    (2.27 -> 0.85 s, identical output) and its advantage grows with
    corpus size because the bounded partial also shrinks the window
    shuffle from |Q| x corpus rows to partitions x |Q| x k. The
    per-dimension accumulation preserves the exact JVM float order, so
    results are bit-identical, not approximately equal.

    Scale: the query matrix is collected once (|Q| bounded by design —
    the Arrow twin of q35's broadcast hint) and ships in the task
    closure; the generator folds every Arrow batch into one running
    per-partition top-k, so each partition emits at most |Q|*k rows and
    the final window shuffles O(partitions * |Q| * k), never
    |Q| * corpus."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    out_schema = "query_id long, neighbor_id long, sim double"
    qrows = sorted(
        e.filter(F.col("vec_id") < _KNN_QUERIES)
        .select("vec_id", VEC.as_double("embedding").alias("v"))
        .collect(),
        key=lambda r: r["vec_id"],
    )
    if not qrows:  # no query vectors: empty result, like q35
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, n_rank int"
        )
    QM = np.array([r["v"] for r in qrows], dtype=np.float64)
    qids = np.array([r["vec_id"] for r in qrows])
    qn = np.zeros(len(qrows))
    for j in range(QM.shape[1]):
        qn += QM[:, j] * QM[:, j]
    qn = np.sqrt(qn)

    corpus = e.select("vec_id", VEC.as_double("embedding").alias("v")).repartition(
        spark.sparkContext.defaultParallelism
    )
    partial = corpus.mapInPandas(
        _knn_arrow_batches(qids, QM, qn, _KNN_K), schema=out_schema
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("n_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("n_rank") <= _KNN_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("sim", 4).alias("cosine_sim"),
            "n_rank",
        )
    )


# ---------------------------------------------------------------------------
# q109/q110: recall meters for the guarded text near-dup paths (r8)
#
# r7 gave the winnow stop-list and the minhash band cap measured PAIR-COUNT
# behavior under floods; these meters give them measured RECALL on the
# natural corpus — the q98 pattern (guarded pairs are a subset of unguarded
# pairs by construction, so recall = |guarded| / |unguarded|), fully
# oracle-checked on both sides. On natural data both guards are expected
# inert (recall 1.0) — committing that as a gated number is the point:
# a regression that makes a guard bind on natural data turns the row red.
# ---------------------------------------------------------------------------

# "Unguarded" runs the SAME code path with a cap no natural or flooded
# corpus reaches, keeping Spark and oracle SQL structurally identical.
_UNCAPPED = 1 << 31


def _subset_recall(unguarded_n: DataFrame, guarded_n: DataFrame) -> DataFrame:
    """(1-row n_unguarded) x (1-row n_guarded) -> the q98-style half-up
    4dp recall frame. Valid only when guarded ⊆ unguarded (true for both
    guards: dropping fingerprints / capping buckets only removes pairs)."""
    cols = unguarded_n.columns + guarded_n.columns
    u, g = cols[0], cols[1]
    return unguarded_n.crossJoin(guarded_n).select(
        u,
        g,
        F.when(F.col(u) == 0, F.lit(1.0))
        .otherwise(F.expr(f"(2 * {g} * 10000 + {u}) div (2 * {u})") / 10000.0)
        .alias("recall"),
    )


@query(
    "q109_winnow_guard_recall",
    oracle=f"""
    WITH g AS ({winnow_pairs_oracle()}),
    u AS ({winnow_pairs_oracle(max_df=_UNCAPPED)}),
    cu AS (SELECT count(*) AS n_unguarded FROM u),
    cg AS (SELECT count(*) AS n_guarded FROM g)
    SELECT cu.n_unguarded, cg.n_guarded,
           CASE WHEN cu.n_unguarded = 0 THEN 1.0
                ELSE ((2 * cg.n_guarded * 10000 + cu.n_unguarded)
                      // (2 * cu.n_unguarded)) / 10000.0
           END AS recall
    FROM cu, cg
    """,
    tags=("dedup", "rolling-hash", "evaluation", "llm"),
)
def q109_winnow_guard_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of q96's stop-listed winnow pair set against the UNGUARDED
    winnow join on the natural corpus — the committed number for what the
    MOSS stop-list costs when it binds (nothing, on natural data: the
    dropped fingerprints are boilerplate shared by >max_df docs, and any
    pair they witnessed is re-witnessed by rarer fingerprints or was
    boilerplate-only). Guarded ⊆ unguarded structurally (removing
    fingerprints only lowers n_shared), so recall = |g| / |u|.

    Measured (r8): 1.0 at sf0.01 (4923/4923 pairs) AND at sf0.1
    (4946/4946) — where the stop-list actively binds (99 fingerprints
    dropped, VERDICT r7) — i.e. the guard is lossless on natural data,
    now as a gated number rather than an inertness claim."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    u = winnow_neardup_pairs(docs, max_df=_UNCAPPED).agg(
        F.count(F.lit(1)).alias("n_unguarded")
    )
    g = winnow_neardup_pairs(docs).agg(F.count(F.lit(1)).alias("n_guarded"))
    return _subset_recall(u, g)


@query(
    "q110_minhash_guard_recall",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_minhash_oracle_sigs()},
    {_minhash_cand_ctes(_UNCAPPED, "_u")},
    inter_g AS (
      SELECT e1.doc_id AS doc_a, e2.doc_id AS doc_b, count(*) AS n_inter
      FROM exploded e1
      JOIN exploded e2 ON e1.s = e2.s AND e1.doc_id < e2.doc_id
      JOIN cand c ON c.doc_a = e1.doc_id AND c.doc_b = e2.doc_id
      GROUP BY 1, 2
    ),
    inter_u AS (
      SELECT e1.doc_id AS doc_a, e2.doc_id AS doc_b, count(*) AS n_inter
      FROM exploded e1
      JOIN exploded e2 ON e1.s = e2.s AND e1.doc_id < e2.doc_id
      JOIN cand_u c ON c.doc_a = e1.doc_id AND c.doc_b = e2.doc_id
      GROUP BY 1, 2
    ),
    cg AS (
      SELECT count(*) AS n_capped FROM inter_g i
      JOIN doc_sizes sa ON sa.doc_id = i.doc_a
      JOIN doc_sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.3
    ),
    cu AS (
      SELECT count(*) AS n_uncapped FROM inter_u i
      JOIN doc_sizes sa ON sa.doc_id = i.doc_a
      JOIN doc_sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.3
    )
    SELECT cu.n_uncapped, cg.n_capped,
           CASE WHEN cu.n_uncapped = 0 THEN 1.0
                ELSE ((2 * cg.n_capped * 10000 + cu.n_uncapped)
                      // (2 * cu.n_uncapped)) / 10000.0
           END AS recall
    FROM cu, cg
    """,
    tags=("dedup", "lsh", "evaluation", "llm"),
)
def q110_minhash_guard_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of q34's band-capped MinHash near-dup set against the
    uncapped run on the natural corpus. Capping a (band, bkey) bucket only
    removes candidate pairs, and verification filters both sides the same
    way, so capped ⊆ uncapped and recall = |capped| / |uncapped| — 1.0
    expected on natural data (largest sf0.01 bucket ≪ cap), committed as
    a gated number so a cap regression surfaces as a red row.

    Measured (r8): 1.0 at sf0.01 (25/25 pairs) and sf0.1 (256/256)."""
    docs = load_table(spark, sf_dir, "documents")
    u = minhash_lsh_pairs(docs, cap=_UNCAPPED).agg(
        F.count(F.lit(1)).alias("n_uncapped")
    )
    g = minhash_lsh_pairs(docs).agg(F.count(F.lit(1)).alias("n_capped"))
    return _subset_recall(u, g)
