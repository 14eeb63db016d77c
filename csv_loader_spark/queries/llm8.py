"""Round-9 operators: ingest-time dedup on NEAR-duplicates.

- q131: INGEST-TIME NEAR-DUP VERDICTS — the batch run of the ingest-time
  verdict functions (streaming/ingest_dedup.py):
  even doc_ids play the accepted corpus, reduced to its TWO indexes
  (exact content fingerprints + MinHash LSH band signatures, q34's
  sketch); odd doc_ids play the arriving batch. Every arrival gets an
  admission verdict in precedence order: exact dup of the corpus, exact
  dup of an earlier arrival, NEAR dup of the corpus (any band-key
  collision with the index — CCNet/RefinedWeb's
  deduplicate-against-snapshot rule: rejection on LSH bucket
  membership), near dup of an earlier surviving arrival (keep the
  bucket-minimum doc_id — a WINDOW MIN per band bucket, linear, no
  candidate self-join), or accepted.

Scale notes ride each docstring; the common shape: every probe is a
semi/anti equi-join on a derived key (fp, (band, bkey), doc_id) — the
index frames are narrow id tables, never the corpus, and the
within-batch rule is a window min, so a degenerate all-near-identical
batch costs one narrow shuffle instead of C(n, 2) candidate pairs.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from csv_loader_spark.functions import text as TXT
from csv_loader_spark.io.tables import load_table
from csv_loader_spark.ops.curate import (
    PASSAGE,
    QUOTA_KEY_SQL,
    SPLIT_KEY_SQL,
    URL_RE,
    curate,
    doc_passages,
    split_case,
)
from csv_loader_spark.queries.llm import _SHINGLE_CTE, _minhash_oracle_band_ctes
from csv_loader_spark.queries.registry import query

# ---------------------------------------------------------------------------
# q131: ingest-time near-dup admission verdicts (batch twin of the r9 loop)
# ---------------------------------------------------------------------------

_FP_SQL = r"md5(array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' '))"


@query(
    "q131_ingest_neardup",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_minhash_oracle_band_ctes()},
    fps AS (
      SELECT doc_id, source, {_FP_SQL} AS fp FROM documents
    ),
    idx_fp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    idx_band AS (
      SELECT DISTINCT band, bkey FROM bands WHERE doc_id % 2 = 0
    ),
    arr AS (SELECT doc_id, source, fp FROM fps WHERE doc_id % 2 = 1),
    exc AS (
      SELECT doc_id FROM arr WHERE fp IN (SELECT fp FROM idx_fp)
    ),
    r1 AS (
      SELECT * FROM arr WHERE doc_id NOT IN (SELECT doc_id FROM exc)
    ),
    eb AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM r1
      ) WHERE rn > 1
    ),
    r2 AS (
      SELECT * FROM r1 WHERE doc_id NOT IN (SELECT doc_id FROM eb)
    ),
    nc AS (
      SELECT DISTINCT b.doc_id
      FROM bands b
      WHERE b.doc_id IN (SELECT doc_id FROM r2)
        AND EXISTS (SELECT 1 FROM idx_band i
                    WHERE i.band = b.band AND i.bkey = b.bkey)
    ),
    r3 AS (
      SELECT * FROM r2 WHERE doc_id NOT IN (SELECT doc_id FROM nc)
    ),
    nb AS (
      SELECT DISTINCT doc_id FROM (
        SELECT b.doc_id,
               min(b.doc_id) OVER (PARTITION BY b.band, b.bkey) AS m
        FROM bands b
        WHERE b.doc_id IN (SELECT doc_id FROM r3)
      ) WHERE doc_id <> m
    )
    SELECT a.doc_id, a.source,
           CASE WHEN a.doc_id IN (SELECT doc_id FROM exc) THEN 'exact_corpus'
                WHEN a.doc_id IN (SELECT doc_id FROM eb) THEN 'exact_batch'
                WHEN a.doc_id IN (SELECT doc_id FROM nc) THEN 'near_corpus'
                WHEN a.doc_id IN (SELECT doc_id FROM nb) THEN 'near_batch'
                ELSE 'accepted' END AS verdict
    FROM arr a
    """,
    tags=("dedup", "incremental", "lsh", "llm", "r9"),
)
def q131_ingest_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time NEAR-dup admission: arrivals (odd doc_ids) probed
    against the accepted corpus's (even doc_ids) fingerprint index AND
    MinHash band-signature index, each arrival tagged with its admission
    verdict (see streaming/ingest_dedup.py ingest_verdicts for the
    precedence rules). This is the operator a 100 TB incremental curation
    pipeline runs per micro-batch — the q104 exact probe extended to
    near-duplicates, sharing q34's sketch so index membership means
    "would have been an LSH candidate pair in the batch dedup".

    Scale: the index frames are (fp) and (band, bkey) — narrow derived-key
    tables probed with semi/anti equi-joins; the within-batch near rule is
    a window min per band bucket (linear), never a candidate self-join.
    """
    from csv_loader_spark.streaming.ingest_dedup import (
        band_signature_index,
        fingerprint_index,
        ingest_verdicts,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    arrivals = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source", "text")
    return ingest_verdicts(
        arrivals, fingerprint_index(corpus), band_signature_index(corpus)
    ).select("doc_id", "source", "verdict")


# ---------------------------------------------------------------------------
# q132: the FULL admission manifest — five curation rules composed
# ---------------------------------------------------------------------------


def _q132_oracle() -> str:
    from csv_loader_spark.queries.llm5 import _BLOCKLIST
    from csv_loader_spark.queries.llm7 import _INJECTED_TEXT_SQL, _QUOTA

    blocked = ", ".join(f"'{b}'" for b in _BLOCKLIST)
    return rf"""
    WITH injected AS (
      SELECT doc_id, source, {_INJECTED_TEXT_SQL} AS text
      FROM documents
    ),
    surviving AS (
      SELECT doc_id, source, text FROM injected
      WHERE lower(coalesce(regexp_extract(text, '{URL_RE}', 1), ''))
            NOT IN ({blocked})
    ),
    corpus AS (SELECT * FROM surviving WHERE doc_id % 10 <> 0),
    toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM injected
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 2),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])))
               AS g
      FROM toks WHERE len(t) >= 4
    ),
    contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM grams c JOIN grams e ON c.g = e.g
      WHERE c.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
    ),
    clean AS (
      SELECT * FROM corpus
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    ptoks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n
      FROM clean
    ),
    passages AS (
      SELECT doc_id, i,
             array_to_string(t[1 + i * {PASSAGE} : i * {PASSAGE} + {PASSAGE}], ' ')
               AS passage
      FROM ptoks, LATERAL unnest(range(0, (n - 1) // {PASSAGE} + 1)) AS u(i)
      WHERE n >= 1
    ),
    pstats AS (
      SELECT doc_id, count(*) AS n_p,
             sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_k
      FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY md5(passage)
                                  ORDER BY doc_id, i) AS rn
        FROM passages
      ) GROUP BY doc_id
    ),
    novel AS (
      SELECT c.doc_id, c.source, c.text
      FROM clean c JOIN pstats p ON p.doc_id = c.doc_id
      WHERE 2 * p.n_k >= p.n_p
    ),
    quota AS (
      SELECT doc_id, source, text,
             row_number() OVER (PARTITION BY source
                                ORDER BY {QUOTA_KEY_SQL}, doc_id) AS rnk
      FROM novel
    )
    SELECT doc_id, source,
           {split_case(SPLIT_KEY_SQL)} AS split,
           CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
             AS n_tok
    FROM quota WHERE rnk <= {_QUOTA}
    """


@query("q132_admission_manifest", oracle=_q132_oracle(), tags=("curation", "llm", "r9"))
def q132_admission_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL admission manifest: :func:`ops.curate.curate` with q127's
    blocklist and quota plus eval-set decontamination against the
    held-out doc_id % 10 = 0 split and passage-level dedup, emitting
    (doc_id, source, split, n_tok). Every rule is linear in the corpus;
    no pairwise joins anywhere.
    """
    from csv_loader_spark.queries.llm5 import _BLOCKLIST
    from csv_loader_spark.queries.llm7 import _QUOTA, injected_url_text

    d = load_table(spark, sf_dir, "documents")
    inj = d.select("doc_id", "source", injected_url_text().alias("text"))
    held_out = F.col("doc_id") % 10 == 0
    kept, _ = curate(
        inj.filter(~held_out),
        blocklist=_BLOCKLIST,
        eval_docs=inj.filter(held_out),
        dedup=False,
        passage_dedup=True,
        quota_cap=_QUOTA,
    )
    return kept.select("doc_id", "source", "split", "n_tok")


# ---------------------------------------------------------------------------
# q133: perceptual-hash (dHash) near-dup over the media table
# ---------------------------------------------------------------------------

_GRID_ROWS, _GRID_COLS = 8, 9  # 8x9 cells -> 8x8 difference bits = 64
_PHASH_BANDS = 4  # 4 bands x 16 bits; pigeonhole: hamming <= 3 => a band matches
_PHASH_MAX_HAMMING = 3
# Twin-injection scaffolding (q127's convention): the synthetic corpus has
# no re-encoded assets, so every fifth long doc gets a twin with ONE char
# overwritten at a fixed position — for texts >= 80 chars that perturbs at
# most one sampled grid cell (position 5 is sampled by at most one of the
# 72 fractional sample points once len > 72), i.e. <= 2 dHash bits, so the
# twin lands inside the Hamming ball and the detector measurably fires.
_TWIN_OFFSET = 1_000_000_000


def _dhash_band_exprs() -> list[str]:
    """Band value j (j = 0..3) as engine-shared integer SQL over a 72-cell
    array named ``cell`` (1-indexed in both engines via element_at /
    list indexing): 16 difference bits from grid rows 2j and 2j+1."""
    out = []
    for j in range(_PHASH_BANDS):
        terms = []
        for rr in range(2):
            r = 2 * j + rr
            for c in range(_GRID_COLS - 1):
                idx = r * _GRID_COLS + c + 1  # 1-based
                terms.append(
                    f"(CASE WHEN cell[{idx}] < cell[{idx + 1}]"
                    f" THEN {1 << (rr * 8 + c)} ELSE 0 END)"
                )
        out.append("(" + " + ".join(terms) + ")")
    return out


def dhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, v0..v3): q133's engine-side dHash band
    signatures — 72 codepoints sampled at fixed fractional positions, the
    8x8 difference bits packed into 4 x 16-bit bands."""
    ncell = _GRID_ROWS * _GRID_COLS
    cells = docs.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {ncell - 1}), "
            f"k -> ascii(substr(text, "
            f"CAST(1 + (k * length(text)) div {ncell} AS INT), 1)))"
        ).alias("cell"),
    )
    return cells.select(
        "doc_id",
        *[
            F.expr(e.replace("cell[", "element_at(cell, ").replace("]", ")")).alias(
                f"v{j}"
            )
            for j, e in enumerate(_dhash_band_exprs())
        ],
    )


def _q133_oracle() -> str:
    bands = _dhash_band_exprs()
    band_cols = ", ".join(f"{e} AS v{j}" for j, e in enumerate(bands))
    long_union = "\n      UNION ALL ".join(
        f"SELECT doc_id, {j} AS j, v{j} AS val FROM sigs" for j in range(_PHASH_BANDS)
    )
    ham = " + ".join(f"bit_count(xor(a.v{j}, b.v{j}))" for j in range(_PHASH_BANDS))
    return rf"""
    WITH media AS (
      SELECT doc_id, text FROM documents WHERE len(text) >= 1
      UNION ALL
      SELECT doc_id + {_TWIN_OFFSET} AS doc_id,
             substr(text, 1, 4) || '#' || substr(text, 6) AS text
      FROM documents WHERE doc_id % 5 = 0 AND len(text) >= 80
    ),
    cells AS (
      SELECT doc_id,
             list_transform(range(0, {_GRID_ROWS * _GRID_COLS}),
                 k -> unicode(substr(text,
                     1 + CAST((k * len(text)) // {_GRID_ROWS * _GRID_COLS} AS INT),
                     1))) AS cell
      FROM media
    ),
    sigs AS (
      SELECT doc_id, {band_cols} FROM cells
    ),
    long AS (
      {long_union}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM long a JOIN long b
        ON a.j = b.j AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, CAST({ham} AS BIGINT) AS hamming
    FROM cand c
    JOIN sigs a ON a.doc_id = c.doc_a
    JOIN sigs b ON b.doc_id = c.doc_b
    WHERE {ham} <= {_PHASH_MAX_HAMMING}
    """


@query(
    "q133_phash_neardup",
    oracle=_q133_oracle(),
    tags=("dedup", "multimodal", "lsh", "llm", "r9"),
)
def q133_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over the media table: dHash (difference
    hash) of each asset's decoded pixel grid, banded into 4 x 16 bits,
    candidate pairs from a banded equi-join, verified by exact Hamming
    distance <= 3. By pigeonhole the banding is LOSSLESS at this
    threshold (<= 3 differing bits across 4 bands means at least one
    band is untouched), so the output is EXACTLY the pairs within the
    Hamming ball — q53's pigeonhole-band guarantee applied to images.

    Decode tier (ops/multimodal.py convention): the container ships no
    image codec and the synthetic payloads are the UTF-8 text bytes
    (attach_fake_media), so the "pixel grid" is the deterministic
    pseudo-decode — 72 characters sampled at fixed fractional positions,
    their codepoints standing in for gray levels. Pure integer
    arithmetic, identical in Spark (ascii/element_at) and DuckDB
    (unicode/list index). With a real codec the grid would come from a
    mapInPandas batch decode and everything from the band signatures
    down would be unchanged.

    The natural corpus has no re-encoded assets (minimum pairwise dHash
    distance 13 at sf0.01), so the query injects deterministic twins —
    every fifth long doc re-appears with one character overwritten, a
    <= 2-bit perturbation (see _TWIN_OFFSET) — the same
    make-the-rule-fire scaffolding as q127's URL injection, mirrored
    exactly in the oracle.

    Scale: signatures are map-only (72 sampled chars per asset — no
    full-payload scan per bit); candidates come from 4 equi-joins on
    (band, 16-bit value) — collision rate n^2 / 65536 per band, the
    usual banded-LSH bound, cappable per bucket like q34 if a
    degenerate corpus floods one value; the verify is 4 xor/popcounts
    per candidate pair. No all-pairs product at any size.
    """
    d = load_table(spark, sf_dir, "documents")
    originals = d.filter(F.length("text") >= 1).select("doc_id", "text")
    twins = (
        d.filter((F.col("doc_id") % 5 == 0) & (F.length("text") >= 80))
        .select(
            (F.col("doc_id") + _TWIN_OFFSET).alias("doc_id"),
            F.concat(
                F.substring("text", 1, 4), F.lit("#"), F.expr("substr(text, 6)")
            ).alias("text"),
        )
    )
    media = originals.unionAll(twins)
    # one materialization of the narrow (doc_id, v0..v3) signature frame:
    # the 4 union branches and the 3 verify-side reads would otherwise
    # each re-evaluate the 64-term dHash expression over the corpus
    # (r10 — the ingest_verdicts recompute lesson; measured 4.5 -> ~1 s
    # at sf0.1). This is NOT the rejected packed-array rewrite (r9
    # adjudication): the join shape and per-band projections are
    # unchanged, only the shared subtree stops re-running.
    sigs = dhash_sigs(media).localCheckpoint(eager=False)
    long = None
    for j in range(_PHASH_BANDS):
        part = sigs.select(
            "doc_id", F.lit(j).alias("j"), F.col(f"v{j}").alias("val")
        )
        long = part if long is None else long.unionAll(part)
    la, lb = long.alias("a"), long.alias("b")
    cand = (
        la.join(
            lb,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"v{j}").alias(f"a{j}") for j in range(_PHASH_BANDS)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"v{j}").alias(f"b{j}") for j in range(_PHASH_BANDS)],
    )
    ham = None
    for j in range(_PHASH_BANDS):
        t = F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}")))
        ham = t if ham is None else ham + t
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(ham <= _PHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# q134: IVF-residual product-quantized KNN (IVFPQ) with exact-oracle recall
# ---------------------------------------------------------------------------


def _lit2_spark(rows) -> str:
    from csv_loader_spark.functions import vectors as VEC

    return "array(" + ", ".join(VEC.lit_array_sql(c) for c in rows) + ")"


def _lit3_spark(books) -> str:
    return "array(" + ", ".join(_lit2_spark(b) for b in books) + ")"


def _duck_f(x: float) -> str:
    # scientific notation forces DOUBLE typing (a plain decimal literal
    # parses as DECIMAL and overflows scale 38 when multiplied)
    r = repr(x)
    return r if "e" in r or "E" in r else r + "e0"


def _lit2_duck(rows) -> str:
    return "[" + ", ".join("[" + ", ".join(_duck_f(x) for x in c) + "]" for c in rows) + "]"


def _lit3_duck(books) -> str:
    return "[" + ", ".join(_lit2_duck(b) for b in books) + "]"


def _q134_oracle() -> str:
    from csv_loader_spark.functions.ivfpq_codebooks import (
        COARSE,
        CODEBOOKS,
        K,
        M_SUB,
        SUB_WIDTH,
    )
    from csv_loader_spark.queries.llm7 import quantized_recall_oracle_tail

    dim = len(COARSE[0])
    cc = _lit2_duck(COARSE)
    cb = _lit3_duck(CODEBOOKS)
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    assigned AS (
      SELECT vec_id, v,
             list_sort(list_transform({cc}, c -> struct_pack(
               d := list_sum(list_transform(range(1, {dim} + 1), i ->
                      (c[i] - v[i]) * (c[i] - v[i]))),
               c := c)))[1].c AS cvec
      FROM e
    ),
    res AS (
      SELECT vec_id, cvec,
             list_transform(range(1, {dim} + 1), i -> v[i] - cvec[i]) AS r
      FROM assigned
    ),
    subs AS (
      SELECT vec_id, m,
             r[m * {SUB_WIDTH} + 1 : m * {SUB_WIDTH} + {SUB_WIDTH}] AS sub,
             {cb}[m + 1] AS cbm
      FROM res, LATERAL unnest(range(0, {M_SUB})) AS u(m)
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
    rq AS (
      SELECT vec_id, flatten(list(rec ORDER BY m)) AS r
      FROM enc GROUP BY vec_id
    ),
    dq AS (
      SELECT a.vec_id,
             list_transform(range(1, {dim} + 1), i -> rq.r[i] + a.cvec[i]) AS d
      FROM assigned a JOIN rq ON rq.vec_id = a.vec_id
    ),
    joined AS (
      SELECT e.vec_id, e.v, dq.d FROM e JOIN dq ON dq.vec_id = e.vec_id
    ),
    {quantized_recall_oracle_tail()}
    """


@query(
    "q134_ivfpq_knn_recall",
    oracle=_q134_oracle(),
    tags=("similarity", "quantization", "llm", "r9"),
)
def q134_ivfpq_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-RESIDUAL product-quantized KNN (IVFPQ — Jegou et al. TPAMI
    2011 §III-C, the faiss "IVF,PQ" composition): each vector is first
    assigned to its nearest coarse centroid (nlist=96, frozen by
    tools/train_ivfpq.py), and PQ encodes the RESIDUAL v - c(v) with
    M=16 subspaces x 4-bit codebooks (64-bit codes); reconstruction is
    centroid + decoded residual, searched with cosine top-k and metered
    against the exact ranking per query (q118/q125's shared recall
    scaffold).

    This closes the round-8 PQ adjudication: q125's plain PQ on these
    near-isotropic synthetic vectors sits at recall@5 0.21 at sf0.01
    (0.03-0.05 at the other SFs — no cluster structure for raw-vector
    codebooks to exploit, PQ's documented worst case). The coarse
    quantizer supplies the structure the data lacks — the residual
    variance inside an IVF cell is a fraction of the raw variance
    (trainer log: coarse MSE 0.669 vs residual-PQ MSE 0.013) — and the
    measured mean recall@5 of THIS query's frozen artifact is 0.52 at
    sf0.01 (a numpy prototype of the same recipe scored 0.52 vs 0.28
    for plain PQ at an equal 64-bit code budget). The remaining gap to
    SQ8's 0.98 is the honest price of 8x further compression on
    isotropic data.

    Scale: the coarse argmin is map-only against a constant-folded
    broadcast literal (nlist x d doubles); encoding explodes to M rows
    per vector so the argmin lambda touches COLUMNS, not re-evaluated
    expressions (the functions/text.py HOF trap); search reuses q35's
    broadcast-queries single pair pass. At index-serving scale the same
    cell assignment also prunes the search to nprobe cells (q93's IVF
    search); here the meter searches exhaustively so recall isolates the
    QUANTIZATION error, not the probe policy.
    """
    from csv_loader_spark.functions.ivfpq_codebooks import (
        COARSE,
        CODEBOOKS,
        M_SUB,
        SUB_WIDTH,
    )
    from csv_loader_spark.functions import vectors as VEC
    from csv_loader_spark.queries.llm7 import _quantized_knn_recall

    cc = _lit2_spark(COARSE)
    cb = _lit3_spark(CODEBOOKS)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VEC.as_double("embedding").alias("v")
    )
    # lazy checkpoint: the residual-encode chain AND the reconstruction
    # join both read `assigned`, and the 96-centroid interpreted-HOF
    # argmin is this plan's dominant cost — without the checkpoint it
    # runs twice (r10; 3.8 -> ~2.5 s warm at sf0.1)
    assigned = e.select(
        "vec_id",
        "v",
        F.expr(
            f"array_sort(transform({cc}, c -> named_struct("
            "'d', aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)),"
            " 0.0D, (acc, x) -> acc + x), 'c', c)))[0].c"
        ).alias("cvec"),
    ).localCheckpoint(eager=False)
    res = assigned.withColumn("r", F.expr("zip_with(v, cvec, (x, y) -> x - y)"))
    subs = res.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.expr(f"slice(r, {m * SUB_WIDTH + 1}, {SUB_WIDTH})").alias(
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
    enc = subs.withColumn(
        "rec",
        F.expr(
            "array_sort(transform(cbm, (c, i) -> "
            "named_struct('d', aggregate(zip_with(sub, c, (x, y) -> (x - y) * (x - y)),"
            " 0.0D, (acc, x) -> acc + x), 'k', i, 'c', c)))[0].c"
        ),
    )
    rq = enc.groupBy("vec_id").agg(
        F.expr(
            "flatten(transform(array_sort(collect_list(named_struct('m', m,"
            " 'rec', rec))), s -> s.rec))"
        ).alias("rr")
    )
    joined = (
        assigned.select("vec_id", "v", "cvec")
        .join(rq, "vec_id")
        .withColumn("d", F.expr("zip_with(rr, cvec, (x, y) -> x + y)"))
        .select("vec_id", "v", "d")
    )
    return _quantized_knn_recall(spark, joined)


# ---------------------------------------------------------------------------
# q135: corpus snapshot diff (version-over-version changelog)
# ---------------------------------------------------------------------------

# Simulated next snapshot (deterministic, mirrored in the oracle): docs with
# doc_id % 11 = 0 are REMOVED, docs with doc_id % 7 = 0 are EDITED (marker
# appended -> new fingerprint), and every doc with doc_id % 13 = 0 spawns an
# ADDED doc at doc_id + _SNAP_OFFSET. Modulus choices overlap on purpose
# (doc 77 is removed AND would have been edited -> removal wins, it's gone).
_SNAP_OFFSET = 2_000_000_000


@query(
    "q135_snapshot_diff",
    oracle=rf"""
    WITH a AS (
      SELECT doc_id, source, {_FP_SQL} AS fp,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n_tok
      FROM documents
    ),
    b_kept AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN text || ' [v2 erratum]' ELSE text END
               AS text
      FROM documents WHERE doc_id % 11 <> 0
    ),
    b_new AS (
      SELECT doc_id + {_SNAP_OFFSET} AS doc_id, source,
             'fresh v2 document derived from ' || CAST(doc_id AS VARCHAR) AS text
      FROM documents WHERE doc_id % 13 = 0
    ),
    b AS (
      SELECT doc_id, source, {_FP_SQL} AS fp,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n_tok
      FROM (SELECT * FROM b_kept UNION ALL SELECT * FROM b_new)
    ),
    diff AS (
      SELECT coalesce(a.source, b.source) AS source,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.fp <> b.fp THEN 'changed'
                  ELSE 'unchanged' END AS verdict,
             coalesce(b.n_tok, 0) - coalesce(a.n_tok, 0) AS tok_delta
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    )
    SELECT source, verdict, count(*) AS n_docs,
           CAST(sum(tok_delta) AS BIGINT) AS tok_delta
    FROM diff GROUP BY source, verdict
    """,
    tags=("versioning", "dedup", "llm", "r9"),
)
def q135_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus SNAPSHOT DIFF: the version-over-version changelog a curated
    dataset publishes with each release (Dolma/RedPajama changelogs) —
    per (source, verdict) counts of added / removed / changed / unchanged
    documents plus the net token delta, where 'changed' means same doc_id
    with a different content fingerprint. Snapshot B is simulated with
    deterministic injections (removals, edits, additions by doc_id
    modulus — the q127 scaffolding convention) mirrored in the oracle.

    Scale: ONE full-outer equi-join on doc_id between two fingerprint
    frames (each one scan, narrow columns: id, source, fp, n_tok) and a
    tiny (source, verdict) roll-up. Content never rides the join — the
    md5 fingerprint is the comparison key, so a 10^10-doc diff is an
    id-table join, the same shape as the ingest index probe.
    """
    d = load_table(spark, sf_dir, "documents")

    def _fp_frame(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            "source",
            TXT.fingerprint("text").alias("fp"),
            F.size(TXT.tokens("text")).alias("n_tok"),
        )

    a = _fp_frame(d)
    b_kept = d.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [v2 erratum]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b_new = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + _SNAP_OFFSET).alias("doc_id"),
        "source",
        F.concat(
            F.lit("fresh v2 document derived from "), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    b = _fp_frame(b_kept.unionAll(b_new))
    aa, bb = a.alias("a"), b.alias("b")
    diff = aa.join(bb, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.fp") != F.col("b.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("verdict"),
        (
            F.coalesce(F.col("b.n_tok"), F.lit(0))
            - F.coalesce(F.col("a.n_tok"), F.lit(0))
        ).alias("tok_delta"),
    )
    return diff.groupBy("source", "verdict").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_delta").cast("long").alias("tok_delta"),
    )


# ---------------------------------------------------------------------------
# q136: rare-token fraction (unigram-frequency quality meter)
# ---------------------------------------------------------------------------

_RARE_MAX_OCC = 2  # a token is "rare" if it occurs <= 2 times corpus-wide


@query(
    "q136_rare_tokens",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents
    ),
    freq AS (
      SELECT w, count(*) AS c FROM toks GROUP BY w
    )
    SELECT t.doc_id,
           count(*) AS n_tok,
           CAST(sum(CASE WHEN f.c <= {_RARE_MAX_OCC} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           CAST(sum(CASE WHEN f.c <= {_RARE_MAX_OCC} THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS rare_bp
    FROM toks t JOIN freq f ON f.w = t.w
    GROUP BY t.doc_id
    """,
    tags=("quality", "text", "llm", "r9"),
)
def q136_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token fraction per document: the share of a doc's token
    OCCURRENCES whose corpus-wide unigram count is <= 2 — the
    integer-domain stand-in for the LM-perplexity quality bucket CCNet
    filters on (a doc full of corpus-rare tokens is gibberish, OCR
    noise, or code dumped into a text source; a doc with none is
    boilerplate). Pure integer arithmetic end to end: a float unigram
    log-probability would make the gate hostage to libm log() ULP
    differences between engines, so the meter reports basis points of
    rare occurrences instead.

    Scale: one explode + one token-keyed count (the unigram table — the
    same shuffle the tf-idf family pays), one equi-join back on the
    token, one doc_id roll-up. The unigram table is vocabulary-sized
    (Heaps' law: sublinear in the corpus); the join is the posting-list
    shape with per-token fan-out = that token's df, never pairwise.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TXT.tokens("text")).alias("w"))
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    rare = F.sum(F.when(F.col("c") <= _RARE_MAX_OCC, 1).otherwise(0)).cast("long")
    return (
        toks.join(freq, "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"), rare.alias("n_rare"))
        .withColumn("rare_bp", F.expr("CAST(n_rare * 10000 div n_tok AS BIGINT)"))
    )


# ---------------------------------------------------------------------------
# q137: Gopher-style quality rule pack (per-doc admission verdicts)
# ---------------------------------------------------------------------------

# Rule constants (Rae et al., Gopher appendix A1.1, adapted to this corpus's
# scale): doc length bounds, mean-word-length band, minimum stopword
# evidence, minimum alphabetic-word share. All comparisons are INTEGER
# cross-multiplications so the gate never touches float division.
_G_MIN_WORDS, _G_MAX_WORDS = 20, 100_000
_G_MIN_MWL, _G_MAX_MWL = 3, 10  # mean word length in [3, 10]
_G_MIN_STOP = 2  # >= 2 stopword occurrences
_G_ALPHA_NUM, _G_ALPHA_DEN = 8, 10  # >= 80% of words contain a letter


def _q137_oracle() -> str:
    from csv_loader_spark.functions.text import STOPWORDS

    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             len(t) AS n_tok,
             list_sum(list_transform(t, x -> len(x))) AS sum_len,
             len(list_filter(t, x -> x IN ({stops}))) AS n_stop,
             len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS n_alpha
      FROM toks
    )
    SELECT doc_id,
           n_tok BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS} AS ok_len,
           sum_len >= {_G_MIN_MWL} * n_tok
             AND sum_len <= {_G_MAX_MWL} * n_tok AS ok_mwl,
           n_stop >= {_G_MIN_STOP} AS ok_stop,
           {_G_ALPHA_DEN} * n_alpha >= {_G_ALPHA_NUM} * n_tok AS ok_alpha,
           (n_tok BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS})
             AND sum_len >= {_G_MIN_MWL} * n_tok
             AND sum_len <= {_G_MAX_MWL} * n_tok
             AND n_stop >= {_G_MIN_STOP}
             AND {_G_ALPHA_DEN} * n_alpha >= {_G_ALPHA_NUM} * n_tok AS ok_all
    FROM feats
    """


@query("q137_gopher_rules", oracle=_q137_oracle(), tags=("quality", "curation", "llm", "r9"))
def q137_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality RULE PACK (Rae et al. 2021, appendix A1.1):
    per-document pass/fail for the four classic heuristics — word-count
    bounds, mean word length in [3, 10], minimum stopword evidence,
    minimum alphabetic-word share — plus the conjunction ``ok_all`` a
    filter stage consumes. Every threshold is an integer
    cross-multiplication (mean word length 3 <= sum_len/n <= 10 becomes
    3n <= sum_len <= 10n), so both engines decide each rule exactly.

    Scale: map-only — one scan, per-row array arithmetic inside
    higher-order functions whose lambdas touch only their own variables
    (the functions/text.py HOF discipline), no shuffle at all. This is
    the quality-filter shape that runs FIRST in a real pipeline
    precisely because it is embarrassingly parallel.
    """
    from csv_loader_spark.functions.text import STOPWORDS

    d = load_table(spark, sf_dir, "documents")
    t = TXT.tokens("text")
    feats = d.select(
        "doc_id",
        F.size(t).alias("n_tok"),
        F.aggregate(
            F.transform(t, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
        ).alias("sum_len"),
        F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).alias("n_stop"),
        F.size(F.filter(t, lambda x: x.rlike("[a-z]"))).alias("n_alpha"),
    )
    ok_len = F.col("n_tok").between(_G_MIN_WORDS, _G_MAX_WORDS)
    ok_mwl = (F.col("sum_len") >= _G_MIN_MWL * F.col("n_tok")) & (
        F.col("sum_len") <= _G_MAX_MWL * F.col("n_tok")
    )
    ok_stop = F.col("n_stop") >= _G_MIN_STOP
    ok_alpha = _G_ALPHA_DEN * F.col("n_alpha") >= _G_ALPHA_NUM * F.col("n_tok")
    return feats.select(
        "doc_id",
        ok_len.alias("ok_len"),
        ok_mwl.alias("ok_mwl"),
        ok_stop.alias("ok_stop"),
        ok_alpha.alias("ok_alpha"),
        (ok_len & ok_mwl & ok_stop & ok_alpha).alias("ok_all"),
    )


# ---------------------------------------------------------------------------
# q138: ingest-time PASSAGE-granularity dedup verdicts (q115 as a probe)
# ---------------------------------------------------------------------------

# Injection scaffolding: the natural corpus has few cross-parity passage
# overlaps, so two deterministic "recycled content" arrival families make
# both passage verdicts fire — a near-copy of a CORPUS doc (one word
# appended -> new exact fp, majority of passages already indexed) and a
# near-copy of an earlier ARRIVAL (loses its keep-first majority to the
# original in the same batch). Docs with >= 41 tokens have >= 3 passages,
# so the one changed tail passage cannot break the strict majority.
_RECYC_C_OFFSET = 3_000_000_000
_RECYC_B_OFFSET = 4_000_000_000


def _q138_oracle() -> str:
    return rf"""
    WITH base AS (
      SELECT doc_id, source, text FROM documents
    ),
    arrivals AS (
      SELECT doc_id, source, text FROM base WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + {_RECYC_C_OFFSET} AS doc_id, source,
             text || ' recycledcorpustail' AS text
      FROM base
      WHERE doc_id % 6 = 0
        AND len(string_split_regex(trim(lower(text)), '\s+')) >= 41
      UNION ALL
      SELECT doc_id + {_RECYC_B_OFFSET} AS doc_id, source,
             text || ' recycledbatchtail' AS text
      FROM base
      WHERE doc_id % 10 = 5
        AND len(string_split_regex(trim(lower(text)), '\s+')) >= 41
    ),
    corpus AS (SELECT * FROM base WHERE doc_id % 2 = 0),
    cp AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n
      FROM corpus
    ),
    corpus_passages AS (
      SELECT md5(array_to_string(
               t[1 + i * {PASSAGE} : i * {PASSAGE} + {PASSAGE}], ' ')) AS pfp
      FROM cp, LATERAL unnest(range(0, (n - 1) // {PASSAGE} + 1)) AS u(i)
      WHERE n >= 1
    ),
    idx_pfp AS (SELECT DISTINCT pfp FROM corpus_passages),
    idx_fp AS (
      SELECT DISTINCT {_FP_SQL} AS fp FROM corpus
    ),
    arr AS (
      SELECT doc_id, source, {_FP_SQL} AS fp FROM arrivals
    ),
    ap AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n
      FROM arrivals
    ),
    pf AS (
      SELECT doc_id, i,
             md5(array_to_string(
               t[1 + i * {PASSAGE} : i * {PASSAGE} + {PASSAGE}], ' ')) AS pfp
      FROM ap, LATERAL unnest(range(0, (n - 1) // {PASSAGE} + 1)) AS u(i)
      WHERE n >= 1
    ),
    exc AS (SELECT doc_id FROM arr WHERE fp IN (SELECT fp FROM idx_fp)),
    r1 AS (SELECT * FROM arr WHERE doc_id NOT IN (SELECT doc_id FROM exc)),
    eb AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM r1
      ) WHERE rn > 1
    ),
    r2 AS (SELECT * FROM r1 WHERE doc_id NOT IN (SELECT doc_id FROM eb)),
    pstats AS (
      SELECT doc_id, count(*) AS n_p,
             sum(CASE WHEN pfp IN (SELECT pfp FROM idx_pfp)
                      THEN 1 ELSE 0 END) AS n_known
      FROM pf WHERE doc_id IN (SELECT doc_id FROM r2)
      GROUP BY doc_id
    ),
    pc AS (SELECT doc_id FROM pstats WHERE 2 * n_known > n_p),
    r3 AS (SELECT * FROM r2 WHERE doc_id NOT IN (SELECT doc_id FROM pc)),
    l AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY pfp) AS m
      FROM pf WHERE doc_id IN (SELECT doc_id FROM r3)
    ),
    lstats AS (
      SELECT doc_id, count(*) AS n_p,
             sum(CASE WHEN m < doc_id THEN 1 ELSE 0 END) AS n_lost
      FROM l GROUP BY doc_id
    ),
    pb AS (SELECT doc_id FROM lstats WHERE 2 * n_lost > n_p)
    SELECT a.doc_id, a.source,
           CASE WHEN a.doc_id IN (SELECT doc_id FROM exc) THEN 'exact_corpus'
                WHEN a.doc_id IN (SELECT doc_id FROM eb) THEN 'exact_batch'
                WHEN a.doc_id IN (SELECT doc_id FROM pc) THEN 'passage_corpus'
                WHEN a.doc_id IN (SELECT doc_id FROM pb) THEN 'passage_batch'
                ELSE 'accepted' END AS verdict
    FROM arr a
    """


@query(
    "q138_ingest_passage_dedup",
    oracle=_q138_oracle(),
    tags=("dedup", "incremental", "llm", "r9"),
)
def q138_ingest_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time PASSAGE-granularity dedup: arrivals probed against the
    accepted corpus's exact-fingerprint index AND its passage-fingerprint
    index (q115's segmentation, shared via ops/curate.py doc_passages), each
    arrival tagged with its admission verdict — exact dup, majority of
    passages already in the corpus ('passage_corpus': recycled content
    under a fresh fingerprint, the case the exact probe cannot see), or
    majority lost to an earlier surviving arrival ('passage_batch').
    This is the sub-document sibling of q131's band probe
    (streaming/ingest_dedup.py ingest_verdicts_passage).

    Scale: the index is one hashed column (distinct passage md5s, whose
    count FALLS with duplication); probes are semi/anti equi-joins; the
    within-batch rule is a window min per passage hash. Fan-out per doc
    = its passage count, the same explode the batch q115 pays.
    """
    from csv_loader_spark.streaming.ingest_dedup import (
        fingerprint_index,
        ingest_verdicts_passage,
        passage_index,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    n_tok = F.size(TXT.tokens("text"))
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    recyc_c = d.filter((F.col("doc_id") % 6 == 0) & (n_tok >= 41)).select(
        (F.col("doc_id") + _RECYC_C_OFFSET).alias("doc_id"),
        "source",
        F.concat(F.col("text"), F.lit(" recycledcorpustail")).alias("text"),
    )
    recyc_b = d.filter((F.col("doc_id") % 10 == 5) & (n_tok >= 41)).select(
        (F.col("doc_id") + _RECYC_B_OFFSET).alias("doc_id"),
        "source",
        F.concat(F.col("text"), F.lit(" recycledbatchtail")).alias("text"),
    )
    arrivals = d.filter(F.col("doc_id") % 2 == 1).unionAll(recyc_c).unionAll(recyc_b)
    return ingest_verdicts_passage(
        arrivals, fingerprint_index(corpus), passage_index(corpus)
    ).select("doc_id", "source", "verdict")


# ---------------------------------------------------------------------------
# q139: BPE tokenizer application (frozen merge table, exact oracle)
# ---------------------------------------------------------------------------


def _q139_oracle() -> str:
    from csv_loader_spark.functions.bpe_merges import MERGES

    # double-space symbol separators + single-space padding: replace-all
    # of ' a  b ' is exactly leftmost-greedy BPE (see tools/train_bpe.py)
    enc = r"' ' || trim(regexp_replace(w, '(.)', '\1  ', 'g')) || ' '"
    for a, b, _ in MERGES:
        enc = f"replace({enc}, ' {a}  {b} ', ' {a}{b} ')"
    return rf"""
    WITH words AS (
      SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents
    ),
    enc AS (
      SELECT source, w, {enc} AS e
      FROM words WHERE len(w) >= 1
    )
    SELECT source,
           count(*) AS n_words,
           CAST(sum(len(w)) AS BIGINT) AS n_chars,
           CAST(sum(len(string_split(trim(e), '  '))) AS BIGINT) AS n_subwords,
           CAST(sum(len(string_split(trim(e), '  '))) * 100 // count(*) AS BIGINT)
             AS subwords_per_word_x100
    FROM enc
    GROUP BY source
    """


@query("q139_bpe_apply", oracle=_q139_oracle(), tags=("tokenizer", "text", "llm", "r9"))
def q139_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZATION with a trained merge table (Sennrich et al., ACL
    2016): every word splits to characters and the frozen 24-merge table
    (tools/train_bpe.py — trained offline with one distributed
    aggregation per merge, the codebook-trainer recipe applied to
    tokenization) is applied IN TRAINING ORDER as literal string
    replaces over the double-space-separated, space-padded symbol
    string — an encoding on which replace-all is EXACTLY leftmost-greedy
    BPE (matches cannot share characters or cross symbol boundaries; the
    r9 review caught the naive single-space form merging a symbol's
    suffix with the next symbol's prefix), verified word-for-word
    against a reference BPE implementation in
    tests/test_llm7_properties.py. Reports per-source word/char/subword
    counts and the integer subwords-per-word ratio — the tokenizer-fit
    number (chars-per-subword rises as merges capture the corpus's
    morphology) a data pipeline tracks per source.

    Scale: application is MAP-ONLY — one explode to words, 24 chained
    JVM string replaces inside whole-stage codegen, one (source) roll-up;
    the merge table is a frozen broadcast-literal artifact exactly like
    the PQ codebooks. Training is offline because each merge changes the
    next merge's statistics (inherently sequential), but each iteration
    is one distributed agg over the DISTINCT-WORD frame, not the corpus.
    """
    from csv_loader_spark.functions.bpe_merges import MERGES

    d = load_table(spark, sf_dir, "documents")
    words = d.select("source", F.explode(TXT.tokens("text")).alias("w")).filter(
        F.length("w") >= 1
    )
    return (
        words.select(
            "source",
            F.length("w").alias("nc"),
            F.size(TXT.bpe_subwords("w", MERGES)).alias("ns"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("nc").cast("long").alias("n_chars"),
            F.sum("ns").cast("long").alias("n_subwords"),
        )
        .withColumn(
            "subwords_per_word_x100",
            F.expr("CAST(n_subwords * 100 div n_words AS BIGINT)"),
        )
    )


# ---------------------------------------------------------------------------
# q140: HTML/markup extraction (the extractor stage, q86's injection recipe)
# ---------------------------------------------------------------------------

_TAG_RE = r"<[^>]*>"
# entity decode table applied AFTER tag removal, in this order. &amp;
# decodes LAST (standard entity semantics, r9 advice): decoding it first
# would make double-encoded input like '&amp;lt;' double-decode to '<'
# instead of the correct '&lt;'. Spark and the oracle iterate this same
# tuple, so the order is mirrored by construction.
_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&amp;", "&"),
)


def _q140_oracle() -> str:
    clean = f"regexp_replace(text, '{_TAG_RE}', ' ', 'g')"
    for ent, rep in _ENTITIES:
        rep_sql = rep.replace("'", "''")
        clean = f"replace({clean}, '{ent}', '{rep_sql}')"
    clean = rf"trim(regexp_replace({clean}, '\s+', ' ', 'g'))"
    return rf"""
    WITH injected AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 4 = 0
                  THEN '<html><body class="m' || CAST(doc_id % 5 AS VARCHAR)
                       || '"><h1>Title ' || CAST(doc_id % 7 AS VARCHAR)
                       || '</h1><p>' || text
                       || '</p><br/>&amp; footer &nbsp;</body></html>'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id, source,
           CAST(len(regexp_extract_all(text, '{_TAG_RE}')) AS BIGINT) AS n_tags,
           md5({clean}) AS clean_fp,
           CAST(len(string_split_regex(trim(lower({clean})), '\s+')) AS BIGINT)
             AS n_tok_clean
    FROM injected
    """


@query("q140_html_strip", oracle=_q140_oracle(), tags=("cleaning", "text", "llm", "r9"))
def q140_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/markup EXTRACTION — the extractor stage every web-crawl
    pipeline runs before any text op (trafilatura/jusText class, reduced
    to its deterministic core): strip tags, decode the common entities,
    collapse whitespace; report per doc the tag count, the fingerprint of
    the extracted text, and its clean token count. The synthetic corpus
    carries no markup, so every fourth doc is wrapped in a deterministic
    doc_id-derived HTML shell (q86's make-the-rule-fire injection recipe,
    mirrored in the oracle) — the fingerprints then prove the extractor
    removes exactly the injected markup and nothing else.

    Scale: map-only — two regexp passes and five literal replaces per
    row, all inside whole-stage codegen, zero shuffles. The tag regex is
    lookaround-free so Java regex (Spark) and RE2 (DuckDB) agree.
    """
    d = load_table(spark, sf_dir, "documents")
    injected = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('<html><body class="m'),
                (F.col("doc_id") % 5).cast("string"),
                F.lit('"><h1>Title '),
                (F.col("doc_id") % 7).cast("string"),
                F.lit("</h1><p>"),
                F.col("text"),
                F.lit("</p><br/>&amp; footer &nbsp;</body></html>"),
            ),
        )
        .otherwise(F.col("text"))
    )
    clean = F.regexp_replace(injected, _TAG_RE, " ")
    for ent, rep in _ENTITIES:
        clean = F.replace(clean, F.lit(ent), F.lit(rep))
    clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
    return d.select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all(injected, F.lit(_TAG_RE), F.lit(0)))
        .cast("long")
        .alias("n_tags"),
        F.md5(clean).alias("clean_fp"),
        F.size(TXT.tokens(clean)).cast("long").alias("n_tok_clean"),
    )


# ---------------------------------------------------------------------------
# q141: unicode/typography normalization (the mojibake cleaner)
# ---------------------------------------------------------------------------

# (from, to) pairs; multi-char targets use replace, 1:1 pairs could use
# translate but replace keeps one mechanism and both engines share it.
_UNINORM = (
    ("\u201c", '"'),   # left curly double quote
    ("\u201d", '"'),   # right curly double quote
    ("\u2018", "'"),   # left curly single quote
    ("\u2019", "'"),   # right curly single quote
    ("\u00a0", " "),   # no-break space
    ("\u2014", "-"),   # em dash
    ("\u2013", "-"),   # en dash
    ("\u2026", "..."),  # ellipsis
)
# printable-ASCII complement: counts the characters normalization targets
_NONASCII_RE = "[^ -~]"
# deterministic injected suffix exercising every rule
_WEIRD_SUFFIX = (
    " \u201cquoted\u201d\u00a0and\u2018single\u2019"
    " em\u2014dash en\u2013dash wait\u2026"
)


def _q141_oracle() -> str:
    suffix_sql = _WEIRD_SUFFIX.replace("'", "''")
    clean = "text"
    for src, dst in _UNINORM:
        dst_sql = dst.replace("'", "''")
        clean = f"replace({clean}, '{src}', '{dst_sql}')"
    return rf"""
    WITH injected AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 1 THEN text || '{suffix_sql}'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id, source,
           CAST(len(text) - len(regexp_replace(text, '{_NONASCII_RE}', '', 'g'))
                AS BIGINT) AS n_weird,
           CAST(len({clean})
                - len(regexp_replace({clean}, '{_NONASCII_RE}', '', 'g'))
                AS BIGINT) AS n_weird_after,
           md5({clean}) AS norm_fp
    FROM injected
    """


@query("q141_unicode_normalize", oracle=_q141_oracle(), tags=("cleaning", "text", "llm", "r9"))
def q141_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/typography NORMALIZATION — the ftfy-class cleanup every
    web corpus needs before tokenization: curly quotes to straight,
    no-break spaces to spaces, en/em dashes to hyphens, ellipsis to
    three dots, with before/after counts of the non-printable-ASCII
    characters the rules target and the normalized fingerprint. The
    synthetic corpus is pure ASCII, so every third doc gets a
    deterministic suffix exercising every rule (the injection recipe),
    and n_weird_after == 0 everywhere proves the table is COMPLETE for
    what it injects — a new weird character would surface as a nonzero.

    Scale: map-only — eight literal replaces and two char counts per
    row inside whole-stage codegen, zero shuffles. Literal (non-regex)
    replaces keep the rule table engine-portable; char-based len()
    agrees between engines because both count codepoints, not bytes.
    """
    d = load_table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 3 == 1, F.concat(F.col("text"), F.lit(_WEIRD_SUFFIX))
    ).otherwise(F.col("text"))
    clean = injected
    for src, dst in _UNINORM:
        clean = F.replace(clean, F.lit(src), F.lit(dst))
    n_weird = F.length(injected) - F.length(
        F.regexp_replace(injected, _NONASCII_RE, "")
    )
    n_after = F.length(clean) - F.length(F.regexp_replace(clean, _NONASCII_RE, ""))
    return d.select(
        "doc_id",
        "source",
        n_weird.cast("long").alias("n_weird"),
        n_after.cast("long").alias("n_weird_after"),
        F.md5(clean).alias("norm_fp"),
    )


# ---------------------------------------------------------------------------
# q142: intra-document passage dedup (within-page boilerplate removal)
# ---------------------------------------------------------------------------


def _q142_oracle() -> str:
    return rf"""
    WITH raw AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t0
      FROM documents
    ),
    toks AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 2 AND len(t0) >= {PASSAGE}
                  THEN list_concat(t0[1:{PASSAGE}], t0) ELSE t0 END AS t,
             CASE WHEN doc_id % 6 = 2 AND len(t0) >= {PASSAGE}
                  THEN len(t0) + {PASSAGE} ELSE len(t0) END AS n
      FROM raw
    ),
    passages AS (
      SELECT doc_id, i,
             array_to_string(t[1 + i * {PASSAGE} : i * {PASSAGE} + {PASSAGE}], ' ')
               AS passage
      FROM toks, LATERAL unnest(range(0, (n - 1) // {PASSAGE} + 1)) AS u(i)
      WHERE n >= 1
    ),
    flagged AS (
      SELECT doc_id, i, passage,
             row_number() OVER (PARTITION BY doc_id, md5(passage)
                                ORDER BY i) = 1 AS keep
      FROM passages
    )
    SELECT doc_id,
           count(*) AS n_passages,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN keep THEN passage END, ' '
                                   ORDER BY i), '')) AS kept_fp
    FROM flagged
    GROUP BY doc_id
    """


@query("q142_intradoc_dedup", oracle=_q142_oracle(), tags=("dedup", "text", "llm", "r9"))
def q142_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document passage dedup — q115's sub-document rule scoped to
    each document alone (Dolma's within-page paragraph dedup): a passage
    repeated INSIDE one doc (nav chrome, boilerplate footers duplicated
    by the extractor) keeps only its first occurrence; other documents'
    identical passages are untouched. Reports per doc the passage count,
    survivors, and the fingerprint of the reassembled text — composable
    with (and deliberately distinct from) the global q115 rule: run this
    FIRST so within-page repetition cannot inflate a doc's weight in the
    global keep-first race. The corpus has no natural within-doc
    repetition, so every sixth long-enough doc gets its first passage
    prepended (injection recipe) and the rule measurably fires.

    Scale: the window partitions on (doc_id, md5(passage)) — doc-local
    groups, so the shuffle key includes the doc and boilerplate shared
    ACROSS docs never concentrates in one partition; everything else is
    q115's shape with the doc roll-up reusing the same partitioning
    prefix.
    """
    d = load_table(spark, sf_dir, "documents")
    # injection scaffolding: the synthetic corpus has no within-doc
    # repeated passages, so every sixth long-enough doc gets its first
    # passage PREPENDED — passages 0 and 1 become identical, the rule
    # measurably fires, mirrored in the oracle
    t0 = TXT.tokens("text")
    injected = F.when(
        (F.col("doc_id") % 6 == 2) & (F.size(t0) >= PASSAGE),
        F.array_join(F.concat(F.slice(t0, 1, PASSAGE), t0), " "),
    ).otherwise(F.col("text"))
    d = d.select("doc_id", injected.alias("text"))
    passages = doc_passages(d)
    w = W.partitionBy("doc_id", F.md5("passage")).orderBy("i")
    flagged = passages.withColumn("keep", F.row_number().over(w) == 1)
    kept_structs = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct(F.col("i"), F.col("passage"))))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_passages"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(F.transform(kept_structs, lambda s: s["passage"]), " ")
        ).alias("kept_fp"),
    )


# ---------------------------------------------------------------------------
# q143: duplicate-cluster representative selection (keep-best per component)
# ---------------------------------------------------------------------------


def _q143_oracle() -> str:
    from csv_loader_spark.queries.llm import _SHINGLE_CTE

    return rf"""
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
    ),
    comp AS (
      SELECT node AS doc_id, min(root) AS cluster_id
      FROM reach GROUP BY node
    ),
    sized AS (
      SELECT c.cluster_id, c.doc_id,
             len(string_split_regex(trim(lower(d.text)), '\s+')) AS n_tok
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ),
    ranked AS (
      SELECT cluster_id, doc_id, n_tok,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_tok DESC, doc_id) AS rnk
      FROM sized
    )
    SELECT cluster_id,
           count(*) AS n_members,
           CAST(min(CASE WHEN rnk = 1 THEN doc_id END) AS BIGINT) AS rep_doc_id,
           CAST(sum(CASE WHEN rnk > 1 THEN n_tok ELSE 0 END) AS BIGINT)
             AS dropped_tokens
    FROM ranked
    GROUP BY cluster_id
    """


@query("q143_cluster_keep_best", oracle=_q143_oracle(), tags=("dedup", "graph", "iterative", "llm", "r9"))
def q143_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster REPRESENTATIVE selection: q67's connected
    components (exact Jaccard >= 0.5 edges, iterative min-label
    propagation) composed with the keep-best rule — each cluster keeps
    its longest member (token count, doc_id tie-break) and reports the
    cluster size and the token mass the drop decision removes. This is
    the decision step near-dup dedup exists for: q79 picks a survivor
    per EXACT fingerprint, this picks one per NEAR-dup component, so
    transitive near-duplicates (A~B~C where A and C never pair) still
    collapse to one document.

    Scale (r10): edges come from q119's PREFIX-FILTERED Jaccard join
    (llm7.prefix_jaccard_pairs — AllPairs length filter + PPJoin
    positional filter, lossless at J >= 0.5), replacing the naive
    Σdf² explode-and-self-join that was the tree's one quadratic shape
    (~13 s at sf0.1, floods to C(n,2) on boilerplate). Components are
    q67's label propagation in diameter rounds over node-id frames; the
    new work is one broadcast-sized join to token counts and a window
    argmax per cluster — both linear in cluster membership. Iterative on
    the Spark side; the oracle computes the same fixpoint with a
    recursive CTE over the NAIVE edge CTE — kept naive on purpose, so
    the exact gate re-certifies the prefix prune's losslessness through
    the whole cluster/representative pipeline.
    """
    from csv_loader_spark.ops.graph import connected_components
    from csv_loader_spark.queries.llm7 import jaccard_dup_edges

    edges = jaccard_dup_edges(spark, sf_dir)
    comp = connected_components(edges, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    d = load_table(spark, sf_dir, "documents")
    sized = comp.join(
        d.select("doc_id", F.size(TXT.tokens("text")).alias("n_tok")), "doc_id"
    )
    w = W.partitionBy("cluster_id").orderBy(F.col("n_tok").desc(), F.col("doc_id"))
    ranked = sized.withColumn("rnk", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.when(F.col("rnk") == 1, F.col("doc_id")))
        .cast("long")
        .alias("rep_doc_id"),
        F.sum(F.when(F.col("rnk") > 1, F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("dropped_tokens"),
    )


# ---------------------------------------------------------------------------
# q144: ingest-probe rejection precision (the band rule's measured FP rate)
# ---------------------------------------------------------------------------

_PROBE_TAU_NUM, _PROBE_TAU_DEN = 3, 10  # "true near-dup" = exact Jaccard >= 0.3

# MOSS stop-list for the meters' verify-side posting join (r12, the last
# unguarded posting join in the tree): a shingle held by more than this
# many CORPUS docs is boilerplate, not near-dup evidence — without the
# guard, each rejected arrival's candidate cost in the independent
# verification join is Σ df_corpus(s) over its shingles, linear in corpus
# size under a boilerplate flood (the exact shape q96's _WINNOW_MAX_DF
# kills; see llm3.py for the drop-vs-cap rationale). Dropping hot
# shingles from the corpus posting side bounds the join at
# n_shingles(doc) × max_df candidates per rejected doc; intersection
# counts can only shrink, so under flood the meter UNDER-reports
# precision (a conservative audit) and at gate scale the guard is inert
# (sf0.01 max corpus df = 5 over 500 docs). One constant, so the Spark
# plan and the oracle SQL bake the SAME value.
_PROBE_VERIFY_MAX_DF = 512


@query(
    "q144_ingest_probe_precision",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_minhash_oracle_band_ctes()},
    idx_band AS (
      SELECT DISTINCT band, bkey FROM bands WHERE doc_id % 2 = 0
    ),
    fps AS (
      SELECT doc_id, {_FP_SQL} AS fp FROM documents
    ),
    idx_fp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    arr AS (SELECT doc_id, fp FROM fps WHERE doc_id % 2 = 1),
    exc AS (SELECT doc_id FROM arr WHERE fp IN (SELECT fp FROM idx_fp)),
    r1 AS (SELECT * FROM arr WHERE doc_id NOT IN (SELECT doc_id FROM exc)),
    eb AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM r1
      ) WHERE rn > 1
    ),
    r2 AS (SELECT * FROM r1 WHERE doc_id NOT IN (SELECT doc_id FROM eb)),
    nc AS (
      SELECT DISTINCT b.doc_id
      FROM bands b
      WHERE b.doc_id IN (SELECT doc_id FROM r2)
        AND EXISTS (SELECT 1 FROM idx_band i
                    WHERE i.band = b.band AND i.bkey = b.bkey)
    ),
    hotc AS (
      SELECT s FROM exploded WHERE doc_id % 2 = 0
      GROUP BY s HAVING count(*) > {_PROBE_VERIFY_MAX_DF}
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, c.doc_id AS doc_c, count(*) AS n_inter
      FROM exploded a
      JOIN exploded c ON a.s = c.s
      WHERE a.doc_id IN (SELECT doc_id FROM nc) AND c.doc_id % 2 = 0
        AND c.s NOT IN (SELECT s FROM hotc)
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT DISTINCT i.doc_a
      FROM inter i
      JOIN doc_sizes sa ON sa.doc_id = i.doc_a
      JOIN doc_sizes sc ON sc.doc_id = i.doc_c
      WHERE {_PROBE_TAU_DEN} * i.n_inter
            >= {_PROBE_TAU_NUM} * (sa.n_sh + sc.n_sh - i.n_inter)
    )
    SELECT CAST((SELECT count(*) FROM nc) AS BIGINT) AS n_rejected,
           CAST((SELECT count(*) FROM verified) AS BIGINT) AS n_true,
           CAST(CASE WHEN (SELECT count(*) FROM nc) = 0 THEN 0
                     ELSE (SELECT count(*) FROM verified) * 10000
                          // (SELECT count(*) FROM nc) END AS BIGINT)
             AS precision_bp
    """,
    tags=("dedup", "metrics", "incremental", "llm", "r9"),
)
def q144_ingest_probe_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRECISION of the ingest probe's band-collision rejection rule
    (q131's near_corpus verdict): of the arrivals the probe rejects for
    colliding with the corpus index, what fraction is a TRUE near-dup of
    some corpus doc by exact 3-gram Jaccard >= 0.3 (q34's verification
    threshold, integer cross-multiplied)? This is the q109/q110
    convention applied to the round's lead operator: the probe's
    documented false-positive trade (rejection on bucket membership, no
    pairwise verify) stops being a prose caveat and becomes a gated
    number the judge and the pipeline owner can watch drift.

    Scale: the verification join explodes ONLY the rejected arrivals'
    shingles against the corpus posting lists (equi-join on the shingle,
    sum-of-df^2 bounded by the rejected set, never all-pairs); the probe
    chain itself is q131's linear shape. In production this meter runs
    on a sample of rejections, not the firehose — it is an audit, not an
    admission step.
    """
    from csv_loader_spark.streaming.ingest_dedup import ingest_verdicts

    d = load_table(spark, sf_dir, "documents")
    arrivals = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source", "text")
    fpx, bsx, _ = _probe_corpus_indexes(spark, sf_dir)
    # lazy localCheckpoint: the rejected set feeds BOTH the verification
    # join and the final aggregate — without it the whole probe chain
    # (two index probes + two windows) executes once per reference
    # (measured 6.9 s for this 1-row meter in BENCH_r09; r10 review)
    nc = (
        ingest_verdicts(arrivals, fpx, bsx)
        .filter(F.col("verdict") == "near_corpus")
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    return _probe_precision_meter(spark, sf_dir, nc)


# One lazily-materialized shingle checkpoint + stop-listed corpus posting
# frame per (session, corpus file state), shared by q144 AND q146 (r13:
# the two meters were the bench's slowest idle entries at ~5 s each, and
# their verify-side DAG below `nc` is IDENTICAL — corpus shingles, df
# stop-list, posting explode — so the second meter in a session was
# re-materializing work the first had already done). Keyed and
# invalidated exactly like io/tables._TABLE_CACHE: live session object +
# file fingerprint, so a regenerated corpus under the same path misses.
# Cost of the pin: the shingle arrays + corpus posting rows stay in
# executor block storage for the session (MBs at gate scale) — the
# bounded, acceptable trade the table cache already made. The outer map
# weak-references the session (r13 ADVICE: a plain dict pinned stopped
# sessions and their checkpointed frames forever), so a collected
# session drops its whole entry; within a live session the per-key
# overwrite-on-fingerprint-miss bounds growth to one entry per key.
_PROBE_FRAME_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _probe_cache_get(spark: SparkSession, key: tuple, fp: object):
    ent = _PROBE_FRAME_CACHE.get(spark, {}).get(key)
    if ent is not None and ent[0] == fp:
        return ent[1]
    return None


def _probe_cache_put(
    spark: SparkSession, key: tuple, fp: object, val: tuple
) -> None:
    _PROBE_FRAME_CACHE.setdefault(spark, {})[key] = (fp, val)


def _probe_corpus_indexes(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(fingerprint_index, band_signature_index, band_member_index) of the
    meters' even-doc_id corpus, each lazily localCheckpointed once per
    (session, corpus file state) — the same cache/invalidation contract as
    :func:`_probe_verify_frames`. In production these ARE persisted stores
    (streaming/ingest_dedup.py's fingerprint/band/member state); rebuilding
    them from text on every meter call was the probe chain's dominant cost
    (r14 profile: band_signature_index alone ~2 s of q144's ~4.7 s warm
    call at sf0.1), so caching here mirrors the deployment shape rather
    than hiding work."""
    from csv_loader_spark.io.tables import file_fingerprint, load_table
    from csv_loader_spark.streaming.ingest_dedup import (
        band_member_index,
        band_signature_index,
        fingerprint_index,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    key = (path, "corpus_indexes")
    fp = file_fingerprint(path)
    hit = _probe_cache_get(spark, key, fp)
    if hit is not None:
        return hit
    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    fpx = fingerprint_index(corpus).localCheckpoint(eager=False)
    bsx = band_signature_index(corpus).localCheckpoint(eager=False)
    bmx = band_member_index(corpus).localCheckpoint(eager=False)
    _probe_cache_put(spark, key, fp, (fpx, bsx, bmx))
    return fpx, bsx, bmx


def _probe_verify_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(shingled docs, stop-listed corpus postings) — both lazily
    checkpointed once per (session, corpus state) and shared across the
    q144/q146 meters."""
    from csv_loader_spark.io.tables import file_fingerprint

    path = os.path.join(sf_dir, "documents.parquet")
    key = (path, _PROBE_VERIFY_MAX_DF)
    fp = file_fingerprint(path)
    hit = _probe_cache_get(spark, key, fp)
    if hit is not None:
        return hit
    from csv_loader_spark.queries.llm import _shingled

    sh = _shingled(spark, sf_dir).localCheckpoint(eager=False)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    # MOSS stop-list on the corpus posting side (r12): drop shingles
    # whose corpus df exceeds _PROBE_VERIFY_MAX_DF before the join. The
    # hot set is an AGGREGATE + broadcast anti-join, not q96's window —
    # the window shape sorts every posting row inside a full shuffle
    # (measured 15.9 s vs 4.4 s for the whole meter at sf0.1), while the
    # aggregate partial-combines map-side to ~distinct shingles and the
    # surviving hot list is tiny (usually empty) so the anti-join
    # broadcasts and the posting rows never reshuffle.
    ex_c_all = ex.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("doc_c"), "s"
    )
    hot = (
        ex_c_all.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _PROBE_VERIFY_MAX_DF)
        .select("s")
    )
    ex_c = ex_c_all.join(F.broadcast(hot), "s", "left_anti").localCheckpoint(
        eager=False
    )
    _probe_cache_put(spark, key, fp, (sh, ex_c))
    return sh, ex_c


def _probe_precision_meter(
    spark: SparkSession, sf_dir: str, nc: DataFrame
) -> DataFrame:
    """Shared body of q144/q146: given the (lazily checkpointed) rejected
    doc_id frame, independently verify each rejection against the FULL
    corpus by exact Jaccard >= _PROBE_TAU and fold (n_rejected, n_true,
    precision_bp) into one single-action 1-row aggregate. One shingle
    materialization serves sizes and both join sides; the posting-list
    join explodes only the rejected docs against the corpus, and the
    corpus side is df-stop-listed (_PROBE_VERIFY_MAX_DF) so a
    boilerplate flood cannot make the per-rejection candidate cost
    linear in corpus size (SCALING.json `probe_verify_guard`). The
    shingle frame and the stop-listed posting frame come from the
    session-scoped `_probe_verify_frames` cache, so whichever of
    q144/q146 runs second reuses the first's materialized blocks."""
    sh, ex_c = _probe_verify_frames(spark, sf_dir)
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    ex_a = ex.join(nc, "doc_id", "left_semi").select(
        F.col("doc_id").alias("doc_a"), "s"
    )
    inter = (
        ex_a.join(ex_c, "s")
        .groupBy("doc_a", "doc_c")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sc = sizes.select(F.col("doc_id").alias("doc_c"), F.col("n_sh").alias("nc_sh"))
    verified = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sc), "doc_c")
        .filter(
            _PROBE_TAU_DEN * F.col("n_inter")
            >= _PROBE_TAU_NUM * (F.col("na") + F.col("nc_sh") - F.col("n_inter"))
        )
        .select("doc_a")
        .distinct()
    )
    # ONE action, zero driver-side counts (r10: BENCH_r09 showed the two
    # .count() actions re-running the probe chain twice): left-flag each
    # rejection with its verification verdict and fold both counts plus
    # the precision ratio into a single 1-row aggregate.
    flagged = nc.join(
        verified.withColumnRenamed("doc_a", "doc_id").withColumn(
            "_true", F.lit(True)
        ),
        "doc_id",
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rejected"),
        F.coalesce(F.sum(F.when(F.col("_true"), 1)), F.lit(0))
        .cast("long")
        .alias("n_true"),
    ).select(
        "n_rejected",
        "n_true",
        F.expr(
            "CAST(CASE WHEN n_rejected = 0 THEN 0 "
            "ELSE n_true * 10000 DIV n_rejected END AS BIGINT)"
        ).alias("precision_bp"),
    )


# ---------------------------------------------------------------------------
# q145/q146: the VERIFY tier of the ingest probe (r10) — precision 1.0 by
# construction, gated both by an exact verdict oracle and the q144 meter.
# ---------------------------------------------------------------------------


def _q145_oracle() -> str:
    from csv_loader_spark.queries.llm import _BAND_CAP
    from csv_loader_spark.streaming.ingest_dedup import (
        VERIFY_TAU_DEN,
        VERIFY_TAU_NUM,
    )

    return f"""
    WITH {_SHINGLE_CTE},
    {_minhash_oracle_band_ctes()},
    fps AS (
      SELECT doc_id, source, {_FP_SQL} AS fp FROM documents
    ),
    idx_fp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    capped AS (
      SELECT band, bkey, doc_id FROM (
        SELECT band, bkey, doc_id,
               row_number() OVER (PARTITION BY band, bkey
                                  ORDER BY doc_id) AS rn
        FROM bands WHERE doc_id % 2 = 0
      ) WHERE rn <= {_BAND_CAP}
    ),
    arr AS (SELECT doc_id, source, fp FROM fps WHERE doc_id % 2 = 1),
    exc AS (
      SELECT doc_id FROM arr WHERE fp IN (SELECT fp FROM idx_fp)
    ),
    r1 AS (
      SELECT * FROM arr WHERE doc_id NOT IN (SELECT doc_id FROM exc)
    ),
    eb AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM r1
      ) WHERE rn > 1
    ),
    r2 AS (
      SELECT * FROM r1 WHERE doc_id NOT IN (SELECT doc_id FROM eb)
    ),
    coll AS (
      SELECT DISTINCT b.doc_id AS doc_a, m.doc_id AS doc_c
      FROM bands b
      JOIN capped m ON m.band = b.band AND m.bkey = b.bkey
      WHERE b.doc_id IN (SELECT doc_id FROM r2)
    ),
    vint AS (
      SELECT p.doc_a, p.doc_c, count(*) AS n_inter
      FROM coll p
      JOIN exploded a ON a.doc_id = p.doc_a
      JOIN exploded c ON c.doc_id = p.doc_c AND c.s = a.s
      GROUP BY 1, 2
    ),
    nc AS (
      SELECT DISTINCT v.doc_a AS doc_id
      FROM vint v
      JOIN doc_sizes sa ON sa.doc_id = v.doc_a
      JOIN doc_sizes sc ON sc.doc_id = v.doc_c
      WHERE {VERIFY_TAU_DEN} * v.n_inter
            >= {VERIFY_TAU_NUM} * (sa.n_sh + sc.n_sh - v.n_inter)
    ),
    r3 AS (
      SELECT * FROM r2 WHERE doc_id NOT IN (SELECT doc_id FROM nc)
    ),
    nb AS (
      SELECT DISTINCT doc_id FROM (
        SELECT b.doc_id,
               min(b.doc_id) OVER (PARTITION BY b.band, b.bkey) AS m
        FROM bands b
        WHERE b.doc_id IN (SELECT doc_id FROM r3)
      ) WHERE doc_id <> m
    )
    SELECT a.doc_id, a.source,
           CASE WHEN a.doc_id IN (SELECT doc_id FROM exc) THEN 'exact_corpus'
                WHEN a.doc_id IN (SELECT doc_id FROM eb) THEN 'exact_batch'
                WHEN a.doc_id IN (SELECT doc_id FROM nc) THEN 'near_corpus'
                WHEN a.doc_id IN (SELECT doc_id FROM nb) THEN 'near_batch'
                ELSE 'accepted' END AS verdict
    FROM arr a
    """


@query(
    "q145_ingest_verified_neardup",
    oracle=_q145_oracle(),
    tags=("dedup", "incremental", "lsh", "llm", "r10"),
)
def q145_ingest_verified_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q131's ingest-time admission verdicts with the VERIFY tier
    (streaming/ingest_dedup.py ingest_verdicts_verified): a band-key
    collision with the corpus index rejects only when confirmed by exact
    3-gram Jaccard >= 0.3 against a member of the colliding bucket — the
    member index stores each bucket's first _BAND_CAP docs' shingle
    arrays, so the confirmation is an equi-join fan-out bounded by the
    cap, never a corpus rescan. Rejection precision becomes 1.0 by
    construction (q146 gates the number); the FP trade q144 measures for
    the membership-only rule disappears at the price of member-shingle
    state (cap × |buckets|).

    Scale: identical probe shapes to q131 plus one (band, bkey) equi-join
    that ships member shingle arrays only for colliding pairs.
    """
    from csv_loader_spark.streaming.ingest_dedup import (
        band_member_index,
        fingerprint_index,
        ingest_verdicts_verified,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    arrivals = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source", "text")
    return ingest_verdicts_verified(
        arrivals, fingerprint_index(corpus), band_member_index(corpus)
    ).select("doc_id", "source", "verdict")


def _q146_oracle() -> str:
    from csv_loader_spark.queries.llm import _BAND_CAP
    from csv_loader_spark.streaming.ingest_dedup import (
        VERIFY_TAU_DEN,
        VERIFY_TAU_NUM,
    )

    return f"""
    WITH {_SHINGLE_CTE},
    {_minhash_oracle_band_ctes()},
    fps AS (SELECT doc_id, {_FP_SQL} AS fp FROM documents),
    idx_fp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    capped AS (
      SELECT band, bkey, doc_id FROM (
        SELECT band, bkey, doc_id,
               row_number() OVER (PARTITION BY band, bkey
                                  ORDER BY doc_id) AS rn
        FROM bands WHERE doc_id % 2 = 0
      ) WHERE rn <= {_BAND_CAP}
    ),
    arr AS (SELECT doc_id, fp FROM fps WHERE doc_id % 2 = 1),
    exc AS (SELECT doc_id FROM arr WHERE fp IN (SELECT fp FROM idx_fp)),
    r1 AS (SELECT * FROM arr WHERE doc_id NOT IN (SELECT doc_id FROM exc)),
    eb AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM r1
      ) WHERE rn > 1
    ),
    r2 AS (SELECT * FROM r1 WHERE doc_id NOT IN (SELECT doc_id FROM eb)),
    coll AS (
      SELECT DISTINCT b.doc_id AS doc_a, m.doc_id AS doc_c
      FROM bands b
      JOIN capped m ON m.band = b.band AND m.bkey = b.bkey
      WHERE b.doc_id IN (SELECT doc_id FROM r2)
    ),
    vint AS (
      SELECT p.doc_a, p.doc_c, count(*) AS n_inter
      FROM coll p
      JOIN exploded a ON a.doc_id = p.doc_a
      JOIN exploded c ON c.doc_id = p.doc_c AND c.s = a.s
      GROUP BY 1, 2
    ),
    nc AS (
      SELECT DISTINCT v.doc_a AS doc_id
      FROM vint v
      JOIN doc_sizes sa ON sa.doc_id = v.doc_a
      JOIN doc_sizes sc ON sc.doc_id = v.doc_c
      WHERE {VERIFY_TAU_DEN} * v.n_inter
            >= {VERIFY_TAU_NUM} * (sa.n_sh + sc.n_sh - v.n_inter)
    ),
    hotc AS (
      SELECT s FROM exploded WHERE doc_id % 2 = 0
      GROUP BY s HAVING count(*) > {_PROBE_VERIFY_MAX_DF}
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, c.doc_id AS doc_c, count(*) AS n_inter
      FROM exploded a
      JOIN exploded c ON a.s = c.s
      WHERE a.doc_id IN (SELECT doc_id FROM nc) AND c.doc_id % 2 = 0
        AND c.s NOT IN (SELECT s FROM hotc)
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT DISTINCT i.doc_a
      FROM inter i
      JOIN doc_sizes sa ON sa.doc_id = i.doc_a
      JOIN doc_sizes sc ON sc.doc_id = i.doc_c
      WHERE {_PROBE_TAU_DEN} * i.n_inter
            >= {_PROBE_TAU_NUM} * (sa.n_sh + sc.n_sh - i.n_inter)
    )
    SELECT CAST((SELECT count(*) FROM nc) AS BIGINT) AS n_rejected,
           CAST((SELECT count(*) FROM verified) AS BIGINT) AS n_true,
           CAST(CASE WHEN (SELECT count(*) FROM nc) = 0 THEN 0
                     ELSE (SELECT count(*) FROM verified) * 10000
                          // (SELECT count(*) FROM nc) END AS BIGINT)
             AS precision_bp
    """


@query(
    "q146_verified_probe_precision",
    oracle=_q146_oracle(),
    tags=("dedup", "metrics", "incremental", "llm", "r10"),
)
def q146_verified_probe_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q144's precision meter pointed at the VERIFY-tier probe (q145):
    of the arrivals the verified rule rejects as ``near_corpus``, how
    many are true near-dups of SOME corpus doc by exact Jaccard >= 0.3?
    Because the verified rule only rejects on a confirmed witness pair —
    and a witness is itself a corpus doc at J >= 0.3 — every rejection
    is true by construction and this meter reads 10000 bp whenever it
    fires at all. Keeping the meter (rather than asserting the theorem)
    guards the implementation: a drifting cap convention, threshold, or
    shingle rule on either side shows up here as < 10000.

    Scale: q144's shape — the independent verification join explodes
    only the rejected arrivals against the corpus posting lists.
    """
    from csv_loader_spark.streaming.ingest_dedup import (
        ingest_verdicts_verified,
    )

    d = load_table(spark, sf_dir, "documents")
    arrivals = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source", "text")
    fpx, _, bmx = _probe_corpus_indexes(spark, sf_dir)
    nc = (
        ingest_verdicts_verified(arrivals, fpx, bmx)
        .filter(F.col("verdict") == "near_corpus")
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    return _probe_precision_meter(spark, sf_dir, nc)


# ---------------------------------------------------------------------------
# q147: the release changelog as an INCREMENTAL operator (q135 as a fold)
# ---------------------------------------------------------------------------


@query(
    "q147_version_changelog",
    oracle=rf"""
    WITH ev AS (
      SELECT doc_id, source, 'delete' AS op, CAST(NULL AS VARCHAR) AS text
      FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id, source, 'upsert', text || ' [v2 erratum]'
      FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
      UNION ALL
      SELECT doc_id + {_SNAP_OFFSET}, source, 'upsert',
             'fresh v2 document derived from ' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 13 = 0
    ),
    st AS (
      SELECT doc_id, {_FP_SQL} AS fp,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n_tok
      FROM documents
    ),
    ee AS (
      SELECT doc_id, source, op, {_FP_SQL} AS fp,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n_tok
      FROM ev
    ),
    j AS (
      SELECT e.source, e.op, e.fp AS e_fp, e.n_tok AS e_n_tok,
             s.fp AS s_fp, s.n_tok AS s_n_tok
      FROM ee e LEFT JOIN st s ON s.doc_id = e.doc_id
    ),
    cl AS (
      SELECT source,
             CASE WHEN op = 'delete' AND s_fp IS NOT NULL THEN 'removed'
                  WHEN op = 'delete' THEN NULL
                  WHEN s_fp IS NULL THEN 'added'
                  WHEN e_fp <> s_fp THEN 'changed'
                  ELSE 'unchanged' END AS verdict,
             CASE WHEN op = 'delete' THEN -s_n_tok
                  WHEN s_fp IS NULL THEN e_n_tok
                  ELSE e_n_tok - s_n_tok END AS tok_delta
      FROM j
    )
    SELECT source, verdict, count(*) AS n_docs,
           CAST(sum(tok_delta) AS BIGINT) AS tok_delta
    FROM cl WHERE verdict IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("warehouse", "incremental", "llm", "r10"),
)
def q147_version_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q135's release diff as the INCREMENTAL changelog operator
    (streaming/changelog.py apply_version_events): instead of diffing two
    complete snapshots, fold a batch of document VERSION EVENTS (upserts
    + deletes — q135's edit/removal/addition injections re-expressed as
    the event stream a crawler or CDC feed actually delivers) over the
    standing corpus state and report the per-(source, verdict) roll-up.
    tests/test_changelog.py asserts that folding the events in two
    batches lands this one-batch answer (commutes with batching).

    Scale: one last-event-wins window over the batch (batch-sized), one
    LEFT equi-join of the batch's events against the (doc_id, fp, n_tok)
    state — an id-table probe where the small event side hashes, the
    corpus-sized state streams — and the (source, verdict) roll-up.
    Content is fingerprinted once per event and never rides a shuffle.
    """
    from csv_loader_spark.streaming.changelog import (
        apply_version_events,
        snapshot_state,
    )

    d = load_table(spark, sf_dir, "documents")
    deletes = d.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        "source",
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("text"),
    )
    edits = (
        d.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 11 != 0))
        .select(
            "doc_id",
            "source",
            F.lit("upsert").alias("op"),
            F.concat(F.col("text"), F.lit(" [v2 erratum]")).alias("text"),
        )
    )
    adds = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + _SNAP_OFFSET).alias("doc_id"),
        "source",
        F.lit("upsert").alias("op"),
        F.concat(
            F.lit("fresh v2 document derived from "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    events = deletes.unionByName(edits).unionByName(adds)
    changelog, _ = apply_version_events(snapshot_state(d), events)
    return changelog
