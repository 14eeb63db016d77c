"""The one home of the near-duplicate rules: the MinHash sketch, the
passage segmentation, the corpus indexes, and the ingest-time verdicts an
arriving batch of documents gets against them.

A 100 TB pipeline never re-runs global dedup when new documents arrive; it
maintains a fingerprint INDEX of the accepted corpus and checks each
arriving batch against it:

    new docs ->(fingerprint)-> anti-join vs static index -> in-batch dedup

- The index probe is a left-anti join on one narrow fingerprint column —
  at 10^10 docs a hash-partitioned id table, not the corpus.
- Duplicates within the arrivals are dropped by fingerprint,
  deterministically (min doc_id survives).

The same shape extends to near-duplicates with a MinHash band index
(q131; Jaccard-verified in q145) and to recycled passages with a passage
index (q138). The oracle-gated queries run these rules in batch (q34,
q104, q114, q131, q138, q145), and so does the ``curate`` subcommand
(ops/curate.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv_loader_spark.functions import text as TXT

# --------------------------------------------------------------------------
# The MinHash sketch (q34): 6 md5 minhashes, 3 LSH bands of 2.
# --------------------------------------------------------------------------

N_HASHES = 6
BAND_SIZE = 2  # 3 bands of 2 hashes

# Hot-band-bucket guard (r7, the q97 pattern applied to MinHash LSH): each
# (band, bkey) bucket keeps only its first BAND_CAP members by doc_id
# before the candidate self-join, bounding a degenerate bucket at
# C(cap, 2) pairs instead of C(M, 2). Keep-first-K (not drop): a band
# collision certifies probable near-identity — high signal — so unlike
# q96's boilerplate fingerprints the bucket must survive, just bounded.
# Measured benign at ×10 duplication pre-guard (250 k pairs, SCALING.json
# `dedup` r6) but unbounded in principle; the guard makes the bound
# structural. row_number orders by doc_id on the same (band, bkey) key the
# join hashes — one exchange serves both. Mirrored in the oracle CTEs so
# the exact gate holds; inert at sf0.01 (largest bucket ≪ 1024). One
# constant, so plan and oracle bake the same value.
BAND_CAP = 1024


def shingled_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, shingles: array<string>) with ≥3 tokens.
    DataFrame-in form so this module's sketch and the queries'
    minhash_lsh_pairs, which llm5 and llm6 reuse, share one
    implementation, no copies."""
    return (
        docs.select("doc_id", TXT.word_shingles("text", 3).alias("shingles"))
        .filter(F.size("shingles") >= 1)
    )


def minhash_sig_cols():
    """Min-hash columns over the exploded shingle relation: min(md5(seed:s)).

    Lexicographic min over fixed-width md5 hex == numeric min — portable to
    any engine with md5, unlike murmur3-based `F.hash`.
    """
    # single-F.expr construction (1 round trip per column instead of ~8;
    # identical tree — see functions/text.py's fast-path rationale)
    return [
        F.expr(f"min(md5(concat('{i}:', s))) AS h{i}") for i in range(N_HASHES)
    ]


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, h0..h5): each shingled doc's MinHash
    signature."""
    ex = shingled_docs(docs).select("doc_id", F.explode("shingles").alias("s"))
    return ex.groupBy("doc_id").agg(*minhash_sig_cols())


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, band, bkey): the LSH band signatures of
    q34's 6-minhash / 3-band md5 sketch. The batch pairwise join (q34) and
    the ingest-time band indexes below use this one function, so the index
    a pipeline maintains and the batch dedup's collision rule cannot
    drift. Docs with < 3 tokens have no shingles and therefore no bands
    (mirrors the oracle's ``len(t) >= 3`` shingle CTE)."""
    sigs = minhash_signatures(docs)
    bands = None
    for b in range(N_HASHES // BAND_SIZE):
        part = sigs.select(
            "doc_id",
            F.expr(f"{b} AS band"),
            F.expr(f"concat(h{2*b}, h{2*b+1}) AS bkey"),
        )
        bands = part if bands is None else bands.unionAll(part)
    return bands


def capped_bands(bands: DataFrame, cap: int = BAND_CAP) -> DataFrame:
    """The keep-first band-bucket cap: each (band, bkey) bucket keeps its
    first ``cap`` members by doc_id (see BAND_CAP)."""
    w = Window.partitionBy("band", "bkey").orderBy("doc_id")
    return (
        bands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# Passage segmentation (q115): fixed PASSAGE-word passages.
# --------------------------------------------------------------------------

PASSAGE = 20  # words per passage


def doc_passages(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, text[, *extra]) → (doc_id[, *extra], i, passage): every
    doc split into fixed PASSAGE-word passages — the one segmentation of
    the batch dedup family (q115/q129/q132) and the ingest-time passage
    probe below, so index and probe cannot drift."""
    t = TXT.tokens("text")
    base = docs.select(
        "doc_id", *extra, t.alias("t"), F.size(t).alias("n")
    ).filter(F.col("n") >= 1)
    return base.select(
        "doc_id",
        *extra,
        F.explode(F.sequence(F.lit(0), F.expr(f"(n - 1) div {PASSAGE}"))).alias("i"),
        "t",
    ).select(
        "doc_id",
        *extra,
        "i",
        F.array_join(
            F.slice("t", (F.lit(1) + F.col("i") * PASSAGE).cast("int"), PASSAGE),
            " ",
        ).alias("passage"),
    )


# --------------------------------------------------------------------------
# Exact dedup at ingest (r7): the fingerprint index.
# --------------------------------------------------------------------------


def fingerprint_index(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """The dedup index of an accepted corpus: the DISTINCT normalized
    content fingerprints, one narrow column (q28's hash — md5 over the
    normalized token stream)."""
    return corpus.select(TXT.fingerprint(text_col).alias("fp")).distinct()


def novel_documents(arrivals: DataFrame, index: DataFrame) -> DataFrame:
    """Documents from ``arrivals`` whose content is new — absent from the
    ``index`` AND not a duplicate of an earlier arrival. Keeps every input
    column plus ``fp``; the min doc_id survives per fingerprint."""
    tagged = arrivals.withColumn("fp", TXT.fingerprint("text"))
    novel = tagged.join(index, "fp", "left_anti")
    # deterministic survivor (min doc_id), not hash-partition luck
    return (
        novel.withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# The verdict core shared by the three ingest tiers (r9/r10).
# --------------------------------------------------------------------------


def _dedup_and_tag(arrivals: DataFrame) -> DataFrame:
    """Doubled-delivery guard shared by every verdict tier (r9
    review): keep ONE deterministic copy per doc_id — min fingerprint
    orders the corrupted different-content case — with the content
    fingerprint tagged a single time (the guard's sort key and the exact
    probe key are the same md5, so computing it twice would double the
    normalization work per row)."""
    tagged = arrivals.withColumn("fp", TXT.fingerprint("text"))
    wdup = Window.partitionBy("doc_id").orderBy("fp")
    return (
        tagged.withColumn("_dup_rn", F.row_number().over(wdup))
        .filter(F.col("_dup_rn") == 1)
        .drop("_dup_rn")
    )


def _verdict_frame(
    arrivals: DataFrame,
    fp_index: DataFrame,
    units_of: Callable[[DataFrame], DataFrame],
    corpus_rule: Callable[[DataFrame, DataFrame, DataFrame], DataFrame],
    batch_rule: Callable[[DataFrame], DataFrame],
    tier: str,
) -> DataFrame:
    """The verdict core of every tier: (arrival columns…, fp, verdict),
    verdict in precedence order ``exact_corpus``, ``exact_batch``,
    ``{tier}_corpus``, ``{tier}_batch``, ``accepted``.

    ``units_of(tagged)`` gives each arrival's probe units (band keys or
    passage hashes). Stage 3 is ``corpus_rule(tagged, units, rest2)``
    over the exact stages' survivors ``rest2``; stage 4 is
    ``batch_rule(units3)`` over the units of stage 3's survivors. Each
    returns the doc_ids it rejects."""
    # lazy localCheckpoint: the verdict DAG references the tagged frame 5x
    # and the unit frame 2-3x, and Spark recomputes unshared subtrees per
    # stage — without this the md5 minhash work runs ~8x per batch
    # (measured superlinear on the x10 flood, SCALING.json `ingest_probe`:
    # 21 s -> 3.4 s at the x10 all-near-copy batch). Adjudicated trade
    # (BASELINE.md r9): at sf0.1 the materialization barrier COSTS ~1.3 s
    # on the natural 2.5k-doc batch (1.4 -> 2.7 s) because the sketch
    # recompute is cheap at toy text sizes — but at 100 TB the 8x sketch
    # recompute dwarfs the barrier, and a dup-heavy crawl batch is the
    # expected case, not the corner. Scale wins (the AQE-stays-on rule).
    # eager=False keeps construction lazy: blocks materialize on first use
    # and later stages read them.
    tagged = _dedup_and_tag(arrivals).localCheckpoint(eager=False)
    units = units_of(tagged).localCheckpoint(eager=False)

    exact_c = tagged.join(fp_index, "fp", "left_semi").select("doc_id")
    rest1 = tagged.join(fp_index, "fp", "left_anti")
    wfp = Window.partitionBy("fp").orderBy("doc_id")
    rest1 = rest1.withColumn("_rn", F.row_number().over(wfp))
    exact_b = rest1.filter(F.col("_rn") > 1).select("doc_id")
    rest2 = rest1.filter(F.col("_rn") == 1).drop("_rn")

    near_c = corpus_rule(tagged, units, rest2)
    rest3 = rest2.join(near_c, "doc_id", "left_anti")
    near_b = batch_rule(units.join(rest3.select("doc_id"), "doc_id", "left_semi"))

    stages = (
        ("exact_corpus", exact_c),
        ("exact_batch", exact_b),
        (f"{tier}_corpus", near_c),
        (f"{tier}_batch", near_b),
    )
    out = tagged
    for i, (_, ids) in enumerate(stages):
        out = out.join(ids.withColumn(f"_v{i}", F.lit(True)), "doc_id", "left")
    verdict = " ".join(
        f"WHEN _v{i} THEN '{name}'" for i, (name, _) in enumerate(stages)
    )
    return out.withColumn(
        "verdict", F.expr(f"CASE {verdict} ELSE 'accepted' END")
    ).drop(*(f"_v{i}" for i in range(len(stages))))


# --------------------------------------------------------------------------
# NEAR-dup at ingest (r9): probe arrivals against a band-signature index.
# --------------------------------------------------------------------------


def band_signature_index(corpus: DataFrame) -> DataFrame:
    """The NEAR-dup index of an accepted corpus: the DISTINCT MinHash LSH
    band keys (q34's 6-minhash / 3-band sketch, :func:`minhash_bands`) —
    two narrow columns (band, bkey). A band-key collision is the same
    event that makes two docs LSH candidates in the batch pairwise join,
    so index membership == "would have been a near-dup candidate of
    something already accepted"."""
    return minhash_bands(corpus).select("band", "bkey").distinct()


def _bucket_min_losers(bands: DataFrame) -> DataFrame:
    """doc_ids that are not the minimum doc_id of at least one of their
    band buckets: the within-batch near rule, a window min per (band,
    bkey)."""
    wmin = Window.partitionBy("band", "bkey")
    return (
        bands.withColumn("_m", F.min("doc_id").over(wmin))
        .filter(F.col("doc_id") != F.col("_m"))
        .select("doc_id")
        .distinct()
    )


def ingest_verdicts(
    arrivals: DataFrame, fp_index: DataFrame, band_index: DataFrame
) -> DataFrame:
    """Per-arrival admission verdict against BOTH indexes of the accepted
    corpus: (doc_id, source, fp, verdict), verdict in precedence order —

    1. ``exact_corpus``: content fingerprint already in ``fp_index``.
    2. ``exact_batch``: fp duplicates an EARLIER (smaller doc_id) arrival
       that itself passed check 1 (min-doc_id survivor, q104's rule).
    3. ``near_corpus``: any of the doc's LSH band keys is in
       ``band_index`` — the doc would have been an LSH candidate pair
       with an already-accepted doc (CCNet/RefinedWeb-style
       dedup-against-snapshot: rejection on bucket membership, the
       documented false-positive trade of banded LSH; no pairwise verify
       against the corpus — ``ingest_verdicts_verified`` is the tier
       that buys precision 1.0 by storing capped member shingles).
    4. ``near_batch``: among arrivals surviving 1–3, the doc is NOT the
       minimum doc_id in at least one of its band buckets. Keep-the-
       bucket-minimum is a WINDOW MIN per (band, bkey) — linear, no
       candidate self-join, so a degenerate batch (all near-identical)
       costs one narrow shuffle instead of C(n, 2) pairs. Deterministic
       and non-iterative: the comparison set is the step-3 survivors,
       not the step-4 survivors (no transitive re-admission).
    5. ``accepted`` otherwise. Docs with < 3 tokens have no bands and
       skip the near checks (exact checks still apply).

    Batch-mode only: the within-batch window rules need the whole
    batch. Scale: every join is a semi/anti equi-join on fp, doc_id or
    (band, bkey) — id-table probes, never a corpus rescan."""

    def _membership(tagged: DataFrame, arr_bands: DataFrame, rest2: DataFrame):
        return (
            arr_bands.join(band_index, ["band", "bkey"], "left_semi")
            .select("doc_id")
            .distinct()
        )

    return _verdict_frame(
        arrivals, fp_index, minhash_bands, _membership, _bucket_min_losers, "near"
    )


# The verify tier's "true near-dup" threshold: exact 3-gram Jaccard >= 0.3
# (q34's verification threshold, integer cross-multiplied — no float div).
VERIFY_TAU_NUM, VERIFY_TAU_DEN = 3, 10


def band_member_index(corpus: DataFrame, cap: int | None = None) -> DataFrame:
    """The VERIFY-tier near-dup index: (band, bkey, doc_id, toks) — the
    band-signature index widened with each bucket's first ``cap`` member
    docs (by doc_id — q34's keep-first BAND_CAP convention, default)
    and their distinct shingle arrays. State is bounded by
    cap × |buckets| × avg-shingles — the price of making the rejection
    rule's precision exactly 1.0 instead of a measured FP rate (q144).
    Its bucket set equals ``band_signature_index``'s (cap >= 1 keeps at
    least one member per bucket), so collision candidates are identical —
    only the confirmation differs."""
    if cap is None:
        cap = BAND_CAP
    sh = shingled_docs(corpus).select("doc_id", F.col("shingles").alias("toks"))
    return (
        capped_bands(minhash_bands(corpus), cap)
        .join(sh, "doc_id")
        .select("band", "bkey", "doc_id", "toks")
    )


def ingest_verdicts_verified(
    arrivals: DataFrame, fp_index: DataFrame, member_index: DataFrame
) -> DataFrame:
    """``ingest_verdicts`` with the VERIFY tier for rule 3: a band-key
    collision alone no longer rejects — the arrival must ALSO reach exact
    3-gram Jaccard >= 0.3 (``VERIFY_TAU``) against at least one member of
    a colliding bucket, computed JVM-side via array_intersect over the
    member index's stored shingle arrays. Rejection precision is 1.0 BY
    CONSTRUCTION (every ``near_corpus`` verdict names a real witness
    pair); the residual trade moves to RECALL — a bucket's cap-excluded
    members can't witness, so a true near-dup may survive to the
    within-batch rule or admission (the same keep-first cap bound q34
    accepts for candidate generation).

    Scale: the collision join is the same (band, bkey) equi-join as the
    membership probe; verification touches ONLY colliding (arrival,
    member) pairs — bounded by cap per bucket, never a corpus rescan —
    and ships member shingles just for those pairs."""

    def _verified(tagged: DataFrame, arr_bands: DataFrame, rest2: DataFrame):
        arr_sh = shingled_docs(tagged).select(
            "doc_id", F.col("shingles").alias("a_toks")
        )
        cand = (
            arr_bands.join(
                member_index.select(
                    "band",
                    "bkey",
                    F.col("doc_id").alias("cand_doc"),
                    F.col("toks").alias("c_toks"),
                ),
                ["band", "bkey"],
            )
            .select("doc_id", "cand_doc", "c_toks")
            .dropDuplicates(["doc_id", "cand_doc"])
        )
        n_inter = F.size(F.array_intersect("a_toks", "c_toks"))
        na, nb = F.size("a_toks"), F.size("c_toks")
        return (
            cand.join(arr_sh, "doc_id")
            .filter(
                VERIFY_TAU_DEN * n_inter >= VERIFY_TAU_NUM * (na + nb - n_inter)
            )
            .select("doc_id")
            .distinct()
        )

    return _verdict_frame(
        arrivals, fp_index, minhash_bands, _verified, _bucket_min_losers, "near"
    )


# --------------------------------------------------------------------------
# Passage-granularity NEAR-dup at ingest (r9): the q115 index as a probe.
# --------------------------------------------------------------------------


def passage_index(corpus: DataFrame) -> DataFrame:
    """The passage-granularity dedup index of an accepted corpus: DISTINCT
    md5 fingerprints of its fixed 20-word passages (q115's segmentation,
    :func:`doc_passages` — one rule shared by index and probe).
    One narrow column, like the exact-fp index; grows with distinct
    passages, which FALLS with duplication."""
    return doc_passages(corpus).select(F.md5("passage").alias("pfp")).distinct()


def _passage_fps(docs: DataFrame) -> DataFrame:
    return (
        doc_passages(docs)
        .withColumn("pfp", F.md5("passage"))
        .select("doc_id", "i", "pfp")
    )


def _passages_mostly_lost(passages: DataFrame) -> DataFrame:
    """doc_ids whose passages mostly lose their keep-first race to an
    earlier doc: a window min per md5(passage)."""
    wmin = Window.partitionBy("pfp")
    lost = passages.withColumn("_m", F.min("doc_id").over(wmin))
    lstats = lost.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_p"),
        F.sum(F.when(F.col("_m") < F.col("doc_id"), 1).otherwise(0)).alias("n_lost"),
    )
    return lstats.filter(2 * F.col("n_lost") > F.col("n_p")).select("doc_id")


def ingest_verdicts_passage(
    arrivals: DataFrame, fp_index: DataFrame, pfp_index: DataFrame
) -> DataFrame:
    """Per-arrival verdict at PASSAGE granularity — the sub-document twin
    of ``ingest_verdicts``: (arrival columns…, fp, verdict), precedence —

    1. ``exact_corpus`` / 2. ``exact_batch``: as in ``ingest_verdicts``.
    3. ``passage_corpus``: a strict MAJORITY of the doc's passage
       occurrences already exist in the index (2 * n_known > n_passages)
       — the doc is mostly recycled corpus content even though its exact
       fingerprint is new (CCNet's paragraph-level dedup as an admission
       rule; q132's novelty threshold applied cross-corpus).
    4. ``passage_batch``: among survivors of 1–3, a strict majority of
       the doc's passages LOSE their keep-first race to an EARLIER
       surviving arrival (min doc_id per md5(passage) window — linear;
       a passage repeated within one doc loses only to other docs, not
       to its own first occurrence).
    5. ``accepted``. Docs with zero passages (empty token stream cannot
       happen: any text yields >= 1 passage) need no special case.

    Scale: identical shapes to the band probe — the index is one hashed
    column, probes are semi/anti equi-joins, the within-batch rule is a
    window min. The passage join fans out each doc to its passage count
    (bounded by doc length), the same explode the batch q115 pays."""

    def _majority_known(tagged: DataFrame, arr_p: DataFrame, rest2: DataFrame):
        # Semi-join, NOT a left join: the store may hold the same pfp in
        # several batch partitions (an accepted doc re-contributes
        # passages the index already has), and a left join against
        # duplicate index rows would multiply occurrences.
        p2 = arr_p.join(rest2.select("doc_id"), "doc_id", "left_semi")
        p2n = p2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_p"))
        kn = (
            p2.join(pfp_index, "pfp", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_known"))
        )
        pstats = p2n.join(kn, "doc_id", "left").fillna(0, ["n_known"])
        return pstats.filter(2 * F.col("n_known") > F.col("n_p")).select("doc_id")

    return _verdict_frame(
        arrivals,
        fp_index,
        _passage_fps,
        _majority_known,
        _passages_mostly_lost,
        "passage",
    )
