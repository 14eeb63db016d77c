"""Ingest-time dedup against an existing corpus: the verdicts an
arriving batch of documents gets from the fingerprint, band and passage
indexes of the accepted corpus.

A 100 TB pipeline never re-runs global dedup when new documents arrive; it
maintains a fingerprint INDEX of the accepted corpus and checks each
arriving batch against it:

    new docs ->(fingerprint)-> anti-join vs static index -> in-batch dedup

- The index probe is a left-anti join on one narrow fingerprint column —
  at 10^10 docs a hash-partitioned id table, not the corpus.
- Duplicates within the arrivals are dropped by fingerprint,
  deterministically (min doc_id survives).

The oracle-gated queries run these transformations in batch (q104 in
queries/llm5.py; q131 and its verify/passage tiers in queries/llm8.py),
as does the ``curate`` subcommand (ops/curate.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv_loader_spark.functions import text as TXT


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
# NEAR-dup at ingest (r9): probe arrivals against a band-signature index.
# --------------------------------------------------------------------------

VERDICTS = ("accepted", "exact_corpus", "exact_batch", "near_corpus", "near_batch")


def band_signature_index(corpus: DataFrame) -> DataFrame:
    """The NEAR-dup index of an accepted corpus: the DISTINCT MinHash LSH
    band keys (q34's 6-minhash / 3-band sketch, queries/llm.py
    minhash_bands) — two narrow columns (band, bkey). A band-key collision
    is the same event that makes two docs LSH candidates in the batch
    pairwise join, so index membership == "would have been a near-dup
    candidate of something already accepted"."""
    from csv_loader_spark.queries.llm import minhash_bands

    return minhash_bands(corpus).select("band", "bkey").distinct()


def _dedup_and_tag(arrivals: DataFrame) -> DataFrame:
    """Doubled-delivery guard shared by both verdict functions (r9
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
    near_corpus_rule,
) -> DataFrame:
    """The shared verdict core: exact-corpus / exact-batch stages, then
    ``near_corpus_rule(tagged, arr_bands, rest2) -> doc_id frame`` for
    stage 3 (membership-only in ``ingest_verdicts``, Jaccard-verified in
    ``ingest_verdicts_verified``), then the within-batch window-min rule
    and the precedence fold."""
    from csv_loader_spark.queries.llm import minhash_bands

    # lazy localCheckpoint: the verdict DAG references the tagged frame 5x
    # and the band frame 3x, and Spark recomputes unshared subtrees per
    # stage — without this the md5 minhash work runs ~8x per batch
    # (measured superlinear on the x10 flood, tools/bench_ingest_probe.py:
    # 21 s -> 3.4 s at the x10 all-near-copy batch). Adjudicated trade
    # (BASELINE.md r9): at sf0.1 the materialization barrier COSTS ~1.3 s
    # on the natural 2.5k-doc batch (1.4 -> 2.7 s) because the sketch
    # recompute is cheap at toy text sizes — but at 100 TB the 8x sketch
    # recompute dwarfs the barrier, and a dup-heavy crawl batch is the
    # expected case, not the corner. Scale wins (the AQE-stays-on rule).
    # eager=False keeps construction lazy: blocks materialize on first use
    # and later stages read them.
    tagged = _dedup_and_tag(arrivals).localCheckpoint(eager=False)
    arr_bands = minhash_bands(tagged).localCheckpoint(eager=False)

    exact_c = tagged.join(fp_index, "fp", "left_semi").select("doc_id")
    rest1 = tagged.join(fp_index, "fp", "left_anti")
    wfp = Window.partitionBy("fp").orderBy("doc_id")
    rest1 = rest1.withColumn("_rn", F.row_number().over(wfp))
    exact_b = rest1.filter(F.col("_rn") > 1).select("doc_id")
    rest2 = rest1.filter(F.col("_rn") == 1).drop("_rn")

    near_c = near_corpus_rule(tagged, arr_bands, rest2)
    rest3 = rest2.join(near_c, "doc_id", "left_anti")

    b3 = arr_bands.join(rest3.select("doc_id"), "doc_id", "left_semi")
    wmin = Window.partitionBy("band", "bkey")
    near_b = (
        b3.withColumn("_m", F.min("doc_id").over(wmin))
        .filter(F.col("doc_id") != F.col("_m"))
        .select("doc_id")
        .distinct()
    )

    def _flag(ids: DataFrame, name: str) -> DataFrame:
        return ids.withColumn(name, F.lit(True))

    out = (
        tagged.join(_flag(exact_c, "_ec"), "doc_id", "left")
        .join(_flag(exact_b, "_eb"), "doc_id", "left")
        .join(_flag(near_c, "_nc"), "doc_id", "left")
        .join(_flag(near_b, "_nb"), "doc_id", "left")
    )
    verdict = (
        F.when(F.col("_ec"), F.lit("exact_corpus"))
        .when(F.col("_eb"), F.lit("exact_batch"))
        .when(F.col("_nc"), F.lit("near_corpus"))
        .when(F.col("_nb"), F.lit("near_batch"))
        .otherwise(F.lit("accepted"))
    )
    return out.withColumn("verdict", verdict).drop("_ec", "_eb", "_nc", "_nb")


def ingest_verdicts(
    arrivals: DataFrame, fp_index: DataFrame, band_index: DataFrame
) -> DataFrame:
    """Per-arrival admission verdict against BOTH indexes of the accepted
    corpus: (doc_id, source, fp, verdict), verdict one of ``VERDICTS`` in
    precedence order —

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

    return _verdict_frame(arrivals, fp_index, _membership)


# The verify tier's "true near-dup" threshold: exact 3-gram Jaccard >= 0.3
# (q34's verification threshold, integer cross-multiplied — no float div).
VERIFY_TAU_NUM, VERIFY_TAU_DEN = 3, 10


def band_member_index(corpus: DataFrame, cap: int | None = None) -> DataFrame:
    """The VERIFY-tier near-dup index: (band, bkey, doc_id, toks) — the
    band-signature index widened with each bucket's first ``cap`` member
    docs (by doc_id — q34's keep-first _BAND_CAP convention, default)
    and their distinct shingle arrays. State is bounded by
    cap × |buckets| × avg-shingles — the price of making the rejection
    rule's precision exactly 1.0 instead of a measured FP rate (q144).
    Its bucket set equals ``band_signature_index``'s (cap >= 1 keeps at
    least one member per bucket), so collision candidates are identical —
    only the confirmation differs."""
    from csv_loader_spark.queries.llm import _BAND_CAP, minhash_bands, shingled_docs

    if cap is None:
        cap = _BAND_CAP
    sh = shingled_docs(corpus).select("doc_id", F.col("shingles").alias("toks"))
    w = Window.partitionBy("band", "bkey").orderBy("doc_id")
    return (
        minhash_bands(corpus)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
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
    from csv_loader_spark.queries.llm import shingled_docs

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

    return _verdict_frame(arrivals, fp_index, _verified)


# --------------------------------------------------------------------------
# Passage-granularity NEAR-dup at ingest (r9): the q115 index as a probe.
# --------------------------------------------------------------------------



def passage_index(corpus: DataFrame) -> DataFrame:
    """The passage-granularity dedup index of an accepted corpus: DISTINCT
    md5 fingerprints of its fixed 20-word passages (q115's segmentation,
    queries/llm7.py doc_passages — one rule shared by index and probe).
    One narrow column, like the exact-fp index; grows with distinct
    passages, which FALLS with duplication."""
    from csv_loader_spark.queries.llm7 import doc_passages

    return doc_passages(corpus).select(F.md5("passage").alias("pfp")).distinct()


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
    from csv_loader_spark.queries.llm7 import doc_passages

    # lazy localCheckpoint for the same multi-reference reason as
    # ingest_verdicts (tagged 5x, passages 2x); _dedup_and_tag is the
    # doubled-delivery guard
    tagged = _dedup_and_tag(arrivals).localCheckpoint(eager=False)
    arr_p = (
        doc_passages(tagged)
        .withColumn("pfp", F.md5("passage"))
        .select("doc_id", "i", "pfp")
        .localCheckpoint(eager=False)
    )

    exact_c = tagged.join(fp_index, "fp", "left_semi").select("doc_id")
    rest1 = tagged.join(fp_index, "fp", "left_anti")
    wfp = Window.partitionBy("fp").orderBy("doc_id")
    rest1 = rest1.withColumn("_rn", F.row_number().over(wfp))
    exact_b = rest1.filter(F.col("_rn") > 1).select("doc_id")
    rest2 = rest1.filter(F.col("_rn") == 1).drop("_rn")

    # majority-known vs the corpus index. Semi-join, NOT a left join: the
    # store may hold the same pfp in several batch partitions (an accepted
    # doc re-contributes passages the index already has), and a left join
    # against duplicate index rows would multiply occurrences.
    p2 = arr_p.join(rest2.select("doc_id"), "doc_id", "left_semi")
    p2n = p2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_p"))
    kn = (
        p2.join(pfp_index, "pfp", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_known"))
    )
    pstats = p2n.join(kn, "doc_id", "left").fillna(0, ["n_known"])
    pass_c = pstats.filter(2 * F.col("n_known") > F.col("n_p")).select("doc_id")
    rest3 = rest2.join(pass_c, "doc_id", "left_anti")

    # majority-lost vs earlier surviving arrivals
    p3 = arr_p.join(rest3.select("doc_id"), "doc_id", "left_semi")
    wmin = Window.partitionBy("pfp")
    lost = p3.withColumn("_m", F.min("doc_id").over(wmin))
    lstats = lost.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_p"),
        F.sum(F.when(F.col("_m") < F.col("doc_id"), 1).otherwise(0)).alias("n_lost"),
    )
    pass_b = lstats.filter(2 * F.col("n_lost") > F.col("n_p")).select("doc_id")

    def _flag(ids: DataFrame, name: str) -> DataFrame:
        return ids.withColumn(name, F.lit(True))

    out = (
        tagged.join(_flag(exact_c, "_ec"), "doc_id", "left")
        .join(_flag(exact_b, "_eb"), "doc_id", "left")
        .join(_flag(pass_c, "_pc"), "doc_id", "left")
        .join(_flag(pass_b, "_pb"), "doc_id", "left")
    )
    verdict = (
        F.when(F.col("_ec"), F.lit("exact_corpus"))
        .when(F.col("_eb"), F.lit("exact_batch"))
        .when(F.col("_pc"), F.lit("passage_corpus"))
        .when(F.col("_pb"), F.lit("passage_batch"))
        .otherwise(F.lit("accepted"))
    )
    return out.withColumn("verdict", verdict).drop("_ec", "_eb", "_pc", "_pb")
