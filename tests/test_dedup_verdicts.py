"""The passage verdict tier against its standalone form.

The three verdict tiers of ops/dedup.py share one core. Their plans hold
localCheckpoint RDDs, a new RDD per build, so a plan comparison cannot
pin them. Instead the passage tier is checked row for row against
``ingest_verdicts_passage`` as it stood before it moved onto that core,
kept below verbatim as the reference, on the sf0.01 even/odd split and
on a seeded near-copy flood with doubled doc_ids.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv_loader_spark.io.tables import load_table
from csv_loader_spark.ops import dedup
from csv_loader_spark.ops.dedup import _dedup_and_tag, fingerprint_index, passage_index

SF_DIR = "/root/testdata/sf0.01"



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
    from csv_loader_spark.ops.curate import doc_passages

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


def _docs(spark):
    return load_table(spark, SF_DIR, "documents").select("doc_id", "source", "text")


def _flood(spark, docs: DataFrame) -> DataFrame:
    """Seeded near-copy flood: three one-word-tail copies and two exact
    copies of sampled corpus docs, plus doubled doc_ids — the same row
    delivered twice, and one doc_id carrying two different texts."""
    rng = random.Random(20261019)
    rows = docs.filter(F.col("doc_id") % 2 == 0).orderBy("doc_id").collect()
    picked = rng.sample(rows, 40)
    out = []
    for k, r in enumerate(picked):
        base = 10_000_000 + 10 * k
        out += [(base + j, r.source, f"{r.text} floodtail{j}") for j in range(3)]
        out += [(base + j, r.source, r.text) for j in (3, 4)]
    out += out[:8]
    out += [(doc_id, source, text + " otherdelivery") for doc_id, source, text in out[8:12]]
    rng.shuffle(out)
    return spark.createDataFrame(out, "doc_id long, source string, text string")


def _rows(df: DataFrame) -> list:
    return sorted(map(tuple, df.select(sorted(df.columns)).collect()))


@pytest.mark.parametrize("case", ["sf_split", "flood_seeded", "flood_cold"])
def test_passage_tier_matches_its_standalone_form(spark, case):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    if case == "sf_split":
        arrivals = docs.filter(F.col("doc_id") % 2 == 1)
    else:
        arrivals = _flood(spark, docs)
        if case == "flood_cold":
            corpus = corpus.limit(0)
    fp_idx, pfp_idx = fingerprint_index(corpus), passage_index(corpus)
    got = _rows(dedup.ingest_verdicts_passage(arrivals, fp_idx, pfp_idx))
    want = _rows(ingest_verdicts_passage(arrivals, fp_idx, pfp_idx))
    assert got == want
    verdicts = {r[-1] for r in got}
    assert len(verdicts) >= 3, verdicts
