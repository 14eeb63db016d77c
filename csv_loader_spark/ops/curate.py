"""The PRODUCT curation entry point and the one home of its admission
rules: one function (and a CLI subcommand, ``python -m csv_loader_spark
curate``) so a pipeline owner can run the whole DAG over a real
documents table without touching the query registry.

Rules, in q132's adjudicated order. Each is written once: here, or in
ops/dedup.py for the dedup stages. The queries that gate a rule on its
own (q102, q115, q116, q121, q128, q129) call the same helper, and q127
and q132 are calls to :func:`curate`, so the DuckDB oracle gate checks
this code itself:

1. domain BLOCKLIST          (:func:`blocklist_domain`)
2. eval DECONTAMINATION      (:func:`contaminated_ids`, optional via
                              ``eval_docs``)
3. exact + NEAR dedup        (ingest_verdicts — q131's five-verdict
                              precedence run batch-mode against an empty
                              corpus index, i.e. within-input dedup; pass
                              ``corpus`` to dedup against a snapshot, or
                              ``verify_members=True`` for the
                              precision-1.0 tier, q145; ``dedup=False``
                              skips the stage)
4. PASSAGE-level dedup       (doc_passages +
                              :func:`passage_keep_first`, optional via
                              ``passage_dedup``)
5. per-source hash QUOTA     (:func:`quota_rank`)
6. train/valid/test SPLIT    (:func:`split_col`)

Output: ``kept`` carries (doc_id, source, text, split, n_tok); the
manifest holds one verdict row per input doc (blocked / contaminated /
exact_* / near_* / passage_dup / quota_rejected / admitted).
Deterministic end to end: re-running on the same input yields
byte-identical decisions (every rule keys on content or salted doc_id
hashes, never on partition order).

Scale: one corpus scan, narrow derived-key shuffles (md5 fingerprints,
band keys, 16-bit hashes), no all-pairs anywhere; the blocklist is a
literal ``isin`` (broadcast by construction).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from csv_loader_spark.functions import text as TXT
from csv_loader_spark.functions.hashing import hash16_spark_sql, hash16_sql
from csv_loader_spark.ops.dedup import (
    band_member_index,
    band_signature_index,
    doc_passages,
    fingerprint_index,
    ingest_verdicts,
    ingest_verdicts_verified,
)

# Case-insensitive scheme + domain, no trailing-slash requirement: a
# blocklist filter that misses 'https://SITE1.example' (no path) is a
# provenance filter with a hole. Extracted domains are lowercased before
# the blocklist comparison. (?i) works identically in Java regex and RE2.
URL_RE = r"(?i)https?://([a-z0-9.-]+)"

# The quota and split orders are 16-bit hashes of doc_id plus a salt:
# seed-free, stable under re-partitioning and appends, engine-portable.
# ``*_KEY_SQL`` is the DuckDB spelling the oracle SQL uses.
_QUOTA_SALT = ":quota"
_SPLIT_SALT = ":split"
QUOTA_KEY_SQL = hash16_sql(f"CAST(doc_id AS VARCHAR) || '{_QUOTA_SALT}'")
SPLIT_KEY_SQL = hash16_sql(f"CAST(doc_id AS VARCHAR) || '{_SPLIT_SALT}'")
_QUOTA_KEY = hash16_spark_sql(f"concat(CAST(doc_id AS STRING), '{_QUOTA_SALT}')")
_SPLIT_KEY = hash16_spark_sql(f"concat(CAST(doc_id AS STRING), '{_SPLIT_SALT}')")


def split_case(h: str) -> str:
    """Engine-shared bucket→split mapping (96/2/2) over a 16-bit hash."""
    return (
        f"CASE WHEN ({h}) % 100 < 96 THEN 'train' "
        f"WHEN ({h}) % 100 < 98 THEN 'valid' ELSE 'test' END"
    )


def blocklist_domain(text: Column | str = "text") -> Column:
    """The doc's domain: the first URL host in its text, lowercased; ''
    when the text has no URL."""
    return F.lower(F.coalesce(F.regexp_extract(text, URL_RE, 1), F.lit("")))


def quota_rank() -> Column:
    """Per-source rank in salted-hash order (doc_id breaks ties): keeping
    rank <= N admits a corpus-stable N docs per source, and a filter on
    it plans as WindowGroupLimit (partial top-N before the shuffle)."""
    w = Window.partitionBy("source").orderBy(F.expr(_QUOTA_KEY), F.col("doc_id"))
    return F.row_number().over(w)


def split_col() -> Column:
    """train/valid/test from the salted doc_id hash: map-only, and a
    doc's split never changes when the corpus grows."""
    return F.expr(split_case(_SPLIT_KEY))


def passage_keep_first() -> Column:
    """True on the globally-first occurrence of each distinct passage
    (smallest (doc_id, i)). The window partitions on md5(passage): a
    32-byte shuffle key whatever the passage length."""
    w = Window.partitionBy(F.md5("passage")).orderBy("doc_id", "i")
    return F.row_number().over(w) == 1


def contaminated_ids(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """doc_ids of ``docs`` sharing a word 4-gram with ``eval_docs`` (q85's
    rule): the distinct eval grams are a broadcast-sized reference, one
    semi-join on the gram flags the candidates."""
    eval_g = eval_docs.select(
        F.explode(TXT.word_shingles("text", 4)).alias("g")
    ).distinct()
    return (
        docs.select("doc_id", F.explode(TXT.word_shingles("text", 4)).alias("g"))
        .join(F.broadcast(eval_g), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )


def curate(
    docs: DataFrame,
    *,
    blocklist: tuple[str, ...] = (),
    eval_docs: DataFrame | None = None,
    dedup: bool = True,
    passage_dedup: bool = False,
    corpus: DataFrame | None = None,
    verify_members: bool = False,
    quota_cap: int = 30,
) -> tuple[DataFrame, Callable[[], DataFrame]]:
    """Run the admission DAG over ``docs`` (doc_id, source, text) and
    return ``(kept, manifest)``: ``kept`` adds ``split`` and ``n_tok``;
    ``manifest()`` builds the (doc_id, source, verdict) frame with one row
    per input doc. The manifest is built on call, so a caller that needs
    only ``kept`` (q127, q132) pays nothing to plan it.

    ``blocklist``: lowercase domains to drop (:func:`blocklist_domain`).
    ``eval_docs``: an optional held-out evaluation set (doc_id, text) —
    any candidate sharing a word 4-gram with it is rejected as
    ``contaminated`` (the eval side is a reference set and is never
    itself a candidate). ``dedup``: run the doc-level exact+near verdicts
    (on by default; off lets a pipeline dedup at another granularity,
    e.g. q132's passage-level rule). ``corpus``: an optional
    already-accepted snapshot to dedup AGAINST (its fingerprint and band
    indexes are built here); omitted, dedup is within-input only.
    ``verify_members``: use the Jaccard-verified near rule (q145) instead
    of bucket membership (q131) for the CORPUS probe — it requires
    ``corpus`` (with no snapshot there are no corpus buckets to verify
    against, and the within-input near rule is the same window-min in
    both tiers, so the flag would silently change nothing; it is a loud
    error instead). ``passage_dedup``: a doc whose PASSAGE-word passages
    are majority-duplicated within the surviving set (2 * kept < total
    under :func:`passage_keep_first`) is rejected as ``passage_dup``.
    ``quota_cap``: max admitted docs per source (:func:`quota_rank`).

    q127 is a call to this function with the blocklist and quota only;
    q132 adds its eval split and ``passage_dedup=True`` with
    ``dedup=False``. So the exact oracle gate checks this code itself on
    those two paths.
    """
    if verify_members and corpus is None:
        raise ValueError(
            "verify_members requires a corpus snapshot: the verified rule "
            "confirms CORPUS-probe rejections against stored member "
            "shingles, and without a corpus the verdicts would be "
            "identical to the membership tier (the within-input near rule "
            "is the same window-min in both)"
        )
    # verdict -> zero-argument function returning the docs that stage
    # rejected; the doc-level dedup stage's frame carries its own
    # verdict column
    rejected: dict[str, Callable[[], DataFrame]] = {}
    accepted = docs

    if blocklist:
        hit = blocklist_domain().isin(*blocklist)
        rejected["blocked"] = functools.partial(accepted.filter, hit)
        accepted = accepted.filter(~hit)

    # candidate grams are computed AFTER the blocklist: blocked docs are
    # out either way, and one fewer copy of the text is scanned
    if eval_docs is not None:
        ids = contaminated_ids(accepted, eval_docs)
        rejected["contaminated"] = functools.partial(
            accepted.join, ids, "doc_id", "left_semi"
        )
        accepted = accepted.join(ids, "doc_id", "left_anti")

    # doc-level dedup verdicts (against the snapshot when given, else
    # within-input via empty indexes — same precedence either way)
    if dedup:
        base = corpus if corpus is not None else docs.limit(0)
        fp_idx = fingerprint_index(base)
        if verify_members:
            verdicts = ingest_verdicts_verified(
                accepted, fp_idx, band_member_index(base)
            )
        else:
            verdicts = ingest_verdicts(
                accepted, fp_idx, band_signature_index(base)
            )
        verdicts = verdicts.localCheckpoint(eager=False)
        rejected["dedup"] = functools.partial(verdicts.filter, "verdict != 'accepted'")
        accepted = verdicts.filter("verdict = 'accepted'").drop("verdict", "fp")

    if passage_dedup:
        # checkpoint: `accepted` feeds both the keep-first subtree and
        # the two novelty joins, and its lineage (blocklist,
        # contamination anti-join) re-runs per reference otherwise
        accepted = accepted.localCheckpoint(eager=False)
        novel_ids = (
            doc_passages(accepted)
            .withColumn("keep", passage_keep_first())
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_p"),
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_k"),
            )
            .filter(2 * F.col("n_k") >= F.col("n_p"))
            .select("doc_id")
        )
        rejected["passage_dup"] = functools.partial(
            accepted.join, novel_ids, "doc_id", "left_anti"
        )
        accepted = accepted.join(novel_ids, "doc_id", "left_semi")

    ranked = accepted.withColumn("_rnk", quota_rank())
    rejected["quota_rejected"] = functools.partial(
        ranked.filter, f"_rnk > {quota_cap}"
    )
    # n_tok: the budget accounting column a pipeline owner reads
    kept = ranked.filter(F.col("_rnk") <= quota_cap).select(
        *accepted.columns,
        split_col().alias("split"),
        F.size(TXT.tokens("text")).cast("long").alias("n_tok"),
    )
    return kept, functools.partial(_manifest, kept, rejected)


def _manifest(
    kept: DataFrame, rejected: dict[str, Callable[[], DataFrame]]
) -> DataFrame:
    parts = [
        build().select(
            "doc_id",
            "source",
            (F.col("verdict") if name == "dedup" else F.lit(name)).alias("verdict"),
        )
        for name, build in rejected.items()
    ]
    parts.append(kept.select("doc_id", "source", F.lit("admitted").alias("verdict")))
    return functools.reduce(DataFrame.unionByName, parts)


def run_curate(
    input_path: str,
    output_path: str,
    *,
    blocklist: tuple[str, ...] = (),
    eval_path: str | None = None,
    dedup: bool = True,
    passage_dedup: bool = False,
    corpus_path: str | None = None,
    verify_members: bool = False,
    quota_cap: int = 30,
    spark=None,
) -> dict[str, int]:
    """CLI body: read a documents parquet (doc_id, source, text), run
    :func:`curate`, write ``output/kept`` partitioned by split and
    ``output/manifest``, and return the per-verdict counts (also printed
    as one JSON line by the CLI)."""
    import os

    from csv_loader_spark.session import get_spark

    spark = spark or get_spark("curate")
    docs = spark.read.parquet(input_path).select("doc_id", "source", "text")
    corpus = (
        spark.read.parquet(corpus_path).select("doc_id", "text")
        if corpus_path
        else None
    )
    eval_docs = (
        spark.read.parquet(eval_path).select("doc_id", "text")
        if eval_path
        else None
    )
    kept, manifest = curate(
        docs,
        blocklist=blocklist,
        eval_docs=eval_docs,
        dedup=dedup,
        passage_dedup=passage_dedup,
        corpus=corpus,
        verify_members=verify_members,
        quota_cap=quota_cap,
    )
    kept.write.mode("overwrite").partitionBy("split").parquet(
        os.path.join(output_path, "kept")
    )
    manifest().write.mode("overwrite").parquet(
        os.path.join(output_path, "manifest")
    )
    counts = {
        r["verdict"]: r["n"]
        for r in spark.read.parquet(os.path.join(output_path, "manifest"))
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return counts
