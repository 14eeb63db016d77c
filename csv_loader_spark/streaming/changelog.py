"""Incremental release changelog: q135's snapshot diff as a fold of
document-version events over the standing corpus state.

q135 diffs two complete corpus snapshots with one full-outer fingerprint
join. A release pipeline rarely has two complete snapshots side by side —
it has a STREAM of document-version events (upserts and deletes from a
crawler or an upstream CDC feed) and wants, per batch, the
added/changed/removed/unchanged roll-up against the corpus's standing
state, plus that state kept current for the next batch.

``apply_version_events`` is that fold. It is mode-agnostic (plain
DataFrame ops); the oracle-gated q147 (queries/llm8.py) runs it as one
batch, and tests/test_changelog.py asserts that folding the same events
in two batches lands the one-batch answer (commutes with batching).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csv_loader_spark.functions import text as TXT


def snapshot_state(docs: DataFrame) -> DataFrame:
    """A corpus snapshot reduced to the changelog's state columns:
    (doc_id, source, fp, n_tok) — q135's fingerprint frame. Content
    never enters the state; the md5 fingerprint is the comparison key."""
    return docs.select(
        "doc_id",
        "source",
        TXT.fingerprint("text").alias("fp"),
        F.size(TXT.tokens("text")).alias("n_tok"),
    )


def apply_version_events(
    state: DataFrame, events: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Fold one batch of version events over the standing state.

    ``events``: (doc_id, source, op, text[, seq]) with op in
    ('upsert', 'delete'); when several events hit one doc_id in a batch,
    the highest ``seq`` (tie-broken deterministically by op then text)
    wins — the NET effect is what the changelog reports, so an add
    followed by an in-batch delete is a no-op, exactly as if the batch
    boundary had fallen differently (the commutes-with-batching property
    tests/test_changelog.py asserts).

    Returns ``(changelog, new_state)``:

    - changelog: (source, verdict, n_docs, tok_delta) where verdict is
      'added' (upsert of an unknown doc_id), 'changed' (upsert with a
      different fingerprint), 'unchanged' (re-crawl of identical
      content), or 'removed' (delete of a known doc_id); a delete of an
      unknown doc_id is a no-op and reports nothing. tok_delta is the
      net token-count movement (+new, new-old, 0, -old respectively).
    - new_state: the standing state after the batch.

    Scale: one window per (batch-local) doc_id for last-event-wins, one
    LEFT equi-join of the batch's events against the state on doc_id,
    one anti-join + union for the state update — all id-table shapes;
    document text is fingerprinted once per event and never rides a
    shuffle. The state side is the big relation, so at 10^10 docs the
    join hashes the (small) event side per batch — and in the bucketed
    loop ``state`` is already restricted to the touched buckets, so the
    big side is O(batch/B × corpus), not the corpus.
    """
    cols = ["doc_id", "source", "op", "text"]
    # a null doc_id has no identity to fold over (and xxhash64(null)
    # would still assign it a bucket, where it would collide with the
    # store's null-doc_id marker rows and be silently dropped on read) —
    # reject it here so markers stay the ONLY null-doc_id rows in the
    # store by construction (r11 advice)
    events = events.filter(F.col("doc_id").isNotNull())
    seq = F.col("seq") if "seq" in events.columns else F.lit(0)
    w = Window.partitionBy("doc_id").orderBy(
        seq.desc(), F.col("op"), F.col("text")
    )
    latest = (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*cols)
    )
    ev = latest.select(
        "doc_id",
        F.col("source").alias("e_source"),
        "op",
        TXT.fingerprint("text").alias("e_fp"),
        F.size(TXT.tokens("text")).alias("e_n_tok"),
    )
    j = ev.join(
        state.select(
            "doc_id", F.col("fp").alias("s_fp"), F.col("n_tok").alias("s_n_tok")
        ),
        "doc_id",
        "left",
    )
    verdict = (
        F.when(
            (F.col("op") == "delete") & F.col("s_fp").isNotNull(), F.lit("removed")
        )
        .when(F.col("op") == "delete", F.lit(None))
        .when(F.col("s_fp").isNull(), F.lit("added"))
        .when(F.col("e_fp") != F.col("s_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    tok_delta = (
        F.when(F.col("op") == "delete", -F.col("s_n_tok"))
        .when(F.col("s_fp").isNull(), F.col("e_n_tok"))
        .otherwise(F.col("e_n_tok") - F.col("s_n_tok"))
    )
    tagged = j.select(
        "doc_id",
        F.col("e_source").alias("source"),
        "op",
        "e_fp",
        "e_n_tok",
        verdict.alias("verdict"),
        tok_delta.alias("tok_delta"),
    ).filter(F.col("verdict").isNotNull())
    changelog = tagged.groupBy("source", "verdict").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_delta").cast("long").alias("tok_delta"),
    )
    upserts = tagged.filter(F.col("op") == "upsert").select(
        "doc_id",
        "source",
        F.col("e_fp").alias("fp"),
        F.col("e_n_tok").alias("n_tok"),
    )
    new_state = state.join(
        latest.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(upserts)
    return changelog, new_state
