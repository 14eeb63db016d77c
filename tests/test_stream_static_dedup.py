"""Ingest-time dedup (ops/dedup.py): arriving documents
anti-join a static fingerprint index then dedup among themselves (q104's
shape), and the near-dup verdict tiers keep their precedence and
precision rules."""

import json

from pyspark.sql import functions as F

from csv_loader_spark.ops.dedup import (
    fingerprint_index,
    novel_documents,
)

_SCHEMA = "doc_id long, ts timestamp, text string"


def _write_batch(path, rows):
    with open(path, "w") as f:
        for doc_id, ts, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "ts": ts, "text": text}) + "\n")


def test_stream_static_ingest_matches_batch(spark, tmp_path):
    """Two arrival files against a static index: corpus dups and in- and
    cross-file dups are dropped, one survivor (min doc_id) per novel
    fingerprint lands."""
    corpus = spark.createDataFrame(
        [(i, f"existing corpus document number {i}") for i in range(5)],
        "doc_id long, text string",
    )
    index = fingerprint_index(corpus)

    src = tmp_path / "arrivals"
    src.mkdir()
    # batch 1: one corpus dup, two novel docs, one in-batch dup of a novel
    _write_batch(
        src / "b1.json",
        [
            (100, "2026-01-01 10:00:00", "existing corpus document number 2"),
            (101, "2026-01-01 10:00:01", "a genuinely new document alpha"),
            (102, "2026-01-01 10:00:02", "another new document beta"),
            (103, "2026-01-01 10:00:03", "a genuinely new document alpha"),
        ],
    )
    # batch 2: cross-batch dup of alpha, one more corpus dup, one novel
    _write_batch(
        src / "b2.json",
        [
            (200, "2026-01-01 10:01:00", "a genuinely new document alpha"),
            (201, "2026-01-01 10:01:01", "existing corpus document number 0"),
            (202, "2026-01-01 10:01:02", "a third new document gamma"),
        ],
    )

    arrivals = spark.read.schema(_SCHEMA).json(str(src))
    batch = novel_documents(arrivals.select("doc_id", "text"), index)
    # exactly one survivor per novel fingerprint, min doc_id wins; corpus
    # dups (100, 201) and arrival dups (103, 200) never land
    assert {(r["doc_id"], r["text"]) for r in batch.select("doc_id", "text").collect()} == {
        (101, "a genuinely new document alpha"),
        (102, "another new document beta"),
        (202, "a third new document gamma"),
    }


def test_index_probe_carries_only_fingerprints(spark):
    """The index side of the anti-join is one hashed column — at 1e10
    accepted docs the probe must be an id-table operation, never a corpus
    rescan with text aboard."""
    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    index = fingerprint_index(corpus)
    assert index.columns == ["fp"]
    arrivals = spark.createDataFrame(
        [(100, "doc 3"), (101, "brand new")], "doc_id long, text string"
    )
    out = novel_documents(arrivals, index)
    assert [r["doc_id"] for r in out.collect()] == [101]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


# ---------------------------------------------------------------------------
# r9: NEAR-dup verdicts (band-signature index alongside the fp index)
# ---------------------------------------------------------------------------

# Fixtures chosen so the MinHash band collisions are deterministic (verified
# against a pure-python replica of the md5 sketch): _NEAR collides with
# _CORPUS_DOC in 2 of 3 bands, _N1/_N2 collide with each other (3 bands) but
# not with the corpus, _GAMMA with nothing.
_CORPUS_DOC = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "every sunny morning in spring"
)
_NEAR = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "every sunny morning in autumn"
)
_N1 = (
    "distributed stream processing with incremental checkpoints handles "
    "late data gracefully in production pipelines"
)
_N2 = (
    "distributed stream processing with incremental checkpoints handles "
    "late data gracefully in production systems"
)
_GAMMA = (
    "graph algorithms on sparse matrices benefit from cache aware "
    "blocking strategies tuned per architecture"
)


def test_ingest_verdicts_batch_rules(spark):
    """The five-verdict precedence on one batch: exact-vs-corpus beats
    near-vs-corpus beats near-vs-batch; the within-batch near rule keeps
    the bucket-minimum doc_id."""
    from csv_loader_spark.ops.dedup import (
        band_signature_index,
        ingest_verdicts,
    )

    corpus = spark.createDataFrame(
        [(0, _CORPUS_DOC)], "doc_id long, text string"
    )
    arrivals = spark.createDataFrame(
        [
            (10, "s", _CORPUS_DOC),  # exact dup of corpus
            (11, "s", _NEAR),        # near dup of corpus (band collision)
            (12, "s", _N1),          # novel -> accepted
            (13, "s", _N2),          # near dup of doc 12 within the batch
            (14, "s", _N1),          # exact dup of doc 12 within the batch
            (15, "s", _GAMMA),       # novel -> accepted
        ],
        "doc_id long, source string, text string",
    )
    out = ingest_verdicts(
        arrivals, fingerprint_index(corpus), band_signature_index(corpus)
    )
    got = {r["doc_id"]: r["verdict"] for r in out.collect()}
    assert got == {
        10: "exact_corpus",
        11: "near_corpus",
        12: "accepted",
        13: "near_batch",
        14: "exact_batch",
        15: "accepted",
    }


def test_doubled_delivery_of_novel_doc_is_still_admitted(spark):
    """r9 review fix: a doubled landing-zone file delivering the same
    (doc_id, text) row twice in one batch must yield ONE accepted verdict
    — not two exact_batch rejections that silently drop a novel doc."""
    from csv_loader_spark.ops.dedup import (
        band_signature_index,
        ingest_verdicts,
        ingest_verdicts_passage,
        passage_index,
    )

    corpus = spark.createDataFrame([(0, _CORPUS_DOC)], "doc_id long, text string")
    arrivals = spark.createDataFrame(
        [(10, "s", _N1), (10, "s", _N1), (11, "s", _GAMMA)],
        "doc_id long, source string, text string",
    )
    out = ingest_verdicts(
        arrivals, fingerprint_index(corpus), band_signature_index(corpus)
    )
    got = sorted((r["doc_id"], r["verdict"]) for r in out.collect())
    assert got == [(10, "accepted"), (11, "accepted")]

    out_p = ingest_verdicts_passage(
        arrivals, fingerprint_index(corpus), passage_index(corpus)
    )
    got_p = sorted((r["doc_id"], r["verdict"]) for r in out_p.collect())
    assert got_p == [(10, "accepted"), (11, "accepted")]


def test_verified_verdicts_match_membership_on_true_neardups(spark):
    """The VERIFY tier (r10): on genuine near-dups the verified rule
    agrees with the membership rule verdict-for-verdict; the member index
    carries per-bucket shingle arrays; and precedence is unchanged."""
    from csv_loader_spark.ops.dedup import (
        band_member_index,
        ingest_verdicts_verified,
    )

    corpus = spark.createDataFrame(
        [(0, _CORPUS_DOC)], "doc_id long, text string"
    )
    members = band_member_index(corpus)
    assert set(members.columns) == {"band", "bkey", "doc_id", "toks"}
    arrivals = spark.createDataFrame(
        [
            (10, "s", _CORPUS_DOC),  # exact dup of corpus
            (11, "s", _NEAR),        # true near dup -> verified rejection
            (12, "s", _N1),          # novel -> accepted
            (13, "s", _N2),          # near dup of doc 12 within the batch
            (15, "s", _GAMMA),       # novel -> accepted
        ],
        "doc_id long, source string, text string",
    )
    out = ingest_verdicts_verified(arrivals, fingerprint_index(corpus), members)
    got = {r["doc_id"]: r["verdict"] for r in out.collect()}
    assert got == {
        10: "exact_corpus",
        11: "near_corpus",
        12: "accepted",
        13: "near_batch",
        15: "accepted",
    }


def test_verify_tier_admits_band_false_positives(spark):
    """The verify tier's whole point: a band collision whose exact
    Jaccard is below the threshold is ADMITTED (or handled by a later
    rule) instead of rejected. On the fixed sf0.001 documents table the
    membership rule rejects one arrival with no true corpus witness
    (q144's 9166 bp); the verified rule's rejections are a strict subset
    and every dropped rejection indeed has no witness at J >= 0.3."""
    from csv_loader_spark.io.tables import load_table
    from csv_loader_spark.ops.dedup import (
        VERIFY_TAU_DEN,
        VERIFY_TAU_NUM,
        band_member_index,
        band_signature_index,
        ingest_verdicts,
        ingest_verdicts_verified,
        shingled_docs,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    arrivals = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "text"
    )
    fp = fingerprint_index(corpus)

    def _near(df):
        return {
            r["doc_id"]
            for r in df.filter(F.col("verdict") == "near_corpus")
            .select("doc_id")
            .collect()
        }

    membership = _near(
        ingest_verdicts(arrivals, fp, band_signature_index(corpus))
    )
    verified = _near(
        ingest_verdicts_verified(arrivals, fp, band_member_index(corpus))
    )
    assert verified < membership  # strict subset: at least one FP dropped

    # every dropped rejection has NO corpus witness at the threshold
    dropped = membership - verified
    sh = shingled_docs(d)
    a = sh.filter(F.col("doc_id").isin([int(x) for x in dropped])).select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")
    )
    c = sh.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("doc_c"), F.col("shingles").alias("sc")
    )
    n_inter = F.size(F.array_intersect("sa", "sc"))
    na, nb = F.size("sa"), F.size("sc")
    witnesses = (
        a.crossJoin(c)
        .filter(VERIFY_TAU_DEN * n_inter >= VERIFY_TAU_NUM * (na + nb - n_inter))
        .count()
    )
    assert witnesses == 0
