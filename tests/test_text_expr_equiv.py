"""r15 construction-cost fast paths produce IDENTICAL expression trees.

functions/text.py and ops/dedup.py minhash_sig_cols/minhash_bands gained a
single-`F.expr` construction fast path for plain-identifier column names
(one py4j round trip instead of 8-30 per helper use — the minhash/ingest
family builds issued ~2000-2700 round trips each, multi-ms apiece under
driver-host load). The fast path MUST be a pure construction-cost cut:
this suite pins analyzed-plan equivalence (`sameResult`) and schema
equality against the original composed-Column forms, so a drifting SQL
string can never silently change what a query computes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csv_loader_spark.functions import text as TXT
from csv_loader_spark.ops import dedup

STOPWORDS = TXT.STOPWORDS


def _old_tokens(c):
    return F.split(F.trim(F.lower(F.col(c))), r"\s+")


def _old_ngrams(c, n):
    toks = _old_tokens(c)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, k + 1, m) for k in range(n)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)])
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _same(spark, old_col, new_col):
    df = spark.createDataFrame([("a b c d", 1)], "text string, doc_id int")
    o = df.select(old_col.alias("x"))
    n = df.select(new_col.alias("x"))
    assert o.schema == n.schema
    return n._jdf.queryExecution().analyzed().sameResult(
        o._jdf.queryExecution().analyzed()
    )


@pytest.mark.parametrize(
    "old_fn,new_fn",
    [
        (_old_tokens, TXT.tokens),
        (lambda c: F.size(_old_tokens(c)), TXT.token_count),
        (lambda c: _old_ngrams(c, 2), lambda c: TXT.word_ngrams(c, 2)),
        (lambda c: _old_ngrams(c, 3), lambda c: TXT.word_ngrams(c, 3)),
        (
            lambda c: F.array_distinct(_old_ngrams(c, 3)),
            lambda c: TXT.word_shingles(c, 3),
        ),
        (
            lambda c: F.size(
                F.filter(
                    _old_tokens(c),
                    lambda t: F.array_contains(
                        F.array(*[F.lit(s) for s in STOPWORDS]), t
                    ),
                )
            ),
            TXT.stopword_count,
        ),
        (lambda c: F.md5(F.concat_ws(" ", _old_tokens(c))), TXT.fingerprint),
        (
            lambda c: F.length(F.col(c))
            - F.length(F.regexp_replace(F.col(c), TXT.PUNCT_RE, "")),
            TXT.punct_count,
        ),
    ],
    ids=[
        "tokens",
        "token_count",
        "ngrams2",
        "ngrams3",
        "shingles3",
        "stopword_count",
        "fingerprint",
        "punct_count",
    ],
)
def test_fast_path_tree_identical(spark, old_fn, new_fn):
    assert _same(spark, old_fn("text"), new_fn("text"))


def test_column_input_falls_back_unchanged(spark):
    # A Column (non-identifier) input must still use the composed form and
    # match it exactly.
    c = F.concat(F.col("text"), F.lit("!"))
    assert _same(spark, _old_tokens("text"), TXT.tokens(F.col("text")))
    df = spark.createDataFrame([("a b", 1)], "text string, doc_id int")
    o = df.select(
        F.split(F.trim(F.lower(c)), r"\s+").alias("x")
    )
    n = df.select(TXT.tokens(c).alias("x"))
    assert n._jdf.queryExecution().analyzed().sameResult(
        o._jdf.queryExecution().analyzed()
    )


def test_minhash_sig_cols_tree_identical(spark):
    df = spark.createDataFrame(
        [(1, "s1"), (1, "s2"), (2, "s1")], "doc_id int, s string"
    )
    old = df.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
            for i in range(dedup.N_HASHES)
        ]
    )
    new = df.groupBy("doc_id").agg(*dedup.minhash_sig_cols())
    assert old.schema == new.schema
    assert new._jdf.queryExecution().analyzed().sameResult(
        old._jdf.queryExecution().analyzed()
    )


def test_minhash_bands_rows_identical(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "one two three four five"),
            (4, "too short"),
        ],
        "doc_id int, text string",
    )
    bands = dedup.minhash_bands(docs)
    assert [f.name for f in bands.schema.fields] == ["doc_id", "band", "bkey"]
    rows = {(r.doc_id, r.band, r.bkey) for r in bands.collect()}
    # identical docs share every band key; short doc has no bands
    assert {r[0] for r in rows} == {1, 2, 3}
    b1 = {(b, k) for d, b, k in rows if d == 1}
    b2 = {(b, k) for d, b, k in rows if d == 2}
    assert b1 == b2 and len(b1) == dedup.N_HASHES // dedup.BAND_SIZE
