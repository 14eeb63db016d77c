"""Posting-list guards for the shingle/fingerprint dedup family (r7):

- q96 winnowing near-dup: MOSS-style STOP-LIST — fingerprints whose
  posting list exceeds max_df docs are dropped entirely (boilerplate, not
  signal), bounding the self-join at Σ min(df, max_df)² instead of the M²
  measured in r6 (1.24 G pairs at ×10 duplication).
- q34 MinHash LSH: hot-band-bucket CAP — each (band, bkey) keeps its
  first `cap` members by doc_id (the q97 pattern), bounding a degenerate
  bucket at C(cap, 2) pairs. Keep-first, not drop: band collisions are
  high signal.
"""

from pyspark.sql import functions as F

from csv_loader_spark.ops.dedup import BAND_CAP as _BAND_CAP
from csv_loader_spark.queries.llm import minhash_lsh_pairs
from csv_loader_spark.queries.llm3 import _WINNOW_MAX_DF, winnow_neardup_pairs

# Long enough that winnowing emits fingerprints (needs >= _WIN_W + 3 chars
# after whitespace normalization) and distinctive enough not to collide.
_BOILER = "this license text is identical boilerplate shared by every doc"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- q96 winnowing stop-list ----------------------------------------------


def test_winnow_stoplist_drops_boilerplate_flood(spark):
    """50 identical docs share every fingerprint (df=50): with max_df=8
    ALL their fingerprints are stop-listed, so the flood contributes ZERO
    pairs instead of C(50,2)=1225 — while a distinct pair of documents
    sharing a low-df substring still matches."""
    m = 50
    rows = [(i, _BOILER) for i in range(m)]
    # two distinct docs sharing one long substring (df=2 <= 8: kept)
    shared = "the quick brown fox jumps over the lazy dog tonight"
    rows += [
        (1000, "alpha beta gamma delta " + shared),
        (1001, shared + " epsilon zeta eta theta iota kappa"),
    ]
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in winnow_neardup_pairs(_docs(spark, rows), max_df=8).collect()
    }
    assert not any(a < m and b < m for a, b in pairs)  # flood: zero pairs
    assert (1000, 1001) in pairs  # low-df shared substring survives


def test_winnow_pairs_flat_under_flood_growth(spark):
    """Doubling a flood that already exceeds max_df must not grow the pair
    count at all (dropped is dropped) — the sub-quadratic property the r6
    measurement showed was missing."""
    base = [(i, _BOILER) for i in range(20)]
    big = [(i, _BOILER) for i in range(40)]
    extra = [(500, "completely unrelated singleton text with many words here")]
    n_base = winnow_neardup_pairs(_docs(spark, base + extra), max_df=8).count()
    n_big = winnow_neardup_pairs(_docs(spark, big + extra), max_df=8).count()
    assert n_base == n_big == 0


def test_winnow_stoplist_inert_below_threshold(spark):
    """Below max_df the guard must not change the output at all (the
    sf0.01 exact gate relies on this: <=100 docs, default max_df=512)."""
    rows = [(i, _BOILER) for i in range(6)]
    rows += [(100, "some other document with entirely different words inside")]
    df = _docs(spark, rows)
    guarded = sorted(
        map(tuple, winnow_neardup_pairs(df, max_df=_WINNOW_MAX_DF).collect())
    )
    unguarded = sorted(map(tuple, winnow_neardup_pairs(df, max_df=10**9).collect()))
    assert guarded == unguarded
    # the 6 identical docs all pair up: C(6,2)=15
    assert len([p for p in guarded if p[0] < 6 and p[1] < 6]) == 15


# --- q34 MinHash hot-band-bucket cap --------------------------------------


def test_minhash_band_cap_bounds_degenerate_bucket(spark):
    """300 identical docs share every band bucket: uncapped that is
    C(300,2)=44850 candidates; with cap=8 only the first 8 doc_ids survive
    each bucket, so exactly C(8,2)=28 pairs come out (identical docs pass
    the Jaccard>=0.3 verify at 1.0)."""
    m = 300
    rows = [(i, _BOILER) for i in range(m)]
    rows += [(1000, "an unrelated document about completely different topics")]
    out = minhash_lsh_pairs(_docs(spark, rows), cap=8).collect()
    dup_pairs = {(r["doc_a"], r["doc_b"]) for r in out if r["doc_a"] < m}
    assert len(dup_pairs) == 28
    # deterministic keep-first: only the 8 smallest doc_ids survive
    assert all(a < 8 and b < 8 for a, b in dup_pairs)
    assert all(r["jaccard"] == 1.0 for r in out)


def test_minhash_candidates_flat_once_cap_binds(spark):
    """x2 the duplicated corpus must NOT x4 the pairs once the cap binds."""
    small = [(i, _BOILER) for i in range(50)]
    big = [(i, _BOILER) for i in range(100)]
    n_small = minhash_lsh_pairs(_docs(spark, small), cap=8).count()
    n_big = minhash_lsh_pairs(_docs(spark, big), cap=8).count()
    assert n_small == n_big == 28


def test_minhash_band_cap_inert_below_threshold(spark):
    """Below the cap the guard is a no-op (sf0.01 gate + SCALING baseline
    comparability rely on this)."""
    rows = [(i, _BOILER) for i in range(10)]
    rows += [(100, "documents about a different subject matter entirely")]
    df = _docs(spark, rows)
    capped = sorted(map(tuple, minhash_lsh_pairs(df, cap=_BAND_CAP).collect()))
    uncapped = sorted(map(tuple, minhash_lsh_pairs(df, cap=10**9).collect()))
    assert capped == uncapped
    assert len(capped) >= 10 * 9 // 2


# --- q101 greedy packing fold edges (same r7 batch) ------------------------


def test_greedy_pack_fold_edges():
    """Driver-side check of the pandas fold: oversize doc gets its own
    pack; exact-fit closes the pack; order is doc_id, not input order."""
    import pandas as pd

    from csv_loader_spark.queries.llm5 import _PACK_CAP, _greedy_pack

    pdf = pd.DataFrame(
        {
            "source": ["s"] * 5,
            "doc_id": [3, 1, 2, 4, 5],
            "n_tok": [50, 200, _PACK_CAP, _PACK_CAP + 10, 6],
        }
    )
    out = _greedy_pack(pdf).sort_values("doc_id")
    # fold in doc_id order (cap 256): doc1(200)→pack0; doc2(256) overflows
    # →pack1 (exact-fit fills it); doc3(50) overflows→pack2; doc4(266,
    # oversize) overflows→pack3 alone; doc5(6) overflows→pack4
    assert list(out["pack_id"]) == [0, 1, 2, 3, 4]
    assert out["pack_id"].dtype == "int64"
