"""File-identity invalidation for the one session cache,
io.tables.session_cached (r7): an entry is kept per (session, key) while
its file's fingerprint is unchanged, and rebuilt, after the stale value's
DataFrames are unpersisted, when the file changes (the r5 mid-round
testdata regeneration is the motivating incident).

- The policy itself: one build per fingerprint, a rebuild after an mtime
  bump, the stale persisted frame released.
- load_table's lazy plans: a regenerated file gives a fresh plan.
- q97's PERSISTED candidate pairs and q119's persisted token index —
  worse than a stale plan, frozen rows: a regenerated file must rebuild
  them, or the queries silently join fresh rows against dead ones.
- q57's staged copy of events.parquet: a regenerated file is re-staged.

Plus the hot-bucket guard observability (ADVICE r6): the cap binding must
be visible at runtime, not just documented.
"""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq

from csv_loader_spark.io.tables import file_fingerprint, load_table, session_cached
from csv_loader_spark.queries.llm4 import _lsh_candidates, hot_bucket_guard_stats


def _write_documents(path, n, salt=""):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": [f"document {salt} number {i}" for i in range(n)],
            }
        ),
        path,
    )


def _bump_mtime(path):
    """Guarantee the fingerprint moves even on coarse-mtime filesystems."""
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_session_cached_rebuilds_and_unpersists_on_file_change(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    with open(p, "wb") as f:
        f.write(b"x")
    builds = []

    def build():
        # a different n on each build, so the two plans differ and the
        # stale frame's storageLevel is its own, not the rebuilt one's
        builds.append(len(builds) + 1)
        return spark.range(10 * builds[-1]).persist()

    a = session_cached(spark, p, "policy", build)
    assert session_cached(spark, p, "policy", build) is a
    assert builds == [1]  # one build per fingerprint
    assert a.storageLevel.useMemory

    _bump_mtime(p)
    b = session_cached(spark, p, "policy", build)
    assert builds == [1, 2] and b is not a and b.count() == 20
    assert a.storageLevel.useMemory is False and a.storageLevel.useDisk is False
    assert b.storageLevel.useMemory
    assert session_cached(spark, p, "policy", build) is b

    # a tuple value: every DataFrame in it is released on a rebuild
    pair = session_cached(spark, p, "pair", lambda: (build(), "tag", build()))
    _bump_mtime(p)
    session_cached(spark, p, "pair", lambda: (build(), "tag"))
    assert not any(df.storageLevel.useMemory for df in (pair[0], pair[2]))
    b.unpersist()


def test_table_cache_picks_up_regenerated_file(spark, tmp_path):
    sf_dir = str(tmp_path)
    p = os.path.join(sf_dir, "documents.parquet")
    _write_documents(p, 5)
    assert load_table(spark, sf_dir, "documents").count() == 5

    _write_documents(p, 9, salt="regen")
    _bump_mtime(p)
    assert load_table(spark, sf_dir, "documents").count() == 9


def test_table_cache_still_caches_unchanged_file(spark, tmp_path):
    sf_dir = str(tmp_path)
    p = os.path.join(sf_dir, "documents.parquet")
    _write_documents(p, 3)
    a = load_table(spark, sf_dir, "documents")
    b = load_table(spark, sf_dir, "documents")
    assert a is b  # same plan object — the cache hit that saves the footer read


def test_file_fingerprint_covers_directories(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-0").write_bytes(b"abc")
    fp1 = file_fingerprint(str(d))
    (d / "part-1").write_bytes(b"defg")
    fp2 = file_fingerprint(str(d))
    assert fp1 != fp2 and fp2[1] == 7
    assert file_fingerprint(str(tmp_path / "missing")) is None


def _write_embeddings(path, vecs):
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        ),
        path,
    )


def test_cand_cache_invalidates_on_regenerated_embeddings(spark, tmp_path):
    sf_dir = str(tmp_path)
    p = os.path.join(sf_dir, "embeddings.parquet")
    # 6 identical vectors: every pair collides in every LSH table
    _write_embeddings(p, [[1.0, 2.0, 3.0, 4.0]] * 6)
    cand1, _ = _lsh_candidates(spark, sf_dir)
    assert cand1.count() == 15  # C(6,2)

    # 3 identical vectors: C(3,2)=3 — a stale cache would still say 15
    _write_embeddings(p, [[5.0, 6.0, 7.0, 8.0]] * 3)
    _bump_mtime(p)
    cand2, _ = _lsh_candidates(spark, sf_dir)
    assert cand2.count() == 3
    assert cand2 is not cand1
    # (df.storageLevel can't verify cand1's unpersist: the cache manager
    # matches by logical-plan equality and the rebuilt frame's plan is
    # structurally equal to the stale one's; the policy test above checks
    # the release on frames whose plans differ)

    # unchanged file: cache hit, same persisted frame
    cand3, _ = _lsh_candidates(spark, sf_dir)
    assert cand3 is cand2


def test_hot_bucket_guard_stats_signal(spark):
    from csv_loader_spark.functions import vectors as VEC

    flood = spark.createDataFrame(
        [(i, [1.0, 1.0, 1.0, 1.0]) for i in range(30)],
        "vec_id long, v array<double>",
    ).withColumn("nrm", VEC.norm("v"))
    bound = hot_bucket_guard_stats(flood, cap=10)
    assert bound["max_bucket"] == 30
    assert bound["n_evicted"] > 0 and bound["n_buckets_over"] > 0
    inert = hot_bucket_guard_stats(flood, cap=1024)
    assert inert["n_evicted"] == 0 and inert["n_buckets_over"] == 0


def test_cand_cache_rebuild_logs_guard_stats(spark, tmp_path, caplog):
    import logging

    sf_dir = str(tmp_path)
    p = os.path.join(sf_dir, "embeddings.parquet")
    _write_embeddings(p, [[1.0, 0.5, -0.5, 2.0]] * 4)
    with caplog.at_level(logging.INFO, logger="csv_loader_spark.queries.llm4"):
        _lsh_candidates(spark, sf_dir)
    assert any("hot-bucket cap inert" in r.message for r in caplog.records)


def test_tokidx_cache_invalidates_on_regenerated_documents(spark, tmp_path):
    """q119's persisted df-sorted token index follows the same contract:
    same file -> same persisted frame; regenerated file -> stale frame
    unpersisted and a fresh index built over the new rows."""
    from csv_loader_spark.queries.llm7 import _df_sorted_tokens

    sf_dir = str(tmp_path)
    p = os.path.join(sf_dir, "documents.parquet")
    _write_documents(p, 6)
    idx1 = _df_sorted_tokens(spark, sf_dir)
    assert idx1.count() == 6
    assert _df_sorted_tokens(spark, sf_dir) is idx1  # cache hit

    _write_documents(p, 11, salt="regen")
    _bump_mtime(p)
    idx2 = _df_sorted_tokens(spark, sf_dir)
    assert idx2 is not idx1
    assert idx2.count() == 11
    assert _df_sorted_tokens(spark, sf_dir) is idx2  # unchanged: hit again


def _write_events(path, rows):
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "ts": pa.array([ts for ts, _ in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": [et for _, et in rows],
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": ["{}"] * len(rows),
            }
        ),
        path,
    )


def test_stream_stage_follows_regenerated_events(spark, tmp_path):
    """q57 streams a staged copy of events.parquet; a regenerated file
    under the same path must be staged again, not served from the first
    copy."""
    from csv_loader_spark.queries.parity import q57_stream_tumbling

    def n_events():
        rows = q57_stream_tumbling(spark, sf_dir).collect()
        return {(r.window_day, r.event_type): r.n_events for r in rows}

    sf_dir = str(tmp_path)
    p = os.path.join(sf_dir, "events.parquet")
    day = dt.datetime(2024, 3, 1, 12)
    _write_events(p, [(day, "click")] * 3)
    assert n_events() == {("2024-03-01", "click"): 3}

    _write_events(p, [(day, "view")] * 5 + [(day, "click")])
    _bump_mtime(p)
    assert n_events() == {("2024-03-01", "view"): 5, ("2024-03-01", "click"): 1}
