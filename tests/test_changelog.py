"""Incremental release changelog (streaming/changelog.py): version events
folded over the standing state; the fold must match a reference model and
commute with batching."""

from csv_loader_spark.streaming.changelog import (
    apply_version_events,
    snapshot_state,
)

_EV_SCHEMA = "doc_id long, source string, op string, text string, seq long"


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "s", "alpha document about storage engines"),
            (2, "s", "beta document about vectorized execution"),
            (3, "t", "gamma document about adaptive planning"),
        ],
        "doc_id long, source string, text string",
    )


def test_apply_version_events_verdicts_and_netting(spark):
    """One batch: added / changed / unchanged / removed verdicts, delete
    of an unknown doc is a no-op, and an in-batch add-then-delete nets
    out (last event wins by seq)."""
    state = snapshot_state(_corpus(spark))
    events = spark.createDataFrame(
        [
            (4, "s", "upsert", "delta document freshly crawled now", 0),
            (2, "s", "upsert", "beta document about vectorized execution", 0),
            (3, "t", "delete", None, 0),
            (99, "t", "delete", None, 0),                    # unknown -> no-op
            (5, "t", "upsert", "ephemeral doc", 0),
            (5, "t", "delete", None, 1),                     # nets out
        ],
        _EV_SCHEMA,
    )
    changelog, new_state = apply_version_events(state, events)
    got = {
        (r["source"], r["verdict"]): (r["n_docs"], r["tok_delta"])
        for r in changelog.collect()
    }
    assert got == {
        ("s", "added"): (1, 5),
        ("s", "unchanged"): (1, 0),
        ("t", "removed"): (1, -5),
    }
    assert {r["doc_id"] for r in new_state.collect()} == {1, 2, 4}


def test_apply_version_events_matches_reference_model(spark):
    """Seeded randomized parity with a pure-Python reference fold:
    random upsert/delete sequences (duplicate doc_ids within a batch,
    deletes of unknowns, re-crawls of identical content) — the Spark
    fold's changelog roll-up AND new state must equal the dict model's,
    for every seed."""
    import random

    def _fp(text):
        return " ".join(text.lower().split())

    texts = [
        "alpha doc", "beta doc", "gamma doc body", "delta text",
        "alpha doc", "epsilon words here",
    ]
    for seed in (1, 2, 3, 4):
        rng = random.Random(seed)
        state_model = {}
        for doc_id in range(rng.randint(0, 4)):
            t = rng.choice(texts)
            state_model[doc_id] = (_fp(t), len(t.split()), "s")
        events = []
        for seq in range(rng.randint(1, 12)):
            doc_id = rng.randint(0, 6)
            if rng.random() < 0.3:
                events.append((doc_id, "s", "delete", None, seq))
            else:
                events.append((doc_id, "s", "upsert", rng.choice(texts), seq))

        # reference fold: last event per doc wins, NET verdicts
        latest = {}
        for doc_id, source, op, text, seq in events:
            latest[doc_id] = (source, op, text)
        expected_log = {}
        new_model = dict(state_model)
        for doc_id, (source, op, text) in latest.items():
            if op == "delete":
                if doc_id in state_model:
                    verdict, delta = "removed", -state_model[doc_id][1]
                    del new_model[doc_id]
                else:
                    continue
            else:
                n_tok = len(text.split())
                if doc_id not in state_model:
                    verdict, delta = "added", n_tok
                elif state_model[doc_id][0] != _fp(text):
                    verdict, delta = "changed", n_tok - state_model[doc_id][1]
                else:
                    verdict, delta = "unchanged", 0
                new_model[doc_id] = (_fp(text), n_tok, source)
            n, d = expected_log.get(("s", verdict), (0, 0))
            expected_log[("s", verdict)] = (n + 1, d + delta)

        # the state frame's fp must be the SAME fingerprint the operator
        # computes: route through snapshot_state on a text frame (the
        # model's fp IS the normalized text, so md5 matches both sides)
        docs_df = spark.createDataFrame(
            [
                (doc_id, src, fp)
                for doc_id, (fp, n, src) in state_model.items()
            ],
            "doc_id long, source string, text string",
        )
        state_df = snapshot_state(docs_df)
        events_df = spark.createDataFrame(
            events, "doc_id long, source string, op string, text string, seq long"
        )
        changelog, new_state = apply_version_events(state_df, events_df)
        got_log = {
            (r["source"], r["verdict"]): (r["n_docs"], r["tok_delta"])
            for r in changelog.collect()
        }
        assert got_log == expected_log, (seed, got_log, expected_log)
        got_state = {
            r["doc_id"]: r["n_tok"] for r in new_state.collect()
        }
        assert got_state == {
            doc_id: n for doc_id, (fp, n, src) in new_model.items()
        }, seed


def test_null_doc_id_events_rejected(spark):
    """A null-doc_id event has no identity and would collide with the
    store's marker rows (xxhash64(null) still buckets it); it must be
    filtered at the top of the fold so markers remain the only
    null-doc_id rows by construction (r11 advice)."""
    state = snapshot_state(_corpus(spark))
    events = spark.createDataFrame(
        [
            (None, "s", "upsert", "ghost document with no identity", 0),
            (4, "s", "upsert", "delta document freshly crawled now", 0),
        ],
        _EV_SCHEMA,
    )
    changelog, new_state = apply_version_events(state, events)
    got = {
        (r["source"], r["verdict"]): r["n_docs"] for r in changelog.collect()
    }
    assert got == {("s", "added"): 1}
    assert {r["doc_id"] for r in new_state.collect()} == {1, 2, 3, 4}


def test_two_batch_fold_equals_one_batch(spark):
    """Folding the events in two batches (state carried between them)
    lands the same final state and the same per-verdict counts as one
    batch, for disjoint doc_ids per batch."""
    first = [
        (4, "s", "upsert", "delta document freshly crawled now", 0),
        (3, "t", "delete", None, 0),
    ]
    second = [
        (2, "s", "upsert", "beta document about a new topic", 1),
        (6, "t", "upsert", "zeta document", 1),
    ]
    state = snapshot_state(_corpus(spark))
    one_log, one_state = apply_version_events(
        state, spark.createDataFrame(first + second, _EV_SCHEMA)
    )
    log1, mid = apply_version_events(state, spark.createDataFrame(first, _EV_SCHEMA))
    log2, two_state = apply_version_events(
        mid, spark.createDataFrame(second, _EV_SCHEMA)
    )
    two = {}
    for r in log1.collect() + log2.collect():
        key = (r["source"], r["verdict"])
        n, d = two.get(key, (0, 0))
        two[key] = (n + r["n_docs"], d + r["tok_delta"])
    one = {
        (r["source"], r["verdict"]): (r["n_docs"], r["tok_delta"])
        for r in one_log.collect()
    }
    assert two == one
    assert sorted(map(tuple, two_state.collect())) == sorted(
        map(tuple, one_state.collect())
    )
