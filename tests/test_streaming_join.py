"""Stream-stream watermarked interval join (events_stream.attribution_pairs):
the REAL streaming execution (availableNow → memory sink) must produce
exactly the batch-mode pair set on the same data, and the join must be
running as a genuine StreamingSymmetricHashJoin with watermarked state,
not a batch fallback.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from csv_loader_spark.io.tables import load_table, normalize_event_ts
from csv_loader_spark.session import tune_session
from csv_loader_spark.streaming.events_stream import attribution_pairs

SF_DIR = "/root/testdata/sf0.001"


def _pair_set(df):
    return sorted(
        (r["user_id"], r["view_id"], r["click_id"])
        for r in df.select("user_id", "view_id", "click_id").collect()
    )


def test_stream_stream_join_equals_batch(spark, tmp_path):
    # one incremental source, split into the two join sides by filter —
    # a self stream-stream join, the attribution shape. The file-stream
    # source needs a DIRECTORY; stage the single-file fixture into one.
    import shutil

    src = tmp_path / "events_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "events.parquet")
    tune_session(spark)  # events.parquet's nanosecond timestamps
    schema = spark.read.parquet(str(src)).schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    pairs = attribution_pairs(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "click"),
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("attrib_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)
    progress = q.lastProgress
    got = _pair_set(spark.table("attrib_pairs"))

    e = load_table(spark, SF_DIR, "events")
    want = _pair_set(
        attribution_pairs(
            e.filter(F.col("event_type") == "view"),
            e.filter(F.col("event_type") == "click"),
        )
    )
    assert want, "fixture must produce attributed pairs"
    assert got == want

    # the streaming plan really ran a stateful symmetric hash join with a
    # non-zero watermark (i.e. state is bounded/GC-able, not a batch join)
    ops = progress["stateOperators"]
    assert any("symmetricHashJoin" in op["operatorName"] for op in ops), ops
    assert progress["eventTime"].get("watermark") is not None


def test_left_outer_emits_after_watermark_passes(spark, tmp_path):
    """A never-clicked view's null-padded row appears ONLY once the
    watermark passes its join window — staged as sequential availableNow
    runs over a shared checkpoint (each run = one batch of new files),
    which also exercises the join state's checkpoint resume."""
    from datetime import datetime

    def ev(eid, minute, user, typ):
        return (eid, datetime(2024, 1, 1, minute // 60, minute % 60), user, typ)

    schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"
    src = tmp_path / "src"
    src.mkdir()
    full_schema = None
    emitted: dict = {}

    out = tmp_path / "out"

    def run_once(name):
        # memory sink can't resume a checkpoint; the file sink can
        stream = spark.readStream.schema(full_schema).parquet(str(src))
        pairs = attribution_pairs(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "click"),
            how="left_outer",
        )
        q = (
            pairs.writeStream.format("parquet")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .option("path", str(out))
            .start()
        )
        assert q.awaitTermination(180)
        emitted.update(
            {
                (r["user_id"], r["view_id"]): r["click_id"]
                for r in spark.read.parquet(str(out)).collect()
            }
        )

    def add_file(name, rows):
        # the flat-file source doesn't recurse into Spark's output dirs:
        # write to a staging dir, copy the part file flat into src/
        import glob as _glob
        import shutil

        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
        (part,) = _glob.glob(f"{stage}/part-*.parquet")
        shutil.copy(part, src / f"{name}.parquet")

    # run 1 (t≈0h): user 1 view+click (inner match), user 2 view only
    add_file("f1", [ev(1, 0, 1, "view"), ev(2, 5, 1, "click"), ev(3, 0, 2, "view")])
    full_schema = spark.read.parquet(str(src / "f1.parquet")).schema
    run_once("ao_r1")
    assert emitted.get((1, 1)) == 2  # inner pair emits immediately
    assert (2, 3) not in emitted  # outer row NOT yet — window still open

    # run 2 (t≈1h30): pushes the watermark (30 min delay) to 1h, past
    # user 2's [0h, 0h10] join window. BOTH branches need fresh events:
    # the global watermark is the MIN over every withWatermark node, so a
    # click-side branch that never sees data pins it at 0 forever.
    add_file("f2", [ev(4, 90, 9, "view"), ev(5, 90, 8, "click")])
    run_once("ao_r2")

    # run 3 (t≈3h): one more data batch so the post-run-2 watermark acts
    add_file("f3", [ev(6, 180, 9, "view"), ev(7, 180, 8, "click")])
    run_once("ao_r3")

    assert (2, 3) in emitted and emitted[(2, 3)] is None
    # user 9's latest view may still be buffered (nothing advanced the
    # watermark past it) — the documented delayed-outer semantics
