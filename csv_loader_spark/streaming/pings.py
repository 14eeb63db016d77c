"""Streaming ping ingestion (SURVEY §7.2 M3): readStream → parse chain →
foreachBatch HTTP sink, with checkpointed exactly-once source tracking. Each
micro-batch posts through the batch sink's ``_deliver``, so batch and
streaming loads share one delivery path, and one job per batch both sends
it and returns the id-pair counts its metrics are built from.

The reference is a one-shot single-pass loader: a crash mid-file restarts
from scratch under a NEW sourceId (CsvLoader.java:63), and its only
backpressure is "the read loop blocks inside the POST retry" (:162,:200-233).
Structured Streaming upgrades both for free: the checkpoint makes source
progress exactly-once (re-run resumes, no re-send of completed batches), and
micro-batch scheduling gives the same blocking backpressure per batch.

Metrics (op 17): the reference prints cumulative records + dual exact
distinct-vehicle counts per flushed batch from unbounded in-memory HashSets
(:105-106,:165) — fine for one city's vehicles, not for 100 TB. Default
here is ``metrics="approx"``: per batch the executors build one
``hll_sketch_agg`` sketch per counter (DataSketches HLL, ~KB), the driver
unions it into a running cumulative sketch, and the printed count is the
estimate of the UNION — a true cumulative distinct over the whole load
(matching the reference's counter semantics within HLL error, ~2% at
lgConfigK=12), with bounded driver state and NO id-row materialization.
A ``max`` of per-batch counts would instead report the largest
single-batch cardinality and arbitrarily underestimate once batches carry
disjoint vehicles. ``metrics="exact"`` is the documented reference-parity
OPT-IN (it collects the batch's id pairs as Arrow and grows unbounded
driver sets, exactly like the reference's HashSets).
"""

from __future__ import annotations

import sys
from dataclasses import dataclass, field

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from csv_loader_spark.io.pings import CSV_OPTIONS, progress_line, project_pings
from csv_loader_spark.sinks.http import (
    _ID_KEYS, BATCH_SIZE, RETRY_INTERVAL_S, _deliver, _envelope_sender,
)


def stream_pings(
    spark: SparkSession, src_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Incremental CSV source over a directory (new files = new data), same
    parse chain as batch ``read_pings`` — one code path, two execution modes."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return project_pings(reader.csv(src_dir, **CSV_OPTIONS))


@dataclass
class IngestMetrics:
    """Driver-side running metrics, printed per micro-batch like the
    reference's progress line (CsvLoader.java:165)."""

    records: int = 0
    vehicles_str: set = field(default_factory=set)
    vehicle_ids: set = field(default_factory=set)
    approx_vehicles: int = 0
    approx_ids: int = 0
    # cumulative DataSketches HLL sketches (bounded, ~KB each): the union
    # of every batch's sketch so far; approx_* above hold their estimates
    hll_vehicles: bytes | None = None
    hll_ids: bytes | None = None
    # highest batch_id whose metrics were applied: foreachBatch is
    # at-least-once (a failed/restarted batch REPLAYS under the same id),
    # and while set-union and HLL-union are idempotent under replay, the
    # ``records`` counter is not — a repeated id must not double-count
    last_batch_id: int | None = None

    def line(self, exact: bool) -> str:
        if exact:
            nv, ni = len(self.vehicles_str), len(self.vehicle_ids)
        else:
            nv, ni = self.approx_vehicles, self.approx_ids
        return progress_line(self.records, nv, ni)


def update_batch_metrics(
    state: IngestMetrics, batch_df: DataFrame, batch_id: int, metrics: str
) -> None:
    """Apply one micro-batch of pings' progress metrics to ``state``."""
    id_counts = batch_df.select(*_ID_KEYS, F.lit(1).alias("n"))
    _apply_id_counts(state, id_counts, batch_id, metrics)


def _apply_id_counts(
    state: IngestMetrics, id_counts: DataFrame, batch_id: int, metrics: str
) -> None:
    """Run one job over ``id_counts`` — (vehicle_id_str, vehicle_id, n)
    rows, ``n`` rows of that pair each, such as a ``_deliver`` frame — and
    apply its records and distinct counts to ``state``.

    Replay-safe: foreachBatch is at-least-once, so after a failure/restart
    the same batch_id fires again with the same data. The job still runs
    (on a ``_deliver`` frame it is the delivery), but a repeated (or
    older) id changes no metric — set/HLL unions would tolerate the
    replay, but ``records += n`` would double-count, and a counter that
    looks exactly-once must be exactly-once. The progress line is still
    printed (the reference prints per flush, CsvLoader.java:165)."""
    replayed = state.last_batch_id is not None and batch_id <= state.last_batch_id
    if metrics == "exact":
        # reference-parity dual distinct (unbounded, like :105-106), from
        # the same Arrow collection as the batch sink's _load_counts
        t = id_counts.toArrow()
        if not replayed:
            state.records += pc.sum(t["n"]).as_py() or 0
            state.vehicles_str.update(t["vehicle_id_str"].to_pylist())
            state.vehicle_ids.update(t["vehicle_id"].to_pylist())
        print(state.line(exact=True), file=sys.stderr)
    else:  # "approx"
        # One mergeable HLL sketch per counter per batch (executor side,
        # partial-agg combined), unioned into the running cumulative
        # sketch so the printed number estimates the distinct count over
        # ALL batches — not max-of-batches, which underestimates as soon
        # as batches carry disjoint vehicles. The union runs as a literal
        # expression in the same one-row agg job; driver state stays ~KB.
        agg_df = id_counts.agg(
            # a sum over no rows is NULL: an empty batch has 0 records
            F.coalesce(F.sum("n"), F.lit(0)).alias("n"),
            F.hll_sketch_agg("vehicle_id_str").alias("sv"),
            F.hll_sketch_agg("vehicle_id").alias("si"),
        )
        if state.hll_vehicles is not None:
            agg_df = agg_df.select(
                "n",
                F.hll_union(F.lit(state.hll_vehicles), "sv").alias("sv"),
                F.hll_union(F.lit(state.hll_ids), "si").alias("si"),
            )
        row = agg_df.select(
            "n",
            "sv",
            "si",
            F.hll_sketch_estimate("sv").alias("ev"),
            F.hll_sketch_estimate("si").alias("ei"),
        ).collect()[0]
        # An empty batch yields an EMPTY sketch (not null), and
        # union(prev, empty) == prev — measured, so this null guard is
        # belt-and-braces against future null-propagating expression
        # changes, not a load-bearing branch.
        if not replayed:
            state.records += row["n"]
            if row["sv"] is not None:
                state.hll_vehicles = bytes(row["sv"])
                state.hll_ids = bytes(row["si"])
                state.approx_vehicles = int(row["ev"])
                state.approx_ids = int(row["ei"])
        print(state.line(exact=False), file=sys.stderr)
    if not replayed:
        state.last_batch_id = batch_id


def write_stream_http(
    pings: DataFrame,
    url: str,
    source_id: int,
    checkpoint_dir: str,
    *,
    batch_size: int = BATCH_SIZE,
    retry_interval: float = RETRY_INTERVAL_S,
    max_retries: int | None = None,
    metrics: str = "approx",
    available_now: bool = False,
) -> tuple[StreamingQuery, IngestMetrics]:
    """foreachBatch → ``_deliver`` per micro-batch (executor-side POSTs).
    ``metrics`` is ``"approx"`` or ``"exact"`` (module docstring).

    ``available_now=True`` drains everything currently in the source then
    stops — the batch-equivalent trigger used by tests and backfills.
    """
    state = IngestMetrics()
    send = _envelope_sender(url, source_id, batch_size, retry_interval, max_retries)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # one job per micro-batch: it posts the batch and returns the
        # id-pair counts its metrics are built from
        _apply_id_counts(state, _deliver(batch_df, send), batch_id, metrics)

    writer = (
        pings.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), state
