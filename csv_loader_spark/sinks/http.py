"""HTTP POST sink with the reference's retry matrix (op 16, CsvLoader.java:196-235).

Delivery semantics reproduced exactly:
- transport error (connection refused/reset, timeout) → sleep ``retry_interval``
  and retry — by default forever, like the reference's ``while(!dataSent)``
  (:200-233). Duplicate envelopes are possible (at-least-once): a POST that
  reached the server but died on the response is resent.
- HTTP status outside 2xx → log and treat as sent (:217-224) — at-most-once
  on application errors, data loss possible. Reference behavior, preserved.
- a fresh connection per attempt (the reference builds a new
  CloseableHttpClient every try, :202-204; urllib does this naturally).

Scale shape: ``_deliver`` is the one executor-side delivery shape, shared
by ``write_http``, the Kinesis sink and each streaming micro-batch. It runs
every partition through ``mapInArrow``: the executor's Python worker reads
its partition as Arrow batches, hands them to a sender (here ~10k-row
envelope POSTs, encoded straight from the Arrow columns), and emits one row
per distinct (vehicle_id_str, vehicle_id) with its row count. N executors
send in parallel (the reference is one thread; at 100 TB the receiver's
capacity, not the engine, is the limit — cap parallelism by coalescing
first if the receiver needs it). A load is one Spark job: the driver
collects those id-pair rows as Arrow (``toArrow``) and folds the load's
exact counts from them (``_load_counts``, which states the scale bound), so
the input is scanned and parsed once. A task or stage that
Spark recomputes (lost executor, failed fetch) sends its rows again:
at-least-once, like a transport retry.

Divergences (documented): the reference posts one final possibly-EMPTY
envelope per file (:169→:196); we skip empty flushes. Batch boundaries land
per partition, so envelope sizes differ from the reference's global
sequence — boundaries are transport packaging, not semantics (SURVEY §2 op 14).
"""

from __future__ import annotations

import sys
import time
import urllib.error
import urllib.request
from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row

from csv_loader_spark.sinks.envelope import ROW_COLUMNS, encode_columns

# Reference constants (CsvLoader.java:160,229).
BATCH_SIZE = 10_001  # flush when size() > 10000 → envelopes of 10,001
RETRY_INTERVAL_S = 5.0


def post_bytes(
    url: str,
    payload: bytes,
    *,
    retry_interval: float = RETRY_INTERVAL_S,
    max_retries: int | None = None,
    timeout: float = 30.0,
) -> int:
    """POST one envelope with the reference retry matrix; returns the final
    HTTP status. ``max_retries=None`` retries transport errors forever."""
    attempt = 0
    while True:
        try:
            req = urllib.request.Request(
                url, data=payload, headers={"Content-Type": "application/octet-stream"}
            )
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                status = resp.status
            if not 200 <= status < 300:
                # non-2xx: log, proceed as sent (reference :217-224)
                print(f"http sink: status {status}, continuing", file=sys.stderr)
            return status
        except urllib.error.HTTPError as e:
            # urllib raises on >=400; same policy: log, proceed as sent
            print(f"http sink: status {e.code}, continuing", file=sys.stderr)
            return e.code
        except (urllib.error.URLError, OSError) as e:
            attempt += 1
            if max_retries is not None and attempt > max_retries:
                raise
            print(
                f"http sink: transport error ({e}), retry in {retry_interval}s",
                file=sys.stderr,
            )
            time.sleep(retry_interval)


_ID_KEYS = ["vehicle_id_str", "vehicle_id"]
_ID_COUNTS_SCHEMA = "vehicle_id_str string, vehicle_id long, n long"


def _slices(batches: Iterable, size: int) -> Iterator:
    """The rows of Arrow ``batches`` regrouped, in order, into Arrow tables
    of ``size`` rows (the last one shorter), cut with zero-copy slices."""
    parts: list = []
    held = 0
    for batch in batches:
        while batch.num_rows:
            part = batch.slice(0, size - held)
            parts.append(part)
            held += part.num_rows
            batch = batch.slice(part.num_rows)
            if held == size:
                yield pa.Table.from_batches(parts)
                parts, held = [], 0
    if held:
        yield pa.Table.from_batches(parts)


def _deliver(pings: DataFrame, send: Callable[[Iterator], object]) -> DataFrame:
    """Drive every partition of ``pings`` through ``send`` on the executors.

    ``send`` gets one partition's Arrow record batches in order, each with
    the ``ROW_COLUMNS`` (vehicle_id, lat, lon, ts_millis), and must consume
    them all. Returns the lazy frame of (vehicle_id_str, vehicle_id, n)
    rows, one per distinct id pair of each partition with its row count,
    tallied as the batches pass: nothing is sent until an action runs on
    it, and every action sends again. ``_load_counts`` folds it into the
    load's counts from the job that sends."""

    def _send_and_count(batches: Iterator) -> Iterator:
        tallies: list = []

        def _tallied() -> Iterator:
            for batch in batches:
                ids = pa.Table.from_batches([batch]).select(_ID_KEYS)
                tallies.append(ids.group_by(_ID_KEYS).aggregate([([], "count_all")]))
                yield batch

        send(_tallied())
        if tallies:  # yielded only once every row is sent
            counts = pa.concat_tables(tallies).group_by(_ID_KEYS)
            counts = counts.aggregate([("count_all", "sum")])
            yield from counts.select([*_ID_KEYS, "count_all_sum"]).rename_columns(
                [*_ID_KEYS, "n"]
            ).to_batches()

    return pings.select("vehicle_id_str", *ROW_COLUMNS).mapInArrow(
        _send_and_count, _ID_COUNTS_SCHEMA
    )


def _load_counts(id_counts: DataFrame) -> Row:
    """Run a ``_deliver`` frame as one Spark job and fold its Arrow result
    on the driver: the load's (n_records, n_vehicles, n_ids), the same
    exact counts as ``io.pings.distinct_vehicle_counts``.

    Scale bound: the driver receives one row per distinct id pair per
    partition. A plain, gz or zip file is one partition, so that is the
    file's distinct set, the same state the reference keeps in its two
    HashSets (CsvLoader.java:105-106); a directory of files sends at most
    files × distinct rows."""
    t = id_counts.toArrow()
    return Row(
        # a sum over no rows is NULL: an empty load has 0 records
        n_records=pc.sum(t["n"]).as_py() or 0,
        n_vehicles=pc.count_distinct(t["vehicle_id_str"]).as_py(),
        n_ids=pc.count_distinct(t["vehicle_id"]).as_py(),
    )


def _envelope_sender(
    url: str,
    source_id: int,
    batch_size: int,
    retry_interval: float,
    max_retries: int | None,
) -> Callable[[Iterator], None]:
    """A ``_deliver`` sender that posts a partition's rows as protobuf
    envelopes of ``batch_size`` rows (micro-batcher, op 14)."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be at least 1, got {batch_size}")

    def _post(batches: Iterator) -> None:
        for rows in _slices(batches, batch_size):
            post_bytes(
                url,
                encode_columns(source_id, rows),
                retry_interval=retry_interval,
                max_retries=max_retries,
            )

    return _post


def write_http(
    pings: DataFrame,
    url: str,
    source_id: int,
    *,
    batch_size: int = BATCH_SIZE,
    retry_interval: float = RETRY_INTERVAL_S,
    max_retries: int | None = None,
) -> Row:
    """Batch-mode sink: every partition posts its rows as envelopes of
    ``batch_size`` rows. Executor-side, no driver collect; returns the
    load's counts (``_load_counts``)."""
    send = _envelope_sender(url, source_id, batch_size, retry_interval, max_retries)
    return _load_counts(_deliver(pings, send))
