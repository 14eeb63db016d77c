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

Scale shape: ``write_http`` runs every partition through ``mapInArrow``.
The executor's Python worker reads its partition as Arrow batches, posts it
in ~10k-row envelopes, and emits one row per distinct (vehicle_id_str,
vehicle_id) with its row count. The driver never materializes the data, N
executors POST in parallel (the reference is one thread; at 100 TB the
receiver's capacity, not the engine, is the limit — cap parallelism by
coalescing first if the receiver needs it), and the load's distinct counts
come from a Spark aggregate over those small rows in the same job, so the
file is scanned and parsed once. A task or stage that Spark recomputes
(lost executor, failed fetch) posts its envelopes again: at-least-once, like
a transport retry.

Divergences (documented): the reference posts one final possibly-EMPTY
envelope per file (:169→:196); we skip empty flushes. Batch boundaries land
per partition, so envelope sizes differ from the reference's global
sequence — boundaries are transport packaging, not semantics (SURVEY §2 op 14).
"""

from __future__ import annotations

import itertools
import sys
import time
import urllib.error
import urllib.request
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from csv_loader_spark.sinks.envelope import encode_envelope

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


def _chunks(it: Iterator, size: int) -> Iterator[list]:
    while True:
        chunk = list(itertools.islice(it, size))
        if not chunk:
            return
        yield chunk


def _post_tuples(
    tuples: Iterable[tuple[int, float, float, int]],
    url: str,
    source_id: int,
    *,
    batch_size: int,
    retry_interval: float,
    max_retries: int | None,
) -> int:
    sent = 0
    for chunk in _chunks(iter(tuples), batch_size):
        post_bytes(
            url,
            encode_envelope(source_id, chunk),
            retry_interval=retry_interval,
            max_retries=max_retries,
        )
        sent += len(chunk)
    return sent


def post_partition(
    rows: Iterable,
    url: str,
    source_id: int,
    *,
    batch_size: int = BATCH_SIZE,
    retry_interval: float = RETRY_INTERVAL_S,
    max_retries: int | None = None,
) -> int:
    """Stream one partition's rows to the sink in ``batch_size`` envelopes
    (micro-batcher, op 14). Returns rows sent. Rows need fields
    (vehicle_id, lat, lon, ts_millis)."""
    return _post_tuples(
        ((r["vehicle_id"], r["lat"], r["lon"], r["ts_millis"]) for r in rows),
        url,
        source_id,
        batch_size=batch_size,
        retry_interval=retry_interval,
        max_retries=max_retries,
    )


_ID_KEYS = ["vehicle_id_str", "vehicle_id"]
_ID_COUNTS_SCHEMA = "vehicle_id_str string, vehicle_id long, n long"


def _arrow_tuples(batches: Iterable, tallies: list) -> Iterator[tuple]:
    """The (vehicle_id, lat, lon, ts_millis) rows of Arrow ``batches`` in
    order; appends each batch's row count per distinct id pair to
    ``tallies`` as it goes."""
    import pyarrow as pa

    for batch in batches:
        ids = pa.Table.from_batches([batch]).select(_ID_KEYS)
        tallies.append(ids.group_by(_ID_KEYS).aggregate([([], "count_all")]))
        cols = ("vehicle_id", "lat", "lon", "ts_millis")
        yield from zip(*(batch.column(c).to_pylist() for c in cols))


def write_http(
    pings: DataFrame,
    url: str,
    source_id: int,
    *,
    batch_size: int = BATCH_SIZE,
    retry_interval: float = RETRY_INTERVAL_S,
    max_retries: int | None = None,
) -> Row:
    """Batch-mode sink: every partition posts its rows as protobuf envelopes.

    Executor-side, no driver collect — the 100 TB-safe shape. Returns the
    load's (n_records, n_vehicles, n_ids), the same exact counts as
    ``io.pings.distinct_vehicle_counts``, from the same job that posts."""

    def _post_and_count(batches: Iterator) -> Iterator:
        import pyarrow as pa

        tallies: list = []
        _post_tuples(
            _arrow_tuples(batches, tallies),
            url,
            source_id,
            batch_size=batch_size,
            retry_interval=retry_interval,
            max_retries=max_retries,
        )
        if tallies:  # yielded only once every envelope is posted
            counts = pa.concat_tables(tallies).group_by(_ID_KEYS)
            counts = counts.aggregate([("count_all", "sum")])
            yield from counts.select([*_ID_KEYS, "count_all_sum"]).rename_columns(
                [*_ID_KEYS, "n"]
            ).to_batches()

    id_counts = pings.select(
        *_ID_KEYS, "lat", "lon", "ts_millis"
    ).mapInArrow(_post_and_count, _ID_COUNTS_SCHEMA)
    return id_counts.agg(
        # a sum over no rows is NULL: an empty load has 0 records
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_records"),
        F.countDistinct("vehicle_id_str").alias("n_vehicles"),
        F.countDistinct("vehicle_id").alias("n_ids"),
    ).collect()[0]
