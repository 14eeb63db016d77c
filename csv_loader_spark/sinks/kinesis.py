"""Kinesis sink — the reference ADVERTISES Kinesis (README.md:2, aws-sdk in
pom.xml:100-104) but ships no Kinesis code; this is the declared-target
implementation (SURVEY §2.1 "Sinks beyond HTTP").

Shape: ``put_records`` in chunks of ≤500 (the Kinesis API limit), partition
key = vehicle_id so per-vehicle ordering holds within a shard — the property
downstream map-matching needs (SURVEY §7.4.5). Executor-side through the
HTTP sink's ``_deliver`` (``mapInArrow``), so the load's distinct counts
come from the same job; one boto3 client per partition.

Retry matrix mirrors the HTTP sink's mapping of the reference
(CsvLoader.java:200-233) onto the Kinesis API: PutRecords can PARTIALLY
fail (per-record ErrorCode, e.g. ProvisionedThroughputExceededException,
with HTTP 200 overall), so only the failed subset is re-put after
``retry_interval`` — by default forever, like the reference's
``while(!dataSent)``. At-least-once: a record whose response was lost in
transit is resent.

The boto3 import stays gated (the default client factory raises a clear
error at call time when absent); the chunking/partition-key/retry path
runs against any injected ``client_factory``
(tests/test_kinesis_sink.py drives ``write_kinesis`` end-to-end with a fake
client, and its moto-backed tests exercise the real client marshalling:
botocore parameter validation, true PutRecords response shapes, shard
read-back of the protobuf payload).
"""

from __future__ import annotations

import sys
import time
from collections.abc import Iterable, Iterator
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, Row

from csv_loader_spark.sinks.envelope import framed_messages
from csv_loader_spark.sinks.http import RETRY_INTERVAL_S, _deliver, _load_counts, _slices

try:  # pragma: no cover - absent in the test container
    import boto3  # type: ignore
except ImportError:  # pragma: no cover
    boto3 = None

PUT_RECORDS_LIMIT = 500  # Kinesis PutRecords hard cap per call


def records_for_kinesis(
    batches: Iterable,
    *,
    chunk_size: int = PUT_RECORDS_LIMIT,
) -> Iterator[list[dict]]:
    """Arrow record batches with the envelope's ROW_COLUMNS →
    PutRecords entry chunks, in row order: Data = the row's one-location
    protobuf VehicleMessage, cut from the columnar encoder's buffer;
    PartitionKey = vehicle_id as a decimal string (per-vehicle shard
    ordering)."""
    for rows in _slices(batches, chunk_size):
        buf, offsets = framed_messages(rows)
        data, bounds = buf.tobytes(), offsets.tolist()
        keys = rows.column("vehicle_id").cast(pa.string()).to_pylist()
        yield [
            {"Data": data[start + 2 : end], "PartitionKey": key}
            for start, end, key in zip(bounds, bounds[1:], keys)
        ]


def put_records_with_retry(
    client,
    stream_name: str,
    chunk: list[dict],
    *,
    retry_interval: float = RETRY_INTERVAL_S,
    max_retries: int | None = None,
) -> int:
    """PutRecords one ≤500-entry chunk, re-putting ONLY the failed subset
    until everything lands (the documented PutRecords contract: the call
    returns 200 with per-record ErrorCodes on partial failure, and order
    within the response matches the request). Transport exceptions retry
    the whole pending subset the same way. Returns the number of attempts
    used; raises after ``max_retries`` re-attempts (None = forever, the
    reference's matrix)."""
    pending = chunk
    attempt = 0
    while True:
        # Only the network call is retried-on-exception: a malformed
        # RESPONSE (missing keys, wrong shapes) is a contract/programming
        # error and must raise, not spin forever as a fake transport error.
        try:
            resp = client.put_records(StreamName=stream_name, Records=pending)
        except Exception as e:  # transport error: retry whole pending set
            print(f"kinesis: transport error {e!r}, retrying", file=sys.stderr)
        else:
            # Enforce the PutRecords response contract up front: a response
            # missing FailedRecordCount/Records, or whose Records array
            # doesn't line up 1:1 with the request, cannot be interpreted —
            # treating it as success would silently DROP records and
            # zip-truncation would silently mark unacknowledged records
            # delivered. Raise; at-least-once must never degrade quietly.
            if "FailedRecordCount" not in resp or "Records" not in resp:
                raise RuntimeError(
                    "kinesis: malformed PutRecords response (missing "
                    f"FailedRecordCount/Records): {sorted(resp)[:8]}"
                )
            results = resp["Records"]
            if len(results) != len(pending):
                raise RuntimeError(
                    f"kinesis: PutRecords returned {len(results)} results "
                    f"for {len(pending)} records — response out of sync"
                )
            if not resp["FailedRecordCount"]:
                return attempt + 1
            failed = [
                entry
                for entry, res in zip(pending, results)
                if res.get("ErrorCode")
            ]
            if not failed:
                # FailedRecordCount > 0 but no per-record ErrorCode: a
                # contract violation — retrying would re-put an empty (or
                # the wrong) set forever.
                raise RuntimeError(
                    "kinesis: FailedRecordCount="
                    f"{resp['FailedRecordCount']} but no record carries an "
                    "ErrorCode — malformed PutRecords response"
                )
            codes = {r["ErrorCode"] for r in results if r.get("ErrorCode")}
            print(
                f"kinesis: {len(failed)}/{len(pending)} records failed "
                f"({', '.join(sorted(codes))}), retrying",
                file=sys.stderr,
            )
            pending = failed
        attempt += 1
        if max_retries is not None and attempt > max_retries:
            raise RuntimeError(
                f"kinesis: {len(pending)} records still failing after "
                f"{max_retries} retries"
            )
        time.sleep(retry_interval)


def _default_client_factory(region: str | None) -> Callable[[], object]:
    if boto3 is None:
        raise NotImplementedError(
            "boto3 is not available in this environment; Kinesis delivery "
            "needs an injected client_factory (the full chunk/retry path is "
            "tested with a fake client in tests/test_kinesis_sink.py)"
        )
    return lambda: boto3.client("kinesis", region_name=region)  # pragma: no cover


def write_kinesis(
    pings: DataFrame,
    stream_name: str,
    region: str | None = None,
    *,
    client_factory: Callable[[], object] | None = None,
    retry_interval: float = RETRY_INTERVAL_S,
    max_retries: int | None = None,
) -> Row:
    """Executor-side Kinesis delivery: one client per partition, ≤500-entry
    PutRecords chunks, vehicle_id partition key, partial-failure retry.
    Returns the load's counts (``_load_counts``).

    ``client_factory`` (a zero-arg callable returning a boto3-shaped
    client) is built per PARTITION on the executor — injectable for tests
    and for credential customization; defaults to ``boto3.client``."""
    factory = client_factory or _default_client_factory(region)

    def _send(batches: Iterator) -> None:
        client = factory()
        for chunk in records_for_kinesis(batches):
            put_records_with_retry(
                client,
                stream_name,
                chunk,
                retry_interval=retry_interval,
                max_retries=max_retries,
            )

    return _load_counts(_deliver(pings, _send))
