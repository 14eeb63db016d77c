"""HTTP sink tests against a local server: envelope bytes, batch boundaries,
retry-on-transport-error, proceed-on-500 (CsvLoader.java:196-235 matrix)."""

import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from csv_loader_spark.io.pings import distinct_vehicle_counts
from csv_loader_spark.sinks.envelope import decode_envelope
from csv_loader_spark.sinks.http import post_bytes, post_partition, write_http


class _Recorder(BaseHTTPRequestHandler):
    payloads: list[bytes] = []
    fail_next_with: list[int] = []  # status codes to return for coming requests
    requests = 0

    def do_POST(self):  # noqa: N802
        type(self).requests += 1
        body = self.rfile.read(int(self.headers["Content-Length"]))
        status = self.fail_next_with.pop(0) if self.fail_next_with else 200
        if status == 200:
            type(self).payloads.append(body)
        self.send_response(status)
        self.end_headers()

    def log_message(self, *a):  # silence
        pass


@pytest.fixture()
def http_server():
    _Recorder.payloads = []
    _Recorder.fail_next_with = []
    _Recorder.requests = 0
    srv = HTTPServer(("127.0.0.1", 0), _Recorder)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/locationUpdate", _Recorder
    srv.shutdown()


def _rows(n, start=0):
    return [
        {"vehicle_id": start + i, "lat": 1.0 + i, "lon": 2.0 + i, "ts_millis": i}
        for i in range(n)
    ]


def test_batch_boundaries_and_payload(http_server):
    url, rec = http_server
    sent = post_partition(iter(_rows(25)), url, source_id=99, batch_size=10)
    assert sent == 25
    sizes = [len(decode_envelope(p).messages) for p in rec.payloads]
    assert sizes == [10, 10, 5]  # 10,001-analog grouping + final partial flush
    env = decode_envelope(rec.payloads[0])
    assert env.source_id == 99
    assert env.messages[3][0] == 3
    assert env.messages[3][1] == [(4.0, 5.0, 3)]


def test_http_error_proceeds_as_sent(http_server):
    url, rec = http_server
    rec.fail_next_with = [500]
    status = post_bytes(url, b"payload", max_retries=0)
    assert status == 500  # logged + treated as sent: no retry, no raise


def test_transport_error_retries_then_succeeds(http_server):
    url, rec = http_server
    # a port with no listener → connection refused → retry path; then real URL
    import urllib.error

    with pytest.raises((urllib.error.URLError, OSError)):
        post_bytes("http://127.0.0.1:1/x", b"p", retry_interval=0.05, max_retries=1)
    # against the live server it succeeds without retries
    assert post_bytes(url, b"p2", max_retries=0) == 200
    assert rec.payloads[-1] == b"p2"


def test_transport_failure_after_receipt_duplicates_envelope(http_server):
    """At-least-once parity (CsvLoader.java:226-233): if the POST reaches
    the server but the response is lost, the sender retries and the server
    receives the SAME envelope twice — duplicates are the reference's
    documented behavior on transport errors, reproduced here."""
    url, rec = http_server
    rec.fail_next_with = [-1]  # sentinel: receive body, then drop connection
    original_do_post = rec.do_POST

    def do_post_with_drop(self):
        body = self.rfile.read(int(self.headers["Content-Length"]))
        if type(self).fail_next_with and type(self).fail_next_with[0] == -1:
            type(self).fail_next_with.pop(0)
            type(self).payloads.append(body)  # server DID process it...
            self.connection.close()  # ...but the response never arrives
            return
        type(self).payloads.append(body)
        self.send_response(200)
        self.end_headers()

    rec.do_POST = do_post_with_drop
    try:
        status = post_bytes(url, b"envelope-X", retry_interval=0.05, max_retries=3)
        assert status == 200
        assert rec.payloads == [b"envelope-X", b"envelope-X"]  # duplicate
    finally:
        rec.do_POST = original_do_post


def test_write_http_from_dataframe(spark, http_server):
    url, rec = http_server
    df = spark.createDataFrame(
        [("1", 1, 10, 1.0, 2.0), ("2", 2, 20, 3.0, 4.0), ("3", 3, 30, 5.0, 6.0)],
        "vehicle_id_str string, vehicle_id long, ts_millis long, lat double, lon double",
    ).coalesce(1)
    write_http(df, url, source_id=7, max_retries=2)
    got = sorted(
        (vid, locs[0]) for p in rec.payloads for vid, locs in decode_envelope(p).messages
    )
    assert got == [(1, (1.0, 2.0, 10)), (2, (3.0, 4.0, 20)), (3, (5.0, 6.0, 30))]


def _low64(id_str: str) -> int:
    return (int(id_str) + 2**63) % 2**64 - 2**63


def _one_partition_frame(spark):
    """25,001 rows in one partition (three envelopes: 10,001 / 10,001 /
    4,999 rows); ids above 2^63 wrap onto other ids."""
    rows = []
    for i in range(25_001):
        k = i % 997
        id_str = (str(k), str(2**63 + k), str(2**64 + k))[i % 3 if k < 50 else 0]
        rows.append((id_str, _low64(id_str), 1_431_025_202_000 + i, k / 10, -i / 100))
    df = spark.createDataFrame(
        rows,
        "vehicle_id_str string, vehicle_id long, ts_millis long, lat double, lon double",
    ).coalesce(1)
    return rows, df


def test_write_http_posts_in_order_and_returns_distinct_counts(spark, http_server):
    """One partition of 25,001 rows: three envelopes of 10,001 / 10,001 /
    4,999 rows in input order, none posted twice, and the returned counts
    equal distinct_vehicle_counts. Ids above 2^63 wrap onto other ids, so
    n_vehicles != n_ids (CsvLoader.java:105-106,165)."""
    url, rec = http_server
    rows, df = _one_partition_frame(spark)

    counts = write_http(df, url, source_id=11, max_retries=2)

    envelopes = [decode_envelope(p) for p in rec.payloads]
    assert [len(e.messages) for e in envelopes] == [10_001, 10_001, 4_999]
    assert len(set(rec.payloads)) == len(rec.payloads)
    assert {e.source_id for e in envelopes} == {11}
    got = [(vid, *locs[0]) for e in envelopes for vid, locs in e.messages]
    assert got == [(vid, lat, lon, ts) for _, vid, ts, lat, lon in rows]
    assert counts.asDict() == distinct_vehicle_counts(df).collect()[0].asDict()
    assert counts["n_vehicles"] != counts["n_ids"]


def test_write_http_drops_an_envelope_refused_with_500(spark, http_server):
    """The reference's loss policy at the DataFrame level
    (CsvLoader.java:217-224): an envelope answered with a non-2xx status is
    not retried, the load goes on, and the returned counts still include
    its rows, so the loss is silent to the caller."""
    url, rec = http_server
    rows, df = _one_partition_frame(spark)
    rec.fail_next_with = [200, 500]

    counts = write_http(df, url, source_id=11, max_retries=2)

    assert counts.asDict() == distinct_vehicle_counts(df).collect()[0].asDict()
    assert rec.requests == 3  # no retry of the refused envelope
    envelopes = [decode_envelope(p) for p in rec.payloads]
    assert [len(e.messages) for e in envelopes] == [10_001, 4_999]
    got = [(vid, *locs[0]) for e in envelopes for vid, locs in e.messages]
    assert got == [(vid, lat, lon, ts) for _, vid, ts, lat, lon in rows[:10_001] + rows[20_002:]]
