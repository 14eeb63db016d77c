"""Loopback HTTP receiver for the ingest workloads, and the envelope decoder
that checks what it received.

Run as its own process (``python receiver.py``, or :class:`ReceiverProcess`):
it binds 127.0.0.1 on a free port, prints the port on stdout and then
acknowledges every POST with 200 after storing the body and the monotonic
time of the ack. The handler does no decoding, so receiver CPU stays off
the measured path. After the timed window the benchmark fetches everything
with ``GET /dump`` and checks it with :func:`decode_envelope`, a
protobuf-wire decoder written here from the wire layout rather than
imported from the package under test.
"""

from __future__ import annotations

import os
import struct
import subprocess
import sys
import threading
import time
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_MASK64 = (1 << 64) - 1
_DUMP_HEADER = struct.Struct("<dI")  # ack time (monotonic s), body length


class _Handler(BaseHTTPRequestHandler):
    server: "_Receiver"

    def do_POST(self) -> None:  # noqa: N802 - http.server naming
        length = self.headers.get("Content-Length")
        if length is None:
            self.server.count(non_2xx=True)
            self.send_error(411)
            return
        body = self.rfile.read(int(length))
        self.server.store(body)
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def do_GET(self) -> None:  # noqa: N802
        if self.path != "/dump":
            self.send_error(404)
            return
        body, requests, non_2xx = self.server.dump()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.send_header("X-Requests", str(requests))
        self.send_header("X-Non-2xx", str(non_2xx))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args) -> None:
        pass


class _Receiver(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self) -> None:
        super().__init__(("127.0.0.1", 0), _Handler)
        self._lock = threading.Lock()
        self._bodies: list[tuple[float, bytes]] = []
        self._requests = 0
        self._non_2xx = 0

    def store(self, body: bytes) -> None:
        with self._lock:
            self._requests += 1
            self._bodies.append((time.monotonic(), body))

    def count(self, non_2xx: bool) -> None:
        with self._lock:
            self._requests += 1
            self._non_2xx += non_2xx

    def dump(self) -> tuple[bytes, int, int]:
        with self._lock:
            parts = [_DUMP_HEADER.pack(t, len(b)) + b for t, b in self._bodies]
            return b"".join(parts), self._requests, self._non_2xx


def fetch_dump(url: str) -> tuple[list[tuple[float, bytes]], int, int]:
    """``(ack time, body)`` for every stored POST, plus the request and
    non-2xx counts, from a running receiver at ``url``."""
    with urllib.request.urlopen(url + "/dump", timeout=60) as resp:
        raw = resp.read()
        requests = int(resp.headers["X-Requests"])
        non_2xx = int(resp.headers["X-Non-2xx"])
    out, i = [], 0
    while i < len(raw):
        t, n = _DUMP_HEADER.unpack_from(raw, i)
        i += _DUMP_HEADER.size
        out.append((t, raw[i : i + n]))
        i += n
    return out, requests, non_2xx


class ReceiverProcess:
    """A receiver in a child process, stopped and waited for on exit."""

    def __enter__(self) -> "ReceiverProcess":
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)], stdout=subprocess.PIPE, text=True
        )
        self.url = f"http://127.0.0.1:{int(self.proc.stdout.readline())}"
        return self

    def dump(self) -> tuple[list[tuple[float, bytes]], int, int]:
        return fetch_dump(self.url)

    def __exit__(self, *exc) -> None:
        self.proc.terminate()
        self.proc.wait(timeout=10)
        self.proc.stdout.close()


# --- decoder ---------------------------------------------------------------


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    value = shift = 0
    while True:
        b = buf[i]
        i += 1
        value |= (b & 0x7F) << shift
        if b < 0x80:
            return value, i
        shift += 7


def _int64(v: int) -> int:
    v &= _MASK64
    return v - (1 << 64) if v >> 63 else v


def _fields(buf: bytes):
    """(field number, value) pairs; values are ints, or bytes for fixed64
    and length-delimited fields."""
    i, end = 0, len(buf)
    while i < end:
        key, i = _varint(buf, i)
        wire = key & 7
        if wire == 0:
            value, i = _varint(buf, i)
        elif wire == 1:
            value, i = buf[i : i + 8], i + 8
        elif wire == 2:
            n, i = _varint(buf, i)
            value, i = buf[i : i + n], i + n
        else:
            raise ValueError(f"unexpected wire type {wire}")
        yield key >> 3, value


def decode_envelope(body: bytes) -> tuple[int, list[tuple[int, float, float, int]]]:
    """``VehicleMessageEnvelope{1: sourceId, 2: messages}`` with
    ``VehicleMessage{1: vehicleId, 2: locations}`` and
    ``VehicleLocation{1: lat, 2: lon, 3: timestamp}`` → source id and
    ``(vehicle_id, lat, lon, ts_millis)`` per location."""
    source_id, rows = 0, []
    for field_no, value in _fields(body):
        if field_no == 1:
            source_id = _int64(value)
            continue
        vehicle_id, locations = 0, []
        for mf, mv in _fields(value):
            if mf == 1:
                vehicle_id = _int64(mv)
            else:
                loc = dict(_fields(mv))
                locations.append(
                    (struct.unpack("<d", loc[1])[0], struct.unpack("<d", loc[2])[0], _int64(loc[3]))
                )
        rows.extend((vehicle_id, lat, lon, ts) for lat, lon, ts in locations)
    return source_id, rows


def main() -> int:
    server = _Receiver()
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
