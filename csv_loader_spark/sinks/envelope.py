"""Protobuf wire serialization of ping envelopes (ops 13-15).

The reference builds, per row, a protobuf
``VehicleMessage{vehicleId: int64, locations: repeated VehicleLocation{lat:
double, lon: double, timestamp: int64}}`` (one location per message,
CsvLoader.java:150-158) and, per ~10k batch, a
``VehicleMessageEnvelope{sourceId: int64, messages: repeated VehicleMessage}``
(:206-211) serialized with ``toByteArray()``.

``encode_envelope``/``decode_envelope`` are the batch wire format, a
hand-rolled protobuf-wire encoder (varint + fixed64 little-endian +
length-delimited submessages; the standard public encoding), verified
BYTE-FOR-BYTE against the official google.protobuf runtime in
tests/test_envelope_wire.py for the layout
VehicleLocation{1:lat fixed64, 2:lon fixed64, 3:timestamp varint},
VehicleMessage{1:vehicle_id varint, 2:locations message},
Envelope{1:source_id varint, 2:messages message} —
field numbers in declaration order of the reference's builder calls
(the protobuf convention). The upstream io.opentraffic ExchangeFormat
.proto is not vendored in the reference tree (fetch attempts logged in
SCALE.md); a differently-numbered upstream would need only these
constants re-mapped. README.md ("Wire-format compatibility") and the
CLI --help epilog state this user-facing.

The encoder is columnar: ``framed_messages`` takes the sink's Arrow
columns (int64 vehicle id and timestamp, float64 lat/lon) on the executor
(``mapInArrow``, through ``sinks.http._deliver``), computes every row's
varint lengths as numpy arrays, and scatters the fixed tags, the
little-endian doubles and the varint groups into one ``uint8`` buffer, so
no Python object is built per row. ``encode_envelope`` is a thin row
adapter over it: the wire tests check the code that ships.
"""

from __future__ import annotations

import struct
from collections.abc import Iterable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# ---------------------------------------------------------------------------
# Declared message schema (op 15): ONE table drives the hand-rolled encoder
# below, the emitted .proto source (proto_schema), and the dynamic
# descriptor (build_file_descriptor_proto) — so the wire constants, the
# user-facing schema file, and the official-runtime round-trip test cannot
# drift apart. Field numbers are declaration order of the reference's
# builder calls (CsvLoader.java:150-158, 206-211), the protobuf convention;
# see the module docstring for the upstream-numbering caveat.
# ---------------------------------------------------------------------------

#: message name -> ordered (field_name, field_number, type) where type is a
#: scalar ("double" | "int64") or ("repeated", message_name)
PROTO_SCHEMA: dict[str, list[tuple]] = {
    "VehicleLocation": [
        ("lat", 1, "double"),
        ("lon", 2, "double"),
        ("timestamp", 3, "int64"),
    ],
    "VehicleMessage": [
        ("vehicleId", 1, "int64"),
        ("locations", 2, ("repeated", "VehicleLocation")),
    ],
    "VehicleMessageEnvelope": [
        ("sourceId", 1, "int64"),
        ("messages", 2, ("repeated", "VehicleMessage")),
    ],
}


def proto_schema(package: str = "pbf") -> str:
    """The declared wire schema as .proto source text (proto2, matching
    the reference's always-emit presence semantics) — the artifact a user
    compiles with protoc to interoperate with this encoder, generated
    from PROTO_SCHEMA so it cannot drift from the wire constants."""
    out = ['syntax = "proto2";', "", f"package {package};", ""]
    for msg, fields in PROTO_SCHEMA.items():
        out.append(f"message {msg} {{")
        for name, number, ty in fields:
            if isinstance(ty, tuple):
                out.append(f"  repeated {ty[1]} {name} = {number};")
            else:
                out.append(f"  optional {ty} {name} = {number};")
        out.append("}")
        out.append("")
    return "\n".join(out)


def build_file_descriptor_proto(package: str = "pbf"):
    """PROTO_SCHEMA as a ``descriptor_pb2.FileDescriptorProto`` — the
    programmatic twin of :func:`proto_schema` for building message
    classes with the official runtime (google.protobuf must be
    importable). tests/test_envelope_wire.py serializes through the
    resulting classes and asserts byte identity with the hand-rolled
    encoder."""
    from google.protobuf import descriptor_pb2

    fdp = descriptor_pb2.FileDescriptorProto()
    fdp.name = "exchange_format_generated.proto"
    fdp.package = package
    type_map = {"double": "TYPE_DOUBLE", "int64": "TYPE_INT64"}
    for msg, fields in PROTO_SCHEMA.items():
        m = fdp.message_type.add()
        m.name = msg
        for name, number, ty in fields:
            f = m.field.add()
            f.name, f.number = name, number
            if isinstance(ty, tuple):
                f.type = f.TYPE_MESSAGE
                f.label = f.LABEL_REPEATED
                f.type_name = f".{package}.{ty[1]}"
            else:
                f.type = getattr(f, type_map[ty])
                f.label = f.LABEL_OPTIONAL
    return fdp


# ---------------------------------------------------------------------------
# Protobuf wire encoding (op 15)
# ---------------------------------------------------------------------------

_MASK64 = (1 << 64) - 1


def _tag(field_no: int, wire_type: int) -> int:
    return (field_no << 3) | wire_type


# Tags of PROTO_SCHEMA's fields; wire type 0 = varint, 1 = fixed64,
# 2 = length-delimited. Every tag, and every message and location length
# (at most 42 and 29 bytes), is below 0x80: a one-byte varint.
_SOURCE_ID, _MESSAGES = _tag(1, 0), _tag(2, 2)  # VehicleMessageEnvelope
_VEHICLE_ID, _LOCATIONS = _tag(1, 0), _tag(2, 2)  # VehicleMessage
_LAT, _LON, _TIMESTAMP = _tag(1, 1), _tag(2, 1), _tag(3, 0)  # VehicleLocation

#: the Arrow columns the encoder reads, one VehicleMessage per row
ROW_COLUMNS = ("vehicle_id", "lat", "lon", "ts_millis")
_DTYPES = (np.int64, np.float64, np.float64, np.int64)
# a varint of value v has 1 + #{k in 1..9 : v >= 2^(7k)} bytes
_VARINT_STEPS = [np.uint64(1 << (7 * k)) for k in range(1, 10)]
_LOW7 = np.uint64(0x7F)


def _varint_lengths(u: np.ndarray) -> np.ndarray:
    n = np.ones(len(u), np.int64)
    for step in _VARINT_STEPS:
        n += u >= step
    return n


def _put_varints(buf: np.ndarray, pos: np.ndarray, u: np.ndarray, n: np.ndarray) -> None:
    """Write ``u[i]`` as its ``n[i]``-byte varint at ``buf[pos[i]:]``: the
    k-th 7-bit group of every row at once, with the continuation bit on
    all groups but the last."""
    for k in range(int(n.max(initial=0))):
        live = n > k
        group = (u[live] >> np.uint64(7 * k)) & _LOW7
        buf[pos[live] + k] = group.astype(np.uint8) | ((n[live] > k + 1).astype(np.uint8) << 7)


def _varint(value: int) -> bytes:
    """Protobuf base-128 varint of an int64; a negative value encodes as its
    two's complement (10 bytes), like protobuf int64."""
    u = np.array([value], np.int64).view(np.uint64)
    n = _varint_lengths(u)
    buf = np.empty(int(n[0]), np.uint8)
    _put_varints(buf, np.zeros(1, np.int64), u, n)
    return buf.tobytes()


def _put_doubles(buf: np.ndarray, pos: np.ndarray, x: np.ndarray) -> None:
    """Write ``x[i]`` as a little-endian fixed64 at ``buf[pos[i]:]``."""
    buf[pos[:, None] + np.arange(8)] = x.astype("<f8").view(np.uint8).reshape(-1, 8)


def _numpy_columns(columns) -> list[np.ndarray]:
    """ROW_COLUMNS of an Arrow table or record batch as int64/float64 numpy
    arrays. A NULL has no wire form (``to_numpy`` would turn it into NaN),
    so a column with nulls raises."""
    out = []
    for name, dtype in zip(ROW_COLUMNS, _DTYPES):
        col = columns.column(name)
        if col.null_count:
            raise ValueError(f"cannot encode column {name!r}: {col.null_count} NULL value(s)")
        out.append(np.asarray(col.to_numpy(zero_copy_only=False), dtype))
    return out


def framed_messages(columns) -> tuple[np.ndarray, np.ndarray]:
    """Every row of ``columns`` (an Arrow table or record batch with
    ROW_COLUMNS) as an envelope's ``messages`` field, back to back in one
    ``uint8`` buffer: tag, length, then a VehicleMessage holding the
    vehicle id and one VehicleLocation, like the reference (:152-155).

    Returns ``(buf, offsets)``: row i is ``buf[offsets[i]:offsets[i + 1]]``
    and its bare VehicleMessage starts 2 bytes in. Each field is written
    for all rows at once, at offsets computed from the varint lengths, so
    no Python object is built per row."""
    vid, lat, lon, ts = _numpy_columns(columns)
    uv, ut = vid.view(np.uint64), ts.view(np.uint64)  # int64 varints: two's complement
    nv, nt = _varint_lengths(uv), _varint_lengths(ut)
    size = 24 + nv + nt  # 2 + message(3 + nv + location field(2 + 19 + nt))
    offsets = np.zeros(len(size) + 1, np.int64)
    np.cumsum(size, out=offsets[1:])
    start = offsets[:-1]
    buf = np.empty(int(offsets[-1]), np.uint8)
    buf[start] = _MESSAGES
    buf[start + 1] = size - 2
    buf[start + 2] = _VEHICLE_ID
    _put_varints(buf, start + 3, uv, nv)
    loc = start + 3 + nv
    buf[loc] = _LOCATIONS
    buf[loc + 1] = 19 + nt
    buf[loc + 2] = _LAT
    _put_doubles(buf, loc + 3, lat)
    buf[loc + 11] = _LON
    _put_doubles(buf, loc + 12, lon)
    buf[loc + 20] = _TIMESTAMP
    _put_varints(buf, loc + 21, ut, nt)
    return buf, offsets


def encode_columns(source_id: int, columns) -> bytes:
    """One POST payload: the envelope of every row of ``columns`` (an
    Arrow table or record batch with ROW_COLUMNS), in order."""
    return bytes((_SOURCE_ID,)) + _varint(source_id) + framed_messages(columns)[0].tobytes()


# --- row adapters over the columnar encoder --------------------------------


def rows_batch(rows: Iterable[tuple[int, float, float, int]]) -> pa.RecordBatch:
    """(vehicle_id, lat, lon, ts_millis) tuples as one Arrow record batch
    of ROW_COLUMNS."""
    cols = list(zip(*rows)) or [()] * len(ROW_COLUMNS)
    arrays = [pa.array(c, pa.from_numpy_dtype(t)) for c, t in zip(cols, _DTYPES)]
    return pa.record_batch(arrays, names=list(ROW_COLUMNS))


def encode_envelope(
    source_id: int, rows: Iterable[tuple[int, float, float, int]]
) -> bytes:
    """``encode_columns`` over (vehicle_id, lat, lon, ts_millis) tuples."""
    return encode_columns(source_id, rows_batch(rows))


# --- decoder (test/receiver side) ------------------------------------------


@dataclass
class DecodedEnvelope:
    source_id: int
    # (vehicle_id, [(lat, lon, ts_millis), ...]) per message
    messages: list[tuple[int, list[tuple[float, float, int]]]]


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = value = 0
    while True:
        b = buf[i]
        i += 1
        value |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return value, i


def _signed64(value: int) -> int:
    value &= _MASK64
    return value - (1 << 64) if value >= (1 << 63) else value


def _fields(buf: bytes):
    i = 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        field_no, wire_type = key >> 3, key & 7
        if wire_type == 0:
            value, i = _read_varint(buf, i)
        elif wire_type == 1:
            value, i = buf[i : i + 8], i + 8
        elif wire_type == 2:
            size, i = _read_varint(buf, i)
            value, i = buf[i : i + size], i + size
        else:  # pragma: no cover - encoder never emits other wire types
            raise ValueError(f"unsupported wire type {wire_type}")
        yield field_no, wire_type, value


def decode_envelope(buf: bytes) -> DecodedEnvelope:
    source_id = 0
    messages: list[tuple[int, list[tuple[float, float, int]]]] = []
    for field_no, _, value in _fields(buf):
        if field_no == 1:
            source_id = _signed64(value)
        elif field_no == 2:
            vid = 0
            locs: list[tuple[float, float, int]] = []
            for mf, _, mv in _fields(value):
                if mf == 1:
                    vid = _signed64(mv)
                elif mf == 2:
                    lat = lon = 0.0
                    ts = 0
                    for lf, lw, lv in _fields(mv):
                        if lf == 1:
                            lat = struct.unpack("<d", lv)[0]
                        elif lf == 2:
                            lon = struct.unpack("<d", lv)[0]
                        elif lf == 3:
                            ts = _signed64(lv)
                    locs.append((lat, lon, ts))
            messages.append((vid, locs))
    return DecodedEnvelope(source_id, messages)
