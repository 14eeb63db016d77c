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

Pure Python, deterministic, dependency-free — runs on executors in the
sinks' Python worker (``mapInArrow``, through ``sinks.http._deliver``). Each
payload is assembled from a list of parts joined once, so encoding is linear
in the envelope's row count.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from dataclasses import dataclass
import struct

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
# a 7-bit group as the last byte of a varint, and with the continuation bit
_LAST_GROUP = [bytes((i,)) for i in range(0x80)]
_MORE_GROUP = [bytes((i | 0x80,)) for i in range(0x80)]


def _varint(value: int) -> bytes:
    """Protobuf base-128 varint; negative int64 encodes as its two's
    complement (10 bytes), like protobuf int64."""
    if 0 <= value < 0x80:  # tags; location and message lengths
        return _LAST_GROUP[value]
    value &= _MASK64
    groups = []
    while value > 0x7F:
        groups.append(_MORE_GROUP[value & 0x7F])
        value >>= 7
    groups.append(_LAST_GROUP[value])
    return b"".join(groups)


def _tag(field_no: int, wire_type: int) -> bytes:
    return _varint((field_no << 3) | wire_type)


# Tags of PROTO_SCHEMA's fields, built once; wire type 0 = varint,
# 1 = fixed64, 2 = length-delimited.
_SOURCE_ID, _MESSAGES = _tag(1, 0), _tag(2, 2)  # VehicleMessageEnvelope
_VEHICLE_ID, _LOCATIONS = _tag(1, 0), _tag(2, 2)  # VehicleMessage
_LAT, _LON, _TIMESTAMP = _tag(1, 1), _tag(2, 1), _tag(3, 0)  # VehicleLocation
# a VehicleLocation up to its timestamp varint, in one pack
_LOCATION_HEAD = struct.Struct("<cdcdc").pack


def encode_location(lat: float, lon: float, ts_millis: int) -> bytes:
    return _LOCATION_HEAD(_LAT, lat, _LON, lon, _TIMESTAMP) + _varint(ts_millis)


def encode_message(vehicle_id: int, locations: Sequence[tuple[float, float, int]]) -> bytes:
    parts = [_VEHICLE_ID, _varint(vehicle_id)]
    for lat, lon, ts in locations:
        loc = encode_location(lat, lon, ts)
        parts += (_LOCATIONS, _varint(len(loc)), loc)
    return b"".join(parts)


def encode_envelope(
    source_id: int, rows: Iterable[tuple[int, float, float, int]]
) -> bytes:
    """One POST payload: rows are (vehicle_id, lat, lon, ts_millis) tuples —
    one single-location message per row, like the reference (:152-155).
    The parts are joined once, so the cost is linear in the row count."""
    parts = [_SOURCE_ID, _varint(source_id)]
    for vehicle_id, lat, lon, ts in rows:
        msg = encode_message(vehicle_id, ((lat, lon, ts),))
        parts += (_MESSAGES, _varint(len(msg)), msg)
    return b"".join(parts)


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
