"""Wire-level verification of the envelope encoder (op 15).

Two layers:

1. Golden bytes — hand-derivable from the protobuf wire spec — pin the
   exact layout (field numbers, wire types, ordering, proto2 always-emit
   presence). Any encoder change that shifts a byte fails here.
2. Cross-check against the OFFICIAL google.protobuf runtime: a dynamic
   descriptor is built with the same declaration order as the reference's
   builder calls (CsvLoader.java:150-156, 206-211) and must serialize
   byte-identically to our hand-rolled encoder. The runtime is found
   either installed or via the vendored copy under
   /usr/lib/google-cloud-sdk/platform/google_appengine (protobuf 6.32 in
   this sandbox); the test skips only if neither exists.

What this does and doesn't prove: it PROVES our encoder is spec-correct
standard protobuf for the declared layout, matching what protoc-generated
Java code would emit for a proto with fields in builder-call order. It
does NOT prove the upstream io.opentraffic ExchangeFormat proto numbers
its fields in that order — that file is not vendored in the reference
tree and is unfetchable from this sandbox (see SCALE.md "Wire-format
verification record").
"""

from __future__ import annotations

import sys

import pytest

from csv_loader_spark.sinks.envelope import (
    decode_envelope,
    encode_envelope,
)

_VENDORED_PROTOBUF = "/usr/lib/google-cloud-sdk/platform/google_appengine"

# encode_envelope(1, [(2, 1.5, -2.5, 1000)]), derived from the wire spec:
#   envelope: field1 varint 1                          -> 08 01
#   field2 len-delim message (2+2+21 = 25 bytes)       -> 12 19
#     message: field1 varint 2                         -> 08 02
#     field2 len-delim location (9+9+3 = 21 bytes)     -> 12 15
#       field1 fixed64 1.5  (0x3ff8000000000000 LE)    -> 09 000000000000f83f
#       field2 fixed64 -2.5 (0xc004000000000000 LE)    -> 11 0000000000000004c0
#       field3 varint 1000  (0x3e8 -> e8 07)           -> 18 e807
GOLDEN = bytes.fromhex(
    "0801"
    "1219"
    "0802"
    "1215"
    "09000000000000f83f"
    "1100000000000004c0"
    "18e807"
)


def test_golden_bytes_simple_envelope():
    assert encode_envelope(1, [(2, 1.5, -2.5, 1000)]) == GOLDEN


def test_golden_roundtrip():
    d = decode_envelope(GOLDEN)
    assert d.source_id == 1
    assert d.messages == [(2, [(1.5, -2.5, 1000)])]


def _official_envelope_class():
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        if _VENDORED_PROTOBUF not in sys.path:
            sys.path.insert(0, _VENDORED_PROTOBUF)
        pytest.importorskip("google.protobuf")
    from google.protobuf import descriptor_pb2, descriptor_pool, message_factory

    fdp = descriptor_pb2.FileDescriptorProto()
    fdp.name = "exchange_format_test.proto"
    fdp.package = "pbf"
    loc = fdp.message_type.add()
    loc.name = "VehicleLocation"
    for i, (nm, ty) in enumerate(
        [("lat", "TYPE_DOUBLE"), ("lon", "TYPE_DOUBLE"), ("timestamp", "TYPE_INT64")]
    ):
        f = loc.field.add()
        f.name, f.number = nm, i + 1
        f.type = getattr(f, ty)
        f.label = f.LABEL_OPTIONAL
    msg = fdp.message_type.add()
    msg.name = "VehicleMessage"
    f = msg.field.add()
    f.name, f.number, f.type, f.label = "vehicleId", 1, f.TYPE_INT64, f.LABEL_OPTIONAL
    f = msg.field.add()
    f.name, f.number, f.type, f.label = "locations", 2, f.TYPE_MESSAGE, f.LABEL_REPEATED
    f.type_name = ".pbf.VehicleLocation"
    env = fdp.message_type.add()
    env.name = "VehicleMessageEnvelope"
    f = env.field.add()
    f.name, f.number, f.type, f.label = "sourceId", 1, f.TYPE_INT64, f.LABEL_OPTIONAL
    f = env.field.add()
    f.name, f.number, f.type, f.label = "messages", 2, f.TYPE_MESSAGE, f.LABEL_REPEATED
    f.type_name = ".pbf.VehicleMessage"
    pool = descriptor_pool.DescriptorPool()
    pool.Add(fdp)
    return message_factory.GetMessageClass(
        pool.FindMessageTypeByName("pbf.VehicleMessageEnvelope")
    )


CASES = [
    (12345, [(-7, 45.5231, -122.6765, 1431025202000)]),
    (0, []),
    (2**62, [(2**40, 0.0, 0.0, 0), (1, -0.0, 180.0, -1)]),
    (-1, [(0, 90.0, -180.0, 2**41)]),
]


def _edge_rows(n: int) -> list[tuple[int, float, float, int]]:
    """``n`` rows cycling through non-finite and signed-zero coordinates
    and int64-extreme ids and timestamps."""
    lo, hi = -(2**63), 2**63 - 1
    coords = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 45.5, -122.25]
    ints = [lo, hi, lo + 1, hi - 1, -1, 0, 1, 127, 128, 2**35]
    return [
        (ints[i % len(ints)], coords[i % len(coords)], coords[(i + 3) % len(coords)],
         ints[(i * 7) % len(ints)])
        for i in range(n)
    ]


# one envelope at twice the sink's batch size, source_id -1 (10-byte varint)
AT_SIZE = (-1, _edge_rows(20_000))


@pytest.mark.parametrize("source_id,rows", [*CASES, AT_SIZE])
def test_matches_official_protobuf_runtime(source_id, rows):
    Env = _official_envelope_class()
    e = Env()
    e.sourceId = source_id
    for vid, lat, lon, ts in rows:
        m = e.messages.add()
        m.vehicleId = vid
        loc = m.locations.add()
        loc.lat, loc.lon, loc.timestamp = lat, lon, ts
    assert encode_envelope(source_id, rows) == e.SerializeToString()


def test_decode_official_bytes():
    Env = _official_envelope_class()
    e = Env()
    e.sourceId = 99
    m = e.messages.add()
    m.vehicleId = 4
    loc = m.locations.add()
    loc.lat, loc.lon, loc.timestamp = 1.25, 2.5, 777
    d = decode_envelope(e.SerializeToString())
    assert d.source_id == 99
    assert d.messages == [(4, [(1.25, 2.5, 777)])]


# ---------------------------------------------------------------------------
# r12: descriptor round-trip driven by the PRODUCT's declared schema
# (PROTO_SCHEMA drives the encoder constants, the emitted .proto source,
# and the dynamic descriptor — this closes the field-number residual as
# far as the sandbox allows: protoc is absent, so the .proto text is
# asserted field-for-field against the descriptor instead of compiled).
# ---------------------------------------------------------------------------


def _product_envelope_class():
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        if _VENDORED_PROTOBUF not in sys.path:
            sys.path.insert(0, _VENDORED_PROTOBUF)
        pytest.importorskip("google.protobuf")
    from google.protobuf import descriptor_pool, message_factory

    from csv_loader_spark.sinks.envelope import build_file_descriptor_proto

    pool = descriptor_pool.DescriptorPool()
    pool.Add(build_file_descriptor_proto())
    return message_factory.GetMessageClass(
        pool.FindMessageTypeByName("pbf.VehicleMessageEnvelope")
    )


@pytest.mark.parametrize("source_id,rows", CASES)
def test_product_descriptor_matches_hand_encoder(source_id, rows):
    """Messages built from the PRODUCT-generated descriptor
    (envelope.build_file_descriptor_proto) serialize byte-identically to
    the hand-rolled encoder — the schema table, not a test-local copy,
    is what the official runtime verifies."""
    Env = _product_envelope_class()
    e = Env()
    e.sourceId = source_id
    for vid, lat, lon, ts in rows:
        m = e.messages.add()
        m.vehicleId = vid
        loc = m.locations.add()
        loc.lat, loc.lon, loc.timestamp = lat, lon, ts
    official = e.SerializeToString()
    assert encode_envelope(source_id, rows) == official
    # and the official bytes decode through the hand-rolled decoder
    d = decode_envelope(official)
    assert d.source_id == source_id
    assert d.messages == [(vid, [(lat, lon, ts)]) for vid, lat, lon, ts in rows]


def test_proto_schema_text_matches_descriptor():
    """The emitted .proto source and the FileDescriptorProto are two
    views of PROTO_SCHEMA: every (message, field, number, type, label)
    in the descriptor appears verbatim in the text, and vice versa
    (field-count equality both ways)."""
    from csv_loader_spark.sinks.envelope import PROTO_SCHEMA, proto_schema

    text = proto_schema()
    assert 'syntax = "proto2";' in text and "package pbf;" in text
    n_fields = 0
    for msg, fields in PROTO_SCHEMA.items():
        assert f"message {msg} {{" in text
        for name, number, ty in fields:
            if isinstance(ty, tuple):
                line = f"  repeated {ty[1]} {name} = {number};"
            else:
                line = f"  optional {ty} {name} = {number};"
            assert line in text, line
            n_fields += 1
    # no extra field declarations beyond the schema table's (field lines
    # are the indented ones; the syntax line also contains " = ")
    assert sum(1 for ln in text.splitlines() if ln.startswith("  ")) == n_fields
    # the wire constants the encoder uses are the schema's numbers
    assert PROTO_SCHEMA["VehicleLocation"][0][:2] == ("lat", 1)
    assert PROTO_SCHEMA["VehicleMessage"][1][:2] == ("locations", 2)
    assert PROTO_SCHEMA["VehicleMessageEnvelope"][0][:2] == ("sourceId", 1)
