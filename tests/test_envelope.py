"""Envelope build + protobuf wire-format roundtrip (ops 13-15)."""

import pytest

from csv_loader_spark.sinks.envelope import (
    ROW_COLUMNS,
    decode_envelope,
    encode_columns,
    encode_envelope,
    rows_batch,
)
from csv_loader_spark.sinks.kinesis import records_for_kinesis


def test_wire_roundtrip_preserves_values():
    rows = [
        (101, 40.7128, -74.0060, 1433147415000),
        (-5, -33.87, 151.21, 0),
        (2**63 - 1, 0.0, 0.0, 1),
    ]
    env = decode_envelope(encode_envelope(source_id=-42, rows=rows))
    assert env.source_id == -42
    assert [(vid, locs[0]) for vid, locs in env.messages] == [
        (vid, (lat, lon, ts)) for vid, lat, lon, ts in rows
    ]


def test_kinesis_chunking_limit():
    rows = [(i, 1.0, 2.0, i) for i in range(1203)]
    chunks = list(records_for_kinesis([rows_batch(rows)], chunk_size=500))
    assert [len(c) for c in chunks] == [500, 500, 203]
    assert chunks[0][0]["PartitionKey"] == "0"


@pytest.mark.parametrize("column", ROW_COLUMNS)
def test_encoder_refuses_null_fields(column):
    """``to_numpy`` would turn a NULL into NaN and post wrong bytes; the
    encoder raises a ValueError that names the column instead."""
    row = [1, 1.0, 2.0, 3]
    row[ROW_COLUMNS.index(column)] = None
    rows = [(2, 4.0, 5.0, 6), tuple(row)]
    with pytest.raises(ValueError, match=repr(column)):
        encode_columns(9, rows_batch(rows))
    with pytest.raises(ValueError, match=repr(column)):
        encode_envelope(9, rows)
