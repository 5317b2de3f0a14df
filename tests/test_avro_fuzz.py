"""Corruption fuzz for every Avro decode path: native envelope frames,
reference wire frames and `.avro` container files.

Avro bytes come from outside the engine (a topic, a staging directory, a
file drop), and the decoders run inside mapInPandas stages, so a bad
payload must fail into the documented ValueError path: no other
exception class escapes, no truncated or padded payload decodes
silently, and no length field makes a read loop or allocate beyond the
input.  Pure Python — no Spark session.
"""

from __future__ import annotations

import datetime
import decimal
import random

import pytest

from creek_spark.sources.avro_codec import (
    MAGIC,
    _compile_decoder,
    _compile_encoder,
    _Cursor,
    _fp_bytes,
    decode_frame,
    enc_long,
    envelope_avro_schema,
)
from creek_spark.sources.avro_files import _container_bytes, parse_container
from creek_spark.sources.creek_wire import ReferenceWireCodec
from creek_spark.types.envelope import envelope_schema
from creek_spark.types.fingerprint import fingerprint_schema
from creek_spark.types.pgtypes import PGColumn, PGRelation, pg_relation_to_struct

REL = PGRelation(
    "public",
    "fuzz",
    [
        PGColumn("id", "int8", -1, 1),
        PGColumn("name", "text", -1, 0),
        PGColumn("ok", "bool", -1, 0),
        PGColumn("score", "float8", -1, 0),
        PGColumn("amount", "numeric", ((10 << 16) | 2) + 4, 0),
        PGColumn("born", "date", -1, 0),
        PGColumn("at", "timestamptz", -1, 0),
        PGColumn("tags", "_text", -1, 0),
    ],
    "d",
)
T0 = datetime.datetime(2024, 3, 1, 12, 0, 0, 123456)
AFTER = {
    "id": 7,
    "name": "hello world",
    "ok": True,
    "score": 1.5,
    "amount": decimal.Decimal("12.34"),
    "born": datetime.date(1990, 5, 4),
    "at": T0,
    "tags": ["a", "bc"],
}


def _source():
    return {
        "name": "creek", "tx_at": T0, "db": "db", "schema": "public",
        "table": "fuzz", "tx_id": 9, "lsn": "0/10",
    }


def _native():
    row = pg_relation_to_struct(REL)
    avsc = envelope_avro_schema(envelope_schema(row))
    fp = _fp_bytes(fingerprint_schema(row))
    frame = bytearray(MAGIC + fp)
    _compile_encoder(avsc)(
        {"fingerprint": "f", "source": _source(), "op": "u", "sent_at": T0,
         "before": {"id": 7}, "after": AFTER, "unchanged_toast": ["name"]},
        frame,
    )
    decoders = {fp: _compile_decoder(avsc)}
    return bytes(frame), lambda b: decode_frame(b, decoders)


def _reference():
    codec = ReferenceWireCodec(REL)
    row = {"fingerprint": "f", "source": _source(), "op": "u", "sent_at": T0,
           "before": {"id": 7}, "after": AFTER}
    return codec.encode(row), codec.decode


def _container():
    import json

    avsc = {
        "type": "record", "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "d", "type": "double"},
            {"name": "day", "type": ["null", {"type": "int", "logicalType": "date"}]},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
        ],
    }
    rows = [
        {"id": i, "s": "v" * i, "d": i / 3, "day": datetime.date(2024, 1, i + 1),
         "xs": list(range(i))}
        for i in range(4)
    ]
    data = _container_bytes(json.dumps(avsc), _compile_encoder(avsc), rows, bytes(range(16)))
    return data, parse_container


PAYLOADS = {"native": _native, "reference": _reference, "container": _container}


def _only_valueerror(decode, payload: bytes) -> None:
    try:
        decode(payload)
    except ValueError:
        pass


@pytest.mark.parametrize("kind", sorted(PAYLOADS))
def test_valid_payload_decodes(kind):
    payload, decode = PAYLOADS[kind]()
    assert decode(payload)


@pytest.mark.parametrize("kind", ["native", "reference"])
def test_every_truncated_frame_is_refused(kind):
    frame, decode = PAYLOADS[kind]()
    for n in range(len(frame)):
        with pytest.raises(ValueError):
            decode(frame[:n])


def test_truncated_container_is_refused_or_empty():
    data, decode = _container()
    _, records = decode(data)
    assert len(records) == 4
    header_only = None
    for n in range(len(data)):
        try:
            _, got = decode(data[:n])
        except ValueError:
            continue
        # only the header followed by no block at all is a valid file
        assert got == [], n
        assert header_only is None, (header_only, n)
        header_only = n


@pytest.mark.parametrize("kind", sorted(PAYLOADS))
def test_trailing_bytes_are_refused(kind):
    payload, decode = PAYLOADS[kind]()
    for tail in (b"\x00", b"garbage"):
        with pytest.raises(ValueError):
            decode(payload + tail)


@pytest.mark.parametrize("kind", sorted(PAYLOADS))
def test_bit_flips_only_raise_valueerror(kind):
    payload, decode = PAYLOADS[kind]()
    rng = random.Random(2024)
    for _ in range(600):
        m = bytearray(payload)
        for _ in range(rng.randint(1, 3)):
            m[rng.randrange(len(m))] ^= 1 << rng.randrange(8)
        _only_valueerror(decode, bytes(m))


def _varint(n: int) -> bytes:
    out = bytearray()
    enc_long(n, out)
    return bytes(out)


EVIL = [
    _varint(-1),
    _varint(-(2**63)),
    _varint(2**62),
    _varint(2**31),
    b"\xff" * 10 + b"\x01",  # an 11-byte varint
    b"\xff" * 9 + b"\x7f",  # 10 bytes, more than 64 bits
]


@pytest.mark.parametrize("kind", sorted(PAYLOADS))
def test_adversarial_lengths_only_raise_valueerror(kind):
    """Every byte position in turn replaced by an adversarial varint:
    lengths, counts, indexes and sizes the walk must refuse."""
    payload, decode = PAYLOADS[kind]()
    for off in range(len(payload)):
        for evil in EVIL:
            _only_valueerror(decode, payload[:off] + evil + payload[off + 1 :])


REC = {"type": "record", "name": "r",
       "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}]}


MALFORMED = {
    "string_cut_short": (REC, b"\x02\x16hello w"),
    "negative_length": (REC, b"\x02\x01"),
    "short_double": ("double", b"\x00" * 7),
    "short_float": ("float", b"\x00"),
    "varint_11_bytes": ("long", b"\xff" * 10 + b"\x01"),
    "varint_cut_short": ("long", b"\x80"),
    "boolean_byte_2": ("boolean", b"\x02"),
    "union_index_high": (["null", "long"], b"\x04"),
    "union_index_negative": (["null", "long"], b"\x01"),
    "enum_index_high": ({"type": "enum", "name": "e", "symbols": ["x", "y"]}, b"\x04"),
    "array_count_over_bytes_left": ({"type": "array", "items": "long"}, _varint(2**40)),
    "date_overflow": ({"type": "int", "logicalType": "date"}, _varint(2**62)),
    "timestamp_overflow": ({"type": "long", "logicalType": "timestamp-micros"}, _varint(2**62)),
}


@pytest.mark.parametrize("case", sorted(MALFORMED))
def test_malformed_values_raise_valueerror(case):
    schema, buf = MALFORMED[case]
    with pytest.raises(ValueError):
        _compile_decoder(schema)(_Cursor(buf))
