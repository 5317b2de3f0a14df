"""Byte-level creek wire conformance: envelope rows encoded by
ReferenceWireCodec against the reference-golden publish_message schema
must frame and round-trip exactly as a creek Go client expects —
single-object magic + little-endian canonical CRC-64-AVRO fingerprint,
op-enum indexes in the golden symbol order, ±infinity temporals on the
infinity_modifier enum branch with the magic negative symbol."""

from __future__ import annotations

import datetime
import decimal

from creek_spark.sources.creek_wire import ReferenceWireCodec
from creek_spark.sources.golden import (
    NEGATIVE_INFINITY,
    canonical_fingerprint,
    publish_message_schema,
)
from creek_spark.types.fingerprint import avro_fingerprint
from creek_spark.types.pgtypes import PGColumn, PGRelation


def _rel() -> PGRelation:
    nm = ((10 << 16) | 5) + 4
    return PGRelation(
        "public",
        "mixed",
        [
            PGColumn("id", "int4", -1, 1),
            PGColumn("name", "text", -1, 0),
            PGColumn("active", "bool", -1, 0),
            PGColumn("score", "float8", -1, 0),
            PGColumn("amount", "numeric", nm, 0),
            PGColumn("born", "date", -1, 0),
            PGColumn("at", "timestamptz", -1, 0),
            PGColumn("tod", "time", -1, 0),
            PGColumn("uid", "uuid", -1, 0),
            PGColumn("doc", "jsonb", -1, 0),
            PGColumn("tags", "_text", -1, 0),
            PGColumn("days", "_date", -1, 0),
        ],
        "d",
    )


def _row(op="c", after=None, before=None):
    return {
        "fingerprint": "fp",
        "source": {
            "name": "creek-spark",
            "tx_at": datetime.datetime(2024, 3, 1, 12, 0, 0),
            "db": "postgres",
            "schema": "public",
            "table": "mixed",
            "tx_id": 77,
            "lsn": "0/1000",
        },
        "op": op,
        "sent_at": datetime.datetime(2024, 3, 1, 12, 0, 1),
        "before": before,
        "after": after,
    }


FULL_AFTER = {
    "id": 7,
    "name": "héllo",
    "active": True,
    "score": 1.5,
    "amount": decimal.Decimal("123.45678"),
    "born": datetime.date(1990, 5, 4),
    "at": datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
    "tod": datetime.time(13, 45, 59, 250000),
    "uid": "ab4ed73c-9b1d-4795-801d-338d6b9fc32e",
    "doc": '{"k": 1}',
    "tags": ["a", "b", "c"],
    "days": [datetime.date(2020, 1, 1), "infinity"],
}


def test_frame_layout_and_fingerprint():
    codec = ReferenceWireCodec(_rel())
    frame = codec.encode(_row(after=FULL_AFTER))
    assert frame[:2] == b"\xc3\x01"
    # the 8 fingerprint bytes, base64url'd, must equal the canonical
    # (hamba-compatible) fingerprint of the golden schema — the registry
    # key a creek client uses to look up the decoder schema
    assert avro_fingerprint(b"") != ""  # sanity: helper available
    schema = publish_message_schema(_rel())
    import base64

    assert (
        base64.urlsafe_b64encode(frame[2:10]).rstrip(b"=").decode()
        == canonical_fingerprint(schema)
    )


def test_full_row_round_trip():
    codec = ReferenceWireCodec(_rel())
    row = _row(after=FULL_AFTER)
    got = codec.decode(codec.encode(row))
    assert got["op"] == "c"
    assert got["before"] is None
    a = got["after"]
    assert a["id"] == 7 and a["name"] == "héllo" and a["active"] is True
    assert a["score"] == 1.5
    assert a["amount"] == decimal.Decimal("123.45678")
    assert a["born"] == datetime.date(1990, 5, 4)
    assert a["at"] == datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
    assert a["tod"] == datetime.time(13, 45, 59, 250000)
    assert a["uid"] == FULL_AFTER["uid"]
    assert a["doc"] == b'{"k": 1}'  # json rides as bytes on the wire
    assert a["tags"] == ["a", "b", "c"]
    assert a["days"] == [datetime.date(2020, 1, 1), "infinity"]
    assert got["source"]["lsn"] == "0/1000" and got["source"]["tx_id"] == 77


def test_op_enum_uses_golden_symbol_order():
    """A creek client maps enum indexes positionally — c/u/u_pk/d/t/r
    (messages.go:81-85).  Encode each op and check the raw index byte."""
    codec = ReferenceWireCodec(_rel())
    for i, op in enumerate(["c", "u", "u_pk", "d", "t", "r"]):
        body = codec.encode(_row(op=op, after=FULL_AFTER))[10:]
        # skip fingerprint string, then the source record, to reach op:
        # easier: decode and compare, plus a targeted zigzag check via
        # round-trip of a minimal record
        assert codec.decode(codec.encode(_row(op=op, after=FULL_AFTER)))["op"] == op
    # positional check: 'u_pk' (index 2) encodes as zigzag(2) = 0x04 —
    # find it by diffing against the 'c' (index 0 → 0x00) encoding
    b_c = codec.encode(_row(op="c", after=FULL_AFTER))
    b_upk = codec.encode(_row(op="u_pk", after=FULL_AFTER))
    (i,) = [i for i, (x, y) in enumerate(zip(b_c, b_upk)) if x != y]
    assert b_c[i] == 0x00 and b_upk[i] == 0x04


def test_infinity_temporals_use_enum_branch():
    codec = ReferenceWireCodec(_rel())
    after = dict(FULL_AFTER, born="infinity", at="-infinity")
    got = codec.decode(codec.encode(_row(after=after)))
    assert got["after"]["born"] == "infinity"
    assert got["after"]["at"] == "-infinity"
    # the magic symbol itself is what rides the wire for -infinity:
    # the frame must contain no literal '-infinity' string bytes
    assert b"-infinity" not in codec.encode(_row(after=after))
    assert NEGATIVE_INFINITY.startswith("negative_infinity")


def test_infinity_spelling_is_refused_outside_the_infinity_enum():
    """'-infinity' names a symbol of infinity_modifier only: as an op it
    is refused rather than written as some other op's index."""
    import pytest

    codec = ReferenceWireCodec(_rel())
    with pytest.raises(ValueError, match="not a symbol"):
        codec.encode(_row(op="-infinity", after=FULL_AFTER))


def test_float_nan_stays_a_double():
    import math

    codec = ReferenceWireCodec(_rel())
    got = codec.decode(codec.encode(_row(after=dict(FULL_AFTER, score=float("nan")))))
    assert math.isnan(got["after"]["score"])


def test_before_is_keys_only_and_delete_round_trips():
    codec = ReferenceWireCodec(_rel())
    row = _row(op="d", before={"id": 9}, after=None)
    got = codec.decode(codec.encode(row))
    assert got["op"] == "d" and got["after"] is None
    assert got["before"] == {"id": 9}


def test_fingerprint_mismatch_rejected():
    import pytest

    codec = ReferenceWireCodec(_rel())
    other = ReferenceWireCodec(
        PGRelation("public", "other", [PGColumn("id", "int4", -1, 1)], "d")
    )
    frame = other.encode(_row(op="d", before={"id": 1}, after=None))
    with pytest.raises(ValueError, match="fingerprint"):
        codec.decode(frame)


def test_producer_loop_transcript_to_creek_frames(tmp_path):
    """The full producer pipeline analog: recorded walsender transcript →
    session (pgoutput decode, protocol handling) → envelope rows →
    reference wire frames a creek client decodes.  Uses the RELATION THE
    STREAM DECLARES (decoder state) for the schema, exactly as the
    reference builds its publish schema from the RelationMessage."""
    from creek_spark.sources.walsender import (
        TranscriptTransport,
        WalSenderSession,
        encode_xlogdata,
    )
    from tests.test_pgoutput import OTHER, begin, commit, insert, update

    frames = [
        encode_xlogdata(0x10, begin(lsn=0x30)),
        encode_xlogdata(0x10, OTHER),
        encode_xlogdata(0x14, insert(55, 1, "alpha")),
        encode_xlogdata(0x18, update(55, new=(1, "beta"))),
        encode_xlogdata(0x30, commit(lsn=0x30)),
    ]
    p = tmp_path / "s.hex"
    p.write_text("\n".join(f.hex() for f in frames) + "\n")
    sess = WalSenderSession(TranscriptTransport(str(p)), str(tmp_path / "st"))
    rows = sess.stream_rows()
    assert len(rows) == 2
    rel = sess.decoder.relations[55]
    codec = ReferenceWireCodec(rel)
    for row in rows:
        wire_row = dict(row)
        wire_row.pop("unchanged_toast", None)  # engine extension, not wire
        got = codec.decode(codec.encode(wire_row))
        assert got["op"] == row["op"]
        assert got["after"] == row["after"]
        assert got["source"]["table"] == "other"


def test_generative_round_trip_random_relations_and_rows():
    """Property: for RANDOM relations (arbitrary subsets of the mapped pg
    types, random PK choice) and random rows — including NULLs, ±infinity
    temporals, empty arrays and unicode — encode∘decode is identity (up
    to the documented wire representations: json→bytes, -infinity magic
    symbol) and the canonical fingerprint is stable across codec
    instances."""
    import random

    rng = random.Random(4242)
    TYPES = [
        ("int4", lambda: rng.randint(-(2**31), 2**31 - 1)),
        ("int8", lambda: rng.randint(-(2**62), 2**62)),
        ("bool", lambda: rng.random() < 0.5),
        ("text", lambda: "".join(rng.choice("abæ日 z'\"\\") for _ in range(rng.randint(0, 8)))),
        ("float8", lambda: round(rng.uniform(-1e6, 1e6), 6)),
        ("date", lambda: datetime.date(2000 + rng.randint(0, 30), 1 + rng.randint(0, 11), 1 + rng.randint(0, 27))),
        ("timestamp", lambda: datetime.datetime(2020, 1, 1) + datetime.timedelta(seconds=rng.randint(0, 10**8), microseconds=rng.randint(0, 999999))),
        ("time", lambda: datetime.time(rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59), rng.randint(0, 999999))),
        ("numeric", lambda: decimal.Decimal(rng.randint(-10**9, 10**9)).scaleb(-5)),
        ("uuid", lambda: "ab4ed73c-9b1d-4795-801d-338d6b9fc3%02x" % rng.randint(0, 255)),
        ("_text", lambda: ["".join(rng.choice("xyz") for _ in range(3)) for _ in range(rng.randint(0, 4))]),
        ("_int4", lambda: [rng.randint(-100, 100) for _ in range(rng.randint(0, 5))]),
    ]
    nm = ((10 << 16) | 5) + 4
    for case in range(25):
        cols = [PGColumn("pk", "int4", -1, 1)]
        gens = {"pk": lambda: rng.randint(0, 10**6)}
        for i, (t, gen) in enumerate(rng.sample(TYPES, rng.randint(1, 8))):
            name = f"c{i}_{t.strip('_')}"
            cols.append(PGColumn(name, t, nm if t == "numeric" else -1, 0))
            gens[name] = gen
        rel = PGRelation("public", f"t{case}", cols, "d")
        codec = ReferenceWireCodec(rel)
        # fingerprint stability across instances
        assert ReferenceWireCodec(rel).fingerprint_int == codec.fingerprint_int
        after = {}
        for col in cols:
            r = rng.random()
            if col.flags != 1 and r < 0.2:
                after[col.name] = None
            elif col.pg_type in ("date", "timestamp", "time") and r < 0.3:
                after[col.name] = rng.choice(["infinity", "-infinity"])
            else:
                after[col.name] = gens[col.name]()
        row = _row(op=rng.choice(["c", "u", "u_pk", "d", "t", "r"]), after=after)
        got = codec.decode(codec.encode(row))
        assert got["op"] == row["op"] and got["after"] == after, (case, after, got["after"])


def test_canonical_form_is_parseable_json_and_deterministic():
    """The PCF string must itself be valid JSON (the fingerprint is
    defined over those exact bytes) and independent of dict insertion
    order in the input schema."""
    import json as _json

    from creek_spark.sources.golden import avro_canonical_form

    schema = publish_message_schema(_rel())
    pcf = avro_canonical_form(schema)
    assert _json.loads(pcf)  # parses
    assert " " not in pcf.replace('" "', "")  # no whitespace outside strings
    # reordering attributes in a record node must not change the PCF
    reordered = {k: schema[k] for k in reversed(list(schema))}
    assert avro_canonical_form(reordered) == pcf
