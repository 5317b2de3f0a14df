"""Byte-level creek-compatible WAL message codec.

``sources/golden.py`` proves SCHEMA-level conformance with the reference
(the exact publish_message Avro JSON + CRC-64-AVRO fingerprint a creek
Go client expects).  This module closes the loop at the BYTE level: it
encodes/decodes envelope rows against that schema, so output framed here
is decodable by an unmodified creek consumer (client.go:265-286 reads
magic ``0xC3 01`` + little-endian CRC-64-AVRO fingerprint + Avro binary
body; hamba/avro fingerprints the Parsing Canonical Form, which
``golden.canonical_fingerprint`` reproduces).

The Avro bodies go through the engine's one schema compiler
(avro_codec._compile_encoder / _compile_decoder), which covers what the
golden schema uses:

  * enums and NAMED TYPE REFERENCES — ``infinity_modifier`` is declared
    once per record and referenced by fullname afterwards
    (pgtype-avro/pgtype.go:144-156)
  * 3-way unions ``[null, temporal, infinity_modifier]``: Python
    ``"infinity"`` / ``"-infinity"`` sentinels (what the pgoutput
    decoder yields for ±infinity dates/timestamps) encode to the enum
    branch, ``-infinity`` as the magic ``negative_infinity_…`` symbol
    (Avro names can't start with '-', pgtype-avro/pgtype.go:9-12)
  * time-micros logical type (µs since midnight)
  * uuid logical strings, decimal-bytes with the relation's typmod
    precision/scale, json/jsonb as bytes

Two things differ from the engine's native frames: a float ``NaN`` is a
double here, never a null, and ``timestamp-micros`` decodes to naive UTC
datetimes, as the pgoutput decoder yields them.

Row model: the envelope dicts produced by ``sources/pgoutput.py`` /
``types/envelope.py`` (fingerprint, source{...}, op, sent_at,
before/after as column dicts or None).  ``unchanged_toast`` — the
engine's documented extension — is NOT part of this wire format; the
reference omits unchanged TOAST columns instead (its rows are Avro
maps; records cannot omit fields, so columns flagged TOAST must be
resolved before reference-framing).
"""

from __future__ import annotations

from creek_spark.sources.avro_codec import (
    MAGIC,
    _compile_decoder,
    _compile_encoder,
    decode_all,
)
from creek_spark.sources.golden import canonical_fingerprint_int, publish_message_schema
from creek_spark.types.pgtypes import PGRelation


class ReferenceWireCodec:
    """Encode/decode envelope row dicts in the reference's exact wire
    format for one relation: single-object frame (``0xC3 01`` + 8-byte
    little-endian CRC-64-AVRO of the schema's Parsing Canonical Form)
    followed by the Avro binary publish_message body."""

    def __init__(self, relation: PGRelation):
        self.schema = publish_message_schema(relation)
        self.fingerprint_int = canonical_fingerprint_int(self.schema)
        self._enc = _compile_encoder(self.schema)
        self._dec = _compile_decoder(self.schema, tz_aware=False)

    def encode(self, row: dict) -> bytes:
        out = bytearray(MAGIC)
        out.extend(self.fingerprint_int.to_bytes(8, "little"))
        self._enc(row, out)
        return bytes(out)

    def decode(self, frame: bytes) -> dict:
        """One frame → its row dict; a malformed frame, or bytes after
        its body, raise ValueError."""
        if frame[:2] != MAGIC:
            raise ValueError("bad single-object magic")
        fp = int.from_bytes(frame[2:10], "little")
        if fp != self.fingerprint_int:
            raise ValueError(
                f"fingerprint mismatch: frame {fp:#x} vs schema "
                f"{self.fingerprint_int:#x}"
            )
        return decode_all(self._dec, frame, 10)
