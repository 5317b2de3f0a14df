"""Reference-exact `publish_message` Avro schema generation + Avro
Parsing-Canonical-Form fingerprinting.

The engine's native envelope schema (types/envelope.py →
avro_codec.envelope_avro_schema) carries one documented extension
(`unchanged_toast`).  THIS module produces the byte-level schema a creek
Go CLIENT expects — the exact
JSON the reference pins as an inline golden
(/root/reference/integration_tests/listen_test.go:208-769) — so
interop with existing consumers is provable:

  * per-column mapping from /root/reference/pgtype-avro/pgtype.go:158-235
    (bool→boolean; char/varchar/text/bpchar→string; int2/int4→int;
    int8→long; float4→float; float8→double; json/jsonb→bytes;
    uuid→string+uuid; numeric→bytes+decimal(typmod); date/time/
    timestamp/timestamptz→union with the `infinity_modifier` enum, whose
    first occurrence per record declares it; arrays recurse; unknown→string)
  * nullability from pgtype.go:108-142 (non-default replica identity or
    non-key column → null-union prepend)
  * the envelope record from /root/reference/messages.go:58-89
    (fingerprint, source{name,tx_at,db,schema,table,tx_id,lsn}, op enum
    c/u/u_pk/d/t/r, sent_at, before/after null-unions namespaced
    `before.`/`after.`)
  * CRC-64-AVRO fingerprints over the Avro spec's Parsing Canonical
    Form — the same bytes hamba/avro's FingerprintUsing(CRC64Avro)
    hashes (listen_test.go:761-765).

Both schemas are encoded and decoded by the one Avro compiler in
avro_codec.py; creek_wire.ReferenceWireCodec frames this one.  The
infinity symbols below are what that compiler maps the Postgres
``±infinity`` spellings onto, in an enum that carries them.
"""

from __future__ import annotations

import json
from typing import Any

from creek_spark.types.fingerprint import avro_fingerprint, crc64_avro
from creek_spark.types.pgtypes import PGColumn, PGRelation, decode_numeric_typmod

INFINITY = "infinity"
# Avro names can't start with '-'; the reference uses this magic symbol
# for -infinity (pgtype-avro/pgtype.go:9-12).
NEGATIVE_INFINITY = "negative_infinity_ca5991f51367e3e4"

_SCALARS = {
    "bool": "boolean",
    "char": "string",
    "varchar": "string",
    "text": "string",
    "bpchar": "string",
    "float4": "float",
    "float8": "double",
    "int2": "int",
    "int4": "int",
    "int8": "long",
    "json": "bytes",
    "jsonb": "bytes",
    "uuid": {"type": "string", "logicalType": "uuid"},
}

_TEMPORAL = {
    "date": {"type": "int", "logicalType": "date"},
    "time": {"type": "long", "logicalType": "time-micros"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamptz": {"type": "long", "logicalType": "timestamp-micros"},
}


class _InfState:
    """One infinity_modifier enum declaration per record (pgtype.go:144-156):
    the first temporal column declares it, later ones reference by name."""

    def __init__(self, namespace: str | None):
        self.declared = False
        self.fullname = (
            f"{namespace}.infinity_modifier" if namespace else "infinity_modifier"
        )

    def ref(self) -> Any:
        if self.declared:
            return self.fullname
        self.declared = True
        return {
            "name": self.fullname,
            "type": "enum",
            "symbols": [INFINITY, NEGATIVE_INFINITY],
        }


def _scalar_avro(pg_type: str, typmod: int, inf: _InfState) -> Any:
    if pg_type in _TEMPORAL:
        return [dict(_TEMPORAL[pg_type]), inf.ref()]
    if pg_type == "numeric":
        p, s = decode_numeric_typmod(typmod)
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": p,
            "scale": s,
        }
    return _SCALARS.get(pg_type, "string")


def _column_avro(col: PGColumn, inf: _InfState) -> Any:
    name = col.pg_type.strip().lower()
    if name.startswith("_"):
        return {"type": "array", "items": _scalar_avro(name[1:], col.typmod, inf)}
    if name.endswith("[]"):
        return {"type": "array", "items": _scalar_avro(name[:-2], col.typmod, inf)}
    return _scalar_avro(name, col.typmod, inf)


def relation_record(
    relation: PGRelation, namespace: str | None = None, keys_only: bool = False
) -> dict:
    """The table record (RelationMessageToAvro / ...KeysToAvro,
    pgtype-avro/pgtype.go:39-78), rendered with the fullname the Go
    marshaller emits when the envelope assigns a namespace."""
    inf = _InfState(namespace)
    fields = []
    for col in relation.columns:
        if keys_only and not col.is_key:
            continue
        ftype = _column_avro(col, inf)
        nullable = relation.replica_identity != "d" or not col.is_key
        if nullable:
            ftype = ["null", *ftype] if isinstance(ftype, list) else ["null", ftype]
        fields.append(
            {
                "name": col.name,
                "type": ftype,
                "pgKey": col.is_key,
                "pgType": col.pg_type,
            }
        )
    name = f"{namespace}.{relation.name}" if namespace else relation.name
    return {"name": name, "type": "record", "fields": fields}


def publish_message_schema(relation: PGRelation) -> dict:
    """The complete WAL-envelope schema a creek client decodes
    (messages.go:58-89): before carries replica-identity keys only,
    after the full row."""
    before = relation_record(relation, "before", keys_only=True)
    after = relation_record(relation, "after")
    return {
        "name": "publish_message",
        "type": "record",
        "fields": [
            {"name": "fingerprint", "type": "string"},
            {
                "name": "source",
                "type": {
                    "name": "source",
                    "type": "record",
                    "fields": [
                        {"name": "name", "type": "string"},
                        {
                            "name": "tx_at",
                            "type": {
                                "type": "long",
                                "logicalType": "timestamp-micros",
                            },
                        },
                        {"name": "db", "type": "string"},
                        {"name": "schema", "type": "string"},
                        {"name": "table", "type": "string"},
                        {"name": "tx_id", "type": "long"},
                        {"name": "lsn", "type": "string"},
                    ],
                },
            },
            {
                "name": "op",
                "type": {
                    "name": "op",
                    "type": "enum",
                    "symbols": ["c", "u", "u_pk", "d", "t", "r"],
                },
            },
            {
                "name": "sent_at",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
            {"name": "before", "type": ["null", before]},
            {"name": "after", "type": ["null", after]},
        ],
    }


# ---------------------------------------------------- canonical form


_PRIMITIVES = {
    "null",
    "boolean",
    "int",
    "long",
    "float",
    "double",
    "bytes",
    "string",
}
_ORDERED_ATTRS = ("name", "type", "fields", "symbols", "items", "values", "size")
_NAMED_TYPES = {"record", "enum", "fixed"}


def _fullname(name: str, namespace: str | None) -> str:
    if "." in name or not namespace:
        return name
    return f"{namespace}.{name}"


def avro_canonical_form(schema: Any, enclosing_ns: str | None = None) -> str:
    """Avro spec Parsing Canonical Form: fullnames, attribute whitelist in
    fixed order, primitives reduced to strings, no whitespace.  This is
    the byte string CRC-64-AVRO fingerprints are defined over."""
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return json.dumps(schema)
        return json.dumps(_fullname(schema, enclosing_ns))  # named reference
    if isinstance(schema, list):
        return "[" + ",".join(avro_canonical_form(s, enclosing_ns) for s in schema) + "]"
    t = schema["type"]
    if t in _PRIMITIVES and all(k in ("type", "logicalType") or k not in _ORDERED_ATTRS for k in schema):
        # logical/extra attributes are stripped → bare primitive
        return json.dumps(t)
    if t in _NAMED_TYPES:
        full = _fullname(schema["name"], schema.get("namespace", enclosing_ns))
        child_ns = full.rsplit(".", 1)[0] if "." in full else None
        parts = [f'"name":{json.dumps(full)}', f'"type":{json.dumps(t)}']
        if t == "record":
            fs = ",".join(
                "{"
                + f'"name":{json.dumps(f["name"])},"type":'
                + avro_canonical_form(f["type"], child_ns)
                + "}"
                for f in schema["fields"]
            )
            parts.append(f'"fields":[{fs}]')
        elif t == "enum":
            parts.append(f'"symbols":{json.dumps(schema["symbols"], separators=(",", ":"))}')
        else:  # fixed
            parts.append(f'"size":{int(schema["size"])}')
        return "{" + ",".join(parts) + "}"
    if t == "array":
        return (
            '{"type":"array","items":'
            + avro_canonical_form(schema["items"], enclosing_ns)
            + "}"
        )
    if t == "map":
        return (
            '{"type":"map","values":'
            + avro_canonical_form(schema["values"], enclosing_ns)
            + "}"
        )
    raise TypeError(f"cannot canonicalize Avro schema node: {schema!r}")


def canonical_fingerprint(schema: Any) -> str:
    """base64url CRC-64-AVRO of the Parsing Canonical Form — equal to what
    hamba/avro's FingerprintUsing(CRC64Avro) yields for the same schema."""
    return avro_fingerprint(avro_canonical_form(schema).encode())


def canonical_fingerprint_int(schema: Any) -> int:
    return crc64_avro(avro_canonical_form(schema).encode())
