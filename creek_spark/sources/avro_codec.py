"""Avro binary codec (O11) — one schema compiler, pure Python, Arrow-batched.

The reference publishes WAL messages as Avro binary in the single-object
encoding (internal/mq/wal.go:52-58: `avro.Marshal(schema, wal)` framed by
client.go:265-286), with the schema built by messages.go:58-89
(`publish_message` record: fingerprint, source record, op enum, sent_at,
before/after null-unions).

The spark-avro connector jar is not on this classpath (from_avro/to_avro
raise AVRO_NOT_LOADED), so this module is a from-spec implementation of
Avro binary encoding — zigzag varints, length-prefixed bytes/strings,
unions in any branch order, enums, named-type references, blocked arrays,
records, and the decimal/date/time-micros/timestamp-micros/uuid logical
types.  `_compile_encoder` / `_compile_decoder` turn a schema into
closures once; every Avro path of the engine uses them:

  * native envelope frames — `encode_envelope_avro` /
    `decode_envelope_avro`, run as Arrow-batched mapInPandas stages (the
    sanctioned Python escape hatch; this is a format-boundary operator,
    not a hot relational path);
  * `.avro` object container files (avro_files.py);
  * the reference's exact wire format (creek_wire.ReferenceWireCodec).

The callers differ in two ways only: the native encoder turns pandas'
NaN/NaT markers into None before encoding, and the reference wire format
decodes `timestamp-micros` to naive UTC datetimes (native: aware UTC).

Decoding treats its input as untrusted: a truncated, over-long or
out-of-range field, or bytes left after a frame's body, fails with
ValueError, and no length field can make a read larger than the input.
Where the connector jar IS present, `creek_spark.sources.wire` can swap
to to_avro/from_avro without changing the frame layout.

Schema mapping (Spark → Avro):
    string→string  int→int  long→long  float→float  double→double
    boolean→boolean  binary→bytes  date→int/date
    timestamp→long/timestamp-micros  decimal(p,s)→bytes/decimal
    array<e>→array  struct→record  nullable field→["null", T]

One deliberate extension over the reference's message: the envelope's
`unchanged_toast array<string>` field rides along as a null-union (the
reference *omits* unchanged TOAST columns from its Avro map value —
map-typed rows can do that, record-typed rows cannot; see
types/envelope.py).  Fingerprints are CRC-64-AVRO over the canonical
schema (types/fingerprint.py), carried little-endian in the frame exactly
as the spec's single-object encoding prescribes.
"""

from __future__ import annotations

import datetime
import decimal
import struct as _struct
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from creek_spark.sources.golden import _PRIMITIVES, INFINITY, NEGATIVE_INFINITY, _fullname
from creek_spark.types.envelope import OPS, envelope_schema
from creek_spark.types.fingerprint import fingerprint_schema

MAGIC = b"\xc3\x01"
_EPOCH_ORDINAL = datetime.date(1970, 1, 1).toordinal()
_EPOCH_TS = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_EPOCH_NAIVE = datetime.datetime(1970, 1, 1)
_MICROSECOND = datetime.timedelta(microseconds=1)


# ------------------------------------------------------------ Avro schema


def spark_type_to_avro(dt: T.DataType, name: str) -> Any:
    """Spark DataType → Avro schema fragment (JSON-style dict/str)."""
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.TimestampNTZType):
        return {"type": "long", "logicalType": "local-timestamp-micros"}
    if isinstance(dt, T.DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    if isinstance(dt, T.ArrayType):
        return {"type": "array", "items": spark_type_to_avro(dt.elementType, name)}
    if isinstance(dt, T.StructType):
        return struct_to_avro_record(dt, name)
    raise TypeError(f"no Avro mapping for Spark type {dt!r}")


def struct_to_avro_record(st: T.StructType, name: str, namespace: str | None = None) -> dict:
    rec: dict = {"type": "record", "name": name, "fields": []}
    if namespace:
        rec["namespace"] = namespace
    for f in st.fields:
        ft = spark_type_to_avro(f.dataType, f"{name}_{f.name}")
        if f.nullable:
            ft = ["null", ft]
        rec["fields"].append({"name": f.name, "type": ft})
    return rec


def envelope_avro_schema(env_struct: T.StructType) -> dict:
    """The `publish_message` record (messages.go:58-89): op becomes the
    reference's 6-symbol enum; before/after records get their namespaced
    shapes; nullable fields become null-unions."""
    fields = []
    for f in env_struct.fields:
        if f.name == "op":
            ft: Any = {"type": "enum", "name": "op", "symbols": list(OPS)}
        elif f.name in ("before", "after") and isinstance(f.dataType, T.StructType):
            ft = struct_to_avro_record(f.dataType, "row", namespace=f.name)
        else:
            ft = spark_type_to_avro(f.dataType, f.name)
        if f.nullable:
            ft = ["null", ft]
        fields.append({"name": f.name, "type": ft})
    return {"type": "record", "name": "publish_message", "fields": fields}


# -------------------------------------------------------- binary encoding


def _zigzag(n: int) -> int:
    return ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def enc_long(n: int, out: bytearray) -> None:
    u = _zigzag(int(n))
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def enc_bytes(b: bytes, out: bytearray) -> None:
    enc_long(len(b), out)
    out.extend(b)


def _to_micros(v: Any) -> int:
    """pandas.Timestamp / datetime (naive = UTC) / int → µs since epoch."""
    if isinstance(v, int):
        return v
    if hasattr(v, "value"):  # pandas.Timestamp: ns since epoch (UTC)
        return int(v.value) // 1_000
    if v.tzinfo is None:
        v = v.replace(tzinfo=datetime.timezone.utc)
    return (v - _EPOCH_TS) // _MICROSECOND


def _time_micros(v: Any) -> int:
    """datetime.time or its ISO text → µs since midnight."""
    if not isinstance(v, datetime.time):
        v = datetime.time.fromisoformat(str(v))
    return (v.hour * 3600 + v.minute * 60 + v.second) * 1_000_000 + v.microsecond


# -------------------------------------------------------- binary decoding


class _Cursor:
    """Read position over one untrusted buffer.  Every read is checked
    against the buffer's end, so malformed input fails with ValueError
    and no length field can make a read allocate more than the input."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def left(self) -> int:
        return len(self.buf) - self.pos

    def read(self, n: int) -> bytes:
        end = self.pos + n
        if n < 0 or end > len(self.buf):
            raise ValueError(
                f"Avro data truncated: {n} bytes wanted at offset {self.pos}, "
                f"{self.left()} left"
            )
        b = self.buf[self.pos : end]
        self.pos = end
        return b


def dec_long(c: _Cursor) -> int:
    """Zigzag varint → int; at most 10 bytes (64 bits), as the spec says."""
    buf, pos = c.buf, c.pos
    shift = u = 0
    try:
        for _ in range(10):
            b = buf[pos]
            pos += 1
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                if u >> 64:
                    break
                c.pos = pos
                return _unzigzag(u)
            shift += 7
    except IndexError:
        raise ValueError(f"Avro varint truncated at offset {c.pos}") from None
    raise ValueError(f"Avro varint at offset {c.pos} exceeds 64 bits")


def dec_bytes(c: _Cursor) -> bytes:
    n = dec_long(c)
    if n < 0:
        raise ValueError(f"negative Avro length {n} at offset {c.pos}")
    return c.read(n)


def dec_block_count(c: _Cursor) -> int:
    """The item count of one array/map block (0 ends the blocks).  A
    negative count is followed by the block's byte size, which is
    skipped.  A count larger than the bytes left is refused before any
    item is read."""
    n = dec_long(c)
    if n < 0:
        n = -n
        dec_long(c)
    if n > c.left():
        raise ValueError(f"Avro block of {n} items with {c.left()} bytes left")
    return n


def decode_all(dec: Callable[[_Cursor], Any], buf: bytes, pos: int = 0) -> Any:
    """Decode one value that must span ``buf[pos:]`` exactly."""
    c = _Cursor(buf, pos)
    v = dec(c)
    if c.pos != len(buf):
        raise ValueError(f"{c.left()} trailing bytes after the Avro value")
    return v


# ---------------------------------------------------------- schema compiler


def _resolve(schema: Any, ns: str | None, named: dict) -> Any:
    """A named-type reference → its declaration; other nodes unchanged."""
    if not isinstance(schema, str) or schema in _PRIMITIVES:
        return schema
    node = named.get(_fullname(schema, ns), named.get(schema))
    if node is None:
        raise TypeError(f"unknown Avro named type {schema!r}")
    return node


def _names(schema: dict, ns: str | None) -> tuple[str, str | None]:
    """A record/enum's fullname, and the namespace its fields resolve in."""
    full = _fullname(schema["name"], schema.get("namespace", ns))
    return full, full.rpartition(".")[0] or None


def _kind(schema: Any) -> tuple[Any, Any]:
    if isinstance(schema, str):
        return schema, None
    if isinstance(schema, dict):
        return schema.get("type"), schema.get("logicalType")
    raise TypeError(f"not an Avro schema node: {schema!r}")


def _enum_index(schema: dict) -> dict[str, int]:
    """Symbol → index.  An enum carrying the infinity symbols (the
    reference's infinity_modifier) also takes the Postgres spellings of
    ±infinity; other enums take their own symbols only."""
    idx = {s: i for i, s in enumerate(schema["symbols"])}
    if INFINITY in idx and NEGATIVE_INFINITY in idx:
        idx["Infinity"] = idx[INFINITY]
        idx["-infinity"] = idx["-Infinity"] = idx[NEGATIVE_INFINITY]
    return idx


def _compile_encoder(schema: Any) -> Callable[[Any, bytearray], None]:
    """Avro schema → fn(value, out).  ``None`` is the only null value:
    callers holding pandas batches normalise NaN/NaT first."""
    return _encoder(schema, None, {})


def _encoder(
    schema: Any, ns: str | None, named: dict
) -> Callable[[Any, bytearray], None]:
    schema = _resolve(schema, ns, named)
    if isinstance(schema, list):
        return _union_encoder(schema, ns, named)
    t, logical = _kind(schema)
    if logical == "date":
        return lambda v, out: enc_long(v.toordinal() - _EPOCH_ORDINAL, out)
    if logical == "time-micros":
        return lambda v, out: enc_long(_time_micros(v), out)
    if logical in ("timestamp-micros", "local-timestamp-micros"):
        return lambda v, out: enc_long(_to_micros(v), out)
    if logical == "decimal":
        scale = int(schema["scale"])

        def enc_dec(v, out):
            unscaled = int(
                decimal.Decimal(v).scaleb(scale).to_integral_value(
                    rounding=decimal.ROUND_HALF_UP
                )
            )
            n = max(1, (unscaled.bit_length() + 8) // 8)
            enc_bytes(unscaled.to_bytes(n, "big", signed=True), out)

        return enc_dec
    if t == "null":
        return lambda v, out: None
    if t == "string":
        return lambda v, out: enc_bytes(str(v).encode("utf-8"), out)
    if t in ("int", "long"):
        return lambda v, out: enc_long(int(v), out)
    if t == "float":
        return lambda v, out: out.extend(_struct.pack("<f", float(v)))
    if t == "double":
        return lambda v, out: out.extend(_struct.pack("<d", float(v)))
    if t == "boolean":
        return lambda v, out: out.append(1 if v else 0)
    if t == "bytes":
        return lambda v, out: enc_bytes(
            v.encode("utf-8") if isinstance(v, str) else bytes(v), out
        )
    if t == "enum":
        full, _ = _names(schema, ns)
        named[full] = dict(schema, name=full)
        idx = _enum_index(schema)

        def enc_enum(v, out):
            i = idx.get(v)
            if i is None:
                raise ValueError(
                    f"{v!r} is not a symbol of Avro enum {schema['name']}"
                )
            enc_long(i, out)

        return enc_enum
    if t == "array":
        item = _encoder(schema["items"], ns, named)

        def enc_arr(v, out):
            v = list(v)
            if v:
                enc_long(len(v), out)
                for x in v:
                    item(x, out)
            out.append(0x00)  # end of blocks

        return enc_arr
    if t == "record":
        # registered after its fields: a recursive record is refused
        full, child_ns = _names(schema, ns)
        fields = [
            (f["name"], _encoder(f["type"], child_ns, named))
            for f in schema["fields"]
        ]
        named[full] = dict(schema, name=full)

        def enc_rec(v, out):
            get = v.get if isinstance(v, dict) else lambda k: getattr(v, k)
            for fname, fenc in fields:
                fenc(get(fname), out)

        return enc_rec
    raise TypeError(f"no encoder for Avro schema {schema!r}")


def _union_encoder(
    schema: list, ns: str | None, named: dict
) -> Callable[[Any, bytearray], None]:
    """Any branch order and count.  ``None`` takes the null branch; a
    string naming a symbol of an enum branch takes that enum (the
    reference's ±infinity temporals); any other value takes the first
    branch that is neither null nor an enum."""
    encs = [_encoder(m, ns, named) for m in schema]
    members = [_resolve(m, ns, named) for m in schema]  # after encs declared them
    kinds = [_kind(m)[0] for m in members]
    null_i = kinds.index("null") if "null" in kinds else None
    enums = [(i, _enum_index(m)) for i, m in enumerate(members) if kinds[i] == "enum"]
    value_i = next((i for i, k in enumerate(kinds) if k not in ("null", "enum")), None)
    if value_i is None:
        if not enums:
            raise TypeError(f"Avro union {schema!r} has no non-null branch")
        value_i = enums[0][0]

    def enc_union(v, out):
        if v is None:
            if null_i is None:
                raise ValueError(f"null for non-nullable Avro union {schema!r}")
            i = null_i
        elif enums and isinstance(v, str):
            i = next((j for j, symbols in enums if v in symbols), value_i)
        else:
            i = value_i
        enc_long(i, out)
        encs[i](v, out)

    return enc_union


def _compile_decoder(schema: Any, *, tz_aware: bool = True) -> Callable[[_Cursor], Any]:
    """Avro schema → fn(cursor) → value.  ``timestamp-micros`` decodes to
    an aware UTC datetime, or with ``tz_aware=False`` to a naive one in
    UTC (the reference wire format's rows)."""
    return _decoder(schema, None, {}, tz_aware)


def _guard_range(fn: Callable[[int], Any]) -> Callable[[_Cursor], Any]:
    """A date/time constructor over a decoded long: out-of-range values
    fail with ValueError rather than OverflowError."""

    def dec(c):
        n = dec_long(c)
        try:
            return fn(n)
        except OverflowError:
            raise ValueError(f"Avro temporal value {n} out of range") from None

    return dec


def _decoder(
    schema: Any, ns: str | None, named: dict, tz_aware: bool
) -> Callable[[_Cursor], Any]:
    schema = _resolve(schema, ns, named)
    if isinstance(schema, list):
        branches = [_decoder(m, ns, named, tz_aware) for m in schema]
        n_branches = len(branches)

        def dec_union(c):
            i = dec_long(c)
            if not 0 <= i < n_branches:
                raise ValueError(f"Avro union index {i} out of range")
            return branches[i](c)

        return dec_union
    t, logical = _kind(schema)
    if logical == "date":
        return _guard_range(lambda n: datetime.date.fromordinal(n + _EPOCH_ORDINAL))
    if logical == "time-micros":
        return _guard_range(
            lambda us: datetime.time(
                us // 3_600_000_000,
                us // 60_000_000 % 60,
                us // 1_000_000 % 60,
                us % 1_000_000,
            )
        )
    if logical in ("timestamp-micros", "local-timestamp-micros"):
        epoch = _EPOCH_TS if tz_aware and logical == "timestamp-micros" else _EPOCH_NAIVE
        return _guard_range(lambda us: epoch + datetime.timedelta(microseconds=us))
    if logical == "decimal":
        scale = int(schema["scale"])
        return lambda c: decimal.Decimal(
            int.from_bytes(dec_bytes(c), "big", signed=True)
        ).scaleb(-scale)
    if t == "null":
        return lambda c: None
    if t == "string":
        return lambda c: dec_bytes(c).decode("utf-8")
    if t in ("int", "long"):
        return dec_long
    if t == "float":
        return lambda c: _struct.unpack("<f", c.read(4))[0]
    if t == "double":
        return lambda c: _struct.unpack("<d", c.read(8))[0]
    if t == "boolean":

        def dec_bool(c):
            b = c.read(1)[0]
            if b > 1:
                raise ValueError(f"Avro boolean byte {b:#x} is not 0 or 1")
            return b == 1

        return dec_bool
    if t == "bytes":
        return dec_bytes
    if t == "enum":
        full, _ = _names(schema, ns)
        named[full] = dict(schema, name=full)
        # the reference's magic symbol surfaces as the Postgres spelling
        symbols = ["-infinity" if s == NEGATIVE_INFINITY else s for s in schema["symbols"]]

        def dec_enum(c):
            i = dec_long(c)
            if not 0 <= i < len(symbols):
                raise ValueError(f"Avro enum index {i} out of range")
            return symbols[i]

        return dec_enum
    if t == "array":
        item = _decoder(schema["items"], ns, named, tz_aware)

        def dec_arr(c):
            out = []
            n = dec_block_count(c)
            while n:
                for _ in range(n):
                    out.append(item(c))
                n = dec_block_count(c)
            return out

        return dec_arr
    if t == "record":
        full, child_ns = _names(schema, ns)
        fields = [
            (f["name"], _decoder(f["type"], child_ns, named, tz_aware))
            for f in schema["fields"]
        ]
        named[full] = dict(schema, name=full)
        return lambda c: {fname: fdec(c) for fname, fdec in fields}
    raise TypeError(f"no decoder for Avro schema {schema!r}")


# ------------------------------------------------------ Spark integration


def _fp_bytes(fp_b64url: str) -> bytes:
    import base64

    pad = "=" * ((4 - len(fp_b64url) % 4) % 4)
    return base64.urlsafe_b64decode(fp_b64url + pad)


def _fp_str(fp: bytes) -> str:
    import base64

    return base64.urlsafe_b64encode(fp).rstrip(b"=").decode()


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("fingerprint", T.StringType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def pandas_rows(pdf, cols: list[str]) -> Iterator[dict]:
    """One Arrow batch's rows as dicts, with pandas' top-level null
    markers (NaN, NaT) turned into None — the only null the compiled
    encoders know.  Nested values arrive from Arrow with None already."""
    sub = pdf[cols].astype(object)
    sub = sub.where(sub.notna(), None)
    for row in sub.itertuples(index=False, name=None):
        yield dict(zip(cols, row))


def encode_envelope_avro(env_df: DataFrame, row_struct: T.StructType) -> DataFrame:
    """Envelope rows → single-object frames: C3 01 + fp(8B LE) + Avro body
    (the wal.go:52-58 produce path).  The frame fingerprint is the ROW
    schema's registry fingerprint — the key a reader resolves via
    SchemaRegistry.get, exactly like the reference's fingerprint-keyed
    schema fetch (client.go:745-782)."""
    env_struct = envelope_schema(row_struct)
    avsc = envelope_avro_schema(env_struct)
    fp = fingerprint_schema(row_struct)
    fp_raw = _fp_bytes(fp)
    cols = [f.name for f in env_struct.fields]

    def encode(batches: Iterator) -> Iterator:
        import pandas as pd

        enc = _compile_encoder(avsc)  # compile once per task
        for pdf in batches:
            frames = []
            for row in pandas_rows(pdf, cols):
                body = bytearray(MAGIC)
                body.extend(fp_raw)
                enc(row, body)
                frames.append(bytes(body))
            yield pd.DataFrame({"fingerprint": fp, "frame": frames})

    return env_df.mapInPandas(encode, schema=FRAME_SCHEMA)


def _superset_struct(structs: list[T.StructType], path: str = "") -> T.StructType:
    """The struct holding every field of ``structs`` by name, in
    first-seen order.  A field missing from any struct becomes nullable;
    struct-typed fields merge recursively; any other type disagreement
    raises ValueError."""
    merged: dict[str, T.StructField] = {}
    for st in structs:
        for f in st.fields:
            prev = merged.get(f.name)
            if prev is None:
                merged[f.name] = f
            elif prev.dataType != f.dataType:
                if not isinstance(prev.dataType, T.StructType) or not isinstance(
                    f.dataType, T.StructType
                ):
                    raise ValueError(
                        f"schema generations disagree on {path}{f.name}: "
                        f"{prev.dataType.simpleString()} vs {f.dataType.simpleString()}"
                    )
                sub = _superset_struct([prev.dataType, f.dataType], f"{path}{f.name}.")
                merged[f.name] = T.StructField(
                    f.name, sub, prev.nullable or f.nullable, prev.metadata
                )
            elif f.nullable and not prev.nullable:
                merged[f.name] = T.StructField(f.name, f.dataType, True, prev.metadata)
    return T.StructType(
        [
            f if all(f.name in st.names for st in structs)
            else T.StructField(f.name, f.dataType, True, f.metadata)
            for f in merged.values()
        ]
    )


def decode_frame(frame: bytes, decoders: dict) -> dict:
    """One native single-object frame → its envelope dict.  ``decoders``
    maps the 8 raw fingerprint bytes to a compiled body decoder.  Bad
    magic, an unknown fingerprint, a malformed body or bytes after the
    body raise ValueError."""
    if frame[:2] != MAGIC:
        raise ValueError("bad single-object magic")
    dec = decoders.get(frame[2:10])
    if dec is None:
        raise ValueError(f"unknown schema fingerprint {_fp_str(frame[2:10])}")
    return decode_all(dec, frame, 10)


def decode_envelope_avro(
    frames_df: DataFrame,
    schemas: dict[str, T.StructType],
    frame_col: str = "frame",
) -> DataFrame:
    """Frames → envelope rows, fingerprint-dispatched: one stream carries
    many schema generations (DDL evolution → new fingerprint, O10/§3.2);
    each frame's 8-byte fingerprint selects its generation's decoder
    (client.go:265-286), all in one mapInPandas pass.  `schemas` maps
    registry fingerprint → row StructType (e.g. from SchemaRegistry).

    The output envelope is the superset of the generations' envelopes
    (`_superset_struct`): a row of an older generation surfaces with null
    for every column added later.  Generations that disagree on a
    column's type raise ValueError here, at plan time.  With a single
    generation the output schema is exactly its envelope.  A frame with
    an unknown fingerprint or a malformed body fails the task with
    ValueError — the caller quarantines via wire.split_frames first."""
    env_structs = {fp: envelope_schema(rs) for fp, rs in schemas.items()}
    if not env_structs:
        raise ValueError("decode_envelope_avro needs at least one schema")
    out_env = _superset_struct(list(env_structs.values()))
    avro_schemas = {fp: envelope_avro_schema(es) for fp, es in env_structs.items()}
    cols = out_env.names

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        decoders = {
            _fp_bytes(fp): _compile_decoder(avsc)
            for fp, avsc in avro_schemas.items()
        }
        for pdf in batches:
            rows = [decode_frame(bytes(f), decoders) for f in pdf[frame_col]]
            # struct fields a generation lacks convert to null
            yield pd.DataFrame(rows, columns=cols)

    return frames_df.mapInPandas(decode, schema=out_env)
