"""O11 Avro single-object payload: byte-level spec compliance (hand-computed
expected bytes from the Avro specification — zigzag varints, length
prefixes, union/enum indexes, blocked arrays, logical types) plus a Spark
round-trip of the scripted WAL stream through encode → frames → decode."""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import functions as F
from pyspark.sql import types as T

from creek_spark.sources.avro_codec import (
    MAGIC,
    _compile_decoder,
    _compile_encoder,
    _Cursor,
    _fp_bytes,
    decode_envelope_avro,
    enc_long,
    encode_envelope_avro,
    envelope_avro_schema,
    struct_to_avro_record,
)
from creek_spark.types.envelope import envelope_schema
from creek_spark.types.fingerprint import fingerprint_schema
from tests.fixtures import ENV_SCHEMA, ROW_SCHEMA, other_wal_df


def _enc(schema, value) -> bytes:
    out = bytearray()
    _compile_encoder(schema)(value, out)
    return bytes(out)


def test_zigzag_varint_spec_bytes():
    # the Avro spec's own example table: 0→00, -1→01, 1→02, -2→03, 2→04,
    # -64→7f, 64→80 01
    cases = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03", 2: b"\x04",
             -64: b"\x7f", 64: b"\x80\x01", 8192: b"\x80\x80\x01"}
    for n, expect in cases.items():
        out = bytearray()
        enc_long(n, out)
        assert bytes(out) == expect, n


def test_primitive_and_logical_spec_bytes():
    assert _enc("string", "ab") == b"\x04ab"          # len 2 + utf8
    assert _enc("bytes", b"\xff") == b"\x02\xff"
    assert _enc("boolean", True) == b"\x01"
    assert _enc("double", 0.0) == b"\x00" * 8
    # union [null, long]: null → index 0 only; 5 → index 1 then zigzag(5)
    assert _enc(["null", "long"], None) == b"\x00"
    assert _enc(["null", "long"], 5) == b"\x02\x0a"
    # enum: index as zigzag varint — op 'u_pk' is symbol 2 → 04
    op_enum = {"type": "enum", "name": "op",
               "symbols": ["c", "u", "u_pk", "d", "t", "r"]}
    assert _enc(op_enum, "u_pk") == b"\x04"
    # array [1, 2]: block count 2, items, end-of-blocks 0
    arr = {"type": "array", "items": "long"}
    assert _enc(arr, [1, 2]) == b"\x04\x02\x04\x00"
    assert _enc(arr, []) == b"\x00"
    # date: days since epoch — 1970-01-02 → 1
    assert _enc({"type": "int", "logicalType": "date"},
                datetime.date(1970, 1, 2)) == b"\x02"
    # timestamp-micros: 1970-01-01T00:00:00.000001Z → 1
    ts = datetime.datetime(1970, 1, 1, 0, 0, 0, 1, tzinfo=datetime.timezone.utc)
    assert _enc({"type": "long", "logicalType": "timestamp-micros"}, ts) == b"\x02"
    # decimal(…,2): 123.45 → unscaled 12345 = 0x3039 big-endian, len 2
    dec_schema = {"type": "bytes", "logicalType": "decimal",
                  "precision": 10, "scale": 2}
    assert _enc(dec_schema, decimal.Decimal("123.45")) == b"\x04\x30\x39"
    # negative decimal: -1.00 → unscaled -100 → two's complement 0x9c, len 1
    assert _enc(dec_schema, decimal.Decimal("-1.00")) == b"\x02\x9c"


def test_record_spec_bytes_and_decode():
    rec = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
        ],
    }
    body = _enc(rec, {"a": 3, "b": "hi"})
    assert body == b"\x06" + b"\x02\x04hi"
    assert _compile_decoder(rec)(_Cursor(body)) == {"a": 3, "b": "hi"}
    assert _compile_decoder(rec)(_Cursor(_enc(rec, {"a": -1, "b": None}))) == {
        "a": -1, "b": None
    }


def test_decoder_handles_negative_array_block_counts():
    # spec: a negative block count is followed by the block's byte size
    arr = {"type": "array", "items": "long"}
    buf = bytearray()
    enc_long(-2, buf)      # block of 2 items, size-prefixed form
    enc_long(2, buf)       # byte size of the block (2 one-byte varints)
    enc_long(7, buf)
    enc_long(9, buf)
    enc_long(0, buf)       # end of blocks
    assert _compile_decoder(arr)(_Cursor(bytes(buf))) == [7, 9]


def test_envelope_frame_layout(spark):
    frames = encode_envelope_avro(other_wal_df(spark), ROW_SCHEMA)
    row = frames.limit(1).collect()[0]
    fp = fingerprint_schema(ROW_SCHEMA)
    assert row["fingerprint"] == fp
    frame = bytes(row["frame"])
    # single-object encoding: C3 01 marker then 8-byte fingerprint
    assert frame[:2] == MAGIC
    assert frame[2:10] == _fp_bytes(fp)
    assert len(_fp_bytes(fp)) == 8
    # the body decodes standalone with a freshly compiled decoder
    avsc = envelope_avro_schema(envelope_schema(ROW_SCHEMA))
    decoded = _compile_decoder(avsc)(_Cursor(frame, 10))
    assert decoded["source"]["table"] == "other"
    assert decoded["op"] in ("c", "u", "u_pk", "d", "t", "r")


def test_spark_roundtrip_scripted_wal(spark):
    env = other_wal_df(spark)
    fp = fingerprint_schema(ROW_SCHEMA)
    frames = encode_envelope_avro(env, ROW_SCHEMA)
    back = decode_envelope_avro(frames, {fp: ROW_SCHEMA})

    def canon(df):
        return sorted(
            (
                r["op"], r["source"]["lsn"], r["source"]["tx_id"],
                None if r["before"] is None else tuple(r["before"]),
                None if r["after"] is None else tuple(r["after"]),
                None if r["unchanged_toast"] is None else tuple(r["unchanged_toast"]),
                r["sent_at"],
            )
            for r in df.collect()
        )

    assert canon(back) == canon(env)
    assert back.count() == env.count()


def test_roundtrip_rich_row_types(spark):
    rich = T.StructType([
        T.StructField("id", T.IntegerType(), False,
                      metadata={"pgKey": True, "pgType": "int4"}),
        T.StructField("price", T.DecimalType(12, 2), True),
        T.StructField("d", T.DateType(), True),
        T.StructField("flag", T.BooleanType(), True),
        T.StructField("blob", T.BinaryType(), True),
        T.StructField("xs", T.ArrayType(T.DoubleType()), True),
    ])
    env_schema = envelope_schema(rich)
    t0 = datetime.datetime(2024, 5, 1, tzinfo=datetime.timezone.utc)
    rows = [
        ("f", ("creek", t0, "db", "public", "rich", 1, "0/1"), "c", t0,
         None, (1, decimal.Decimal("99.99"), datetime.date(2024, 5, 1), True,
                b"\x00\x01", [1.5, -2.5]), None),
        ("f", ("creek", t0, "db", "public", "rich", 2, "0/2"), "d", t0,
         (2,), None, None),
    ]
    env = spark.createDataFrame(rows, schema=env_schema)
    fp = fingerprint_schema(rich)
    back = decode_envelope_avro(encode_envelope_avro(env, rich), {fp: rich})
    got = {r["op"]: r for r in back.collect()}
    after = got["c"]["after"]
    assert after["price"] == decimal.Decimal("99.99")
    assert after["d"] == datetime.date(2024, 5, 1)
    assert after["flag"] is True
    assert bytes(after["blob"]) == b"\x00\x01"
    assert after["xs"] == [1.5, -2.5]
    assert got["d"]["before"]["id"] == 2
    assert got["d"]["after"] is None


def test_unknown_fingerprint_raises(spark):
    env = other_wal_df(spark)
    frames = encode_envelope_avro(env, ROW_SCHEMA)
    other_schema = T.StructType([
        T.StructField("x", T.LongType(), False, metadata={"pgKey": True}),
    ])
    bad = decode_envelope_avro(frames, {fingerprint_schema(other_schema): other_schema})
    import pytest
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="unknown schema fingerprint|Py4J|PythonException"):
        bad.collect()


def test_wire_codec_dispatch(spark):
    """encode_envelope/decode_envelope route between json and avro codecs."""
    from creek_spark.sources.wire import decode_envelope, encode_envelope

    env = other_wal_df(spark)
    fp = fingerprint_schema(ROW_SCHEMA)

    av = decode_envelope(
        encode_envelope(env, ROW_SCHEMA, codec="avro"), {fp: ROW_SCHEMA}, "avro"
    )
    assert av.count() == env.count()

    # json framing unbase64s the fingerprint column → needs the real
    # 11-char registry form, not the fixture's placeholder 'fp1'
    env_fp = env.withColumn("fingerprint", F.lit(fp))
    js = decode_envelope(
        encode_envelope(env_fp, ROW_SCHEMA, codec="json"),
        {fp: None},
        "json",
        envelope_of=lambda _s: ENV_SCHEMA,
    )
    assert js[fp].count() == env.count()


def test_streaming_frames_decode_and_apply(spark, tmp_path):
    """The full consumer loop over the binary wire: frames land as files,
    readStream tails them, the fingerprint-dispatched Avro decode runs
    inside the stream, and CdcApplier materializes latest state — i.e.
    the reference's subscribe→decode→apply pipeline (client.go:265-332)
    with the single-object codec in the middle."""
    from creek_spark.streaming import CdcApplier
    from tests.fixtures import OTHER_EXPECTED, other_wal_events

    frames_dir = str(tmp_path / "frames")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    env = spark.createDataFrame(other_wal_events(), schema=ENV_SCHEMA)
    fp = fingerprint_schema(ROW_SCHEMA)
    encode_envelope_avro(env, ROW_SCHEMA).coalesce(1).write.mode("append").parquet(
        frames_dir
    )

    frames_stream = (
        spark.readStream.schema("fingerprint string, frame binary")
        .parquet(frames_dir)
    )
    decoded = decode_envelope_avro(frames_stream, {fp: ROW_SCHEMA})
    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)
    q = applier.start(decoded, ckpt)
    q.awaitTermination(120)

    state = {
        r["id"]: r["data"]
        for r in applier.current_state().select("id", "data").collect()
    }
    assert state == OTHER_EXPECTED


def test_schema_evolution_two_generations_avro(spark):
    """One binary stream, two row-shape generations (DDL added a column):
    fingerprint-split decode + reconcile surfaces the superset columns,
    old rows null for the added column — the Avro-wire mirror of
    tests/test_wire.py's JSON evolution case."""
    gen1 = ROW_SCHEMA  # (id, data)
    gen2 = T.StructType(
        list(ROW_SCHEMA.fields)
        + [T.StructField("extra", T.IntegerType(), True)]
    )
    fp1, fp2 = fingerprint_schema(gen1), fingerprint_schema(gen2)
    assert fp1 != fp2

    env1 = spark.createDataFrame(
        [other_wal_df(spark).collect()[0]], schema=envelope_schema(gen1)
    )
    import datetime as _dt

    t0 = _dt.datetime(2024, 6, 1, tzinfo=_dt.timezone.utc)
    env2 = spark.createDataFrame(
        [
            ("g2", ("creek", t0, "db", "public", "other", 9, "0/63"), "c", t0,
             None, (9, "nine", 42), None)
        ],
        schema=envelope_schema(gen2),
    )
    frames = encode_envelope_avro(env1, gen1).unionByName(
        encode_envelope_avro(env2, gen2)
    )
    out = decode_envelope_avro(frames, {fp1: gen1, fp2: gen2})
    rows = {r["source"]["lsn"]: r for r in out.collect()}
    assert set(out.select("after.*").columns) == {"id", "data", "extra"}
    assert rows["0/63"]["after"]["extra"] == 42
    # gen1 row surfaces with null for the added column
    gen1_lsn = env1.collect()[0]["source"]["lsn"]
    assert rows[gen1_lsn]["after"]["extra"] is None
    assert rows[gen1_lsn]["after"]["id"] == 1


def _two_generations(spark):
    """(frames, gen1, gen2): one gen1 insert and one gen2 insert that
    sets the column gen2 added."""
    import datetime as _dt

    gen1 = ROW_SCHEMA
    gen2 = T.StructType(list(ROW_SCHEMA.fields) + [T.StructField("email", T.StringType(), True)])
    t0 = _dt.datetime(2024, 6, 1, tzinfo=_dt.timezone.utc)
    src = ("creek", t0, "db", "public", "other")

    def env(gen, lsn, after):
        return spark.createDataFrame(
            [("g", (*src, 1, lsn), "c", t0, None, after, None)], schema=envelope_schema(gen)
        )

    frames = encode_envelope_avro(env(gen1, "0/1", (1, "a")), gen1).unionByName(
        encode_envelope_avro(env(gen2, "0/2", (2, "b", "b@x")), gen2)
    )
    return frames, gen1, gen2


def test_wire_decode_envelope_avro_keeps_added_column(spark):
    """The registry path (`wire.decode_envelope(codec="avro")`, which
    `Engine.decode_wal` takes) decodes every generation onto the
    superset envelope: the newer generation's added column survives."""
    from creek_spark.sources.wire import decode_envelope

    frames, gen1, gen2 = _two_generations(spark)
    registry = {fingerprint_schema(gen1): gen1, fingerprint_schema(gen2): gen2}
    out = decode_envelope(frames, registry, "avro")
    assert out.schema["after"].dataType.names == ["id", "data", "email"]
    rows = {r["source"]["lsn"]: r["after"] for r in out.collect()}
    assert rows["0/2"]["email"] == "b@x"
    assert rows["0/1"]["email"] is None and rows["0/1"]["data"] == "a"


def test_decode_envelope_avro_output_schema(spark):
    """One generation: exactly its envelope.  Generations that disagree
    on a column's type: ValueError before any job runs."""
    frames, gen1, _ = _two_generations(spark)
    fp1 = fingerprint_schema(gen1)
    assert decode_envelope_avro(frames, {fp1: gen1}).schema == envelope_schema(gen1)
    clash = T.StructType(
        [ROW_SCHEMA["id"], T.StructField("data", T.LongType(), True)]
    )
    import pytest

    with pytest.raises(ValueError, match="after.data"):
        decode_envelope_avro(frames, {fp1: gen1, fingerprint_schema(clash): clash})


def test_general_unions():
    """Unions in any branch order and with any number of branches."""
    import pytest

    three = ["null", "long", "string"]
    assert _compile_decoder(three)(_Cursor(b"\x04\x04hi")) == "hi"
    assert _compile_decoder(three)(_Cursor(b"\x02\x0a")) == 5
    assert _enc(three, 5) == b"\x02\x0a"
    assert _enc(three, None) == b"\x00"
    rev = ["string", "null"]
    assert _compile_decoder(rev)(_Cursor(b"\x02")) is None
    assert _compile_decoder(rev)(_Cursor(b"\x00\x04hi")) == "hi"
    assert _enc(rev, None) == b"\x02" and _enc(rev, "hi") == b"\x00\x04hi"
    with pytest.raises(ValueError, match="non-nullable"):
        _enc(["long", "string"], None)


def test_enum_symbols_are_exact():
    """Only an enum carrying the infinity symbols takes the Postgres
    ±infinity spellings; any other unknown symbol is refused."""
    import pytest

    from creek_spark.sources.golden import INFINITY, NEGATIVE_INFINITY

    op_enum = {"type": "enum", "name": "op", "symbols": ["c", "u", "u_pk", "d", "t", "r"]}
    for bad in ("-infinity", "Infinity", "x"):
        with pytest.raises(ValueError, match="not a symbol"):
            _enc(op_enum, bad)
    inf = {"type": "enum", "name": "inf", "symbols": [INFINITY, NEGATIVE_INFINITY]}
    assert _enc(inf, "-infinity") == _enc(inf, "-Infinity") == b"\x02"
    assert _enc(inf, "Infinity") == _enc(inf, "infinity") == b"\x00"
    assert _compile_decoder(inf)(_Cursor(b"\x02")) == "-infinity"
