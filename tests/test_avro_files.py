"""Avro Object Container Files: spec-layout checks (magic, metadata map,
sync markers) plus Spark round-trips through write_avro_files /
read_avro_files — the jar-free `.avro` file path."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from creek_spark.sources.avro_files import (
    MAGIC,
    avro_type_to_spark,
    parse_container,
    read_avro_files,
    write_avro_files,
)
from creek_spark.sources import read_table
from tests.conftest import SF_DIR


def test_container_layout_spec(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"]).coalesce(1)
    out = str(tmp_path / "avro")
    assert write_avro_files(df, out) == 1
    import glob

    files = glob.glob(out + "/*.avro")
    assert len(files) == 1
    data = open(files[0], "rb").read()
    assert data[:4] == MAGIC
    # metadata must carry schema + null codec; records decode
    avsc, records = parse_container(data)
    assert avsc["type"] == "record"
    assert {f["name"] for f in avsc["fields"]} == {"id", "s"}
    assert sorted(r["id"] for r in records) == [1, 2]
    # deterministic output: rewriting produces identical bytes
    write_avro_files(df, str(tmp_path / "avro2"))
    data2 = open(glob.glob(str(tmp_path / "avro2") + "/*.avro")[0], "rb").read()
    assert data == data2


def test_corrupt_sync_detected(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], ["id", "s"]).coalesce(1)
    out = str(tmp_path / "avro")
    write_avro_files(df, out)
    import glob

    f = glob.glob(out + "/*.avro")[0]
    data = bytearray(open(f, "rb").read())
    data[-1] ^= 0xFF  # flip a sync byte
    with pytest.raises(ValueError, match="sync marker"):
        parse_container(bytes(data))


def test_roundtrip_lineitem_subset(spark, tmp_path):
    li = (
        read_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .limit(500)
    )
    out = str(tmp_path / "li_avro")
    n_files = write_avro_files(li, out)
    assert n_files >= 1
    back = read_avro_files(spark, out)
    assert back.count() == 500
    a = {tuple(r) for r in li.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_roundtrip_rich_types_and_schema_sniff(spark, tmp_path):
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("price", T.DecimalType(10, 2), True),
        T.StructField("day", T.DateType(), True),
        T.StructField("at", T.TimestampType(), True),
        T.StructField("xs", T.ArrayType(T.DoubleType()), True),
    ])
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0, 123456,
                           tzinfo=datetime.timezone.utc)
    rows = [
        (1, decimal.Decimal("12.34"), datetime.date(2024, 3, 1), t0, [1.0, 2.5]),
        (2, None, None, None, []),
    ]
    df = spark.createDataFrame(rows, schema=schema).coalesce(1)
    out = str(tmp_path / "rich")
    write_avro_files(df, out)
    back = read_avro_files(spark, out)  # schema sniffed from the header
    got = {r["id"]: r for r in back.collect()}
    assert got[1]["price"] == decimal.Decimal("12.34")
    assert got[1]["day"] == datetime.date(2024, 3, 1)
    assert got[1]["at"].replace(tzinfo=datetime.timezone.utc) == t0
    assert got[1]["xs"] == [1.0, 2.5]
    assert got[2]["price"] is None and got[2]["xs"] == []
    # sniffed schema mirrors the original (modulo nullability of id)
    assert [f.name for f in back.schema.fields] == [f.name for f in schema.fields]


def test_avro_type_to_spark_subset():
    assert avro_type_to_spark("string") == T.StringType()
    assert avro_type_to_spark(["null", "long"]) == T.LongType()
    assert avro_type_to_spark(
        {"type": "bytes", "logicalType": "decimal", "precision": 9, "scale": 3}
    ) == T.DecimalType(9, 3)
    assert avro_type_to_spark({"type": "array", "items": "double"}) == T.ArrayType(
        T.DoubleType()
    )


def test_avro_type_to_spark_unions():
    """null plus one type maps in either order; any other union is
    refused by name."""
    assert avro_type_to_spark(["string", "null"]) == T.StringType()
    assert avro_type_to_spark(["null", "string"]) == T.StringType()
    for union in (["null", "long", "string"], ["long", "string"], ["null"]):
        with pytest.raises(TypeError, match="union"):
            avro_type_to_spark(union)


def test_formats_route_avro_jar_free(spark, tmp_path):
    """read_files/write_files with fmt='avro' fall back to the from-spec
    container path when the connector jar is absent."""
    from creek_spark.sources.formats import is_avro_available, read_files, write_files

    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "s"]).coalesce(1)
    out = str(tmp_path / "via_formats")
    write_files(df, out, fmt="avro")
    back = read_files(spark, out, fmt="avro")
    assert {tuple(r) for r in back.collect()} == {(1, "x"), (2, "y")}
    if not is_avro_available():
        with pytest.raises(ValueError, match="partition_by"):
            write_files(df, out, fmt="avro", partition_by=["s"])
