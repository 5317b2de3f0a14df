"""Avro Object Container Files — from-spec read/write, jar-free.

The spark-avro DataSource short name is unavailable on this classpath
(sources/formats.py), so `.avro` FILES are handled the same way the wire
codec is: a from-spec pure-Python implementation over Arrow batches.

Container layout (Avro spec, "Object Container Files"):
    magic 'Obj\\x01'
  + file metadata (an Avro map<bytes>: at least avro.schema, avro.codec)
  + 16-byte sync marker
  + blocks: [record count varint][byte size varint][records...][sync]

Codec is `null` (uncompressed) — deflate is a spec option, not a
requirement, and parquet/orc are the engine's compressed columnar paths.

Write shape: one container file per Spark partition via mapInPandas —
each task serializes its partition and writes `part-<pid>.avro` into the
target directory (POSIX/shared-fs path; with the connector jar present
`write_table(..., "avro")` is the cluster-native route).  The sync
marker is md5-derived from (schema, partition id) — deterministic, no
RNG, so identical input produces identical files.  Read shape:
`binaryFile` source → per-file container parse → rows; Catalyst column
pruning happens after parse (row format — same caveat as csv/json in
formats.py: land once, rewrite to parquet for repeated queries).
"""

from __future__ import annotations

import hashlib
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from creek_spark.sources.avro_codec import (
    _compile_decoder,
    _compile_encoder,
    _Cursor,
    dec_block_count,
    dec_bytes,
    dec_long,
    enc_bytes,
    enc_long,
    pandas_rows,
    struct_to_avro_record,
)

MAGIC = b"Obj\x01"


def avro_type_to_spark(avsc) -> T.DataType:
    """Reverse of spark_type_to_avro for the subset this engine emits.
    A union maps only as null plus one type, in either order."""
    if isinstance(avsc, list):
        others = [m for m in avsc if m != "null"]
        if len(avsc) != 2 or len(others) != 1:
            raise TypeError(f"no Spark mapping for Avro union {avsc!r}")
        return avro_type_to_spark(others[0])
    prim = {
        "string": T.StringType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "boolean": T.BooleanType(),
        "bytes": T.BinaryType(),
    }
    if isinstance(avsc, str):
        return prim[avsc]
    logical = avsc.get("logicalType")
    if logical == "date":
        return T.DateType()
    if logical == "timestamp-micros":
        return T.TimestampType()
    if logical == "local-timestamp-micros":
        return T.TimestampNTZType()
    if logical == "decimal":
        return T.DecimalType(avsc["precision"], avsc["scale"])
    t = avsc["type"]
    if t == "array":
        return T.ArrayType(avro_type_to_spark(avsc["items"]))
    if t == "enum":
        return T.StringType()
    if t == "record":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    avro_type_to_spark(f["type"]),
                    nullable=isinstance(f["type"], list),
                )
                for f in avsc["fields"]
            ]
        )
    if t in prim:
        return prim[t]
    raise TypeError(f"no Spark mapping for Avro schema {avsc!r}")


def _container_bytes(avsc_json: str, enc, rows, sync: bytes) -> bytes:
    """Assemble one container file: header + a single block."""
    out = bytearray(MAGIC)
    # file metadata map: one block of 2 entries, then end-of-blocks
    enc_long(2, out)
    enc_bytes(b"avro.schema", out)
    enc_bytes(avsc_json.encode("utf-8"), out)
    enc_bytes(b"avro.codec", out)
    enc_bytes(b"null", out)
    enc_long(0, out)
    out.extend(sync)
    body = bytearray()
    n = 0
    for row in rows:
        enc(row, body)
        n += 1
    if n:
        enc_long(n, out)
        enc_long(len(body), out)
        out.extend(body)
        out.extend(sync)
    return bytes(out)


def write_avro_files(df: DataFrame, path: str) -> int:
    """Write df as `part-<pid>.avro` container files under ``path``.
    Returns the number of files written.  Runs one Arrow-batched task
    per partition; the task writes to the (shared) filesystem directly —
    the jar-free local/NFS path, not a HadoopFS committer."""
    import json as _json

    os.makedirs(path, exist_ok=True)
    avsc = struct_to_avro_record(df.schema, "row")
    avsc_json = _json.dumps(avsc)
    cols = df.columns

    with_pid = df.withColumn("_pid", F.spark_partition_id())

    def write_part(batches: Iterator) -> Iterator:
        import pandas as pd

        enc = _compile_encoder(avsc)
        rows, pid = [], None
        for pdf in batches:
            if len(pdf) and pid is None:
                pid = int(pdf["_pid"].iloc[0])
            rows.extend(pandas_rows(pdf, cols))
        if pid is None:
            yield pd.DataFrame({"file": [], "n_rows": []})
            return
        sync = hashlib.md5(
            (avsc_json + f"#{pid}").encode("utf-8")
        ).digest()
        target = os.path.join(path, f"part-{pid:05d}.avro")
        tmp = target + ".tmp"
        with open(tmp, "wb") as f:
            f.write(_container_bytes(avsc_json, enc, rows, sync))
        os.replace(tmp, target)
        yield pd.DataFrame({"file": [target], "n_rows": [len(rows)]})

    result = with_pid.mapInPandas(
        write_part, schema="file string, n_rows long"
    ).collect()
    return len([r for r in result if r["file"]])


def parse_container(data: bytes) -> tuple[dict, list]:
    """One container file's bytes → (avro schema, decoded record dicts).
    Validates magic, codec, the embedded schema, every block's byte size
    against the records it holds, and every block's sync marker; a
    malformed file raises ValueError.  Each record is taken to be at
    least one byte long, as in every schema this engine writes."""
    import json as _json

    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    c = _Cursor(data, 4)
    meta: dict[str, bytes] = {}
    n = dec_block_count(c)
    while n:
        for _ in range(n):
            k = dec_bytes(c).decode("utf-8")
            meta[k] = dec_bytes(c)
        n = dec_block_count(c)
    codec = meta.get("avro.codec", b"null")
    if codec != b"null":
        raise ValueError(f"unsupported avro.codec {codec!r} (only null)")
    if "avro.schema" not in meta:
        raise ValueError("container file metadata has no avro.schema")
    avsc = _json.loads(meta["avro.schema"].decode("utf-8"))
    try:
        dec = _compile_decoder(avsc)
    except (TypeError, KeyError) as e:
        raise ValueError(f"unusable avro.schema in container file: {e}") from None
    sync = c.read(16)
    records = []
    while c.pos < len(data):
        count = dec_long(c)
        size = dec_long(c)
        if not 0 <= count <= size:
            raise ValueError(f"bad block header: {count} records in {size} bytes")
        block = _Cursor(c.read(size))
        for _ in range(count):
            records.append(dec(block))
        if block.pos != size:
            raise ValueError(
                f"block declares {size} bytes, its {count} records use {block.pos}"
            )
        if c.read(16) != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
    return avsc, records


def read_avro_files(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Read a directory of Avro container files into a DataFrame.

    Files flow through the `binaryFile` source and parse inside an
    Arrow-batched task — no driver involvement per file.  ``schema``
    overrides the embedded one; when omitted it is sniffed from one
    file's header on the driver (a bounded metadata read)."""
    src = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
    )
    if schema is None:
        first = src.select("content").limit(1).collect()
        if not first:
            raise ValueError(f"no .avro files under {path}")
        avsc, _ = parse_container(bytes(first[0]["content"]))
        schema = avro_type_to_spark(avsc)
    out_schema = schema

    def parse(batches: Iterator) -> Iterator:
        import pandas as pd

        names = [f.name for f in out_schema.fields]
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                _, records = parse_container(bytes(content))
                rows.extend(records)
            yield pd.DataFrame(rows, columns=names)

    return src.select("content").mapInPandas(parse, schema=out_schema)
