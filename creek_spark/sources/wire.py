"""WAL wire format: single-object framing + fingerprint-dispatched decode.

Parity with the reference's transport:
  * frame layout = 0xC3 0x01 magic + 8-byte little-endian schema
    fingerprint + payload (Avro single-object encoding, produced in
    internal/mq/wal.go:52-58, validated/split in client.go:265-286)
  * the fingerprint keys a registry lookup so ONE stream can carry many
    schema generations (DDL changes → new fingerprint, O10/§3.2)
  * malformed frames are quarantined, the analog of the client's
    Nak/drain on desync (client.go:628-743)

Two payload codecs ship:
  * **json** (this module): all-JVM to_json/from_json bodies inside the
    same frame layout — the fast default when both ends are this engine.
  * **avro** (sources/avro_codec.py): spec-exact Avro binary bodies in
    single-object encoding, byte-compatible with the reference's
    `avro.Marshal` output shape (wal.go:52-58) — the engine's one
    pure-Python from-spec Avro compiler run via Arrow-batched
    mapInPandas, since the spark-avro connector jar is absent here
    (from_avro/to_avro raise AVRO_NOT_LOADED).  Its decode handles every
    registry generation in one pass onto the superset envelope.  Where
    the jar is present the frame layout admits to_avro/from_avro
    directly.
`encode_envelope` / `decode_envelope` dispatch between them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC = bytes([0xC3, 0x01])


def _b64url(col: Column) -> Column:
    """binary → base64url without padding (the registry key form,
    internal/dao/schemas.go:96-112)."""
    return F.regexp_replace(
        F.translate(F.base64(col), "+/", "-_"), "=+$", ""
    )


def encode_frames(df: DataFrame, payload_struct: Column, fingerprint_col: str = "fingerprint") -> DataFrame:
    """Rows → framed binary messages: magic + fp(8B) + json payload.

    ``payload_struct`` is the struct column to serialize (e.g. the whole
    envelope).  Output: (fingerprint string, frame binary)."""
    fp_bin = F.unbase64(
        F.concat(
            F.translate(F.col(fingerprint_col), "-_", "+/"),
            F.expr(
                f"repeat('=', (4 - length({fingerprint_col}) % 4) % 4)"
            ),
        )
    )
    frame = F.concat(
        F.lit(MAGIC),
        fp_bin,
        F.encode(F.to_json(payload_struct), "utf-8"),
    )
    return df.select(
        F.col(fingerprint_col).alias("fingerprint"), frame.alias("frame")
    )


def split_frames(frames: DataFrame, frame_col: str = "frame") -> tuple[DataFrame, DataFrame]:
    """Validate + split frames into (valid, quarantined).

    valid: (fingerprint string, payload string); quarantined: raw rows whose
    magic bytes don't match (client.go drain-on-desync analog)."""
    c = F.col(frame_col)
    is_valid = (F.length(c) > 10) & (
        F.substring(c, 1, 2) == F.lit(MAGIC)
    )
    valid = frames.where(is_valid).select(
        _b64url(F.substring(c, 3, 8)).alias("fingerprint"),
        F.decode(F.expr(f"substring({frame_col}, 11, length({frame_col}) - 10)"), "utf-8").alias(
            "payload"
        ),
    )
    quarantined = frames.where(~is_valid)
    return valid, quarantined


def decode_frames(
    valid: DataFrame, registry: dict[str, T.StructType]
) -> dict[str, DataFrame]:
    """Fingerprint-dispatched decode: for each known fingerprint, parse its
    payload rows with that generation's schema (client.go:265-286: read
    marker + fingerprint, fetch that exact schema, decode).

    Unknown fingerprints are simply absent from the result — callers check
    coverage via distinct fingerprints vs registry keys."""
    out = {}
    for fp, schema in registry.items():
        out[fp] = (
            valid.where(F.col("fingerprint") == fp)
            .select(F.from_json("payload", schema).alias("r"))
            .select("r.*")
        )
    return out


def encode_envelope(
    env_df: DataFrame, row_struct: T.StructType, codec: str = "json"
) -> DataFrame:
    """Envelope rows → (fingerprint, frame) with the chosen body codec.

    json: JVM-side to_json body (this module's framing); avro: spec
    single-object Avro binary body (avro_codec) — the O11 wire-parity
    path."""
    if codec == "avro":
        from creek_spark.sources.avro_codec import encode_envelope_avro

        return encode_envelope_avro(env_df, row_struct)
    if codec == "json":
        return encode_frames(
            env_df, F.struct(*[F.col(c) for c in env_df.columns])
        )
    raise ValueError(f"unknown codec {codec!r}")


def decode_envelope(
    frames: DataFrame,
    registry: dict[str, T.StructType],
    codec: str = "json",
    *,
    envelope_of=None,
) -> DataFrame | dict[str, DataFrame]:
    """Frames → envelope rows.  json: split/quarantine then per-generation
    from_json (returns {fingerprint: DataFrame}); avro: fingerprint-
    dispatched binary decode onto the superset of the generations'
    envelopes (returns one DataFrame).  For avro, ``registry`` maps
    fingerprint → ROW struct."""
    if codec == "avro":
        from creek_spark.sources.avro_codec import decode_envelope_avro

        return decode_envelope_avro(frames, registry)
    if codec == "json":
        valid, _ = split_frames(frames)
        env = envelope_of or (lambda s: s)
        return decode_frames(valid, {fp: env(s) for fp, s in registry.items()})
    raise ValueError(f"unknown codec {codec!r}")


def reconcile_generations(frames_by_fp: dict[str, DataFrame]) -> DataFrame:
    """Union decoded generations of one table into a single DataFrame with
    the superset of columns (missing columns null) — the engine-side view
    of schema evolution: old rows surface with nulls for added columns."""
    dfs = list(frames_by_fp.values())
    if not dfs:
        raise ValueError("no generations to reconcile")
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out
