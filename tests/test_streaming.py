"""Streaming CDC end-to-end: file-source envelope stream → checkpointed
foreachBatch apply → materialized state; incremental batches and resume.

Mirrors the reference's integration flow (listen_test.go): events arrive in
batches, the consumer applies them, a restart (new query, same checkpoint)
must not lose or re-apply changes (BASELINE.md resume-exactness)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from creek_spark.streaming import CdcApplier, read_envelope_stream, tumbling_counts
from tests.fixtures import ENV_SCHEMA, OTHER_EXPECTED, other_wal_events


def _write_batch(spark, rows, path):
    spark.createDataFrame(rows, schema=ENV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def state_dict(df):
    return {r["id"]: r["data"] for r in df.collect()}


def test_cdc_stream_apply_incremental(spark, tmp_path):
    src = str(tmp_path / "wal")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    events = other_wal_events()

    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA)

    # batch 1: first 9 ops (inserts + truncate + re-inserts)
    _write_batch(spark, events[:9], src)
    stream = read_envelope_stream(spark, src, ENV_SCHEMA)
    q = applier.start(stream, ckpt)
    q.awaitTermination(120)
    st1 = state_dict(applier.current_state().select("id", "data"))
    assert st1 == {
        1: "one-again", 2: "two-again", 3: "three-again", 4: "four", 5: "five"
    }

    # batch 2: the rest (update, u_pk, delete+dup, TOAST, out-of-order) —
    # new query on the same checkpoint = restart/resume
    _write_batch(spark, events[9:], src)
    stream2 = read_envelope_stream(spark, src, ENV_SCHEMA)
    q2 = applier.start(stream2, ckpt)
    q2.awaitTermination(120)
    st2 = state_dict(applier.current_state().select("id", "data"))
    assert st2 == OTHER_EXPECTED

    # restart again with NO new data: state must be unchanged (idempotence)
    stream3 = read_envelope_stream(spark, src, ENV_SCHEMA)
    q3 = applier.start(stream3, ckpt)
    q3.awaitTermination(120)
    st3 = state_dict(applier.current_state().select("id", "data"))
    assert st3 == OTHER_EXPECTED


def test_tumbling_counts_stream(spark, tmp_path):
    src = str(tmp_path / "wal2")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt2")
    _write_batch(spark, other_wal_events(), src)
    stream = read_envelope_stream(spark, src, ENV_SCHEMA)
    agg = tumbling_counts(stream, time_col="sent_at", window="5 minutes")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append-mode emits only watermark-closed windows; with availableNow on
    # a bounded input the final watermark closes all but the last window.
    out = spark.read.parquet(out_dir)
    assert set(out.columns) == {"wstart", "op", "n"}


def test_stream_wal_from_filters(spark, tmp_path):
    """The batch resume filter `wal_from` applies to a streaming
    DataFrame unchanged."""
    from creek_spark.operators.cdc import wal_from

    src = str(tmp_path / "wal3")
    _write_batch(spark, other_wal_events(), src)
    stream = read_envelope_stream(spark, src, ENV_SCHEMA)
    filtered = wal_from(stream, lsn="0/8")
    assert filtered.isStreaming
    # run it through a memory sink to observe the predicate applied
    q = (
        filtered.groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("walfrom")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT * FROM walfrom").collect()[0]["count"]
    assert n == 8  # lsns 9,10,11,12,12(dup),13,15,14


def _parquet_file_hashes(state_dir):
    import hashlib

    out = {}
    for root, _dirs, files in os.walk(state_dir):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(root, name)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, state_dir)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
    return out


def test_cdc_applier_rewrites_only_touched_buckets(spark, tmp_path):
    """Incremental state contract: a micro-batch touching one key leaves
    every other bucket's parquet files byte-identical on disk."""
    from tests.fixtures import wal_row

    src = str(tmp_path / "wal_b")
    state_dir = str(tmp_path / "state_b")
    ckpt = str(tmp_path / "ckpt_b")
    n_buckets = 8
    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=n_buckets)

    _write_batch(spark, other_wal_events(), src)
    q = applier.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q.awaitTermination(120)
    st1 = state_dict(applier.current_state().select("id", "data"))
    assert st1 == OTHER_EXPECTED

    before = _parquet_file_hashes(state_dir)
    # batch 2: update only id=1
    _write_batch(spark, [wal_row(20, "u", before=(1,), after=(1, "one-v4"))], src)
    q2 = applier.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q2.awaitTermination(120)
    st2 = state_dict(applier.current_state().select("id", "data"))
    assert st2 == {**OTHER_EXPECTED, 1: "one-v4"}

    after = _parquet_file_hashes(state_dir)
    touched_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(1).cast("int")), F.lit(n_buckets)).cast("int")
    ).collect()[0][0]
    prefix = f"creek_bucket={touched_bucket}{os.sep}"
    untouched_before = {k: v for k, v in before.items() if prefix not in k}
    untouched_after = {k: v for k, v in after.items() if prefix not in k}
    assert untouched_before == untouched_after
    assert untouched_before  # sanity: other buckets actually exist
    # the touched bucket was rewritten
    assert {k: v for k, v in before.items() if prefix in k} != {
        k: v for k, v in after.items() if prefix in k
    }


def test_cdc_applier_delete_empties_bucket(spark, tmp_path):
    """A batch deleting a bucket's last key must remove the bucket dir —
    dynamic partition overwrite alone would leave the stale rows."""
    from tests.fixtures import wal_row

    src = str(tmp_path / "wal_d")
    state_dir = str(tmp_path / "state_d")
    ckpt = str(tmp_path / "ckpt_d")
    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)

    _write_batch(
        spark,
        [wal_row(1, "c", after=(1, "one")), wal_row(2, "c", after=(2, "two"))],
        src,
    )
    q = applier.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q.awaitTermination(120)
    assert state_dict(applier.current_state().select("id", "data")) == {
        1: "one",
        2: "two",
    }
    _write_batch(spark, [wal_row(3, "d", before=(1,))], src)
    q2 = applier.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q2.awaitTermination(120)
    assert state_dict(applier.current_state().select("id", "data")) == {
        2: "two"
    }


def test_cdc_schema_evolution_add_column(spark, tmp_path):
    """Upstream `ALTER TABLE ... ADD COLUMN` mid-stream: the reference
    publishes a new schema fingerprint and keeps streaming (O10), so the
    consumer restarts its applier with the WIDENED envelope schema — and
    that applier must merge new-schema batches onto the old-schema
    persisted state.  Old rows surface the new column as NULL (exactly
    Postgres ADD COLUMN semantics for pre-existing rows), updated and
    inserted rows carry values, and untouched buckets persisted under
    the old schema keep reading alongside new-schema buckets."""
    from creek_spark.types import envelope_schema
    from creek_spark.types.pgtypes import (
        PGColumn,
        PGRelation,
        pg_relation_to_struct,
    )
    from tests.fixtures import wal_row

    state_dir = str(tmp_path / "state")
    a1 = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)
    b1 = spark.createDataFrame(
        [
            wal_row(1, "c", after=(1, "one")),
            wal_row(2, "c", after=(2, "two")),
        ],
        schema=ENV_SCHEMA,
    )
    a1.apply_batch(b1, 0)

    widened = PGRelation(
        namespace="public",
        name="other",
        columns=[
            PGColumn("id", "int4", flags=1),
            PGColumn("data", "text"),
            PGColumn("score", "int4"),
        ],
    )
    env2 = envelope_schema(pg_relation_to_struct(widened))
    a2 = CdcApplier(spark, state_dir, ["id"], env2, n_buckets=4)
    b2 = spark.createDataFrame(
        [
            wal_row(20, "c", after=(3, "three", 30)),
            wal_row(21, "u", before=(2,), after=(2, "two-v2", 20)),
        ],
        schema=env2,
    )
    a2.apply_batch(b2, 1)

    st = {
        r["id"]: (r["data"], r["score"])
        for r in a2.current_state().select("id", "data", "score").collect()
    }
    assert st == {1: ("one", None), 2: ("two-v2", 20), 3: ("three", 30)}

    # the widened state keeps evolving normally (delete under new schema)
    b3 = spark.createDataFrame(
        [wal_row(22, "d", before=(1,))], schema=env2
    )
    a2.apply_batch(b3, 2)
    st3 = {
        r["id"]: (r["data"], r["score"])
        for r in a2.current_state().select("id", "data", "score").collect()
    }
    assert st3 == {2: ("two-v2", 20), 3: ("three", 30)}


def test_cdc_stream_restart_across_schema_widening(spark, tmp_path):
    """The full production shape of the ADD COLUMN case: a checkpointed
    stream processes old-schema envelope files, stops, the upstream adds
    a column, and a NEW query on the SAME checkpoint — widened schema,
    widened applier — resumes without reprocessing old files and merges
    new-schema batches onto the old-schema state."""
    from creek_spark.types import envelope_schema
    from creek_spark.types.pgtypes import (
        PGColumn,
        PGRelation,
        pg_relation_to_struct,
    )
    from tests.fixtures import wal_row

    src = str(tmp_path / "wal")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    a1 = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)
    _write_batch(
        spark,
        [wal_row(1, "c", after=(1, "one")), wal_row(2, "c", after=(2, "two"))],
        src,
    )
    q1 = a1.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q1.awaitTermination(120)
    assert state_dict(a1.current_state().select("id", "data")) == {
        1: "one",
        2: "two",
    }

    widened = PGRelation(
        namespace="public",
        name="other",
        columns=[
            PGColumn("id", "int4", flags=1),
            PGColumn("data", "text"),
            PGColumn("score", "int4"),
        ],
    )
    env2 = envelope_schema(pg_relation_to_struct(widened))
    spark.createDataFrame(
        [
            wal_row(20, "u", before=(2,), after=(2, "two-v2", 9)),
            wal_row(21, "c", after=(3, "three", 30)),
        ],
        schema=env2,
    ).coalesce(1).write.mode("append").parquet(src)

    a2 = CdcApplier(spark, state_dir, ["id"], env2, n_buckets=4)
    q2 = a2.start(read_envelope_stream(spark, src, env2), ckpt)
    q2.awaitTermination(120)
    st = {
        r["id"]: (r["data"], r["score"])
        for r in a2.current_state().select("id", "data", "score").collect()
    }
    assert st == {1: ("one", None), 2: ("two-v2", 9), 3: ("three", 30)}


def test_cdc_applier_stores_each_keys_max_lsn(spark, tmp_path):
    """The stored ``_creek_lsn`` is the position a key re-enters the
    next merge at, so after every batch it must equal the max LSN of
    that key's changes: under a u_pk across buckets (the new key), an
    unchanged-TOAST update, a truncate re-inserted in the same batch,
    and unchanged by an older batch's redelivery."""
    from tests.fixtures import _lsn, wal_row

    n_buckets = 8
    buckets = {
        r["id"]: r["b"]
        for r in spark.range(1, 20)
        .select(
            F.col("id").cast("int").alias("id"),
            F.pmod(F.xxhash64(F.col("id").cast("int")), F.lit(n_buckets))
            .cast("int")
            .alias("b"),
        )
        .collect()
    }
    a = 1
    b = next(k for k in buckets if buckets[k] != buckets[a])
    k2, k3, k4 = [k for k in buckets if k not in (a, b)][:3]
    applier = CdcApplier(
        spark, str(tmp_path / "state"), ["id"], ENV_SCHEMA, n_buckets=n_buckets
    )

    def apply(rows, batch_id):
        applier.apply_batch(spark.createDataFrame(rows, schema=ENV_SCHEMA), batch_id)
        return {
            r["id"]: (r["data"], r["_creek_lsn"])
            for r in applier.current_state()
            .select("id", "data", "_creek_lsn")
            .collect()
        }

    assert apply(
        [
            wal_row(1, "c", after=(a, "a")),
            wal_row(2, "c", after=(k2, "two")),
            wal_row(3, "c", after=(k3, "three")),
            wal_row(4, "u", before=(k2,), after=(k2, "two-v2")),
        ],
        0,
    ) == {a: ("a", _lsn(1)), k2: ("two-v2", _lsn(4)), k3: ("three", _lsn(3))}

    moved = [
        wal_row(10, "u_pk", before=(a,), after=(b, "moved")),
        wal_row(11, "u", before=(k3,), after=(k3, None), toast=["data"]),
    ]
    assert apply(moved, 1) == {
        b: ("moved", _lsn(10)),
        k2: ("two-v2", _lsn(4)),
        k3: ("three", _lsn(11)),
    }
    latest = {
        b: ("moved", _lsn(10)),
        k2: ("two-v3", _lsn(12)),
        k3: ("three", _lsn(11)),
    }
    assert apply([wal_row(12, "u", before=(k2,), after=(k2, "two-v3"))], 2) == latest
    # an older batch redelivered (at-least-once) is a no-op
    assert apply(moved, 1) == latest

    assert apply(
        [
            wal_row(20, "c", after=(k4, "gone")),
            wal_row(21, "t"),
            wal_row(22, "c", after=(k2, "two-again")),
            wal_row(23, "c", after=(k4, "four")),
        ],
        3,
    ) == {k2: ("two-again", _lsn(22)), k4: ("four", _lsn(23))}
