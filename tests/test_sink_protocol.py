"""The shared sink protocol, gated once for every sink that uses it.

1. The versioned-partition store (streaming/store.py) under a crash at
   each step of a commit — before the version write, after it, after
   the manifest swap, and in the middle of GC: a reader sees the whole
   old or the whole new state, and the next publish leaves exactly the
   one-generation retention set on disk (orphans and unfinished GC
   gone).
2. The batch fence (streaming/fence.py) on all four fenced sinks: an
   on-fence batch with different content raises FenceContentError, an
   id below the fence raises ValueError, a genuine replay is a no-op.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from creek_spark import fsio
from creek_spark.sources import read_table
from creek_spark.streaming.fence import FenceContentError
from creek_spark.streaming.store import VersionedPartitionStore
from tests.conftest import SF_DIR


class _Crash(RuntimeError):
    pass


def _commit(spark, store, values: dict[str, int], monkeypatch, crash=None):
    """One sink-style commit of ``{partition: value}`` through the store,
    dying at ``crash``."""
    m = store.read_manifest()
    if crash == "before_write":
        raise _Crash(crash)
    ver = store.next_version(m)
    spark.createDataFrame(
        list(values.items()), "p string, val int"
    ).write.partitionBy("p").mode("overwrite").parquet(store.version_path(ver))
    if crash == "after_write":
        raise _Crash(crash)
    if crash == "after_swap":  # GC's first step is the root listing
        monkeypatch.setattr(fsio, "list_names", _raiser(fsio.list_names, 0))
    elif crash == "mid_gc":  # one delete lands, the next one dies
        monkeypatch.setattr(fsio, "delete", _raiser(fsio.delete, 1))
    try:
        store.publish(m, ver, values, values)
    finally:
        monkeypatch.undo()


def _raiser(orig, after: int):
    calls = []

    def call(*a, **kw):
        if len(calls) >= after:
            raise _Crash("crash")
        calls.append(1)
        return orig(*a, **kw)

    return call


def _state(store) -> dict:
    df = store.read(store.read_manifest())
    return {r["p"]: r["val"] for r in df.collect()}


def _on_disk(root: str) -> set:
    out = set()
    for ver in os.listdir(root):
        if ver.startswith("v"):
            for sub in os.listdir(os.path.join(root, ver)):
                if sub.startswith("p="):
                    out.add((ver, sub[2:]))
    return out


def _retained(store, old: dict) -> set:
    """(version, partition) pairs the current and the given previous
    manifest reference: what one-generation GC must leave."""
    new = store.read_manifest()
    return {
        (v, p) for m in (old, new) for p, v in store.parts(m).items()
    }


@pytest.mark.parametrize(
    "crash", ["before_write", "after_write", "after_swap", "mid_gc"]
)
def test_store_crash_point_matrix(spark, tmp_path, monkeypatch, crash):
    root = str(tmp_path / "store")
    store = VersionedPartitionStore(
        spark, root, "p", "string", map_key="parts", ver_digits=7
    )
    _commit(spark, store, {"a": 1, "b": 1, "c": 1}, monkeypatch)
    _commit(spark, store, {"a": 2}, monkeypatch)
    # an orphan from some earlier crash, for GC to find
    os.makedirs(os.path.join(root, "v0000099", "p=a"))
    old_state = _state(store)
    assert old_state == {"a": 2, "b": 1, "c": 1}
    reader = store.read(store.read_manifest())  # resolved before the crash

    with pytest.raises(_Crash):
        _commit(spark, store, {"b": 3}, monkeypatch, crash=crash)
    new_state = {"a": 2, "b": 3, "c": 1}
    swapped = crash in ("after_swap", "mid_gc")
    assert _state(store) == (new_state if swapped else old_state)
    # a reader that resolved the previous manifest still reads it whole
    assert {r["p"]: r["val"] for r in reader.collect()} == old_state

    # the next commit GCs whatever the crash left behind
    before = store.read_manifest()
    if not swapped:  # the stream replays the lost batch first
        _commit(spark, store, {"b": 3}, monkeypatch)
        before = store.read_manifest()
    _commit(spark, store, {"c": 4}, monkeypatch)
    assert _state(store) == {"a": 2, "b": 3, "c": 4}
    assert _on_disk(root) == _retained(store, before)
    assert not os.path.exists(os.path.join(root, "v0000099"))


def test_store_adopts_the_legacy_root_layout(spark, tmp_path, monkeypatch):
    """Partition dirs at the root with no manifest (CdcApplier's
    pre-manifest layout) read as version ".", and publishes retire them
    under the same one-generation GC."""
    root = str(tmp_path / "legacy")
    spark.createDataFrame([("a", 1), ("b", 1)], "p string, val int").write.partitionBy(
        "p"
    ).parquet(root)
    store = VersionedPartitionStore(
        spark, root, "p", "string", map_key="buckets", ver_digits=9
    )
    assert store.parts(store.read_manifest()) == {"a": ".", "b": "."}
    assert _state(store) == {"a": 1, "b": 1}
    _commit(spark, store, {"a": 2}, monkeypatch)
    _commit(spark, store, {"b": 3}, monkeypatch)
    assert _state(store) == {"a": 2, "b": 3}
    # root p=a left the map two publishes ago; root p=b one publish ago
    assert not os.path.exists(os.path.join(root, "p=a"))
    assert os.path.exists(os.path.join(root, "p=b"))
    _commit(spark, store, {"a": 4}, monkeypatch)
    assert not os.path.exists(os.path.join(root, "p=b"))


# -- the batch fence on every fenced sink ----------------------------------


def _rollup(spark, tmp_path):
    from creek_spark.streaming.rollup import AdditiveRollupSink

    ev = read_table(spark, SF_DIR, "events")
    sink = AdditiveRollupSink(
        spark, str(tmp_path / "rollup"), ["day", "event_type"], ["n"], "day"
    )

    def tier(df):
        return df.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).groupBy("day", "event_type").agg(F.count("*").alias("n"))

    b0 = tier(ev.where(F.col("event_id") < 500))
    b1 = tier(ev.where(F.col("event_id") >= 500))
    return sink.apply_batch, b0, b1


def _docs(spark):
    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(300)
    return docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1)


def _dedup(spark, tmp_path):
    from creek_spark.streaming.dedup import StreamingDedup

    return (StreamingDedup(spark, str(tmp_path / "dedup")).apply_batch, *_docs(spark))


def _shards(spark, tmp_path):
    from creek_spark.operators.pipeline import stream_shard_writer

    return (stream_shard_writer(str(tmp_path / "shards"), "doc_id"), *_docs(spark))


def _ann(spark, tmp_path):
    from creek_spark.streaming.ann import StreamingAnnIndex

    emb = read_table(spark, SF_DIR, "embeddings")
    idx = StreamingAnnIndex(spark, str(tmp_path / "ann"))
    idx.bootstrap(emb.where(F.col("vec_id") % 3 == 0))
    return (
        idx.apply_batch,
        emb.where(F.col("vec_id") % 3 == 1),
        emb.where(F.col("vec_id") % 3 == 2),
    )


@pytest.mark.parametrize("case", ["on_fence", "below_fence"])
@pytest.mark.parametrize(
    "make", [_rollup, _dedup, _shards, _ann], ids=["rollup", "dedup", "shards", "ann"]
)
def test_every_fenced_sink_refuses_a_reset_checkpoint(spark, tmp_path, make, case):
    apply, b0, b1 = make(spark, tmp_path)
    apply(b0, 0)
    apply(b1, 1)
    apply(b1, 1)  # the genuine replay of the last batch: a no-op
    if case == "on_fence":
        with pytest.raises(FenceContentError, match="content differs"):
            apply(b0, 1)
    else:
        with pytest.raises(ValueError, match="below .* committed fence") as e:
            apply(b1, 0)
        assert not isinstance(e.value, FenceContentError)
