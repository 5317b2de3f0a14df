"""StreamingDedup: continuous near-dedup must be LOSSLESS vs the batch
full-corpus candidate set, for any batch split, and replay-fenced."""

from __future__ import annotations

from pyspark.sql import functions as F

from creek_spark.sources import read_table
from creek_spark.streaming.dedup import StreamingDedup


def _pairs(df):
    return sorted((r["doc_a"], r["doc_b"]) for r in df.collect())


def test_streamed_candidates_equal_full_corpus(spark, sf_dir, tmp_path):
    from creek_spark.operators.dedup import minhash_lsh_candidates

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    sd = StreamingDedup(spark, str(tmp_path / "sdstate"))
    for i, r in enumerate((0, 1, 2)):
        sd.apply_batch(docs.where(F.col("doc_id") % 3 == r), i)
    got = _pairs(sd.candidates())
    want = _pairs(minhash_lsh_candidates(docs, "text", "doc_id"))
    assert len(want) > 0  # non-vacuous: the corpus has near-dup pairs
    assert got == want


def test_streaming_dedup_replay_fenced(spark, sf_dir, tmp_path):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text").limit(300)
    sd = StreamingDedup(spark, str(tmp_path / "rdstate"))
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    sd.apply_batch(b0, 0)
    sd.apply_batch(b1, 1)
    before = _pairs(sd.candidates())
    sd.apply_batch(b1, 1)  # replayed trigger — must be a no-op
    # below the fence = not a replay (only the LAST batch can replay):
    # a reset checkpoint's recycled ids carry new rows — loud refusal
    import pytest

    with pytest.raises(ValueError, match="reset or relocated checkpoint"):
        sd.apply_batch(b0, 0)
    assert _pairs(sd.candidates()) == before
    assert sd.last_batch_id() == 1


def test_compact_preserves_candidates(spark, sf_dir, tmp_path):
    """Compaction folds the per-batch index parts into one; candidate
    generation for the NEXT batch is unchanged."""
    from creek_spark.operators.dedup import minhash_lsh_candidates

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    sd = StreamingDedup(spark, str(tmp_path / "cstate"))
    sd.apply_batch(docs.where(F.col("doc_id") % 3 == 0), 0)
    sd.apply_batch(docs.where(F.col("doc_id") % 3 == 1), 1)
    sd.compact()
    m = sd._read_manifest()
    assert len(m["index_parts"]) == 1 and m["last_batch_id"] == 1
    # 1-generation retention: this compaction's inputs survive until the
    # NEXT compaction (a reader on the old manifest stays valid)
    import os

    assert all(
        os.path.isdir(os.path.join(str(tmp_path / "cstate"), p))
        for p in m["stale_parts"]
    )
    sd.apply_batch(docs.where(F.col("doc_id") % 3 == 2), 2)
    got = _pairs(sd.candidates())
    want = _pairs(minhash_lsh_candidates(docs, "text", "doc_id"))
    assert got == want
    stale_before = m["stale_parts"]
    sd.compact()
    assert not any(
        os.path.isdir(os.path.join(str(tmp_path / "cstate"), p))
        for p in stale_before
    )


def test_compact_keeps_the_fence_fingerprint(spark, sf_dir, tmp_path):
    """A compaction must carry the committed fingerprint forward: after
    it, a reset checkpoint whose recycled id lands ON the fence (id 1,
    different rows) still refuses instead of reading as a replay."""
    import pytest

    from creek_spark.streaming.fence import FenceContentError

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text").limit(300)
    sd = StreamingDedup(spark, str(tmp_path / "fstate"))
    sd.apply_batch(docs.where(F.col("doc_id") % 3 == 0), 0)
    sd.apply_batch(docs.where(F.col("doc_id") % 3 == 1), 1)
    sd.compact()
    with pytest.raises(FenceContentError, match="content differs"):
        sd.apply_batch(docs.where(F.col("doc_id") % 3 == 2), 1)


def test_crash_before_manifest_swap_is_invisible(spark, sf_dir, tmp_path):
    """A crash AFTER writing a batch's pairs/index dirs but BEFORE the
    manifest swap must leave the state logically unchanged: the next
    (replayed) apply_batch rewrites both dirs and commits atomically."""
    import os

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text").limit(300)
    sd = StreamingDedup(spark, str(tmp_path / "xstate"))
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    sd.apply_batch(b0, 0)
    committed = sd._read_manifest()
    # simulate the torn write: batch 1's dirs exist, manifest still at 0
    from creek_spark.operators.dedup import minhash_index

    minhash_index(b1, "text", "doc_id").write.mode("overwrite").parquet(
        os.path.join(str(tmp_path / "xstate"), "idx/b1")
    )
    assert sd._read_manifest() == committed  # crash point: manifest old
    assert sd.last_batch_id() == 0
    # recovery = the stream replays batch 1; state converges
    sd.apply_batch(b1, 1)
    from creek_spark.operators.dedup import minhash_lsh_candidates

    assert _pairs(sd.candidates()) == _pairs(
        minhash_lsh_candidates(docs, "text", "doc_id")
    )


def test_detector_restart_resumes_from_state(spark, sf_dir, tmp_path):
    """A NEW StreamingZScore object pointed at an existing state dir
    must resume exactly (the restart path): moments from disk, replay
    fencing intact, final flags equal the batch operator."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingZScore

    ev = read_table(spark, sf_dir, "events")
    d1 = StreamingZScore(spark, str(tmp_path / "zrestart"))
    d1.apply_batch(ev.where(F.col("event_id") < 500), 0)
    del d1  # "process exit"
    d2 = StreamingZScore(spark, str(tmp_path / "zrestart"))
    d2.apply_batch(ev.where(F.col("event_id") < 500), 0)  # replay: no-op
    d2.apply_batch(ev.where(F.col("event_id") >= 500), 1)
    got = sorted(
        map(tuple, d2.score(ev).select("event_id", "z").collect())
    )
    batch = entrymod._catalog()["ts_anomaly_zscore"].fn(spark, sf_dir)
    want = sorted(map(tuple, batch.select("event_id", "z").collect()))
    assert got == want


def test_streaming_ann_index_incremental_equals_batch(spark, tmp_path):
    """The continuously-maintained ANN index (bootstrap + fenced
    micro-batch appends under frozen quantizers) must search identically
    to the one-shot index built from the same seed and fed the same rows
    in one append — and a replayed trigger must be a no-op (its fenced
    batch dir is overwritten, not duplicated).  Only the LAST committed
    trigger can genuinely replay (triggers serialize; the checkpoint
    commit follows the sink commit), so that is the replay this test
    drives; an id further below the fence is a reset checkpoint and
    raises (round-11: previously it was silently no-opped when still in
    the live set, discarding the new rows a recycled id carries)."""
    from pyspark.sql import functions as F

    from creek_spark.operators import similarity as sim
    from creek_spark.sources import read_table
    from creek_spark.streaming.ann import StreamingAnnIndex
    from tests.conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    seed = emb.where(F.col("vec_id") % 3 == 0)
    b0 = emb.where(F.col("vec_id") % 3 == 1)
    b1 = emb.where(F.col("vec_id") % 3 == 2)

    import pytest

    idx = StreamingAnnIndex(spark, str(tmp_path / "stream_idx"))
    idx.bootstrap(seed)
    idx.apply_batch(b0, 0)
    idx.apply_batch(b1, 1)
    idx.apply_batch(b1, 1)  # replayed LAST trigger — must be a no-op
    with pytest.raises(ValueError, match="below the index's committed"):
        idx.apply_batch(b0, 0)  # reset checkpoint: two triggers back

    p_ref = str(tmp_path / "batch_idx")
    sim.ivfpq_index_build(seed, p_ref)
    sim.ivfpq_index_append(b0.unionByName(b1), p_ref)

    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(idx.search(queries)) == key(
        sim.ivfpq_search(spark, p_ref, queries)
    )
    codes = spark.read.parquet(str(tmp_path / "stream_idx" / "codes"))
    assert codes.count() == emb.count()  # replay did not duplicate
    assert codes.select("n_id").distinct().count() == emb.count()
