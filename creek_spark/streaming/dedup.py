"""Continuous near-duplicate detection — the streaming form of the
crawl-over-crawl incremental dedup (operators/dedup.py): each
micro-batch is compared against EVERYTHING ingested so far (plus
itself), then its signatures join the persisted LSH index.  Cost per
batch ∝ batch size; the corpus is never re-shingled.

State: an append-only set of per-batch band-signature parquet
directories listed in ``_manifest.json`` beside the batch fence
(streaming/fence.py: ``last_batch_id`` plus a content fingerprint), swapped
atomically through ``fsio.write_json_atomic``; pairs land under
``pairs/batch=<id>`` with overwrite semantics, so a replayed trigger
rewrites identical content instead of duplicating it (at-least-once
in, effectively-once out).

Losslessness (tests/test_streaming_dedup.py): the union of per-batch
candidate pairs over any batch split equals the full-corpus
minhash_lsh_candidates pair set — every cross-batch pair is emitted by
the later batch, every within-batch pair by its own batch, each exactly
once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from creek_spark import fsio

_MANIFEST = "_manifest.json"


class StreamingDedup:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        **lsh_kw,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.text_col = text_col
        self.id_col = id_col
        self.lsh_kw = lsh_kw
        fsio.mkdirs(spark, state_dir)

    # -- manifest: {"last_batch_id": i, "index_parts": ["idx/b0", ...]} --

    def _read_manifest(self) -> dict | None:
        return fsio.read_json_or_none(
            self.spark, fsio.join(self.state_dir, _MANIFEST)
        )

    def last_batch_id(self) -> int:
        m = self._read_manifest()
        return m["last_batch_id"] if m else -1

    def _index(self, m: dict | None) -> DataFrame | None:
        parts = (m or {}).get("index_parts", [])
        if not parts:
            return None
        return self.spark.read.parquet(
            *[fsio.join(self.state_dir, p) for p in parts]
        )

    # -- ingestion -----------------------------------------------------

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from creek_spark.operators.dedup import (
            incremental_lsh_candidates,
            minhash_index,
            minhash_lsh_candidates,
        )

        from creek_spark.streaming.fence import (
            content_fingerprint,
            fence_batch,
        )

        m = self._read_manifest()
        if fence_batch(
            batch, (m or {}).get("last_batch_id"), (m or {}).get("fence_print"),
            batch_id=batch_id, sink="the index", state_path=self.state_dir,
        ):
            return  # replayed trigger: state already reflects it
        index = self._index(m)
        if index is None:
            pairs = minhash_lsh_candidates(
                batch, self.text_col, self.id_col, **self.lsh_kw
            )
        else:
            pairs = incremental_lsh_candidates(
                batch, index, self.text_col, self.id_col, **self.lsh_kw
            )
        pairs.write.mode("overwrite").parquet(
            fsio.join(self.state_dir, f"pairs/batch={batch_id}")
        )
        part = f"idx/b{batch_id}"
        minhash_index(
            batch, self.text_col, self.id_col, **self.lsh_kw
        ).write.mode("overwrite").parquet(fsio.join(self.state_dir, part))
        manifest = {
            "last_batch_id": batch_id,
            "index_parts": (m or {}).get("index_parts", []) + [part],
            "stale_parts": (m or {}).get("stale_parts", []),
            "fence_print": content_fingerprint(batch),
        }
        fsio.write_json_atomic(
            self.spark, fsio.join(self.state_dir, _MANIFEST), manifest
        )

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch``."""

        def _fn(batch: DataFrame, batch_id: int) -> None:
            self.apply_batch(batch, batch_id)

        return _fn

    # -- results -------------------------------------------------------

    def candidates(self) -> DataFrame:
        """Every candidate pair emitted so far (committed batches only)."""
        m = self._read_manifest()
        if m is None:
            raise ValueError("no committed state yet — apply a batch first")
        # ONE listing of pairs/, filtered to committed ids — not one
        # existence probe per historical batch id (an O(last_batch_id)
        # RPC loop against an object store after enough triggers)
        committed = set(range(m["last_batch_id"] + 1))
        paths = [
            fsio.join(self.state_dir, "pairs", name)
            for name in sorted(
                fsio.list_names(
                    self.spark, fsio.join(self.state_dir, "pairs")
                )
            )
            if name.startswith("batch=")
            and int(name.split("=", 1)[1]) in committed
        ]
        return self.spark.read.parquet(*paths).distinct()


    def compact(self) -> None:
        """Fold the accumulated per-batch index parts into ONE part —
        after thousands of micro-batches the part list (and its file
        count) is the scaling hazard, not the data volume.  Rewrites the
        union into a fresh directory and swaps the manifest atomically;
        a concurrent reader holding the old manifest still sees every
        old part (directories are immutable; stale parts are removed on
        the NEXT compaction)."""
        m = self._read_manifest()
        if m is None or len(m.get("index_parts", [])) <= 1:
            return
        old_parts = m["index_parts"]
        gen = m["last_batch_id"]
        part = f"idx/compact_{gen}_{len(old_parts)}"
        self._index(m).coalesce(
            max(1, self.spark.sparkContext.defaultParallelism // 4)
        ).write.mode("overwrite").parquet(fsio.join(self.state_dir, part))
        # 1-generation retention: the PREVIOUS compaction's stale parts go
        # now; this compaction's inputs become stale and survive until the
        # next one, so a reader holding the old manifest stays valid.
        for p in m.get("stale_parts", []):
            if p != part:
                fsio.delete(self.spark, fsio.join(self.state_dir, p))
        manifest = {
            "last_batch_id": gen,
            "index_parts": [part],
            "stale_parts": [p for p in old_parts if p != part],
            # the fence moves with the state: without its fingerprint a
            # reset checkpoint landing on the fence reads as a replay
            "fence_print": m.get("fence_print"),
        }
        fsio.write_json_atomic(
            self.spark, fsio.join(self.state_dir, _MANIFEST), manifest
        )
