"""Streaming maintenance of ADDITIVE rollups (histogram tiers, counter
cubes, HLL sketch unions): a foreachBatch sink that merges each
micro-batch's pre-aggregated rows into a persistent rollup table.

Additive state (counts/sums per key) composes differently from the
CdcApplier's latest-state MERGE: merge is ``old + batch`` per key, which
is NOT idempotent — a replayed batch would double-count.  Structured
Streaming replays a failed trigger under the SAME batch_id, so the sink
records ``last_batch_id`` and a content fingerprint in its manifest and
decides every trigger through the shared batch fence
(streaming/fence.py): the replay is a no-op, an id below the fence or
an on-fence batch with different content raises.

Scale design mirrors CdcApplier: state is hive-partitioned on a caller
-chosen partition key (for time-tier rollups: the day of the bucket), a
batch rewrites ONLY the partitions its rows touch (a trickle of fresh
events touches today's partition, never the year of history), and
versions, the manifest swap and retention are the shared
versioned-partition store's (streaming/store.py) — readers always see
one committed generation.  The only driver traffic is one bounded
collect of touched partition values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from creek_spark import fsio
from creek_spark.streaming.fence import content_fingerprint, fence_batch
from creek_spark.streaming.store import (
    VersionedPartitionStore,
    bounded_partition_values,
)


class AdditiveRollupSink:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: list[str],
        add_cols: list[str] | dict[str, str],
        partition_col: str,
    ):
        """``key_cols`` identify a rollup row (must include
        ``partition_col``, a STRING column that buckets state on disk);
        ``add_cols`` are the mergeable measures — a list means every
        column is an integer SUM (the original additive contract), a
        dict maps column → merge kind:

          'sum' — bigint addition (counts, quantized sums)
          'min' / 'max' — running extremum, input type preserved

        min/max cells stay losslessly mergeable (min of mins is the
        global min), which is what makes stats tiers like per-dimension
        vmin/vmax maintainable in the same fenced sink.  Batches passed
        to ``apply_batch`` must already have this shape — pair with e.g.
        ``operators.sketches.histogram_sketch`` plus a string partition
        projection."""
        if partition_col not in key_cols:
            raise ValueError("partition_col must be one of key_cols")
        self.spark = spark
        self.state_dir = state_dir
        self.kinds = (
            {c: "sum" for c in add_cols}
            if not isinstance(add_cols, dict)
            else dict(add_cols)
        )
        bad = {k for k in self.kinds.values() if k not in ("sum", "min", "max")}
        if bad:
            raise ValueError(f"unknown merge kinds: {sorted(bad)}")
        self.key_cols = key_cols
        self.add_cols = list(self.kinds)
        self.partition_col = partition_col
        fsio.mkdirs(spark, state_dir)
        # {"version": N, "parts": {pval: "v000000N"}, "last_batch_id": i,
        #  "fence_print": {...}}
        self._store = VersionedPartitionStore(
            spark, state_dir, partition_col, "string",
            map_key="parts", ver_digits=7,
        )

    def _merge_exprs(self):
        fns = {"sum": lambda c: F.sum(c).cast("bigint"),
               "min": F.min, "max": F.max}
        return [fns[kind](c).alias(c) for c, kind in self.kinds.items()]

    def last_batch_id(self) -> int:
        m = self._store.read_manifest()
        return m["last_batch_id"] if m else -1

    def current(self) -> DataFrame | None:
        """The committed rollup as of the latest manifest generation
        (partition values round-trip through hive paths as strings)."""
        return self._store.read(self._store.read_manifest())

    # -- merge ---------------------------------------------------------

    def apply_batch(self, tier: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch's pre-aggregated tier rows.  The batch
        fence (streaming/fence.py) makes a replayed trigger a no-op —
        at-least-once delivery becomes effectively-once — and refuses a
        reset checkpoint's recycled ids.

        The tier plan is evaluated up to three times per trigger
        (fence fingerprint, touched-partition collect, merge/write) —
        for tiers that embed a Python decode stage (StreamingMediaReport
        runs the mapInPandas codecs) that would re-decode every blob
        per pass, so the tier is persisted for the trigger's duration
        and unpersisted after the manifest publish: the decode stage
        runs ONCE per trigger."""
        old = self._store.read_manifest()
        tier = tier.persist()
        try:
            self._apply_batch_cached(tier, batch_id, old)
        finally:
            tier.unpersist()

    def _apply_batch_cached(self, tier, batch_id, old):
        if fence_batch(
            tier, (old or {}).get("last_batch_id"), (old or {}).get("fence_print"),
            batch_id=batch_id, sink="this sink", state_path=self.state_dir,
        ):
            return
        # fingerprint the PRE-aggregation rows: that is the view the
        # fence sees on a replay (tier content is deterministic under
        # the sink contract — integer sums, order-free min/max — so a
        # genuine replay reproduces it bit-exact)
        fence = {"last_batch_id": batch_id, "fence_print": content_fingerprint(tier)}
        tier = tier.groupBy(*self.key_cols).agg(*self._merge_exprs())
        touched = {
            str(v)
            for v in bounded_partition_values(
                tier, self.partition_col, what="AdditiveRollupSink.apply_batch"
            )
        }
        if not touched:
            self._store.publish(old, None, (), (), **fence)
            return
        merged = tier
        prev = self._store.read(old, touched)
        if prev is not None:
            # Schema evolution (a metric column added to add_cols after
            # state was persisted): stored partitions that predate the
            # column contribute typed NULLs, which the merge aggregates
            # ignore — "no prior contributions", the only additive
            # reading of a metric that didn't exist yet.  Dropped
            # metrics fall away because only the current columns are
            # selected.
            have = set(prev.columns)
            merged = merged.unionByName(
                prev.select(
                    *[
                        (
                            F.col(c)
                            if c in have
                            else F.lit(None).cast(merged.schema[c].dataType)
                        ).alias(c)
                        for c in merged.columns
                    ]
                )
            ).groupBy(*self.key_cols).agg(*self._merge_exprs())
        new_ver = self._store.next_version(old)
        merged.write.partitionBy(self.partition_col).mode("overwrite").parquet(
            self._store.version_path(new_ver)
        )
        self._store.publish(old, new_ver, touched, touched, **fence)

    def foreach_batch(self, prepare):
        """Adapter for ``writeStream.foreachBatch``: ``prepare`` maps the
        raw micro-batch to tier rows (key_cols + add_cols)."""

        def _fn(batch: DataFrame, batch_id: int) -> None:
            self.apply_batch(prepare(batch), batch_id)

        return _fn
