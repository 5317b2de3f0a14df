"""Structured Streaming surface: CDC ingest → stateful apply → sinks.

The reference's consumer loop (client.go StreamWAL → apply) maps to:
    readStream(envelope dir/Kafka) → [dedup, resume filter] →
    foreachBatch(apply_cdc_batch) → materialized table state

Correctness properties preserved (BASELINE.md):
  * resume-exactness: checkpointing + an idempotent, whole-state
    recompute-free MERGE per micro-batch (at-least-once input collapses via
    per-key LSN max).
  * per-key ordering by numeric LSN survives any parallelism — each batch
    applies only changes newer than the key's current LSN.
  * snapshot+stream bootstrap joins at a single (lsn, tx_id) point
    (sources.bootstrap) — the stream side then starts from header.lsn.

On a cluster the sink would be Delta MERGE; locally we maintain a
hash-bucketed parquet state directory (hive partitions on
pmod(xxhash64(key), n_buckets)) — only buckets containing batch keys are
rewritten per trigger, which keeps the same idempotence contract for tests
while making per-batch cost O(|touched buckets|) instead of O(|state|).
Versions, the manifest swap and retention are the shared
versioned-partition store's (streaming/store.py): a concurrent reader
sees the whole old state or the whole new state, never a mix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from creek_spark.functions.lsn import lsn_num, lsn_str
from creek_spark.operators.cdc import latest_state
from creek_spark.streaming.store import VersionedPartitionStore


def read_envelope_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based envelope stream (the staging-dir pattern from SURVEY.md
    O1: capture lands envelope parquet, Spark tails the directory).
    maxFilesPerTrigger is the backpressure knob (≙ the reference's cap-1
    channel lock-step)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


class CdcApplier:
    """foreachBatch sink: maintains materialized table state under
    ``state_dir`` by merging each micro-batch of envelope rows.

    Merge = union(current state as 'r' ops @ their stored lsn, new batch)
    → latest_state.  Re-delivered batches are no-ops (same lsn loses to
    itself), which is what makes at-least-once delivery safe.

    Scale design: state is hash-bucketed by key —
    ``creek_bucket = pmod(xxhash64(keys), n_buckets)`` hive partitions —
    and each micro-batch rewrites ONLY the buckets whose keys appear in
    the batch, published through the versioned-partition store
    (streaming/store.py): readers always see a consistent committed
    snapshot, concurrent with writes.  Per-batch cost is O(|touched
    buckets|), not O(|state|); version sprawl is bounded by an inline
    compaction fold every ``compact_versions`` generations.  On a real
    cluster the same contract is Delta MERGE + OPTIMIZE; this layout
    keeps the incremental property testable locally.  The only driver
    traffic per batch is one aggregate row (the touched bucket ids,
    ≤ n_buckets ints, and the batch's truncate watermark), one manifest
    read and one listing of the new version dir."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: list[str],
        envelope_schema: T.StructType,
        *,
        n_buckets: int = 64,
        compact_versions: int = 8,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.key_cols = key_cols
        self.envelope_schema = envelope_schema
        self.n_buckets = n_buckets
        self.compact_versions = compact_versions
        self._lsn_col = "_creek_lsn"
        # NOT underscore-prefixed: Spark's file listing treats `_*` paths
        # as hidden metadata and would skip the partition directories.
        self._bucket_col = "creek_bucket"
        # state_dir/_manifest.json {"version": N, "buckets": {b: vdir}};
        # pre-manifest state (bucket dirs at the root) reads as version "."
        self._store = VersionedPartitionStore(
            spark, state_dir, self._bucket_col, "int",
            map_key="buckets", ver_digits=9,
        )

    def _bucket_of(self, cols) -> F.Column:
        return F.pmod(F.xxhash64(*cols), F.lit(self.n_buckets)).cast("int")

    def current_state(self) -> DataFrame | None:
        """The committed state as of the manifest this call reads — a
        consistent snapshot regardless of concurrent apply_batch runs.
        Without an envelope schema the stored one is inferred."""
        schema = (
            self._state_schema() if self.envelope_schema is not None else None
        )
        return self._store.read(self._store.read_manifest(), schema=schema)

    def _state_schema(self) -> T.StructType:
        """What apply_batch writes: the envelope's ``after`` fields, the
        key's stream position and its bucket."""
        return T.StructType(
            [
                *self.envelope_schema["after"].dataType.fields,
                T.StructField(self._lsn_col, T.StringType()),
                T.StructField(self._bucket_col, T.IntegerType()),
            ]
        )

    def _state_as_wal(self, state: DataFrame) -> DataFrame:
        after_t = self.envelope_schema["after"].dataType
        before_t = self.envelope_schema["before"].dataType
        # Schema evolution (upstream ADD COLUMN): the applier's envelope
        # schema can be WIDER than the persisted state — the reference
        # publishes a new fingerprint and keeps streaming (O10), so the
        # restarted consumer replays new-schema batches onto old-schema
        # state.  ``state`` is read with the current envelope's fields
        # (_state_schema): those the stored rows don't have surface as
        # typed NULLs, exactly Postgres's ADD COLUMN semantics for
        # pre-existing rows, and dropped columns are not read.
        return state.select(
            F.lit("state").alias("fingerprint"),
            F.struct(
                F.lit("state").alias("name"),
                F.lit("1970-01-01").cast("timestamp").alias("tx_at"),
                F.lit("db").alias("db"),
                F.lit("public").alias("schema"),
                F.lit("state").alias("table"),
                F.lit(0).cast("long").alias("tx_id"),
                F.col(self._lsn_col).alias("lsn"),
            ).alias("source"),
            F.lit("r").alias("op"),
            F.lit("1970-01-01").cast("timestamp").alias("sent_at"),
            F.lit(None).cast(before_t).alias("before"),
            F.struct(*[F.col(f.name) for f in after_t.fields]).alias("after"),
            F.lit(None).cast("array<string>").alias("unchanged_toast"),
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            # ONE aggregate row: the buckets this batch touches — the
            # after-image key (upserts) AND the before-image key (deletes,
            # and the delete leg of u_pk, whose old key can live in a
            # different bucket than the new) — and its truncate watermark,
            # the max LSN of its 't' ops.  Bucket ids are < n_buckets, so
            # the row is bounded by construction.  collect()[0], not
            # first(): first() is an incremental take, three jobs.
            b_after = F.when(
                F.col("after").isNotNull(),
                self._bucket_of([F.col(f"after.{k}") for k in self.key_cols]),
            )
            b_before = F.when(
                F.col("before").isNotNull(),
                self._bucket_of([F.col(f"before.{k}") for k in self.key_cols]),
            )
            probe = batch.agg(
                F.array_union(
                    F.collect_set(b_after), F.collect_set(b_before)
                ).alias("touched"),
                F.max(
                    F.when(F.col("op") == "t", lsn_num(F.col("source.lsn")))
                ).alias("trunc_lsn"),
            ).collect()[0]
            touched = set(probe["touched"])
            # A truncate discards every older row in EVERY bucket.
            trunc_lsn = probe["trunc_lsn"]
            if not touched and trunc_lsn is None:
                return
            # the ONE manifest this batch reads: the merge input, the
            # next version and the publish all resolve against it
            manifest = self._store.read_manifest()
            committed = {int(b) for b in self._store.parts(manifest)}
            # Compaction: when committed buckets are spread over too many
            # version dirs (long trickle of small batches), fold the whole
            # state into this batch's version — the inline OPTIMIZE analog
            # that bounds reader-side union width.
            if trunc_lsn is not None or (
                len(set(self._store.parts(manifest).values()))
                >= self.compact_versions
            ):
                touched |= committed
            if not touched:
                return

            subset = self._store.read(manifest, touched, self._state_schema())
            if subset is not None:
                sw = self._state_as_wal(subset.drop(self._bucket_col))
                wal_in = sw.unionByName(batch.select(*sw.columns))
            else:
                wal_in = batch
            # latest_state's truncate watermark, as a literal: stored
            # state enters as 'r' rows, so only the batch can carry a 't',
            # and the probe row already holds its max LSN — no broadcast.
            keep = F.col("op") != "t"
            if trunc_lsn is not None:
                keep &= lsn_num(F.col("source.lsn")) > F.lit(trunc_lsn)
            # The winner's LSN is stored with the state so existing rows
            # re-enter the next batch's merge at their true stream position.
            new_state = (
                latest_state(
                    wal_in.where(keep),
                    self.key_cols,
                    handle_truncate=False,
                    lsn_col="_lwin",
                )
                .withColumn(
                    self._lsn_col, lsn_str(F.coalesce(F.col("_lwin"), F.lit(0)))
                )
                .drop("_lwin")
                .withColumn(
                    self._bucket_col,
                    self._bucket_of([F.col(k) for k in self.key_cols]),
                )
            )
            # the store's publish protocol (streaming/store.py): fresh
            # version dir, atomic manifest swap, one-generation GC
            new_ver = self._store.next_version(manifest)
            (
                new_state.write.mode("overwrite")
                .partitionBy(self._bucket_col)
                .parquet(self._store.version_path(new_ver))
            )
            # Buckets whose last key was deleted produce zero rows —
            # no dir — and simply drop out of the manifest mapping.
            present = self._store.written(new_ver)
            self._store.publish(manifest, new_ver, touched, present)
        finally:
            batch.unpersist()

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        *,
        available_now: bool = True,
    ):
        writer = (
            stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def sliding_counts(
    stream: DataFrame,
    *,
    time_col: str = "sent_at",
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked sliding-window aggregation: each event lands in
    window/slide overlapping windows.  State per key is bounded by the
    watermark, so executor memory is O(active windows), not O(stream)."""
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(
            F.window(F.col(time_col), window, slide).alias("w"),
            F.col("op"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "op",
            "n",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    left_time: str = "sent_at",
    right_time: str = "sent_at",
    watermark: str = "10 minutes",
    max_lag: str = "5 minutes",
) -> DataFrame:
    """Inner stream-stream equi-join with a bounded time-range condition.

    Both sides carry watermarks and the join requires
    ``right_time ∈ [left_time, left_time + max_lag]`` — this is what lets
    Spark expire buffered state (an unbounded stream-stream join would
    hold both streams forever).  Columns from both sides are preserved
    with `l_`/`r_` prefixes except the join key."""
    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark)
    lsel = lw.select(
        F.col(on).alias(on),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c != on
        ],
    )
    rsel = rw.select(
        F.col(on).alias("_r_key"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c != on
        ],
    )
    cond = (
        (F.col(on) == F.col("_r_key"))
        & (F.col(f"r_{right_time}") >= F.col(f"l_{left_time}"))
        & (
            F.col(f"r_{right_time}")
            <= F.col(f"l_{left_time}") + F.expr(f"INTERVAL {max_lag}")
        )
    )
    return lsel.join(rsel, cond, "inner").drop("_r_key")


def tumbling_counts(
    stream: DataFrame,
    *,
    time_col: str = "sent_at",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over the change stream —
    late data beyond the watermark is dropped (explicit policy; the
    reference has none, SURVEY.md §2.2)."""
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(
            F.window(F.col(time_col), window).alias("w"),
            F.col("op"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "op", "n")
    )
