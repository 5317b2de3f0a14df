"""Versioned-partition store: the one commit protocol behind the
partitioned stateful sinks (CdcApplier, AdditiveRollupSink).

Layout (the manifest's partition-map key and the version-dir width are
per sink — ``"buckets"``/``v%09d`` for CdcApplier, ``"parts"``/``v%07d``
for AdditiveRollupSink — so state written by either keeps resuming)::

    root/_manifest.json                  {"version": N, <key>: {pval: vdir}, ...}
    root/v000000N/<part_col>=<pval>/part-*.parquet

Readers resolve partitions through the manifest only.  A writer
(1) writes the partitions its batch touches into a FRESH version dir —
never in place, so untouched partitions stay byte-identical; (2) swaps
the manifest atomically (``fsio.write_json_atomic``: a Hadoop-FS rename,
so state rides the same filesystem as the data — local, HDFS or object
store); (3) GCs every partition dir that neither the new nor the
previous manifest references.  That one generation of retention keeps a
reader that resolved the previous manifest valid (the vacuum analog),
and a crash anywhere leaves either the whole old or the whole new state
visible: an orphan version dir from a crash before the swap, or garbage
a GC did not finish, goes at the next publish.  This is Structured
Streaming's idempotent-sink recipe (write a fresh version, swap the
manifest) with the Delta-log manifest as its local analog.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from creek_spark import fsio

MANIFEST = "_manifest.json"

# Driver round-trips in the sinks collect the DISTINCT partition/bucket
# values a batch touches — bounded by partition-key cardinality, not data
# volume.  The cap turns a mis-chosen partition key (e.g. partitioning a
# rollup by event id) into a loud error instead of a silent multi-million
# row collect that stalls or OOMs the driver.
MAX_DRIVER_PARTITION_VALUES = 100_000


def bounded_partition_values(
    df: DataFrame, col: str, *, what: str, cap: int = MAX_DRIVER_PARTITION_VALUES
) -> set:
    """Collect the distinct values of ``col`` to the driver, raising with
    guidance when cardinality exceeds ``cap`` (collects cap+1 rows max).
    Values keep their native type; callers stringify as needed."""
    rows = df.select(col).distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: over {cap} distinct {col!r} values in one batch — "
            "this column is a driver-side partition key and must be low-"
            "cardinality (a day/tier/bucket, not a row id); repartition "
            "the state on a coarser key or raise the cap explicitly"
        )
    return {r[0] for r in rows}


class VersionedPartitionStore:
    """``root``'s manifest, partition reads and publishes.

    ``part_col``/``part_type``: the hive partition column and the type
    every read casts it to (per version dir, before the union, so
    partition-type inference cannot make two dirs disagree);
    ``map_key``: the manifest's partition-map key; ``ver_digits``: the
    version-dir number width.  Without a manifest, partition dirs at
    the root (CdcApplier's pre-manifest layout) read as version
    ``"."``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        part_col: str,
        part_type: str,
        *,
        map_key: str,
        ver_digits: int,
    ):
        self.spark = spark
        self.root = root
        self.part_col = part_col
        self.part_type = part_type
        self.map_key = map_key
        self.ver_digits = ver_digits
        self._prefix = part_col + "="

    def read_manifest(self) -> dict | None:
        m = fsio.read_json_or_none(self.spark, fsio.join(self.root, MANIFEST))
        if m is None:
            legacy = self._listed_parts(self.root)
            if legacy:
                return {"version": 0, self.map_key: {p: "." for p in legacy}}
        return m

    def parts(self, m: dict | None) -> dict[str, str]:
        """partition value (str) → version dir, as of manifest ``m``."""
        return (m or {}).get(self.map_key, {})

    def read(
        self, m: dict | None, pvals=None, schema: T.StructType | None = None
    ) -> DataFrame | None:
        """The committed partitions of manifest ``m`` — all of them, or
        only those in ``pvals`` that ``m`` holds — as one DataFrame, or
        None when there are none.  Only the selected partition dirs are
        listed.  ``schema`` (partition column included) skips Parquet
        schema inference, one Spark job per version dir; columns a file
        lacks read as NULL.  Without it, allowMissingColumns does the
        same across version dirs: after a schema widening, partitions
        rewritten since carry the new column while untouched ones keep
        the old schema, and the union fills the gap with NULLs (ADD
        COLUMN semantics) instead of refusing a half-migrated state."""
        pmap = self.parts(m)
        sel = pmap if pvals is None else {str(p) for p in pvals} & pmap.keys()
        by_ver: dict[str, list[str]] = {}
        for p in sel:
            by_ver.setdefault(pmap[p], []).append(p)
        frames = []
        for ver, ps in sorted(by_ver.items()):
            vdir = fsio.join(self.root, ver)
            paths = [fsio.join(vdir, self._prefix + p) for p in sorted(ps)]
            reader = self.spark.read.option("basePath", vdir)
            if schema is not None:
                reader = reader.schema(schema)
            frames.append(
                reader.parquet(*paths)
                .withColumn(self.part_col, F.col(self.part_col).cast(self.part_type))
            )
        if not frames:
            return None
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    def _listed_parts(self, path: str) -> list[str]:
        return [
            name[len(self._prefix):]
            for name in fsio.list_names(self.spark, path)
            if name.startswith(self._prefix)
        ]

    def written(self, ver: str) -> list[str]:
        """Partition values present in version dir ``ver`` — what a
        write there produced, read off one listing instead of a job."""
        return self._listed_parts(self.version_path(ver))

    def next_version(self, m: dict | None) -> str:
        """The version-dir name the batch after manifest ``m`` writes."""
        return f"v{(m['version'] + 1) if m else 1:0{self.ver_digits}d}"

    def version_path(self, ver: str) -> str:
        return fsio.join(self.root, ver)

    def publish(
        self, old: dict | None, new_ver: str | None, touched, present, **extra
    ) -> None:
        """Swap the manifest from ``old`` (the manifest the batch read)
        to the post-batch map — ``touched`` partitions leave the map,
        ``present`` ones (written to ``new_ver``) enter it; a touched
        partition with no rows left simply drops out — then GC.
        ``extra`` keys (fence, fingerprint) ride in the manifest."""
        old_map = self.parts(old)
        gone = {str(p) for p in touched}
        new_map = {p: v for p, v in old_map.items() if p not in gone}
        new_map.update({str(p): new_ver for p in present})
        manifest = {
            "version": (old["version"] + 1) if old else 1,
            self.map_key: new_map,
            **extra,
        }
        fsio.write_json_atomic(self.spark, fsio.join(self.root, MANIFEST), manifest)
        self._gc(old_map, new_map, new_ver)

    def _gc(self, old_map: dict, new_map: dict, new_ver: str | None) -> None:
        """Delete partition dirs neither map references: whole version
        dirs when nothing in them is live (one call each), else their
        dead partitions.  ``new_ver`` holds only live partitions and is
        not listed."""
        keep = {(v, p) for m in (old_map, new_map) for p, v in m.items()}
        live_vers = {v for v, _ in keep}
        for name in fsio.list_names(self.spark, self.root):
            path = fsio.join(self.root, name)
            if name.startswith(self._prefix):  # legacy root partition
                if (".", name[len(self._prefix):]) not in keep:
                    fsio.delete(self.spark, path)
            elif not (name[:1] == "v" and name[1:].isdigit()) or name == new_ver:
                continue
            elif name not in live_vers:
                fsio.delete(self.spark, path)
            else:
                for sub in fsio.list_names(self.spark, path):
                    if (
                        sub.startswith(self._prefix)
                        and (name, sub[len(self._prefix):]) not in keep
                    ):
                        fsio.delete(self.spark, fsio.join(path, sub))
