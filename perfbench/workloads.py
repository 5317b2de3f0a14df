"""The benchmark's workloads.  Each drives the program only through its
public entry points and checks every output against the reference
interpreter.

A workload has four steps, called by ``run.py``:

* ``setup(dir)``   builds the inputs (timed, repeated; the last one is used)
* ``warmup()``     untimed, checked iterations while the JIT warms up
* ``step(i)``      one timed iteration; returns False when inputs run out
* ``finish()``     the final whole-state check

and reports ``e2e()`` (end-to-end values) and ``layers(ev)`` (per-layer
values of a traced run, given the parsed event log).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time

from perfbench import gen, reference
from perfbench.common import median, tail
from perfbench.probes import state_files


def _rows(df, drop=("_creek_lsn", "creek_bucket")) -> dict:
    cols = [c for c in df.columns if c not in drop]
    return {r[0]: r.asDict() for r in df.select(*cols).collect()}


def _canon(row: dict | None) -> dict | None:
    """Rows as the reference holds them: naive-UTC timestamps."""
    if row is None:
        return None
    out = {}
    for k, v in row.items():
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        out[k] = v
    return out


class Workload:
    name = ""
    cycle = 1  # timed steps are run in whole multiples of this
    # at least this many timed steps: the JIT keeps speeding iterations up,
    # so a median is comparable between runs only over the same count
    min_steps = 3

    def __init__(self, spark, work: str, seed: int, probes, tally):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.probes = probes
        self.tally = tally
        self.lat: list[float] = []
        self.reads: list[float] = []
        self.items: list[int] = []  # changes applied, per timed step
        self.traced: list[float] = []
        self.untraced: list[float] = []

    def phase(self, name: str, batch: str | None = None):
        return self.probes.phase(name, batch)

    def record(self, latency: float, items: int, traced: bool) -> None:
        self.lat.append(latency)
        self.items.append(items)
        (self.traced if traced else self.untraced).append(latency)

    def finish(self) -> None:
        """The final whole-state check, where a workload has one."""

    def e2e(self) -> dict:
        # throughput: the median over whole cycles of changes per second
        # of step time (a cycle is one step except in cdc_trickle)
        c = self.cycle
        per_cycle = [sum(self.items[i:i + c]) / sum(self.lat[i:i + c])
                     for i in range(0, len(self.lat) - c + 1, c)]
        return {
            "latency_p50_s": median(self.lat),
            "throughput": median(per_cycle or [sum(self.items) / sum(self.lat)]),
            "read_p50_s": median(self.reads),
        }

    def common_layers(self, ev: dict) -> dict:
        """Layers every workload crosses, per traced iteration."""
        c = self.probes.counts
        n = max(1, len(self.traced))
        out = {
            "fsio.calls": c["fsio.calls"] / n, "fsio.s": c["fsio.s"] / n,
            "fsio.lists": c["fsio.lists"] / n, "fsio.deletes": c["fsio.deletes"] / n,
            "registry.puts": c["registry.put.calls"] / n,
            "registry.s": (c["registry.put.s"] + c["registry.get.s"]) / n,
            "py4j.calls": c["py4j.calls"] / n,
            "read.s": self.probes.tracer.total("read") / n,
            "read.jobs": ev.get("read", {}).get("jobs", 0) / n,
        }
        for k in ("run_ms", "cpu_ms", "gc_ms", "input_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            out[f"exec.{k}"] = sum(phase.get(k, 0) for phase in ev.values()) / n
        return out

    def stream_layers(self) -> dict:
        out = {}
        for k in ("getBatch", "queryPlanning", "addBatch", "walCommit",
                  "commitOffsets", "triggerExecution"):
            vals = [p["durationMs"].get(k, 0) for p in self.probes.progress
                    if p["numInputRows"] > 0]
            out[f"stream.{k}_ms"] = median(vals) if vals else 0
        return out

    def applier_layers(self, ev: dict, changes: int) -> dict:
        cm = self.probes.commits
        n = max(1, len(cm))
        batches = max(1, self.probes.counts["applier.batches"])
        apply_ev = ev.get("apply", {})
        return {
            "applier.apply_s": self.probes.counts["applier.apply_s"] / batches,
            "applier.touched_bucket_ratio": sum(
                c["rewritten_buckets"] / c["n_buckets"] for c in cm) / n,
            "applier.rows_rewritten_per_change": sum(c["rows_rewritten"] for c in cm) / max(1, changes),
            "applier.bytes_written_per_change": sum(c["bytes_written"] for c in cm) / max(1, changes),
            "applier.compactions": sum(1 for c in cm if c["compaction"]),
            "applier.manifest_versions": median([c["versions_after"] for c in cm]) if cm else 0,
            "applier.jobs_per_batch": apply_ev.get("jobs", 0) / batches,
            "applier.stages_per_batch": apply_ev.get("stages", 0) / batches,
            "applier.tasks_per_batch": apply_ev.get("tasks", 0) / batches,
        }


# -- cdc_replay ---------------------------------------------------------------

class CdcReplay(Workload):
    """A seeded pgoutput transcript through WalSenderSession →
    ingest_transcript_tables → DynamicTables.run_available → state."""

    name = "cdc_replay"
    N_CHANGES = 4000
    KEY_SPACE = 600
    READS = 5  # full-state reads after each timed pass
    # a read keeps getting faster for a hundred-odd reads as the JIT
    # compiles its path, and how fast it gets there differs between runs;
    # untimed reads after each warm-up pass take the timed ones past the
    # steepest part, so their median is comparable between runs
    WARMUP_READS = 10
    # the JIT keeps speeding passes up for several passes; small warm-up
    # passes warm the same per-pass path for less time
    WARMUP_PASSES = 3
    WARMUP_CHANGES = 400
    min_steps = 5

    def setup(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)
        self.inputs = {}
        for name, seed, n in (("main", self.seed, self.N_CHANGES),
                              ("warm-up", self.seed + 1, self.WARMUP_CHANGES)):
            path = os.path.join(d, f"{name}.transcript")
            t = gen.replay_transcript(seed, n, key_space=self.KEY_SPACE)
            gen.write_transcript(path, t)
            expected = reference.apply_events(reference.events_from_changes(t.changes), gen.KEY)
            self.inputs[name] = (path, t, expected)

    def _pass(self, label: str, i: int, inputs: str = "main",
              n_reads: int | None = None) -> tuple[float, list[float]]:
        from creek_spark.sources.registry import SchemaRegistry
        from creek_spark.sources.walsender import (
            TranscriptTransport, WalSenderSession, ingest_transcript_tables)
        from creek_spark.streaming.tables import DynamicTables

        path, t, expected = self.inputs[inputs]
        spark = self.spark
        d = os.path.join(self.work, f"pass-{i}")
        batch = f"pass-{i}"
        t0 = time.perf_counter()
        session = WalSenderSession(TranscriptTransport(path), os.path.join(d, "session"))
        registry = SchemaRegistry(os.path.join(d, "registry"))
        with self.phase("stage", batch):
            written = ingest_transcript_tables(spark, session, os.path.join(d, "wal"), registry)
        dyn = DynamicTables(spark, os.path.join(d, "wal"), os.path.join(d, "base"), None, registry=registry)
        dyn.handle_command(f"ADD {gen.QNAME}")
        with self.phase("apply", batch):
            dyn.run_available()
        t1 = time.perf_counter()
        reads = []
        for _ in range(self.READS if n_reads is None else n_reads):
            with self.phase("read", batch):
                t2 = time.perf_counter()
                got = _rows(dyn.state(gen.QNAME))
                reads.append(time.perf_counter() - t2)
            self.tally.check({k: _canon(v) for k, v in got.items()} == expected,
                             f"{label}: committed state differs from the reference")
        delivered = len(t.changes) + t.redelivered
        self.tally.check(written == {gen.QNAME: delivered}, f"{label}: staged {written}, expected {delivered}")
        if self.probes.enabled and inputs == "main":
            files = [os.path.join(r, f) for r, _, fs in os.walk(os.path.join(d, "wal")) for f in fs
                     if f.endswith(".parquet")]
            self.stage_files.append(len(files))
            self.stage_bytes.append(sum(os.path.getsize(f) for f in files))
            files, nbytes, rows = state_files(os.path.join(d, "base", "state", "public_bench_items"))
            self.read_files.append(files)
            self.state_bytes_per_row.append(nbytes / max(1, rows))
        shutil.rmtree(d, ignore_errors=True)
        return t1 - t0, reads

    def warmup(self) -> None:
        self.stage_files, self.stage_bytes, self.read_files = [], [], []
        self.state_bytes_per_row = []
        for i in range(self.WARMUP_PASSES):
            self._pass("warm-up pass", -1 - i, "warm-up", self.WARMUP_READS)

    def step(self, i: int) -> bool:
        lat, reads = self._pass(f"pass {i}", i)
        self.record(lat, self.N_CHANGES, self.probes.enabled)
        self.reads.extend(reads)
        return True

    def layers(self, ev: dict) -> dict:
        c = self.probes.counts
        tr = self.probes.tracer
        passes = max(1, len(self.traced))
        stage_s = tr.total("stage") - c["walsender.decode_s"]
        out = {
            "walsender.frames": c["walsender.frames"] / passes,
            "walsender.rows": c["walsender.rows"] / passes,
            "walsender.decode_s": c["walsender.decode_s"] / passes,
            "stage.s": stage_s / passes,
            "stage.files": median(self.stage_files) if self.stage_files else 0,
            "stage.bytes": median(self.stage_bytes) if self.stage_bytes else 0,
            "stage.jobs": ev.get("stage", {}).get("jobs", 0) / passes,
            "read.files_scanned": median(self.read_files) if self.read_files else 0,
            "applier.state_bytes_per_row": (median(self.state_bytes_per_row)
                                            if self.state_bytes_per_row else 0),
        }
        out.update(self.applier_layers(ev, self.N_CHANGES * passes))
        out.update(self.stream_layers())
        return out


# -- cdc_trickle --------------------------------------------------------------

class CdcTrickle(Workload):
    """Many micro-batches onto a preloaded state through the daemon's
    path: one envelope file renamed into the WAL dir, then
    ``run_available``; after every commit some of the batch's keys are
    read back (read-your-writes)."""

    name = "cdc_trickle"
    PRELOAD_KEYS = 10_000
    READ_KEYS = 20
    # point reads after each commit: timed ones, and more (untimed) after
    # each warm-up batch, for the reason given at CdcReplay.WARMUP_READS
    READS = 3
    WARMUP_READS = 3
    N_BATCHES = len(gen.TRICKLE_WARMUP) + 5 * len(gen.TRICKLE_SIZES)
    cycle = len(gen.TRICKLE_SIZES)
    min_steps = 2 * cycle

    def setup(self, d: str) -> None:
        from creek_spark.streaming.tables import DynamicTables
        from creek_spark.sources.registry import SchemaRegistry
        from creek_spark.types.fingerprint import fingerprint_schema

        row = gen.relation_struct()
        fp = fingerprint_schema(row)
        self.wal = os.path.join(d, "wal", "public_bench_items")
        self.stage = os.path.join(d, "incoming")
        os.makedirs(self.wal)
        os.makedirs(self.stage)
        script, pre = gen.preload_changes(self.seed, self.PRELOAD_KEYS)
        gen.write_envelope_file(os.path.join(self.wal, "preload.parquet"), pre, fp)
        self.batches = gen.trickle_batches(script, self.N_BATCHES)
        for i, b in enumerate(self.batches):
            gen.write_envelope_file(os.path.join(self.stage, f"batch-{i:05d}.parquet"), b, fp)
        registry = SchemaRegistry(os.path.join(d, "base", "registry"))
        self.dyn = DynamicTables(self.spark, os.path.join(d, "wal"), os.path.join(d, "base"), None,
                                 registry=registry)
        self.dyn.add_table(gen.QNAME, row, [gen.KEY])
        self.dyn.run_available()
        self.expected = reference.apply_events(reference.events_from_changes(pre), gen.KEY)
        self.state_dir = os.path.join(d, "base", "state", "public_bench_items")
        self.next_batch = 0
        self.batch_changes = 0
        self.read_files: list[int] = []

    def _batch(self, label: str, n_reads: int) -> tuple[float, list[float]] | None:
        from pyspark.sql import functions as F

        i = self.next_batch
        if i >= len(self.batches):
            return None
        self.next_batch += 1
        changes = self.batches[i]
        name = f"batch-{i:05d}.parquet"
        os.rename(os.path.join(self.stage, name), os.path.join(self.wal, name))
        t0 = time.perf_counter()
        with self.phase("apply", f"batch-{i}"):
            self.dyn.run_available()
        t1 = time.perf_counter()
        reference.apply_events(reference.events_from_changes(changes), gen.KEY, state=self.expected)
        keys = sorted({c.key for c in changes if c.key is not None}
                      | {c.old_key for c in changes if c.old_key is not None})
        # a point read of at most READ_KEYS of the batch's keys, so the
        # read costs the same for every batch size; finish() checks the
        # whole state
        if len(keys) > self.READ_KEYS:
            keys = sorted(random.Random(self.seed * 1_000_003 + i).sample(keys, self.READ_KEYS))
        reads = []
        for _ in range(n_reads):
            with self.phase("read", f"batch-{i}"):
                t2 = time.perf_counter()
                got = _rows(self.dyn.state(gen.QNAME).where(F.col(gen.KEY).isin(keys)))
                reads.append(time.perf_counter() - t2)
            self.tally.check(
                all(_canon(got.get(k)) == self.expected.get(k) for k in keys),
                f"{label} {i}: read-back of the batch's keys differs from the reference")
        if self.probes.enabled:
            self.batch_changes += len(changes)
            self.read_files.append(state_files(self.state_dir)[0])
        return t1 - t0, reads

    def warmup(self) -> None:
        for _ in gen.TRICKLE_WARMUP:
            self._batch("warm-up batch", self.WARMUP_READS)

    def step(self, i: int) -> bool:
        r = self._batch("batch", self.READS)
        if r is None:
            return False
        self.record(r[0], len(self.batches[self.next_batch - 1]), self.probes.enabled)
        self.reads.extend(r[1])
        return True

    def finish(self) -> None:
        got = _rows(self.dyn.state(gen.QNAME))
        self.tally.check({k: _canon(v) for k, v in got.items()} == self.expected,
                         "final trickle state differs from the reference")

    def layers(self, ev: dict) -> dict:
        files, nbytes, rows = state_files(self.state_dir)
        t = tail(self.traced) if self.traced else None
        out = {
            "applier.state_bytes_per_row": nbytes / max(1, rows),
            "read.files_scanned": median(self.read_files) if self.read_files else 0,
            "trickle.commit_tail_s": t[1] if t else max(self.traced, default=0),
            "trickle.commit_tail_pct": t[0] if t else 100.0,
        }
        out.update(self.applier_layers(ev, self.batch_changes))
        out.update(self.stream_layers())
        return out


# -- snapshot_bootstrap -------------------------------------------------------

ORDERS_COLUMNS = [
    ("o_orderkey", "int8", 1), ("o_custkey", "int8", 0), ("o_orderstatus", "text", 0),
    ("o_totalprice", "float8", 0), ("o_orderdate", "timestamp", 0),
    ("o_orderpriority", "text", 0),
]


def orders_struct():
    from creek_spark.types.pgtypes import PGColumn, PGRelation, pg_relation_to_struct

    return pg_relation_to_struct(PGRelation(
        "public", "orders", [PGColumn(n, t, -1, k) for n, t, k in ORDERS_COLUMNS]))


class SnapshotBootstrap(Workload):
    """A new consumer joins: ``Engine.snapshot`` of ``orders`` with a
    header LSN, an Avro-framed change tail (framed in set-up) decoded
    with ``decode_wal``, ``bootstrap`` and the state written out."""

    name = "snapshot_bootstrap"
    # not in BENCHMARK.json's workload set (see README.md), so its own
    # layers are reported on top of the listed ones
    extra_layer_units = {"snapshot.write_s": "s", "avro.decode_rows": "count",
                         "avro.python_ms": "ms", "bootstrap.jobs": "count"}
    N_ROWS = 40_000
    N_TAIL = 4000
    OVERLAP = 200  # tail changes at or below the snapshot LSN

    def setup(self, d: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from creek_spark import Engine

        os.makedirs(d, exist_ok=True)
        self.engine = Engine(self.spark, data_dir=d, registry_dir=os.path.join(d, "registry"))
        row = orders_struct()
        self.fp = self.engine.registry.put(row, source="public.orders")
        names = [c[0] for c in ORDERS_COLUMNS]
        base = gen.orders_rows(self.seed, self.N_ROWS)
        tail_changes = gen.orders_tail(self.seed, base, self.N_TAIL, 0x2000000)
        snap = {r[0]: dict(zip(names, r)) for r in base}
        events = [self._event(c, names) for c in tail_changes]
        reference.apply_events(events[: self.OVERLAP], "o_orderkey", state=snap)
        self.header_lsn = events[self.OVERLAP - 1]["lsn"]
        self.src = os.path.join(d, "orders.parquet")
        cols = list(zip(*[tuple(r[n] for n in names) for r in snap.values()]))
        pq.write_table(pa.table({
            "o_orderkey": pa.array(cols[0], pa.int64()), "o_custkey": pa.array(cols[1], pa.int64()),
            "o_orderstatus": pa.array(cols[2], pa.string()),
            "o_totalprice": pa.array(cols[3], pa.float64()),
            "o_orderdate": pa.array(cols[4], pa.timestamp("us")),
            "o_orderpriority": pa.array(cols[5], pa.string()),
        }), self.src)
        self.n_snapshot = len(snap)
        self.expected = reference.apply_events(events, "o_orderkey", state=dict(snap),
                                               acked_lsn=self.header_lsn)
        # Avro framing of the tail (set-up): envelope rows → frames
        from creek_spark.types.envelope import envelope_schema

        env = self.spark.createDataFrame([self._envelope(c, names) for c in tail_changes],
                                         envelope_schema(row))
        self.frames = os.path.join(d, "frames")
        self.engine.encode_wal(env, row, codec="avro").write.mode("overwrite").parquet(self.frames)

    @staticmethod
    def _event(c, names) -> dict:
        lsn, op, key, old, row = c
        after = dict(zip(names, row)) if row is not None else None
        before = {"o_orderkey": old if op == "u_pk" else key} if op in ("u", "d", "u_pk") else None
        return {"lsn": lsn, "op": op, "before": before, "after": after, "toast": []}

    def _envelope(self, c, names) -> tuple:
        lsn, op, key, old, row = c
        ts = dt.datetime(2024, 3, 1) + dt.timedelta(microseconds=lsn)
        before = None
        if op in ("u", "d"):
            before = (key,)
        elif op == "u_pk":
            before = (old,)
        return (self.fp, ("creek-spark", ts, "postgres", "public", "orders", lsn // 64, gen.lsn_text(lsn)),
                op, ts, before, row, None)

    def _pass(self, label: str, i: int) -> tuple[float, float]:
        d = os.path.join(self.work, f"pass-{i}")
        batch = f"pass-{i}"
        eng = self.engine
        t0 = time.perf_counter()
        with self.phase("snapshot", batch):
            path = eng.snapshot(self.spark.read.parquet(self.src), os.path.join(d, "snapshots"), "orders",
                                lsn=gen.lsn_text(self.header_lsn))
        snap_df, header = eng.read_snapshot(path)
        with self.phase("bootstrap", batch):
            wal = eng.decode_wal(self.spark.read.parquet(self.frames),
                                 {self.fp: eng.registry.get(self.fp)}, codec="avro")
            out = os.path.join(d, "state")
            eng.bootstrap(snap_df, header, wal, key_cols=["o_orderkey"]).write.parquet(out)
        t1 = time.perf_counter()
        with self.phase("read", batch):
            got = _rows(self.spark.read.parquet(out))
        t2 = time.perf_counter()
        self.tally.check(header["lsn"] == gen.lsn_text(self.header_lsn), f"{label}: header LSN")
        self.tally.check({k: _canon(v) for k, v in got.items()} == self.expected,
                         f"{label}: bootstrapped state differs from the reference")
        shutil.rmtree(d, ignore_errors=True)
        return t1 - t0, t2 - t1

    def warmup(self) -> None:
        self._pass("warmup", -1)

    def step(self, i: int) -> bool:
        lat, rd = self._pass("pass", i)
        self.record(lat, self.n_snapshot + self.N_TAIL, self.probes.enabled)
        self.reads.append(rd)
        return True

    def layers(self, ev: dict) -> dict:
        passes = max(1, len(self.traced))
        boot = ev.get("bootstrap", {})
        return {
            "snapshot.write_s": self.probes.tracer.total("snapshot") / passes,
            "avro.decode_rows": self.N_TAIL,
            "avro.python_ms": boot.get("python_ms", 0) / passes,
            "bootstrap.jobs": boot.get("jobs", 0) / passes,
        }


WORKLOADS = {w.name: w for w in (CdcReplay, CdcTrickle, SnapshotBootstrap)}
