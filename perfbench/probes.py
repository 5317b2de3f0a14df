"""Outside-in probes for traced runs.

Everything here wraps the program's public functions from the
benchmark's side; nothing in the program is edited.  Installed probes
record only while ``enabled`` is set, so a traced run can alternate
traced and untraced iterations and report the probes' overhead.

* ``WalSenderSession.stream`` and ``TranscriptTransport.frames``: time
  spent producing decoded rows, rows and frames seen
* ``creek_spark.fsio``: calls, seconds, listings and deletes (outermost
  call only; fsio calls itself)
* ``SchemaRegistry.put`` / ``get``: calls and seconds
* ``CdcApplier.apply_batch``: seconds, and a ``_manifest.json`` diff
  around each commit (buckets and rows rewritten, bytes written)
* py4j ``send_command``: round trips from this process to the JVM
* a ``StreamingQueryListener`` keeping every ``durationMs`` breakdown
* one job group per phase, and the event log parsed after the session
  stops (``eventlog_metrics``)
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

FSIO_FUNCS = (
    "exists", "is_dir", "list_names", "list_files", "rename", "mkdirs",
    "delete", "read_file_or_none", "read_json_or_none", "write_file_atomic",
    "write_json_atomic",
)


class Probes:
    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.enabled = False
        self.counts: dict[str, float] = defaultdict(float)
        self.commits: list[dict] = []
        self.progress: list[dict] = []
        self._undo: list = []
        self._fsio_depth = 0
        self._listener = None
        self.probe_s = 0.0  # time spent inside probe bookkeeping

    # -- install / remove ------------------------------------------------

    def _patch(self, owner, name, wrapper_factory):
        orig = getattr(owner, name)
        setattr(owner, name, wrapper_factory(orig))
        self._undo.append((owner, name, orig))

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient
        from pyspark.sql.streaming import StreamingQueryListener

        from creek_spark import fsio
        from creek_spark.sources import walsender
        from creek_spark.sources.registry import SchemaRegistry
        from creek_spark.streaming import CdcApplier

        probes = self

        def stream_wrap(orig):
            @functools.wraps(orig)
            def stream(session, *a, **kw):
                gen = orig(session, *a, **kw)
                while True:
                    t0 = time.perf_counter()
                    try:
                        item = next(gen)
                    except StopIteration:
                        probes._add("walsender.decode_s", time.perf_counter() - t0)
                        return
                    probes._add("walsender.decode_s", time.perf_counter() - t0)
                    probes._add("walsender.rows", 1)
                    yield item
            return stream

        def frames_wrap(orig):
            @functools.wraps(orig)
            def frames(transport):
                for line in orig(transport):
                    probes._add("walsender.frames", 1)
                    yield line
            return frames

        self._patch(walsender.WalSenderSession, "stream", stream_wrap)
        self._patch(walsender.TranscriptTransport, "frames", frames_wrap)

        def fsio_wrap(name):
            def factory(orig):
                @functools.wraps(orig)
                def call(*a, **kw):
                    if not probes.enabled or probes._fsio_depth:
                        return orig(*a, **kw)
                    probes._fsio_depth += 1
                    t0 = time.perf_counter()
                    try:
                        return orig(*a, **kw)
                    finally:
                        probes._fsio_depth -= 1
                        probes.counts["fsio.calls"] += 1
                        probes.counts["fsio.s"] += time.perf_counter() - t0
                        if name in ("list_names", "list_files"):
                            probes.counts["fsio.lists"] += 1
                        elif name == "delete":
                            probes.counts["fsio.deletes"] += 1
                return call
            return factory

        for name in FSIO_FUNCS:
            self._patch(fsio, name, fsio_wrap(name))

        def timed(metric):
            def factory(orig):
                @functools.wraps(orig)
                def call(*a, **kw):
                    if not probes.enabled:
                        return orig(*a, **kw)
                    t0 = time.perf_counter()
                    try:
                        return orig(*a, **kw)
                    finally:
                        probes.counts[f"{metric}.s"] += time.perf_counter() - t0
                        probes.counts[f"{metric}.calls"] += 1
                return call
            return factory

        self._patch(SchemaRegistry, "put", timed("registry.put"))
        self._patch(SchemaRegistry, "get", timed("registry.get"))

        def apply_wrap(orig):
            @functools.wraps(orig)
            def apply_batch(applier, batch, batch_id):
                if not probes.enabled:
                    return orig(applier, batch, batch_id)
                before = probes._manifest(applier.state_dir)
                t0 = time.perf_counter()
                try:
                    return orig(applier, batch, batch_id)
                finally:
                    t1 = time.perf_counter()
                    probes.counts["applier.apply_s"] += t1 - t0
                    probes.counts["applier.batches"] += 1
                    probes.commits.append(
                        probes._diff(applier, before, probes._manifest(applier.state_dir))
                    )
                    probes.probe_s += time.perf_counter() - t1
            return apply_batch

        self._patch(CdcApplier, "apply_batch", apply_wrap)

        def send_wrap(orig):
            @functools.wraps(orig)
            def send_command(client, *a, **kw):
                if probes.enabled:
                    probes.counts["py4j.calls"] += 1
                return orig(client, *a, **kw)
            return send_command

        self._patch(GatewayClient, "send_command", send_wrap)

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if probes.enabled:
                    p = event.progress
                    probes.progress.append({
                        "runId": str(p.runId), "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                        "durationMs": dict(p.durationMs),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    def remove(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- recording -------------------------------------------------------

    def _add(self, key: str, v: float) -> None:
        if self.enabled:
            self.counts[key] += v

    @contextmanager
    def phase(self, name: str, batch: str | None = None):
        """A traced span plus a Spark job group named after the phase."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        with self.tracer.span(name, batch):
            sc.setJobGroup(f"perfbench:{name}", name)
            try:
                yield
            finally:
                sc.setJobGroup("perfbench:idle", "idle")

    @staticmethod
    def _manifest(state_dir: str) -> dict | None:
        try:
            with open(os.path.join(state_dir, "_manifest.json")) as f:
                return json.load(f)
        except OSError:
            return None

    def _diff(self, applier, before: dict | None, after: dict | None) -> dict:
        """What one commit rewrote, from the manifests around it."""
        old = (before or {}).get("buckets", {})
        new = (after or {}).get("buckets", {})
        rewritten = {b: v for b, v in new.items() if old.get(b) != v}
        _, nbytes, rows = _bucket_files(applier.state_dir, rewritten)
        return {
            "n_buckets": applier.n_buckets,
            "rewritten_buckets": len(rewritten),
            "rows_rewritten": rows,
            "bytes_written": nbytes,
            "compaction": len(set(old.values())) >= applier.compact_versions,
            "versions_after": len(set(new.values())),
        }


def _bucket_files(state_dir: str, buckets: dict) -> tuple[int, int, int]:
    """(files, bytes, rows) of the parquet files of ``buckets`` (bucket →
    version dir, as a manifest maps them)."""
    import pyarrow.parquet as pq

    files = nbytes = rows = 0
    for b, v in buckets.items():
        for path in glob.glob(os.path.join(state_dir, v, f"creek_bucket={b}", "*.parquet")):
            files += 1
            nbytes += os.path.getsize(path)
            rows += pq.ParquetFile(path).metadata.num_rows
    return files, nbytes, rows


def state_files(state_dir: str) -> tuple[int, int, int]:
    """(files, bytes, rows) the current manifest references."""
    return _bucket_files(state_dir, (Probes._manifest(state_dir) or {"buckets": {}})["buckets"])


# -- event log ---------------------------------------------------------------

def eventlog_metrics(log_dir: str, tracer) -> dict:
    """Parse the uncompressed event log: per phase (keyed by job group,
    falling back to the span whose window holds the job's submission
    time for jobs the streaming engine runs under its own group) the
    jobs, stages and tasks, and executor metrics summed over TaskEnd."""
    # Spark 4 writes a directory per application (eventlog_v2_<app>/
    # events_<n>_<app>), numbered in order
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(p) and not p.endswith(".inprogress")),
        key=lambda p: int(os.path.basename(p).split("_")[1])
        if os.path.basename(p).startswith("events_") else 0,
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "t": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev))

    windows = [(s.start, s.end, s.name) for s in tracer.spans]

    def phase_of(job: dict) -> str | None:
        g = job["group"] or ""
        if g.startswith("perfbench:") and g != "perfbench:idle":
            return g.split(":", 1)[1]
        inner = [w for w in windows if w[0] <= job["t"] <= w[1]]
        if not inner:
            return None
        return min(inner, key=lambda w: w[1] - w[0])[2]

    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_phase = {jid: phase_of(j) for jid, j in jobs.items()}
    seen_stages: dict[str, set] = defaultdict(set)
    for jid, j in jobs.items():
        ph = job_phase[jid]
        if ph is None:
            continue
        out[ph]["jobs"] += 1
        seen_stages[ph].update(j["stages"])
    for sid, ev in tasks:
        ph = job_phase.get(stage_job.get(sid, -1))
        if ph is None:
            continue
        m = ev.get("Task Metrics") or {}
        o = out[ph]
        o["tasks"] += 1
        o["run_ms"] += m.get("Executor Run Time", 0)
        o["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        o["gc_ms"] += m.get("JVM GC Time", 0)
        o["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        # Spark keeps no Python-time metric; tasks that exchanged data
        # with Python workers count their whole run time
        if any("python workers" in (acc.get("Name") or "").lower()
               for acc in (ev.get("Task Info") or {}).get("Accumulables", [])):
            o["python_ms"] += m.get("Executor Run Time", 0)
    for ph, stages in seen_stages.items():
        out[ph]["stages"] = len(stages)
    return {k: dict(v) for k, v in out.items()}
