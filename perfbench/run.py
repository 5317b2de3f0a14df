#!/usr/bin/env python3
"""CDC benchmark for creek_spark: one workload per run, one client,
closed loop (the next operation starts when the previous one returns).

    python3 perfbench/run.py --workload cdc_trickle --seed 3 --seconds 12 --trace 0

Run from the repository root.  Set-up is timed three times and its median
reported; untimed, checked warm-up iterations follow; then timed
iterations run until ``--seconds`` have passed and at least the
workload's ``min_steps`` are done.
Every output is checked against the reference interpreter.

Human-readable lines go to stderr; the last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` installs the probes,
alternates traced and untraced iterations, writes the spans and reports
the per-layer metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3

E2E = {  # name → unit
    "setup_s": "s", "latency_p50_s": "s", "throughput": "1/s",
    "read_p50_s": "s", "peak_rss_mb": "MiB",
}


def per_layer_names() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0, help="local[N] cores (default: all)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import creek_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: the program is not importable from {ROOT}: {e}")
        return 2
    from perfbench.common import (
        Tally, Tracer, cpu_ticks, host_cpus, peak_rss_mb, start_session, stop_session)
    from perfbench.probes import Probes, eventlog_metrics
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    cores = args.cores or host_cpus()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "TZ": "UTC", "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "1g"),
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        # the spark-submit launcher JVM would write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip(),
    })
    time.tzset()
    tempfile.tempdir = os.path.join(work, "tmp")  # in case it was resolved already
    trace = bool(args.trace)
    tally = Tally()
    tracer = Tracer(trace)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores=cores, trace=trace)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        probes = Probes(spark, tracer)
        if trace:
            probes.install()
        wl = WORKLOADS[args.workload](spark, work, args.seed, probes, tally)

        setups = []
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(os.path.join(work, f"setup-{r}"))
            setups.append(time.perf_counter() - t)
        setups.sort()
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t

        steps = 0
        ticks0 = cpu_ticks()
        t_run = time.perf_counter()
        while (time.perf_counter() - t_run < args.seconds or steps < wl.min_steps
               or steps % wl.cycle):
            probes.enabled = trace and steps % 2 == 1
            try:
                with tracer.span("step", f"step-{steps}") if probes.enabled else nullcontext():
                    more = wl.step(steps)
            except Exception as e:  # one failed operation must not hide the others
                tally.check(False, f"step {steps}: {type(e).__name__}: {e}")
                break
            finally:
                probes.enabled = False
            if not more:
                break
            steps += 1
        run_s = time.perf_counter() - t_run
        ticks1 = cpu_ticks()
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        wl.finish()
        rss = peak_rss_mb(spark)
        if trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
            probes.remove()
    except Exception as e:
        tally.check(False, f"{type(e).__name__}: {e}")
        log(f"perfbench: run failed: {type(e).__name__}: {e}")
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({"correct": False, "attempted": tally.attempted,
                          "failed": tally.failed, "metrics": {}}))
        return 1
    stop_session(spark)

    for note in tally.notes:
        log(f"FAILED: {note}")
    if not wl.lat:
        log("perfbench: no timed step completed")
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({"correct": False, "attempted": tally.attempted,
                          "failed": tally.failed, "metrics": {}}))
        return 1
    if trace:
        ev = eventlog_metrics(os.path.join(work, "eventlog"), tracer)
        values = layer_values(wl, ev, tracer, probes, session_s, setups, warmup_s, tally)
        if not 0.9 <= values["trace.coverage"] <= 1.1:
            log(f"perfbench: layer spans cover {values['trace.coverage']:.1%} of traced wall time")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        # every per-layer metric BENCHMARK.json lists (0 where a layer is
        # not on this workload's path), plus the layers of a workload
        # that is not in BENCHMARK.json's set
        units = per_layer_names()
        units.update(getattr(wl, "extra_layer_units", {}))
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        values = dict(wl.e2e())
        values["setup_s"] = session_s + setups[len(setups) // 2]
        values["peak_rss_mb"] = sum(rss)
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in E2E.items()}
    shutil.rmtree(work, ignore_errors=True)

    log(f"{args.workload} seed={args.seed} cores={cores} steps={steps} run_s={run_s:.2f} "
        f"warmup_s={warmup_s:.2f} setup={['%.2f' % s for s in setups]} session_s={session_s:.2f} "
        f"cpu_steal={steal:.1%} peak_rss_mb(python, jvm)=({rss[0]:.0f}, {rss[1]:.0f})")
    for k, m in metrics.items():
        log(f"  {k:40s} {m['value']:14.6g} {m['unit']}")
    log(f"  step latencies {[round(x, 3) for x in wl.lat]}")
    log(f"  read latencies {[round(x, 3) for x in wl.reads]}")
    log(f"  ops_failed_ratio {tally.failed}/{tally.attempted}")
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0


def layer_values(wl, ev, tracer, probes, session_s, setups, warmup_s, tally) -> dict:
    """Per-layer values of a traced run, plus how well the layer spans
    account for the traced steps' wall time, and the probes' overhead."""
    from perfbench.common import median

    values = wl.common_layers(ev)
    values.update(wl.layers(ev))
    values.update({
        "setup.session_s": session_s,
        "setup.median_s": setups[len(setups) // 2],
        "setup.warmup_s": warmup_s,
        "ops_failed_ratio": tally.failed_ratio,
    })
    steps = [s for s in tracer.spans if s.name == "step"]
    wall = sum(s.end - s.start for s in steps)
    layers = sum(s.end - s.start for s in tracer.spans
                 if s.parent is not None and tracer.spans[s.parent].name == "step")
    values["trace.coverage"] = layers / wall if wall else 0.0
    if wl.traced and wl.untraced:
        values["trace.overhead_ratio"] = median(wl.traced) / median(wl.untraced) - 1.0
    values["trace.probe_s"] = probes.probe_s
    return values


if __name__ == "__main__":
    sys.exit(main())
