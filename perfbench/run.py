"""Benchmark entry point.

    python3 perfbench/run.py --workload wap_stream --seed 1 --seconds 5 --trace 0

Prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, measured untraced; with
``--trace 1`` they are the per-layer ones from a traced replay of a
fixed stretch of the same operation stream (see README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

import harness

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "bytes_stored_per_user_byte": "B/B",
    "ingest_rows_per_cpu_s": "rows/s",
    "publish_cpu_s": "s",
    "read_cpu_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def setup_repeated(wl, cpu, diag: dict) -> float:
    """Set the workload up ``setup_repeats`` times on fresh warehouses,
    in the JVM the measured units have warmed, so the set-ups do not
    pay for class loading and JIT compilation. Returns the median
    driver CPU seconds of one set-up."""
    cpus, walls = [], []
    for i in range(wl.setup_repeats):
        wh = wl.fresh(f"setup{i}")
        c0, t0 = cpu(), time.perf_counter()
        wl.setup(wh)
        walls.append(time.perf_counter() - t0)
        cpus.append(cpu() - c0)
    diag["setup_cpu_s"] = cpus
    diag["setup_wall_s"] = walls
    return harness.median(cpus)


def untraced(spark, wl, rec, seconds: float, diag: dict) -> dict:
    """A set-up, the warm-up unit, then ``measure_units`` whole units,
    and more whole units while ``seconds`` have not passed, then the
    measured set-ups."""
    phase = diag["phase_s"]
    t = time.perf_counter()
    wl.setup(wl.fresh("run"))
    phase["setup"] = time.perf_counter() - t
    canary = diag["canary_s"] = []
    stream = wl.ops()
    t = time.perf_counter()
    rec.run_unit(stream)
    phase["warm_up"] = time.perf_counter() - t
    canary.append(harness.canary_s(spark))
    rec.measuring = rec.probing = True
    t0 = time.perf_counter()
    rec.run_unit(stream)
    # a fixed point of the stream, so the ratio does not depend on how
    # far a run got
    stored = wl.stored_bytes() / wl.user_bytes
    units = 1
    while units < wl.measure_units or time.perf_counter() - t0 < seconds:
        rec.run_unit(stream)
        units += 1
    phase["measured"] = time.perf_counter() - t0
    diag["units"] = units
    rec.measuring = rec.probing = False
    canary.append(harness.canary_s(spark))
    t = time.perf_counter()
    wl.finish()
    phase["finish"] = time.perf_counter() - t
    t = time.perf_counter()
    setup_s = setup_repeated(wl, rec.cpu, diag)
    phase["setups"] = time.perf_counter() - t
    metrics = {
        "peak_rss_mb": harness.peak_rss_mb(spark),
        "bytes_stored_per_user_byte": stored,
    }
    missing = [k for k in ("publish", *wl.READS) if not rec.cpu_s.get(k)]
    for kind in missing:
        rec.fail(f"no {kind} sample measured")
    if not missing:
        # every publish of the measured units, compacting ones included
        pubs = rec.cpu_s["publish"]
        cpu = diag["unscaled"] = {
            "setup_s": setup_s,
            "ingest_rows_per_cpu_s": wl.PUBLISH_ROWS * len(pubs) / sum(pubs),
            "publish_cpu_s": harness.median(pubs),
            "read_cpu_s": sum(statistics.fmean(rec.cpu_s[k]) for k in wl.READS),
        }
        py, job = zip(*rec.probe_s)
        probe = diag["probe_mean_s"] = (statistics.fmean(py), statistics.fmean(job))
        metrics.update(scale_to_reference(cpu, *probe))
    return metrics


def scale_to_reference(cpu: dict, py_s: float, job_s: float) -> dict:
    """CPU metrics as a host of the reference speed would read them. The
    factor is the geometric mean of the probe parts' speed-ups over
    their reference times: CPU seconds are multiplied by it, rows per
    CPU second divided by it."""
    k = math.sqrt(harness.PROBE_REF_PY_S / py_s * harness.PROBE_REF_JOB_S / job_s)
    return {name: v / k if name.endswith("_per_cpu_s") else v * k for name, v in cpu.items()}


def replay(wl, rec, tracer, tag: str) -> float:
    """A fresh set-up, the warm-up unit untraced, then the fixed
    trace stretch (``trace_units`` units) under ``tracer``; returns its
    summed driver CPU seconds."""
    wl.tracer = rec.tracer = tracer
    wl.setup(wl.fresh(tag))
    stream = wl.ops()
    with tracer.quiet():
        rec.run_unit(stream)
    rec.measuring = True
    rec.busy_cpu_s = 0.0
    for _ in range(wl.trace_units):
        rec.run_unit(stream)
    rec.measuring = False
    busy = rec.busy_cpu_s
    with tracer.quiet():
        wl.finish()
    return busy


def traced(spark, wl, rec) -> tuple[dict, dict]:
    """Per-layer numbers from a traced replay of a fixed stretch of the
    operation stream, then the same stretch untraced from a fresh
    set-up. Tracing overhead is the traced stretch's summed CPU seconds
    over the untraced one's; the untraced pass runs second, on a warmer
    JVM, so the estimate errs high."""
    from tracer import NullTracer, Tracer

    tracer = Tracer(spark)
    traced_s = replay(wl, rec, tracer, "traced")
    metrics, by_kind = tracer.summary()
    data = sum(harness.tree_bytes(wh, (".parquet",)) for wh in wl.warehouses) + wl.external_bytes
    meta = sum(harness.tree_bytes(wh, (".json",)) for wh in wl.warehouses)
    commits = sum(len(os.listdir(os.path.join(wh, "commits"))) for wh in wl.warehouses)
    untraced_s = replay(wl, rec, NullTracer(), "untraced")
    metrics["storage.data_bytes"] = data
    metrics["storage.meta_bytes"] = meta
    metrics["storage.meta_bytes_per_commit"] = meta / commits
    metrics["trace.overhead_ratio"] = traced_s / untraced_s - 1.0
    tracer.dump(
        os.path.join(harness.WORK, f"trace-{wl.name}-{wl.seed}.json"),
        {"metrics": metrics, "per_op_kind": by_kind},
    )
    return metrics, by_kind


def main(argv=None) -> int:
    args = parse_args(argv)
    harness.configure_env()
    # fail fast (before Spark starts) when the engine is not importable
    import no_jvm_wap_with_iceberg_spark.catalog.catalog  # noqa: F401
    import workloads
    from tracer import PER_LAYER, NullTracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # fixed-width, so stored absolute paths (and metadata bytes) do not
    # depend on the number of digits in the pid
    work = os.path.join(harness.WORK, f"{args.workload}-{args.seed}-{os.getpid():08d}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t = time.perf_counter()
    spark = harness.start_spark()
    phase = {"spark_start": time.perf_counter() - t}
    try:
        rec = workloads.Recorder(NullTracer(), harness.CpuClock(spark), spark)
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, rec.tracer, rec, work)
        t = time.perf_counter()
        wl.generate()
        phase["generate"] = time.perf_counter() - t
        if args.trace:
            metrics, by_kind = traced(spark, wl, rec)
            units = PER_LAYER
            report = {"per_op_kind": by_kind}
            report["cpu_samples"] = {k: [round(v, 4) for v in vals] for k, vals in rec.cpu_s.items()}
        else:
            report = {"phase_s": phase}
            metrics = untraced(spark, wl, rec, args.seconds, report)
            units = END_TO_END
            report["latency"] = harness.summarize(rec.lat)
            report["cpu"] = harness.summarize(rec.cpu_s)
            report["samples"] = {k: [round(v, 4) for v in vals] for k, vals in rec.lat.items()}
            report["cpu_samples"] = {k: [round(v, 4) for v in vals] for k, vals in rec.cpu_s.items()}
            report["probe_s"] = [(round(py, 5), round(job, 5)) for py, job in rec.probe_s]
        report["errors"] = rec.errors
    finally:
        harness.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace, **report}, default=str))
    print(json.dumps(result(rec, metrics, units)))
    return 0


def result(rec, metrics: dict, units: dict) -> dict:
    """The last stdout line: answer-check tally plus metrics by name."""
    return {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items() if k in metrics},
    }


if __name__ == "__main__":
    sys.exit(main())
