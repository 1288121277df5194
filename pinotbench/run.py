"""Benchmark of the pinot storage, scan, sink, catalog and maintenance layers
under Spark.

    python3 pinotbench/run.py --workload scan_full --seed 1 --seconds 8 --trace 0

Runs one workload from one seed, checks every answer against DuckDB over the
generated inputs, and prints the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``). The last line of standard output is
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
the line before it carries the same result as
``{"schema_version", "workload", "seed", "correct", "attempted", "failed",
"metrics": {name: value}}``. Tables, Spark's local and temporary files and
the span file are written under ``pinotbench/work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pinotbench import harness, workloads  # noqa: E402

SCHEMA_VERSION = 1
WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work")


def units(trace: int) -> dict:
    """Name -> unit of the metrics a run prints, from ``BENCHMARK.json``:
    the end-to-end list, or traced the per-layer list."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def end_to_end(run, w, setup_s: float) -> dict:
    med = statistics.median
    inputs = w.stored_input_bytes()
    return {
        "setup_s": setup_s,
        "query_s": med(run.samples["query_s"]),
        "append_rows_per_s": med(run.samples["append_rows_per_s"]),
        "compact_rows_per_s": med(run.samples["compact_rows_per_s"]),
        "stored_bytes_per_input_byte": w.stored(),
        "write_amplification": run.written / inputs,
        "peak_rss_mb": run.peak.peak,
    }


def bench(workload, seed, seconds, trace, scale="full", alter=None):
    """One run; returns ``(run, metrics)``."""
    cpus = os.cpu_count() or 1
    names = units(trace)
    work = os.path.join(WORK, f"{workload}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    tracer = harness.Tracer(enabled=bool(trace))
    run = workloads.Run(workload, seed, scale, work, tracer, cpus, alter)
    phases = {}
    t0 = last = time.perf_counter()

    def phase(name):
        nonlocal last
        now = time.perf_counter()
        phases[name] = now - last
        last = now

    with tracer.span("session.start"):
        spark = harness.start_session(work, cpus)
    phase("session")
    try:
        run.spark = spark
        run.peak = harness.WorkerPeak(harness.jvm_pid(spark))
        w = workloads.ScanWorkload(run)
        with tracer.span("setup"):
            w.setup()
        phase("setup")
        setup_s = time.perf_counter() - t0
        w.expectations()
        phase("oracle")
        if trace:
            from pinotbench import replay

            metrics = replay.traced(run, w, phases["session"])
            phase("traced")
        else:
            w.measure(seconds)
            phase("measure")
            w.maintain()
            phase("maintain")
            metrics = end_to_end(run, w, setup_s)
    finally:
        harness.stop_session(spark)
        phase("stop")
        print("phases " + json.dumps({k: round(v, 2) for k, v in phases.items()}),
              file=sys.stderr)
        print("samples " + json.dumps(
            {k: [round(v, 3) for v in vs] for k, vs in run.samples.items()}),
            file=sys.stderr)
        shutil.rmtree(os.path.join(work, "tables"), ignore_errors=True)
        shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    if trace:
        tracer.write(os.path.join(work, "spans.jsonl"))
    return run, {k: (float(metrics[k]), unit) for k, unit in names.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(workloads.SCALES), default="full")
    ap.add_argument("--alter", help="corrupt this expected answer (self-test)")
    args = ap.parse_args(argv)
    run, metrics = bench(
        args.workload, args.seed, args.seconds, args.trace, args.scale, args.alter
    )
    for line in run.failures:
        print(f"FAILED {line}", file=sys.stderr)
    result = {"correct": run.correct, "attempted": run.attempted, "failed": run.failed}
    print(
        json.dumps(
            {"schema_version": SCHEMA_VERSION, "workload": args.workload,
             "seed": args.seed, **result,
             "metrics": {k: v for k, (v, _) in metrics.items()}}
        )
    )
    print(
        json.dumps(
            {**result,
             "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
