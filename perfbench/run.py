"""Benchmark of record for the ingest path.

    python3 perfbench/run.py --workload {backfill,catchup,live,query} \\
        --seed N --seconds S --trace {0,1}

Builds the workload's inputs from the seed, sets up (three times, the
median is ``setup_s``), measures for ``--seconds``, checks every output
against an independent replay, and prints one JSON object as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` measures once untraced and once with the layer wrappers
installed, and reports the per-layer metrics plus the tracing overhead.
Run from the repository root; it reads and writes only under it
(scratch files go to ``perfbench/.work``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "lake_bytes_per_row": "B/row",
}
WORKLOAD_NAMES = ("backfill", "catchup", "live", "query")
THROUGHPUT_UNIT = {"backfill": "rows", "catchup": "windows", "live": "data windows per second the importer was busy", "query": "queries"}


def per_layer_names() -> dict[str, str]:
    from perfbench.workloads import LAKE_QUERIES, PLAN_QUERIES

    names = {
        "daemon.iterations": "count", "daemon.windows_per_iteration": "count",
        "pipeline.run_catchup.busy_s": "s", "pipeline.run_catchup.self_s": "s", "pipeline.run_catchup.calls": "count",
        "pipeline.wait_for_window.wait_s": "s", "pipeline.rows_scanned": "count", "pipeline.rows_kept": "count",
        "pipeline.transform.busy_s": "s",
        "sources.plan_windows.busy_s": "s", "sources.plan_windows.calls": "count",
        "sources.windows_enumerated": "count", "sources.empty_windows": "count", "sources.missing_windows": "count",
        "lake_upsert.busy_s": "s", "lake_upsert.self_s": "s", "lake_upsert.calls": "count",
        "lake_upsert.rows_in": "count", "lake_upsert.buckets_touched": "count", "lake_upsert.bytes_rewritten": "B",
        "lake_upsert.write_amplification": "ratio", "lake_upsert.state_files": "count", "lake_upsert.state_bytes": "B",
        "ledger.busy_s": "s", "ledger.self_s": "s", "ledger.calls": "count", "ledger.entries": "count",
        "ledger.file_bytes": "B",
        "dedup.rows_in": "count", "dedup.rows_out": "count",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "spark.task_run_s": "s",
        "spark.shuffle_write_bytes": "B", "spark.input_bytes": "B", "spark.output_bytes": "B",
        "spark.jobs_per_window": "count",
    }
    names.update({f"query.{q}.p50_s": "s" for q in LAKE_QUERIES + PLAN_QUERIES})
    names.update({"trace.overhead_pct": "%", "trace.spans": "count"})
    return names


def quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def supported_percentile(n: int) -> str:
    """The highest percentile with at least ten samples beyond it."""
    return f"p{int(100 * (n - 10) / n)}" if n > 10 else "none"


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the Spark JVM (VmHWM)."""
    pids = [os.getpid(), int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())]
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def transform_busy_s(wl, inputs: dict[str, list[str]]) -> float:
    """``ImportPipeline.transform`` over the phase's input files, executed
    into Spark's no-op sink: the transform's cost without the upsert."""
    from perfbench.workloads import _spec, pipeline

    total = 0.0
    for t, files in inputs.items():
        if not files:
            continue
        pipe = pipeline(wl.spark, t, os.path.dirname(files[0]), os.path.join(wl.work, "noop-lake"))
        t0 = time.perf_counter()
        df = wl.spark.read.schema(_spec(t).schema).parquet(*files)
        pipe.transform(df).write.format("noop").mode("overwrite").save()
        total += time.perf_counter() - t0
    return total


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    if not os.path.isdir(os.path.join(ROOT, "neynar_parquet_importer_spark")):
        print(f"perfbench: the program package is missing under {ROOT}", file=sys.stderr)
        return 2
    # import from the checkout, never from this script's own directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    work = os.path.join(ROOT, "perfbench", ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    from perfbench import tracing
    from perfbench.workloads import SETUP_REPS, WORKLOADS, stop_spark

    wl = WORKLOADS[args.workload](ROOT, args.seed, args.seconds)
    wall0 = time.perf_counter()
    try:
        setup_times = []
        for rep in range(SETUP_REPS):
            if rep:
                shutil.rmtree(os.path.join(work, f"rep{rep - 1}"), ignore_errors=True)
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_times.append(time.perf_counter() - t0)
        wl.prepare_checks()
        wall_measure = time.perf_counter()
        phases = [wl.measure(None)]
        layer = {}
        if args.trace:
            rec = tracing.Recorder()
            tracing.install(rec)
            try:
                sm = tracing.SparkMetrics(wl.spark)
                phases.append(wl.measure(rec))
                totals = sm.totals()
            finally:
                rec.restore()
            traced = phases[-1]
            layer = tracing.derive(rec, totals, traced.units, transform_busy_s(wl, traced.inputs),
                                   wl.state_lake(), wl.tables)
            for q, xs in traced.per_query.items():
                layer[f"query.{q}.p50_s"] = statistics.median(xs)
            layer["trace.overhead_pct"] = 100.0 * (phases[0].throughput / traced.throughput - 1.0)
            layer["trace.spans"] = len(rec.spans)
            rec.dump(os.path.join(work, "spans.jsonl"))
        wall_checks = time.perf_counter()
        checks0, fails0 = wl.check_attempted, len(wl.failures)
        wl.final_checks()
        final_checks, final_failed = wl.check_attempted - checks0, len(wl.failures) - fails0
        rss = peak_rss_mb(wl.spark)
        lake_bpr = wl.lake_bytes_per_row(wl.state_lake())
    finally:
        if wl.spark is not None:
            stop_spark(wl.spark)
        wl.close()

    main_phase = phases[0]
    lat = main_phase.latencies
    e2e = {
        "setup_s": statistics.median(setup_times),
        "peak_rss_mb": rss,
        "throughput_per_s": main_phase.throughput,
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": quantile(lat, 0.90),
        "lake_bytes_per_row": lake_bpr,
    }
    attempted = sum(p.attempted for p in phases) + final_checks
    failed = sum(p.failed for p in phases) + final_failed

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"traffic {json.dumps(wl.traffic.as_dict())}")
    print(f"setup_s per set-up: {[round(x, 3) for x in setup_times]}")
    print(f"throughput_per_s counts {THROUGHPUT_UNIT[args.workload]} "
          f"({main_phase.work:.0f} over {main_phase.busy_s:.3f} s)")
    print(f"latency samples n={len(lat)}; highest percentile with >=10 samples beyond: {supported_percentile(len(lat))}")
    if args.workload == "live":
        print(f"publisher lateness max {max(wl.publish_lateness):.4f} s")
    for name, unit in END_TO_END.items():
        print(f"  {name} = {e2e[name]:.6g} {unit}")
    if args.trace:
        units = per_layer_names()
        for name, unit in units.items():
            print(f"  {name} = {layer.get(name, 0.0):.6g} {unit}")
    print(f"wall time: set-up {wall_measure - wall0:.1f} s, measure {wall_checks - wall_measure:.1f} s, "
          f"checks {time.perf_counter() - wall_checks:.1f} s")
    print(f"ops attempted={attempted} failed={failed}" + (f" ({wl.failures[0]})" if wl.failures else ""))

    if args.trace:
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in per_layer_names().items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
