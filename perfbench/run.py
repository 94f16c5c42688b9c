"""Benchmark entry point.

    python3 perfbench/run.py --workload semantic_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run = one process: start a Spark
session on ``local[<cores>]``, set the workload up several times (the
median is ``setup_s``), drive its closed loop for ``--seconds``, check
every operation's result against a reference, and print one JSON object
as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same loop with spans around
every layer boundary and reports the per-layer metrics instead.

The line before the result is the full report: every metric the run
measured (including the workload-specific ones), by name and unit, with
the run's provenance. The same record, plus the spans of a traced run,
is written to ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import harness  # noqa: E402
import procs  # noqa: E402

WORKLOADS = ("semantic_serve", "corpus_index")
SETUP_REPEATS = 3
DRIVER_HEAP = "2g"
WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"

def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _load_workload(name: str):
    import importlib

    return importlib.import_module(f"workloads.{name}")


def isolate(run_dir: str) -> dict[str, str]:
    """Per-run directories: Spark local dirs, temp files, warehouse and the
    working directory all live under ``run_dir``."""
    paths = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "warehouse", "data")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    os.environ["TMPDIR"] = paths["tmp"]
    # Python workers (UDFs, Python data sources) import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(run_dir)
    return paths


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit.
    Each step runs even when an earlier one fails."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        try:
            if gateway is not None:
                gateway.shutdown()
        finally:
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - escalate, then wait again
                    proc.kill()
                    proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    """Run one benchmark; every process it started has ended when it
    returns or raises."""
    procs.exit_on_signals()
    procs.adopt_orphans()
    try:
        return _main(argv)
    finally:
        procs.end_descendants()


def _main(argv: list[str]) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "wren_engine_spark")):
        print("perfbench: run from the root of a checkout of the engine "
              "(no wren_engine_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    wl = _load_workload(args.workload)
    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": harness.git_commit(ROOT),
        "tree": harness.tree_digest(ROOT),
        "cores": os.cpu_count(),
        "driver_heap": DRIVER_HEAP,
        "cpu_canary_ms": round(harness.cpu_canary_ms(), 3),
    }
    cache_root = os.path.join(ROOT, WORK_DIR, "cache")
    os.makedirs(cache_root, exist_ok=True)
    run_dir = os.path.join(ROOT, WORK_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    spark = None
    try:
        paths = isolate(run_dir)
        inputs = wl.make_inputs(args.seed, cache_root, paths["data"])

        from wren_engine_spark.session import get_spark

        from tracing import Tracer

        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": paths["warehouse"],
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        session_start_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
        jvm_pid = jvm_pid.pid if jvm_pid is not None else None

        state = None
        setup_times = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            state = wl.setup(spark, inputs, paths, tracer, rep=i)
            setup_times.append(time.perf_counter() - t0)
        setup_s = session_start_s + statistics.median(setup_times)

        wl.prepare(spark, inputs, state, tracer)
        outcome = wl.run(spark, inputs, state, tracer, args.seconds)
        rss = harness.peak_rss_mb(jvm_pid)
        tracer.clear_job_group()
        tracer.restore()
        tracer.collect_exec()
        wl.verify(spark, inputs, state, outcome)
    finally:
        try:
            stop_spark(spark)
        finally:
            # nothing may still write into the run directory when it goes
            procs.end_descendants()
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)

    metrics = harness.summarize(outcome)
    metrics["setup_s"] = (setup_s, "s")
    metrics["peak_rss_mb"] = (rss, "MB")
    metrics.update(outcome.extra)
    layers: dict[str, tuple[float, str]] = {}
    if args.trace:
        layers = wl.layer_metrics(tracer, state, outcome)
        layers["session.start_ms"] = (session_start_s * 1000.0, "ms")
        layers.update(_common_layers(tracer, outcome))

    failed = sum(not o.ok for o in outcome.ops)
    correct = failed == 0 and not outcome.failures
    report = {
        "provenance": provenance,
        "setup_repeats_s": [round(t, 4) for t in setup_times],
        "session_start_s": round(session_start_s, 4),
        "failures": outcome.failures[:20],
        "ops": [[o.kind, round(o.latency_s * 1000.0, 3), o.ok] for o in outcome.ops],
        "run_wall_s": round(time.perf_counter() - t_main, 3),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in sorted(layers.items())},
    }
    _write_record(args, report, tracer)
    print(json.dumps(report, sort_keys=True))
    if args.trace:
        final = {k: layers[k] for k in _contract_names("per_layer", layers)}
    else:
        final = {k: metrics[k] for k in _contract_names("end_to_end", metrics)}
    print(harness.result_line(correct, len(outcome.ops), failed, final))
    return 0


def _common_layers(tracer, outcome) -> dict[str, tuple[float, str]]:
    from tracing import CATALYST_PHASES, mean

    out: dict[str, tuple[float, str]] = {}
    for p in CATALYST_PHASES:
        # a mean, not a median: phases are whole milliseconds, and a
        # median of them can read the same on every run
        out[f"catalyst.{p}_ms"] = (mean(tracer.per_phased_op(p)), "ms")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("task_run_ms", "ms"), ("gc_ms", "ms"), ("input_bytes", "bytes"),
                      ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                      ("spill_bytes", "bytes")):
        out[f"exec.{key}"] = (mean(tracer.per_op(key)), unit)
    out["trace.overhead_frac"] = (tracer.overhead_s / outcome.window_s, "fraction")
    out["trace.unattributed_frac"] = (tracer.unattributed_frac(), "fraction")
    return out


def _contract_names(section: str, available: dict) -> list[str]:
    """Metric names BENCHMARK.json declares for ``section``; every one
    must have been measured."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)[section]]
    missing = [n for n in names if n not in available]
    if missing:
        raise RuntimeError(f"metrics not measured by this run: {missing}")
    return names


def _write_record(args, report: dict, tracer) -> None:
    out = os.path.join(ROOT, OUT_DIR)
    os.makedirs(out, exist_ok=True)
    rec = dict(report)
    if args.trace:
        rec["spans"] = tracer.spans
        rec["trace_ops"] = tracer.ops
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(rec, f, default=str)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
