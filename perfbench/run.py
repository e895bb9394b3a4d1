"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``migrate_http`` and ``process_bulk`` (see NOTES.md).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` first runs
the untraced benchmark in a child process, then a traced run, and prints
the per-layer metrics plus the tracing overhead (traced minus untraced)
on every end-to-end metric. Human-readable lines come first; the last
line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Exits non-zero, printing no result, when the package is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import sparkenv  # noqa: E402  (needs ROOT on sys.path)
from perfbench.trace import Tracer, attach_event_log  # noqa: E402

WORKLOADS = ("migrate_http", "process_bulk")
MIGRATE_TICKETS = 1_000
BULK_TICKETS = 7_500


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def package_importable() -> bool:
    try:
        import groove_to_helpscout_migration_tool_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package: {exc}", file=sys.stderr)
        return False
    return True


def run_untraced_child(args) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=175,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def run_workload(args, spark, tracer, work: str) -> dict:
    from perfbench import pipeline

    if args.workload == "migrate_http":
        return pipeline.run_migrate_http(
            spark, tracer, work, args.seed, MIGRATE_TICKETS,
            max_conns=sparkenv.host_cpus())
    return pipeline.run_process_bulk(
        spark, tracer, work, args.seed, args.seconds, BULK_TICKETS)


def end_to_end(setup_s: float, rss_mb: float, result: dict) -> dict:
    walls = result["walls"]  # empty when a pass or the migration raised
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "tickets_per_s": (result["tickets"] / statistics.median(walls) if walls else 0.0,
                          "tickets/s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not package_importable():
        return 2
    untraced = run_untraced_child(args) if args.trace else None

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    settings = sparkenv.configure_env(work, event_dir)
    try:
        spark, setup = sparkenv.start_session()
        tracer = Tracer(spark, traced=bool(args.trace))
        try:
            with sparkenv.PeakRss(sparkenv.jvm_pid()) as rss:
                result = run_workload(args, spark, tracer, work)
        finally:
            sparkenv.stop_session(spark)
        if args.trace:
            attach_event_log(tracer.spans, event_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = result["checks"]
    e2e = end_to_end(setup["setup_s"], rss.mb, result)
    if args.trace:
        from perfbench import pipeline

        metrics = pipeline.layer_metrics(tracer.spans, result)
        for key in ("jvm_start_s", "worker_spawn_s"):
            metrics[f"session.{key}"] = (setup[key], "s")
        metrics["failed_frac"] = (checks.failed / max(1, checks.attempted), "fraction")
        for name, (value, unit) in e2e.items():
            metrics[f"trace.overhead_{name}"] = (value - untraced[name]["value"], unit)
    else:
        metrics = e2e

    print(f"settings: {json.dumps(settings)}")
    print("timed passes (s): " + ", ".join(f"{w:.3f}" for w in result["walls"]))
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"checks: {checks.attempted - checks.failed}/{checks.attempted} passed")
    for failure in checks.failures:
        print(f"FAILED: {failure}")
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": max(1, checks.attempted),
        "failed": checks.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
