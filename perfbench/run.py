#!/usr/bin/env python3
"""Record-linkage benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. Prints progress to stderr and, as the
last line of stdout, one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (BENCHMARK.json), ``--trace 1``
the per-layer metrics from a traced round. Everything the run writes
(Spark scratch, parquet inputs, the stage store, the compiled kernel) goes
under ``.perfbench_work/`` in the checkout and is removed at exit, except
the span dump of a traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("bulk", "lifecycle")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's own directory, before pyspark starts the JVM."""
    for sub in ("tmp", "native", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # a fresh kernel cache per run: the LCS/JW kernel compile lands in
    # setup_s on every run, not only on the first run in a checkout
    os.environ["ERS_NATIVE_CACHE"] = os.path.join(work, "native")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')} pyspark-shell"
    )
    # small corpora; keep the driver heap modest on a shared host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.chdir(work)  # spark-warehouse / derby files, if any, land here


def stop_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM (and
    with it every Python worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "entity_resolution_spark")):
        print("perfbench: entity_resolution_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    isolate(work)
    sys.path.insert(0, ROOT)
    try:
        from perfbench.bench import Bench

        bench = Bench(args.workload, args.seed, work)
        metrics = bench.run(args.seconds, bool(args.trace))
        if args.trace:
            metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in sorted(metrics.items())}
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": min(bench.failed, bench.attempted),
            "metrics": metrics,
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            stop_spark()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_frac", "_ratio", "_share", "_completeness", "_yield", "_over_cap")):
        return "ratio"
    if name.endswith("match_per_survivor"):
        return "ratio"
    if name.endswith("lcs_cells"):
        return "cells"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
