#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh process, one closed-loop client.

Workloads (see perfbench/NOTES.md):

- ``graphdb``: a seeded Zipf-skewed graph bulk-loaded into a fresh GraphDB
  journal, a closed-loop OLTP pass over it (point reads, adjacency reads,
  small edge batches, vertex removals, a compaction after each cycle),
  then a fixed analytics job list, repeated (PageRank, BFS, a motif find,
  reciprocity; the traced run adds connected components, bidirectional
  shortest path and HITS). Outputs are checked against an in-memory model.
- ``curation_batch``: eight registry keys of the LLM-pipeline and
  relational operators, cold, over a fixture generated from the seed.
  Outputs are checked against the keys' DuckDB twins.

    python3 perfbench/run.py --workload graphdb --seed 1 --seconds 30 --trace 0

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Run it from the repository root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from base import SHARED_PER_LAYER, log  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "graph_database_akkatyped_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "4g"
WORKLOADS = {  # workload -> (module, Run subclass), imported when chosen
    "graphdb": ("graph_workload", "GraphRun"),
    "curation_batch": ("curation_workload", "CurationRun"),
}
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "ops/s",
    "main_job_s": "s",
    "jobs_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of every workload, with its unit."""
    import curation_workload
    import graph_workload

    return {
        **SHARED_PER_LAYER,
        **graph_workload.PER_LAYER,
        **curation_workload.PER_LAYER,
        **{f"trace_overhead.{k}": u for k, u in E2E_UNITS.items()},
    }


def pin_environment(scratch: str) -> None:
    """Fix what the JVM and Spark see before the package is imported."""
    local = os.path.join(scratch, "spark-local")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def source_digest() -> str:
    """A hash of the package's and the benchmark's Python sources, so the
    traced run compares only with untraced runs of the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for path in sorted(glob.glob(os.path.join(top, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def untraced_reference(args, digest: str) -> dict:
    """Median end-to-end metrics of the untraced runs of this workload and
    this code recorded in this checkout; runs one (same seed) if none is."""
    pattern = os.path.join(OUT_DIR, f"e2e-{args.workload}-{digest}-*.json")
    if not glob.glob(pattern):
        log("no untraced run of this code recorded for this workload; running one")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            check=True, stdout=subprocess.DEVNULL, cwd=ROOT,
        )
    runs = []
    for path in glob.glob(pattern):
        with open(path) as f:
            runs.append(json.load(f))
    return {k: statistics.median(r[k] for r in runs) for k in E2E_UNITS}


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"{PACKAGE}/ not found next to perfbench/: run from a full checkout")
        return 2
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    t_ref = time.perf_counter()
    digest = source_digest()
    untraced = untraced_reference(args, digest) if args.trace else None
    t_start = T_START + time.perf_counter() - t_ref  # a reference run is not set-up
    sys.path.insert(0, ROOT)
    os.makedirs(OUT_DIR, exist_ok=True)
    scratch = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    pin_environment(scratch)
    module, cls = WORKLOADS[args.workload]
    run = getattr(importlib.import_module(module), cls)(args, scratch)
    try:
        run.setup()
        setup_s = time.perf_counter() - t_start - run.excluded_s
        log(f"setup {setup_s:.1f} s")
        run.measure()
        e2e = run.e2e(setup_s)
        if args.trace:
            measured = {**run.shared_per_layer(), **run.per_layer()}
            measured.update({f"trace_overhead.{k}": e2e[k] - untraced[k] for k in E2E_UNITS})
            # a layer this workload never calls reports 0
            metrics = {k: (measured.get(k, 0.0), u) for k, u in per_layer_units().items()}
            run.tracer.dump(os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
            if run.failed == 0:  # a reference for trace_overhead.*
                path = os.path.join(OUT_DIR, f"e2e-{args.workload}-{digest}-{args.seed}.json")
                with open(path, "w") as f:
                    json.dump(e2e, f)
    finally:
        if getattr(run, "spark", None) is not None:
            shutdown(run.spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    for name, (value, unit) in metrics.items():
        log(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
