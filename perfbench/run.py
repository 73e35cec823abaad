"""Benchmark for the engine and the Lero loop.

    python3 perfbench/run.py --workload {engine,lero} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One client, closed loop, on
``local[<cores>]``. Inputs are generated into ``.perfbench/`` under the
root: the star schema from ``datagen`` (fixed data seed), the DuckDB
oracle answers, and, with ``--trace 1``, the span dump. ``--seed`` sets
the order queries are served in. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``), each
``{"value", "unit"}``. See ``perfbench/README.md`` for what each metric
means and which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "active_query_optimizer_spark"
DRIVER_MEM = "2g"


def pin_environment() -> int:
    """Environment every Spark process of the run inherits; returns the
    core count. Set before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    local, tmp = os.path.join(WORK, "local"), os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # commit the whole heap at start: a lazily grown heap's resident size
    # depends on when the collector ran, which made peak_rss_mb vary by
    # a fifth from run to run. Temporary files stay under WORK.
    java = (f'-Xms{DRIVER_MEM} -XX:-UsePerfData "-Djava.io.tmpdir={tmp}"')
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java)} pyspark-shell")
    # pandas-UDF workers import the package by name from any directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return cores


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("engine", "lero"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    cores = pin_environment()

    import base
    from harness import NullTracer, Tracer

    tracer = Tracer() if args.trace else NullTracer()
    if args.workload == "lero":
        from lero import LeroWorkload as cls
    else:
        from engine import EngineWorkload as cls
    wl = cls(args.workload, base.Context(
        work=WORK, seed=args.seed, seconds=args.seconds,
        tracer=tracer, cores=cores))
    t0 = time.perf_counter()
    try:
        result = wl.run()
    finally:
        wl.close()
    if args.trace:
        tracer.dump(os.path.join(
            WORK, f"trace-{args.workload}-seed{args.seed}.json"))
    print(f"perfbench: {args.workload} seed={args.seed} "
          f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
