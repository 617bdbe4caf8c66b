"""Benchmark launcher: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload svm_mnist --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The run pins its environment (below),
builds seeded inputs, does one untimed warm-up job, then runs the
workload's job back to back (one client, one job at a time) until
``--seconds`` have passed, checking every job's output. The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the same untimed loop, then one traced job, and
reports the per-layer metrics and writes the spans under
``.perfbench_out/trace/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")


def pin_environment(cpus: int) -> None:
    """Environment for this process, the JVM and Spark's Python
    workers (both inherit it). Must run before numpy or pyspark load."""
    for sub in ("tmp", "cache", "local", "warehouse"):
        os.makedirs(os.path.join(OUT, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),          # get_spark: local[cpus]
        "SPARK_GRAFT_DRIVER_MEM": "2g",         # default 48g > host memory
        # one BLAS thread per Python worker: cpus workers × 1 ≤ cpus
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        # workers import the library by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # everything a run writes stays under .perfbench_out/
        "TMPDIR": os.path.join(OUT, "tmp"),
        "XDG_CACHE_HOME": os.path.join(OUT, "cache"),
        "SPARK_LOCAL_DIRS": os.path.join(OUT, "local"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(OUT, 'warehouse')}",
            # a fixed-size heap (-Xms = the 2g -Xmx) so the JVM's RSS
            # does not follow G1's run-to-run heap resizing; no
            # hsperfdata file in the system temp directory
            f"--driver-java-options '-Xms2g -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}'",
            "pyspark-shell"]),
    })


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="default", choices=("default", "tiny"),
                   help="input sizes from workloads.SIZES (tests use tiny)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "parallel_svms_spark")):
        print(f"run.py: no parallel_svms_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    pin_environment(cpus)
    sys.path[:0] = [HERE, ROOT]
    import harness
    if args.workload not in harness.WORKLOAD_NAMES:
        print(f"run.py: unknown workload {args.workload!r}; choose from "
              f"{', '.join(harness.WORKLOAD_NAMES)}", file=sys.stderr)
        return 2
    result, summary = harness.run(args.workload, args.seed, args.seconds,
                                bool(args.trace), args.size, cpus,
                                T_START, OUT)
    for line in summary:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
