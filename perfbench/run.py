"""Seeded benchmark of bioframe_spark's interval and dedup operators.

    python3 perfbench/run.py --workload NAME --seed N --seconds S \\
        --trace {0,1}

NAME is batch or session (workloads.py).

Run from the root of a checkout. One client, closed loop: each timed call
is issued only after the previous one returns. A call is one public operator
of ``operators.ops``, ``operators.closest`` or ``datapipe.dedup`` (see
calls.py), timed from outside as build + ``bench.force_count``. Spark runs
with ``get_spark`` defaults at ``SPARK_GRAFT_CPUS`` = the usable cores.

A run: set up once as a user waits for it (session start with the JVM
launch, seeded inputs from workloads.py, pinning them in the cache);
check every call's output against DuckDB (oracle.py, untimed); then time
a fixed number of passes over the calls, ``--seconds`` over a pass's
mean time on a 4-core machine, so every run times the same work.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs each
call both traced and plain, and prints the per-layer metrics
(spark_trace.py). The last stdout line is the result JSON; the line
before it records the session config, input properties and errors.
Spans go to perfbench/_out/. Exits 2 when not run from a checkout of
the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work", str(os.getpid()))


def _environment() -> int:
    """Point every writer (Spark block manager, JVM and Python temp files,
    Python workers' imports) into the checkout; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": ("--driver-java-options "
                                f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
                                "--conf spark.ui.showConsoleProgress=false "
                                "pyspark-shell"),
    })
    return cores


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("batch", "session"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("bioframe_spark", "bench.py", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found next to perfbench/; "
              "run from the root of a repository checkout", file=sys.stderr)
        sys.exit(2)
    sys.path[:0] = [HERE, ROOT]
    cores = _environment()
    from harness import Runner

    runner = Runner(args, cores, WORK)
    try:
        info, metrics = runner.run()
    finally:
        runner.close()
    print(json.dumps(info))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
