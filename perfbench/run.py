"""CDC benchmark: one command per workload.

    python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 16 --trace 0

Run from the repository root.  The run generates its inputs from
``--seed``, drives the package through its public functions, checks every
replica against a DuckDB reference and prints, as the last line of
standard output, ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones from the outside-in tracer.  The line before it records the
pinned run environment.  Scratch files go under ``perfbench/_work`` and
are removed at exit, except the span dump ``perfbench/_work/spans-*.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DRIVER_MEMORY = "2g"


def pin_environment(nproc: int, work: str) -> None:
    """Everything Spark and Python write goes under ``work``; the core
    count and the driver heap's ceiling are explicit, never the package
    defaults.  The heap starts small and grows as the program needs it, so
    peak RSS follows the heap the program touches (a fixed initial heap
    would read as a constant: the collector fills all of it)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false"
            f" --conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
            f" --driver-java-options '-Djava.io.tmpdir={tmp}'"
            " pyspark-shell"
        ),
    )


def environment(nproc: int) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": nproc,
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
        "driver_memory": DRIVER_MEMORY,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated run still stops its JVM and removes its scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    import importlib.util

    if importlib.util.find_spec("mysql_postgres_debezium_cdc_spark") is None:
        print("perfbench: the package is not in this checkout", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(nproc, work)
    try:
        from perfbench.workloads import END_TO_END_UNITS, PER_LAYER_UNITS, WORKLOADS, Run

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        print(json.dumps({"environment": environment(nproc), "workload": args.workload, "seed": args.seed}))
        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, nproc)
        try:
            values = WORKLOADS[args.workload](run)
            if run.tracer is not None:
                run.tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
        finally:
            run.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in run.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    missing = set(units) - set(values)
    if missing:
        print(f"perfbench: metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 1
    result = {
        "correct": run.failed == 0 and not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
