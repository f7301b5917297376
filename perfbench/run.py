#!/usr/bin/env python3
"""Lakehouse benchmark: one closed-loop client per run, sf0.1, local[nproc].

Run from the repository root:

    python3 perfbench/run.py --workload lakehouse_write --seed 1 \
        --seconds 8 --trace 0

Workloads are defined in ``perfbench/workloads.py``.  Every run:

1. isolates itself in a private work directory under ``.perfbench_work/``
   (``TMPDIR``, ``SPARK_LOCAL_DIRS``, ``EEL_STAGING_DIR``, the JVM temp and
   warehouse dirs), so every staged artifact is rebuilt inside ``setup_s``;
2. computes the correctness expectations with DuckDB (not timed);
3. sets up: session start, the workload's own set-up (tables, indexes) and
   the warm-up passes over the full op sequence that bring the per-pass
   time to its steady level -- all of it is ``setup_s``;
4. runs whole passes of the op sequence, in an order shuffled by the seed,
   one op at a time, until ``--seconds`` have elapsed, checking every op's
   output; a failing op is counted and named, never timed as a success.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` a fixed number of traced passes replaces the timed window and
the line carries the per-layer metrics (``perfbench/tracing.py``); the spans
go to ``.perfbench_out/``.  The line before it records the run's settings
and any failing ops.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
PACKAGE = "energy_emissions_lakehouse_spark"
SF_DIR = "/root/testdata/sf0.1"


def _parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _preflight() -> None:
    """Refuse to run without the program or its data: exit non-zero and
    print no result."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"perfbench: no {PACKAGE}/ package under {ROOT}; "
                 "run from the repository root")
    missing = [n for n in ("lineitem", "orders", "embeddings", "events")
               if not os.path.isfile(os.path.join(SF_DIR, f"{n}.parquet"))]
    if missing:
        sys.exit(f"perfbench: test data missing under {SF_DIR}: {missing}")


def _isolate(work: str) -> int:
    """Point every scratch location of the run at ``work`` and pin the core
    count.  Must run before pyspark or the package is imported."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {d: os.path.join(work, d)
            for d in ("tmp", "spark-local", "staging", "warehouse", "store")}
    for d in dirs.values():
        os.makedirs(d, mode=0o700)
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "EEL_STAGING_DIR": dirs["staging"],
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SF_DIR": SF_DIR,
        # A 2 GB heap holds sf0.1 (17 MB of parquet) with room to spare and
        # keeps the run's footprint small on a shared host.
        "SPARK_DRIVER_MEMORY": "2g",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={dirs['tmp']} "
            f"-Dderby.system.home={dirs['warehouse']}' "
            f"--conf spark.sql.warehouse.dir={dirs['warehouse']} pyspark-shell"
        ),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


def main(argv: list[str]) -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    args = _parse_args(argv)
    _preflight()
    sys.path.insert(0, ROOT)
    # Spark and its Python workers write banners to fd 1; only this
    # script's two JSON lines may reach the real stdout.
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        cpus = _isolate(work)
        from harness import run_workload

        info, result = run_workload(
            args.workload, seed=args.seed, seconds=args.seconds,
            traced=bool(args.trace), sf_dir=SF_DIR,
            store=os.path.join(work, "store"),
            out_dir=os.path.join(ROOT, ".perfbench_out"),
            cache_dir=os.path.join(ROOT, ".perfbench_cache"),
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info.update(cpus=cpus, sf=0.1, sf_dir=SF_DIR, seed=args.seed,
                cwd=ROOT, workload=args.workload, trace=args.trace)
    real_stdout.write(json.dumps({"run": info}) + "\n")
    real_stdout.write(json.dumps(result) + "\n")
    real_stdout.flush()
    return 0


if __name__ == "__main__":
    t0 = time.time()
    rc = main(sys.argv[1:])
    print(f"[perfbench] finished in {time.time() - t0:.1f}s", file=sys.stderr)
    sys.exit(rc)
