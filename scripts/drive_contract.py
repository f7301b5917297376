#!/usr/bin/env python
"""Driver-contract simulation (see .claude/skills/verify).

Plain SparkSession (driver conditions: ANSI on, Etc/UTC), __spark_entry__
imported fresh, every queries() entry compared against oracle_sql() on
DuckDB with ``oracle.compare_frames`` (exact cells, row and column order
ignored). Prints per-query status + total wall.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import SparkSession

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# optional 2nd arg: comma-separated substrings — only run queries whose name
# contains one of them (fast iteration on a changed query family)
NAME_FILTER = sys.argv[2].split(",") if len(sys.argv) > 2 else None
# optional CERT_OUT=<path>: write the full per-query certification record
# (name -> rows/sec/status) so a sweep can be diffed without re-running it;
# the record is written on demand, not committed
CERT_OUT = os.environ.get("CERT_OUT")


def main() -> None:
    t0 = time.perf_counter()
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("drive-contract")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    n = e.entry(spark).count()
    assert n >= 0, "entry() must produce >=0 rows"
    print(f"[drive] entry(): {n} rows ok", file=sys.stderr)

    from energy_emissions_lakehouse_spark.oracle import (
        compare_frames,
        duckdb_connection,
    )

    con = duckdb_connection(SF_DIR)

    queries = e.queries()
    oracles = e.oracle_sql()
    failures, timings, cert = [], {}, {}
    for name in sorted(queries):
        if NAME_FILTER and not any(s in name for s in NAME_FILTER):
            continue
        tq = time.perf_counter()
        rows = None
        try:
            spdf = queries[name](spark, SF_DIR).toPandas()
            rows = len(spdf)
            if name not in oracles:
                status = f"rows-only ({rows})"
            else:
                detail = compare_frames(spdf, con.execute(oracles[name]).df())
                status = "ok" if detail is None else f"FAIL {detail}"
        except Exception as exc:  # noqa: BLE001
            status = f"FAIL exc {type(exc).__name__}: {exc}"
        timings[name] = round(time.perf_counter() - tq, 2)
        cert[name] = {
            "rows": rows,
            "sec": timings[name],
            "status": status,
        }
        print(f"[drive] {name}: {timings[name]}s {status}", file=sys.stderr)
        if status.startswith("FAIL"):
            failures.append(f"{name}: {status}")

    total = round(time.perf_counter() - t0, 1)
    if CERT_OUT:
        with open(CERT_OUT, "w") as fh:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "total_sec": total,
                    "n_run": len(cert),
                    "n_registered": len(queries),
                    "n_failures": len(failures),
                    "queries": cert,
                },
                fh,
                indent=1,
            )
        print(f"[drive] cert record -> {CERT_OUT}", file=sys.stderr)
    print(json.dumps({
        "total_sec": total,
        "n_queries": len(queries),
        "n_failures": len(failures),
        "failures": failures,
        "slowest": sorted(timings.items(), key=lambda kv: -kv[1])[:12],
    }, indent=2))


if __name__ == "__main__":
    main()
