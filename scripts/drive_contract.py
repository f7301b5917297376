#!/usr/bin/env python
"""Driver-contract simulation (see /root/repo/.claude/skills/verify).

Plain SparkSession (driver conditions: ANSI on, Etc/UTC), __spark_entry__
imported fresh, every queries() entry value-hash-compared against
oracle_sql() on DuckDB at sf0.01. Prints per-query status + total wall.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

import pandas as pd
from pyspark.sql import SparkSession

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# optional 2nd arg: comma-separated substrings — only run queries whose name
# contains one of them (fast iteration on a changed query family)
NAME_FILTER = sys.argv[2].split(",") if len(sys.argv) > 2 else None
# optional CERT_OUT=<path>: write the full per-query certification record
# (name -> rows/hash/sec/status) so auditors can diff a round's complete
# sweep without re-running it (the committed CERT_FULL_r{N}.json artifact)
CERT_OUT = os.environ.get("CERT_OUT")


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    return repr(v)


def frame_hash(pdf: pd.DataFrame) -> tuple[int, str]:
    pdf = pdf[sorted(pdf.columns)].copy()
    for col in pdf.columns:
        s = pdf[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[col] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            pdf[col] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            pdf[col] = s.astype("float64")
    rows = sorted(
        tuple(norm_cell(v) for v in row) for row in pdf.itertuples(index=False)
    )
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return len(pdf), h


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

    from energy_emissions_lakehouse_spark.oracle import duckdb_connection

    con = duckdb_connection(SF_DIR)

    queries = e.queries()
    oracles = e.oracle_sql()
    failures, timings, cert = [], {}, {}
    for name in sorted(queries):
        if NAME_FILTER and not any(s in name for s in NAME_FILTER):
            continue
        tq = time.perf_counter()
        rows, vhash = None, None
        try:
            spdf = queries[name](spark, SF_DIR).toPandas()
            rows, vhash = frame_hash(spdf)
            if name not in oracles:
                status = f"rows-only ({len(spdf)})"
            else:
                opdf = con.execute(oracles[name]).df()
                on_, oh = frame_hash(opdf)
                if rows != on_:
                    status = f"FAIL rows {rows}!={on_}"
                elif vhash != oh:
                    status = f"FAIL hash {vhash}!={oh}"
                else:
                    status = "ok"
        except Exception as exc:  # noqa: BLE001
            status = f"FAIL exc {type(exc).__name__}: {exc}"
        timings[name] = round(time.perf_counter() - tq, 2)
        cert[name] = {
            "rows": rows,
            "hash": vhash,
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
