"""Session set-up (session.py): Python workers find the package from any
working directory."""

from __future__ import annotations

import os
import subprocess
import sys

from energy_emissions_lakehouse_spark.session import PACKAGE_PARENT

_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from energy_emissions_lakehouse_spark.oracle import compare_query, duckdb_connection
con = duckdb_connection({sf!r})
for name in {names!r}:
    r = compare_query(spark, con, name, {sf!r})
    print("RESULT", name, r.ok, r.detail[:300])
spark.stop()
"""


def test_worker_queries_run_from_a_foreign_cwd(sf_dir, tmp_path):
    """A plain session started outside the repo root (no PYTHONPATH) runs
    the Python-worker queries: the registry puts the package on the
    workers' path (``session.ship_package``)."""
    names = [
        "embedding_kmeans_clusters",
        "media_feature_extract_arrow",
        "pysource_synthetic_profile",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = _SCRIPT.format(root=PACKAGE_PARENT, sf=sf_dir, names=names)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    results = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT")]
    assert results == [f"RESULT {n} True " for n in names], (
        out.stdout[-2000:] + out.stderr[-2000:]
    )
