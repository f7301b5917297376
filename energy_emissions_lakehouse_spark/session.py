"""SparkSession construction with scale-oriented defaults.

Tuned for correctness parity with the reference semantics (SURVEY.md §7):
- ANSI off: cast of bad strings -> null, matching pandas ``errors="coerce"``
  (reference src/10_silver/bronze_to_silver.py:24,31-32).
- UTC session timezone so date-part extraction is independent of host TZ.
- AQE on: runtime shuffle coalescing, skew-join splitting, broadcast demotion.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

#: Settings safe to (re)apply on an existing session at runtime.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable conf to a session we did not build (e.g. the
    driver's). Ignores settings the session refuses to mutate."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    return spark


#: The directory holding this package: Python workers import it from here.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ship_package(spark: SparkSession) -> SparkSession:
    """Put the package's parent directory on the Python workers' path, so a
    worker can unpickle package-level code (DataSources, UDF bodies) from
    any working directory.  ``sc.environment`` is read when each Python
    function is created, so this works on a session the caller built, as
    long as it runs before the query builds its Python functions.  Local
    mode only: on a cluster, ship the package with ``addPyFile`` instead."""
    env = spark.sparkContext.environment
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_PARENT not in parts:
        env["PYTHONPATH"] = os.pathsep.join([PACKAGE_PARENT, *parts])
    return spark


def get_spark(
    app_name: str = "energy-emissions-lakehouse",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a local session sized from ``SPARK_GRAFT_CPUS``.

    On a real cluster the same code runs unchanged — only master/sizing conf
    differs; nothing in the engine assumes local mode.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    if shuffle_partitions is None:
        # Local rule of thumb: ONE wave of tasks (1x cores). Round-12 A/B
        # on a 20-query sf0.1 subset measured 2x-cores at 38.6 s vs
        # 1x-cores at 35.2-37.4 s (two runs): with AQE coalescing on, the
        # extra initial partitions only buy scheduling overhead at test
        # scale. Still derived from the core count (scale-adaptive, the
        # driver's lower-core bench runs shrink it automatically); on a
        # real cluster size this to data volume (100 MB-1 GB per
        # partition, guide §2.2) via the explicit parameter instead.
        shuffle_partitions = max(cpus, 8)
    # Python workers inherit this env: silences pandas FutureWarnings emitted
    # from Arrow serializers on empty batches, which would otherwise interleave
    # with (and corrupt) machine-read stdout such as bench.py's JSON line.
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Progress bars write \r-animated [Stage N:...] frames to the console;
        # any harness that captures a merged stream sees them swamp the real
        # output (this cost round 1 its bench record — BENCH_r01 "parsed": null).
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    spark = ship_package(configure_runtime(builder.getOrCreate()))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextmanager
def loop_shuffle_partitions(
    spark: SparkSession, n: int | None = 8
) -> Iterator[None]:
    """Loop-local ``spark.sql.shuffle.partitions`` override for K-round
    iterative operators whose per-round state is MODEL-scale (label tables,
    centroids, vocab folds — thousands of rows), not data-scale.

    ``n=None`` is a no-op (inherit the session setting) — the
    "size-to-the-corpus at real data volumes" escape hatch the trainer
    operators expose, handled here so call sites don't each need a
    nullcontext dance.

    Why: each round of such a loop runs 1-3 shuffles plus an eager
    ``localCheckpoint`` job, and every one inherits the caller session's
    partition count. Under a plain 200-partition session that is 200 tasks
    per shuffle over a few thousand rows — pure scheduling overhead that
    dominates the loop (k-core measured 7.5 s at sf0.01 from overhead
    alone; ~1.2 s under the override). At real scale the DATA-scale stages
    (the aggregations that produce the small edge/word/vector-state inputs)
    must run BEFORE entering this context so they keep the session's full
    parallelism; only the model-state rounds run at ``n``.

    Every DataFrame the caller wants executed at ``n`` partitions must be
    materialized INSIDE the context (``localCheckpoint(eager=True)``) —
    a lazily returned plan executes after ``finally`` restores the outer
    setting and gains nothing.

    Concurrency contract: ``spark.sql.shuffle.partitions`` is session-global
    runtime conf, so any OTHER query or streaming micro-batch running
    concurrently on the same SparkSession during the context would silently
    execute at ``n`` partitions. The engine's drivers (bench.py, the grading
    driver, pytest) run queries sequentially on one thread, which is the
    assumption this helper encodes; for a shared multi-tenant session,
    isolate the loop on ``spark.newSession()`` (same SparkContext, separate
    runtime conf) instead of using this context manager.
    """
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
