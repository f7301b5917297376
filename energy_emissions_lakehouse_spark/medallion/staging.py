"""Disk-backed materialization of the medallion layers.

The generator pipeline is deterministic and fixed-size (~20k rows, SURVEY.md
§1.2), but 27+ registered queries each need some slice of
bronze/silver/gold/star. Round 1 memoized per *session* with localCheckpoint,
which made the first medallion query of every fresh session pay the full
multi-second build — exactly the access pattern of a harness that sweeps
queries one at a time (the driver's round-1 correctness run timed out halfway
through the alphabet).

This module is the cross-process fix: every layer is materialized ONCE to
parquet under a staging dir keyed by a fingerprint of the pipeline source
code (generate/silver/gold/star modules). Any later session — same process or
not — resolves a layer as a plain parquet scan, which is also the honest
100 TB design: each medallion layer is a *table*, not a recomputation
(the reference persists every layer too: bronze CSV -> silver parquet ->
gold parquet -> warehouse; src/10_silver/bronze_to_silver.py:45,
src/20_gold/silver_to_gold.py:87-89).

The build is a :func:`fsutil.staged_artifact` (marker + atomic rename:
readers never see a partial layer, and a lost race discards its copy), keyed
on a fingerprint of the four pipeline modules' bytes, so editing the pipeline
invalidates the cache automatically (no manual versioning).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from energy_emissions_lakehouse_spark import fsutil
from energy_emissions_lakehouse_spark.medallion import generate, gold, silver, star

#: Layer name -> parquet subdir. Order documents the build DAG.
LAYERS = (
    "bronze_energy",
    "bronze_emissions",
    "silver_energy",
    "silver_emissions",
    "gold_energy_monthly",
    "gold_emissions_monthly",
    "gold_carbon_intensity",
    "dim_region",
    "dim_energy_source",
    "dim_sector",
    "dim_time",
    "fact_energy_monthly",
    "fact_emissions_monthly",
    "fact_carbon_intensity",
)


def _fingerprint() -> str:
    """Hash the pipeline source files: code change -> fresh staging dir."""
    h = hashlib.md5()
    for mod in (generate, silver, gold, star):
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def staging_dir() -> str:
    return os.path.join(fsutil.staging_dir("medallion"), _fingerprint())


def _write(df: DataFrame, path: str) -> None:
    # Every layer is small (<= ~20k rows); one file per layer keeps the
    # later scans to a single footer read. At real scale the same write
    # would simply drop coalesce(1) and partitionBy the layer's keys.
    df.coalesce(1).write.mode("overwrite").parquet(path)


def _build(spark: SparkSession, out: str) -> None:
    """Materialize all layers into ``out``, each stage reading the previous
    stage back from parquet so nothing is computed twice."""

    def emit(name: str, df: DataFrame) -> DataFrame:
        path = os.path.join(out, name)
        _write(df, path)
        return spark.read.parquet(path)

    be = emit("bronze_energy", generate.bronze_energy(spark))
    bm = emit("bronze_emissions", generate.bronze_emissions(spark))
    se = emit("silver_energy", silver.clean_energy(be))
    sm = emit("silver_emissions", silver.clean_emissions(bm))
    ge = emit("gold_energy_monthly", gold.energy_monthly(se))
    gm = emit("gold_emissions_monthly", gold.emissions_monthly(sm))
    gc = emit("gold_carbon_intensity", gold.carbon_intensity(se, sm))
    for name, df in star.build_star(ge, gm, gc).items():
        emit(name, df)


def ensure_staged(spark: SparkSession) -> str:
    """Build-once: returns the staging dir, building it if absent."""
    return fsutil.staged_artifact(
        "medallion", _fingerprint(), lambda tmp: _build(spark, tmp)
    )


def layer(spark: SparkSession, name: str) -> DataFrame:
    """A medallion layer as a parquet scan (memoized per session)."""

    def read() -> DataFrame:
        return spark.read.parquet(os.path.join(ensure_staged(spark), name))

    return fsutil.session_memo(spark, ("medallion.layer", name), read)
