"""Bronze -> Silver cleaning (reference src/10_silver/bronze_to_silver.py).

The reference's operation order is semantic (SURVEY.md §2.3 critical
note): dedup -> type coercion -> trim -> range filters -> median
imputation -> date dropna.  The median imputation is omitted here: the
null-rejecting BETWEEN filters run before it, so no null is left for the
fillna to replace and it never changes a row.  The DuckDB oracle
(sql_oracle.py) keeps the imputation in the reference order, so it stays
the independent check that the omission is sound.

All coercions are TRY_CAST / to_timestamp style (null on failure), matching
pandas ``errors="coerce"`` regardless of the session's ANSI mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TEMP_RANGE = (-40.0, 60.0)  # bronze_to_silver.py:35
CONS_RANGE = (0.0, 2_000_000.0)  # bronze_to_silver.py:36
CO2_RANGE = (0.0, 5_000_000.0)  # bronze_to_silver.py:66


def clean_energy(bronze: DataFrame) -> DataFrame:
    """energy_raw -> energy_silver (bronze_to_silver.py:16-45)."""
    df = bronze.dropDuplicates()  # D1: full-row dedup (:21)
    df = df.select(
        F.to_timestamp(F.col("date"), "yyyy-MM-dd").alias("date"),  # P1 (:24)
        F.trim(F.col("region").cast("string")).alias("region"),  # P3 (:27)
        F.trim(F.col("energy_source").cast("string")).alias("energy_source"),
        F.expr("TRY_CAST(consumption_mwh AS DOUBLE)").alias(
            "consumption_mwh"
        ),  # P2 (:31): 'N/A' -> null
        F.expr("TRY_CAST(temperature_c AS DOUBLE)").alias("temperature_c"),
    )
    df = df.filter(F.col("temperature_c").between(*TEMP_RANGE))  # F1 (:35)
    df = df.filter(F.col("consumption_mwh").between(*CONS_RANGE))  # F1 (:36)
    return df.filter(F.col("date").isNotNull())  # F2 (:42)


def clean_emissions(bronze: DataFrame) -> DataFrame:
    """emissions_raw -> emissions_silver (bronze_to_silver.py:48-75)."""
    df = bronze.dropDuplicates()
    df = df.select(
        F.to_timestamp(F.col("date"), "yyyy-MM-dd").alias("date"),
        F.trim(F.col("region").cast("string")).alias("region"),
        F.trim(F.col("sector").cast("string")).alias("sector"),
        F.expr("TRY_CAST(co2_tonnes AS DOUBLE)").alias("co2_tonnes"),
    )
    df = df.filter(F.col("co2_tonnes").between(*CO2_RANGE))
    return df.filter(F.col("date").isNotNull())
