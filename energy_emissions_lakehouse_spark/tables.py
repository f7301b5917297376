"""Testdata table access (TESTDATA.md contract).

All driver-provided tables are plain parquet under ``{sf_dir}/{name}.parquet``.
Reads go through ``spark.read.parquet`` so Catalyst gets predicate pushdown +
column pruning for free; never hand-materialize.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from energy_emissions_lakehouse_spark.fsutil import session_memo
from energy_emissions_lakehouse_spark.session import configure_runtime

#: Driver-registered oracle view names (BASELINE/TESTDATA contract).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Some testdata generations write events.ts as INT64 TIMESTAMP(NANOS), which
# Spark's parquet reader rejects ([PARQUET_TYPE_ILLEGAL]); others write plain
# TIMESTAMP(MICROS), which Spark reads natively. Detect from the parquet
# footer (one driver-side metadata read, memoized per file version) and only
# apply the ns->µs workaround when the file really is nanos: read the physical
# int64 via an explicit schema and convert in the JVM (`div` = integer
# division; a double `/` would lose precision above 2^53 at epoch-nanos
# magnitude). Truncation toward zero matches DuckDB's ns->second flooring
# for positive epochs, so second-granularity outputs stay oracle-exact.
_EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

#: Canonical events schema after ts normalization — what ``t()`` returns and
#: what streaming sources read from their staged (pre-normalized) copies.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


@lru_cache(maxsize=32)
def _ts_is_nanos(path: str, mtime_ns: int, size: int) -> bool:
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(path).field("ts").type
    return str(getattr(ts_type, "unit", "")) == "ns"


def _events_ts_is_nanos(path: str) -> bool:
    # keyed on (path, mtime, size), not path alone: testdata is regenerated
    # between rounds, and a regeneration that flips the ts encoding must
    # not keep the stale ns-vs-µs decision (every timestamp 1000x off)
    st = os.stat(path)
    return _ts_is_nanos(path, st.st_mtime_ns, st.st_size)


def _load(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events" and _events_ts_is_nanos(path):
        return (
            spark.read.schema(_EVENTS_RAW_SCHEMA)
            .parquet(path)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    return spark.read.parquet(path)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Applies runtime parity conf (UTC, ANSI off)
    defensively — the driver hands us a session we didn't configure."""
    configure_runtime(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    # The handle is memoized per session: a fresh parquet relation costs
    # ~100 ms of driver work (py4j round-trips, footer schema inference),
    # and a DataFrame is an immutable plan -- every action still reads the
    # files; no result is cached.
    return session_memo(
        spark, ("tables.t", path, st.st_mtime_ns, st.st_size),
        lambda: _load(spark, path, name),
    )
