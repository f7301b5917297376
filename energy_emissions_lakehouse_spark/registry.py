"""Query registry: the driver-facing catalog of implemented operators.

Each entry pairs a PySpark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an equivalent DuckDB oracle SQL string (or ``None`` for queries that are
not SQL-expressible — the driver then records a weaker rows-only check).

Cross-engine exactness policy (why results hash-match bit-for-bit):
- Sums/avgs over arbitrary doubles are computed on pre-rounded scaled
  integers ("cents trick"): ``sum(cast(round(x * S, 0) as bigint)) / S``.
  Integer sums are order-independent and exact in both engines, so Spark's
  parallel partial aggregation and DuckDB's sequential sum agree exactly.
- Sums over integer-valued doubles (e.g. l_quantity) are exact in IEEE754
  as long as partials stay < 2^53, so plain sum() is used.
- Computed integers (year, month, row_number, counts) are cast to BIGINT on
  the Spark side to match DuckDB's default integer width.
- Every window ordering includes a unique tiebreaker column so ranking is
  total and deterministic in both engines.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from energy_emissions_lakehouse_spark.session import ship_package

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL over the pre-registered views, or None
    survey: str  # SURVEY.md §2 operator ids this query exercises
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    survey: str,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: add a (spark_fn, oracle_sql) pair under ``name``.  The
    registered builder first puts the package on the Python workers' path
    (``session.ship_package``), so every query runs from any cwd."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(ship_package(spark), sf_dir)

        _REGISTRY[name] = QuerySpec(name, build, oracle, survey, doc, tuple(tags))
        return fn

    return deco


def _load_all() -> None:
    """Import every query module for its registration side effects."""
    from energy_emissions_lakehouse_spark.queries import (  # noqa: F401
        advanced_olap,
        core,
        events,
        graph,
        jdbc_queries,
        linkage,
        maintenance,
        medallion,
        multimodal,
        olap_shapes,
        retrieval,
        scale_joins,
        sources,
        streaming_queries,
        text,
        timeseries,
        vectors,
        versioned,
    )


def all_queries() -> dict[str, SparkQuery]:
    _load_all()
    return {name: spec.spark for name, spec in sorted(_REGISTRY.items())}


def all_oracle_sql() -> dict[str, str]:
    _load_all()
    return {
        name: spec.oracle
        for name, spec in sorted(_REGISTRY.items())
        if spec.oracle is not None
    }


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    return dict(sorted(_REGISTRY.items()))


def get_query(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]
