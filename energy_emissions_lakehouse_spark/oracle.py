"""Local replica of the driver's DuckDB-oracle correctness check.

The driver (see __spark_entry__.py docstring) runs each ``queries()`` entry
on Spark and the matching ``oracle_sql()`` on DuckDB over the same parquet,
then compares row count + schema + order-insensitive value hash. This module
reproduces that comparison so every query is verified locally *before* the
driver grades it. Comparison here is stricter than a hash: exact cell values
after canonical normalization.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import pandas as pd

from energy_emissions_lakehouse_spark.tables import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the driver's table views pre-registered."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows — making the frame
    comparable independent of row/column order (the driver hashes likewise)."""
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[col] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            df[col] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[col] = s.astype("float64")
        elif s.dtype == object:
            # DuckDB may hand back Decimal / list values; stringify for
            # stable ordering + comparison.
            df[col] = s.map(lambda v: repr(v))
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""


def compare_query(
    spark, con: duckdb.DuckDBPyConnection, name: str, sf_dir: str
) -> CompareResult:
    from energy_emissions_lakehouse_spark.registry import get_query

    spec = get_query(name)
    spark_pdf = spec.spark(spark, sf_dir).toPandas()
    if spec.oracle is None:
        return CompareResult(name, True, len(spark_pdf), -1, "rows-only (no oracle)")
    oracle_pdf = con.execute(spec.oracle).df()

    detail = compare_frames(spark_pdf, oracle_pdf)
    return CompareResult(
        name, detail is None, len(spark_pdf), len(oracle_pdf), detail or ""
    )


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when the two frames hold the same multiset of rows (row and
    column order ignored, cells exact after ``_canonicalize``; NaN
    matches NaN, null matches null), else the first mismatch in words."""
    a, b = _canonicalize(spark_pdf), _canonicalize(oracle_pdf)
    if len(a) != len(b):
        return f"row-count mismatch: spark={len(a)} oracle={len(b)}"
    if list(a.columns) != list(b.columns):
        return f"columns differ: spark={list(a.columns)} oracle={list(b.columns)}"
    for col in a.columns:
        av, bv = a[col], b[col]
        # NaN != NaN, and a nullable eq() yields <NA> for null-vs-value:
        # both-missing is the one extra match, anything else <NA> is not
        neq = ~(av.eq(bv).fillna(False).astype(bool) | (av.isna() & bv.isna()))
        if neq.any():
            i = int(neq.idxmax())
            return (
                f"value mismatch col={col} row={i}: "
                f"spark={av.iloc[i]!r} oracle={bv.iloc[i]!r}"
            )
    return None
