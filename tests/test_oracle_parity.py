"""Differential test: every registered query vs its DuckDB oracle.

This mirrors the driver's t2 correctness gate (row count + schema +
order-insensitive values) at sf0.001 so regressions surface in seconds.
"""

from __future__ import annotations

import pandas as pd
import pytest

from energy_emissions_lakehouse_spark.oracle import compare_frames, compare_query
from energy_emissions_lakehouse_spark.registry import all_specs


def _names() -> list[str]:
    return list(all_specs())


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, oracle_con, sf_dir, name):
    result = compare_query(spark, oracle_con, name, sf_dir)
    assert result.ok, f"{name}: {result.detail}"
    assert result.spark_rows >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_contract_alignment():
    import __spark_entry__ as e

    queries = e.queries()
    oracle = e.oracle_sql()
    assert set(oracle) <= set(queries)
    assert len(queries) > 0


def test_compare_frames_exact_and_order_insensitive():
    """The one result comparator, pandas only: row and column order do
    not matter, missing values match their own kind, and any other
    difference is reported with where it is."""
    a = pd.DataFrame({
        "k": pd.array([1, 2, 3], dtype="Int64"),
        "x": [0.5, float("nan"), 2.25],
        "s": ["a", None, "c"],
    })
    permuted = a.iloc[[2, 0, 1]][["s", "x", "k"]].reset_index(drop=True)
    assert compare_frames(a, permuted) is None

    off = a.copy()
    off.loc[2, "x"] = 2.25 + 1e-12
    assert compare_frames(a, off) == (
        f"value mismatch col=x row=2: spark=2.25 oracle={2.25 + 1e-12!r}"
    )

    assert compare_frames(a, a.iloc[:2]) == (
        "row-count mismatch: spark=3 oracle=2"
    )
    assert compare_frames(a, a.rename(columns={"s": "t"})) == (
        "columns differ: spark=['k', 's', 'x'] oracle=['k', 't', 'x']"
    )
    # a null against a value in a nullable integer column is a mismatch
    nulled = pd.DataFrame({"k": pd.array([1, None], dtype="Int64")})
    valued = pd.DataFrame({"k": pd.array([1, 2], dtype="Int64")})
    assert compare_frames(nulled, valued) == (
        "value mismatch col=k row=1: spark=<NA> oracle=2"
    )
