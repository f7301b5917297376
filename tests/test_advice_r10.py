"""Regression pins for the round-9 ADVICE items (fixed in round 10).

1. medium — vtable_stream: a rename_column committed WHILE the stream is
   running must be refused at serve time, not silently null-filled.
2. low — vtable_stream: a ``_log/`` dir with no commits (mid-create crash
   window) raises a descriptive error, not a bare IndexError.
3. low — vtable._commit: an unreadable predecessor commit fails loudly
   instead of silently committing with empty rename/drop chains.
4. low — embedding_dim_covariance: n and the per-dimension sums count
   EVERY embeddings row (matching the oracle), while the pair expansion
   still guards against <2-dim vectors.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from energy_emissions_lakehouse_spark.operators.vtable import (
    LOG_DIR,
    VersionedTable,
    log_versions,
)
from energy_emissions_lakehouse_spark.sources.vtable_stream import (
    VtableStreamReader,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="advice-r10-")
    yield os.path.join(d, "t")
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, lo, hi, col="v"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias(col)
    )


def test_midstream_rename_is_refused_not_nullfilled(spark, root):
    """Open the reader BEFORE the rename; serving any post-open commit
    past a rename must raise — before the fix, post-rename segments were
    aligned by (new) name and the old-named column silently fed NULLs."""
    vt = VersionedTable.create(spark, root, _df(spark, 0, 5))
    reader = VtableStreamReader(root, vt.read().schema, {})
    vt.rename_column("v", "val")
    vt.append(_df(spark, 5, 8, col="val"))
    with pytest.raises(RuntimeError, match="renamed columns after the stream"):
        reader.partitions(
            {"version": 0},
            {"version": log_versions(os.path.join(root, LOG_DIR))[-1]},
        )


def test_open_time_rename_guard_still_refuses(spark, root):
    vt = VersionedTable.create(spark, root, _df(spark, 0, 5))
    vt.rename_column("v", "val")
    with pytest.raises(ValueError, match="renamed columns"):
        VtableStreamReader(root, vt.read().schema, {})


def test_empty_log_dir_is_a_descriptive_error(root):
    os.makedirs(os.path.join(root, LOG_DIR))
    with pytest.raises(FileNotFoundError, match="no committed versions"):
        VtableStreamReader(root, StructType(), {})


def test_commit_refuses_unreadable_predecessor(spark, root, monkeypatch):
    """_commit's chain inheritance must treat an unreadable version-1 as
    corruption (commits are never deleted), not default to empty chains."""
    vt = VersionedTable.create(spark, root, _df(spark, 0, 5))
    schema = vt.read().schema

    def boom(_v):
        raise OSError("simulated unreadable commit")

    monkeypatch.setattr(vt, "_read_commit", boom)
    with pytest.raises(RuntimeError, match="unreadable"):
        vt._commit(1, "append", [], [], schema)


def test_dim_covariance_oracle_parity_with_short_vectors(spark, sf_dir):
    """A corpus containing a 1-dim vector must still match the oracle:
    the short vector contributes no pairs but DOES count toward n and
    the per-dimension sums (the oracle's q CTE counts every row)."""
    import duckdb
    import pandas as pd

    from energy_emissions_lakehouse_spark.registry import get_query

    work = tempfile.mkdtemp(prefix="ragged-emb-")
    try:
        # real tables symlinked; embeddings replaced by a tiny ragged set
        for name in os.listdir(sf_dir):
            if name != "embeddings.parquet":
                os.symlink(
                    os.path.join(sf_dir, name), os.path.join(work, name)
                )
        ragged = pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3],
                "embedding": [
                    [0.1, 0.2, 0.3],
                    [0.4],  # the <2-dim row the old filter dropped
                    [0.2, 0.1, 0.5],
                    [0.9, 0.8, 0.1],
                ],
            }
        )
        con = duckdb.connect()
        con.register("ragged", ragged)
        con.execute(
            "COPY (SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding "
            f"FROM ragged) TO '{work}/embeddings.parquet' (FORMAT PARQUET)"
        )
        con.execute(
            "CREATE VIEW embeddings AS "
            f"SELECT * FROM read_parquet('{work}/embeddings.parquet')"
        )
        spec = get_query("embedding_dim_covariance")
        got = (
            spec.spark(spark, work)
            .toPandas()
            .sort_values(["i", "j"])
            .reset_index(drop=True)
        )
        want = (
            con.execute(spec.oracle)
            .df()
            .sort_values(["i", "j"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want)
        for col in ("i", "j", "cov_num"):
            assert list(got[col].astype("int64")) == list(
                want[col].astype("int64")
            ), col
        assert list(got["cov"].round(9)) == list(want["cov"].round(9))
        con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
