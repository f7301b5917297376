"""Vector helpers and the Lloyd trainer (operators/similarity.py): the
driver-side rounding rule, the descriptive errors for vectors that break the
corpus contract, and the plan-construction / job-count cost guards."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from energy_emissions_lakehouse_spark.operators import similarity as sim


def test_round_half_away_matches_duckdb_round():
    """The Lloyd model state is rounded on the driver, so the rule must be
    DuckDB's ``ROUND(x, 9)`` bit for bit, including at half-units."""
    rng = np.random.default_rng(7)
    spread = rng.uniform(-1, 1, 10_000) * 10.0 ** rng.integers(-6, 4, 10_000)
    grid = rng.integers(-(10**12), 10**12, 10_000) / 1e9
    halves = np.concatenate([grid + 5e-10, grid - 5e-10])
    near = np.concatenate([np.nextafter(halves, np.inf), np.nextafter(halves, -np.inf)])
    x = np.concatenate([spread, halves, near[:10_000]])
    assert len(x) >= 20_000
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": np.arange(len(x)), "x": x}))
    want = con.execute("SELECT ROUND(x, 9) AS r FROM t ORDER BY i").df()["r"].to_numpy()
    got = sim.round_half_away(x, 9)
    assert np.array_equal(got.view(np.int64), want.view(np.int64))


def _vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


@pytest.mark.parametrize(
    "bad, match",
    [([None, 1.0], "NULL element"), ([1.0], "ragged vectors")],
)
def test_lloyd_rejects_vectors_outside_the_corpus_contract(spark, bad, match):
    rows = [(i, [float(i), 1.0]) for i in range(8)] + [(100, bad)]
    with pytest.raises(Exception, match=match):
        sim.kmeans_lloyd(_vectors(spark, rows), k=8, iters=1).collect()


def test_lloyd_needs_k_rows(spark):
    rows = [(i, [float(i), 1.0]) for i in range(3)]
    with pytest.raises(ValueError, match="at least k rows"):
        sim.kmeans_lloyd(_vectors(spark, rows), k=8, iters=1)


@pytest.mark.parametrize("helper", [sim.dot, sim.sq_l2])
def test_unrolled_helpers_check_the_width(spark, helper):
    ok = spark.sql(
        f"SELECT {helper('array(1D, 2D, 3D)', 'array(3D, 2D, 1D)', dim=3)} AS u,"
        f" {helper('array(1D, 2D, 3D)', 'array(3D, 2D, 1D)')} AS f"
    ).first()
    assert ok.u == ok.f
    with pytest.raises(Exception, match="exactly 3 elements"):
        spark.sql(
            f"SELECT {helper('array(1D, 2D)', 'array(3D, 2D, 1D)', dim=3)}"
        ).collect()


def _py4j_calls(spark, fn) -> int:
    client = spark.sparkContext._gateway._gateway_client
    send, n = client.send_command, 0

    def counted(command, *args, **kwargs):
        nonlocal n
        n += not command.startswith("m\n")  # object-release messages
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        fn()
    finally:
        del client.send_command
    return n


def test_multiprobe_build_is_a_few_hundred_py4j_calls(spark, sf_dir):
    """Helpers return SQL text, so a 5-plane multi-probe plan is a handful
    of ``selectExpr`` calls, not thousands of Column round-trips."""
    from energy_emissions_lakehouse_spark.registry import get_query

    build = get_query("ann_multiprobe_topk").spark
    build(spark, sf_dir)  # warm the table handle
    assert _py4j_calls(spark, lambda: build(spark, sf_dir)) <= 300


def test_kmeans_query_launches_at_most_six_jobs(spark, sf_dir):
    """Seed + one job per Lloyd round + the final census."""
    from energy_emissions_lakehouse_spark.registry import get_query

    build = get_query("embedding_kmeans_clusters").spark
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    build(spark, sf_dir).collect()
    assert dag.numTotalJobs() - before <= 6
