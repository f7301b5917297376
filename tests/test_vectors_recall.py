"""Recall pin for the two-stage PQ/ADC serving path (round-6 verdict
item 3): the corpus-derived shortlist (GREATEST(20, N // 25), see
queries/vectors.pq_shortlist_for) must hold recall@3 >= 0.9 at sf0.1 —
the scale where BASELINE.md measured the fixed shortlist 20 decaying to
0.75 (0.95 at 80)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from energy_emissions_lakehouse_spark.operators import similarity as sim
from energy_emissions_lakehouse_spark.queries.vectors import (
    PQ_SHORTLIST_DIVISOR,
    PQ_SHORTLIST_FLOOR,
    pq_adc_rerank_topk,
    pq_shortlist_for,
)
from energy_emissions_lakehouse_spark.tables import t

SF01 = "/root/testdata/sf0.1"


def test_pq_shortlist_rule_matches_calibration_points():
    # sf0.001/sf0.01 corpus (N=500) -> the original calibrated 20;
    # sf0.1 corpus (N=2000) -> the measured 0.95-recall shortlist 80.
    assert pq_shortlist_for(500) == 20
    assert pq_shortlist_for(2000) == 80
    assert pq_shortlist_for(1) == PQ_SHORTLIST_FLOOR
    assert pq_shortlist_for(10_000) == 10_000 // PQ_SHORTLIST_DIVISOR


@pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.1 testdata absent")
def test_pq_rerank_recall_at_sf01(spark):
    """recall@3 vs exact L2 over the 10x corpus: the scale-aware
    shortlist must keep >= 0.9 (measured 0.95 at shortlist 80)."""
    approx = {
        (r.query_id, r.cand_id)
        for r in pq_adc_rerank_topk(spark, SF01).collect()
    }
    emb = t(spark, SF01, "embeddings").select(
        "vec_id", F.expr(sim.as_double("embedding")).alias("v")
    )
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(F.expr(sim.sq_l2("qv", "cv")) * F.lit(1e6), 0)
            .cast("long")
            .alias("d_micro"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d_micro", "cand_id")
            ),
        )
        .filter(F.col("rank") <= 3)
    )
    truth = {(r.query_id, r.cand_id) for r in exact.collect()}
    assert truth, "exact reference is empty — test setup broken"
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.9, f"recall@3 {recall:.3f} < 0.9 at sf0.1"


@pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.1 testdata absent")
def test_pq_hi_tier_recall_at_half_shortlist(spark):
    """Round-12 frontier push: the m16x64/iters=4 tier at HALF the
    shortlist (GREATEST(20, N//50) = 40 at N=2000) must hold recall@3
    >= 0.95 — the point the m16x32 tier needs shortlist 80 to reach
    (measured 0.967 vs 0.950, BASELINE frontier r12)."""
    from energy_emissions_lakehouse_spark.queries.vectors import (
        pq_adc_rerank_hi_topk,
    )

    approx = {
        (r.query_id, r.cand_id)
        for r in pq_adc_rerank_hi_topk(spark, SF01).collect()
    }
    emb = t(spark, SF01, "embeddings").select(
        "vec_id", F.expr(sim.as_double("embedding")).alias("v")
    )
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(F.expr(sim.sq_l2("qv", "cv")) * F.lit(1e6), 0)
            .cast("long")
            .alias("d_micro"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d_micro", "cand_id")
            ),
        )
        .filter(F.col("rank") <= 3)
    )
    truth = {(r.query_id, r.cand_id) for r in exact.collect()}
    assert truth
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.95, f"hi-tier recall@3 {recall:.3f} < 0.95 at sf0.1"
