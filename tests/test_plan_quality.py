"""Physical-plan audit: every registered query's executed plan is scanned
for patterns that break at scale. This encodes the "would this survive a
100x scale-up" review as a regression test.

Red flags:
- ``CartesianProduct`` — quadratic; every candidate-generation step must be
  an equi-join (broadcast nested-loop over a broadcast-hinted tiny side is
  fine and not flagged).
- unpartitioned ``Window`` — single-partition sort of the whole input;
  only permitted over provably bounded inputs (distinct dimension values /
  calendar months), listed explicitly below.
- ``BatchEvalPython`` — row-at-a-time Python UDF; Python is only allowed
  Arrow-batched (``mapInPandas`` shows as MapInPandas / ArrowEvalPython).
"""

from __future__ import annotations

import pytest

from energy_emissions_lakehouse_spark.registry import all_specs

#: Queries whose plan legitimately contains an unpartitioned window, with
#: the boundedness argument. The window input in every case is a DISTINCT
#: set whose cardinality is fixed by the domain, not the data volume.
BOUNDED_GLOBAL_WINDOWS: dict[str, str] = {
    "medallion_analysis_q2": "dims: <=4 regions x 24 months",
    "medallion_analysis_q3": "dims: <=4 regions x 24 months",
    "medallion_analysis_q4": "dims: <=4 energy sources",
    "medallion_analysis_q5": "dims: <=4 regions x 24 months",
    "medallion_analysis_q7": "dims: <=4 regions x 24 months",
    "medallion_bi_intensity_by_month": "dim_time: <=24 rows",
    "medallion_bi_intensity_by_region": "dim_region: <=4 rows",
    "medallion_bi_totals_by_month_2024": "dim_time: <=24 rows",
    "medallion_dim_time": "distinct (year, month): <=24 rows",
    "revenue_growth_by_month": "monthly rollup: <=84 rows (7y x 12m)",
    "global_row_ids_orders": "offset cumsum: one row PER PARTITION (~8), "
    "never data — the data-bearing window is keyed by spark_partition_id",
    "moving_avg_weekly_revenue": "daily rollup: calendar-bounded "
    "(<=2,500 rows for 7 years), aggregated before the window",
    "bottomk_sample_orders": "rank/max over the ALREADY-LIMITED bottom-K "
    "sample (K=100 rows by construction — TakeOrderedAndProject runs "
    "before the window at any corpus size)",
    "embedding_dim_covariance": "ABS-ordered top-20 over the d*(d-1)/2 "
    "pair aggregates (2,016 rows at d=64, corpus-size-independent)",
}


def _top_groups(s: str) -> list[str]:
    groups, depth, cur = [], 0, ""
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        if ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return groups


def _batch_names() -> list[str]:
    return [n for n in all_specs() if not n.startswith("stream_")]


def _lazy_frame_builders():
    """Queries that eagerly localCheckpoint their result inside a
    loop-local shuffle override (round 6) return an opaque checkpoint-RDD
    scan — auditing THAT plan would be vacuous. Each exposes its lazy
    final plan under a _frame builder; audit that instead. (For the
    iterative ones the per-round interiors still execute eagerly during
    construction — inherent to checkpointed loops — but the final
    census/rounds segment, where a regression would land, stays
    inspectable.)"""
    from energy_emissions_lakehouse_spark.queries.graph import (
        _kcore_frame,
        _lpa_frame,
        _pagerank_frame,
    )
    from energy_emissions_lakehouse_spark.queries.text import (
        _dedup_cluster_frame,
    )

    return {
        "pagerank_nation_trade": _pagerank_frame,
        "lpa_communities_copurchase": _lpa_frame,
        "kcore_copurchase": _kcore_frame,
        "dedup_cluster_components": _dedup_cluster_frame,
    }


#: Queries whose RESULT is legitimately a tiny driver-built local table
#: (model-state outputs of driver-looped trainers — the documented 1-row
#: argmax collects), so a small ExistingRDD scan is their true plan, not
#: an opaque checkpoint hiding auditable work.
DRIVER_LOCAL_RESULTS: dict[str, str] = {
    "bpe_train_merges": "K merge rows live in the driver by design "
    "(1-row argmax collect per round); createDataFrame output",
    "vtable_describe_history": "DESCRIBE HISTORY is O(versions) commit-"
    "log metadata read on the driver by design (no data scan exists); "
    "createDataFrame output",
}


@pytest.mark.parametrize("name", _batch_names())
def test_plan_has_no_scale_red_flags(spark, sf_dir, name):
    builder = _lazy_frame_builders().get(name) or all_specs()[name].spark
    df = builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if (
        "Scan ExistingRDD" in plan
        and len(plan.splitlines()) < 8
        and name not in DRIVER_LOCAL_RESULTS
    ):
        raise AssertionError(
            f"{name}: audited plan is an opaque checkpoint scan — "
            f"register its lazy builder in _lazy_frame_builders"
        )

    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    # row-at-a-time scalar Python UDFs are banned; BatchEvalPythonUDTF is a
    # TABLE function (the deliberate fan-out escape hatch), not the red flag
    scalar_python = plan.replace("BatchEvalPythonUDTF", "")
    assert "BatchEvalPython" not in scalar_python, (
        f"{name}: row-at-a-time Python UDF"
    )

    global_windows = []
    for line in plan.splitlines():
        ls = line.strip().lstrip("*+-: (0123456789)")
        if ls.startswith("Window "):
            groups = _top_groups(ls)
            # 3 groups = [exprs], [partition], [order] -> partitioned.
            # 2 groups: the second is either a partition spec (unordered
            # window, fine) or an ordering (ASC/DESC markers) over a single
            # global partition -> the scale red flag.
            if len(groups) == 2 and (" ASC" in groups[1] or " DESC" in groups[1]):
                global_windows.append(ls[:120])
    if global_windows and name not in BOUNDED_GLOBAL_WINDOWS:
        raise AssertionError(
            f"{name}: unpartitioned window over unbounded input "
            f"(add to BOUNDED_GLOBAL_WINDOWS only with a boundedness "
            f"argument): {global_windows[0]}"
        )


def test_bucketed_join_has_no_joinside_shuffle(spark, sf_dir):
    """The bucketed co-located join must read both bucketed scans straight
    into the sort-merge join: no Exchange may repartition either join key.
    (The final segment rollup is allowed its tiny aggregation exchange.)"""
    spec = all_specs()["bucketed_join_revenue_by_segment"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    assert "SortMergeJoin" in plan, plan
    for key in ("c_custkey", "o_custkey"):
        for line in plan.splitlines():
            if "Exchange" in line and key in line:
                raise AssertionError(
                    f"join-side shuffle on {key}: {line.strip()[:160]}"
                )
    assert "SelectedBucketsCount: 8 out of 8" in plan, (
        "bucketed scan not engaged:\n" + plan
    )


def test_range_join_is_equijoin_banded(spark, sf_dir):
    """The banded range join's candidate generation must be a hash/merge
    equi-join on (user_id, bucket) — never BroadcastNestedLoopJoin, which is
    what a naive interval predicate degenerates to."""
    spec = all_specs()["range_join_event_pairs_1h"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "bucket" in plan


def test_global_topk_avoids_total_sort(spark, sf_dir):
    """orderBy + limit must plan as TakeOrderedAndProject (per-partition
    top-k heaps, one driver merge) — a global range-shuffle Sort would be
    the 100 TB failure mode. The scan must also prune to the two referenced
    columns."""
    spec = all_specs()["top100_orders_global"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan, plan


def test_correlated_subquery_is_decorrelated(spark, sf_dir):
    """Catalyst must rewrite the correlated scalar subquery into an
    aggregate + join (one pass over customer per side) — a surviving
    per-row Subquery node would re-scan customer per outer row."""
    spec = all_specs()["correlated_above_nation_avg"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" not in plan, plan
    assert "HashAggregate" in plan and "Join" in plan, plan


def test_q6_filters_push_into_scan(spark, sf_dir):
    """revenue_band_forecast's whole predicate set must reach the parquet
    scan as PushedFilters, and the scan must prune to the four referenced
    columns — at 100 TB the row-group stats skip is the entire query."""
    spec = all_specs()["revenue_band_forecast"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters")[1][:400], plan
    assert "l_extendedprice" in plan.split("ReadSchema")[1], plan
    assert "l_returnflag" not in plan.split("ReadSchema")[1], plan


def test_shipping_priority_topk_and_pushdown(spark, sf_dir):
    """The Q3-shaped join must keep its global top-10 as
    TakeOrderedAndProject and push each side's filter below its join."""
    spec = all_specs()["shipping_priority_top10"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    pushed = plan.count("PushedFilters: [")
    assert pushed >= 3, plan  # all three scans carry pushed predicates


def test_partitionwise_sessionize_single_shuffle(spark, sf_dir):
    """The mapInPandas sessionizer must show exactly one keyed exchange
    (the user_id clustering) and an Arrow-batched Python node — never
    row-at-a-time BatchEvalPython."""
    spec = all_specs()["sessionize_partitionwise"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    """The correlated EXISTS must become a semi join (one pass per side),
    with the order-date predicate pushed into the orders scan — a
    surviving per-row subquery would re-scan orders per customer."""
    spec = all_specs()["active_customers_exists"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    assert "Subquery" not in plan, plan
    assert "PushedFilters: [IsNotNull(o_custkey)" in plan or "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_not_exists_becomes_anti_join(spark, sf_dir):
    """NOT EXISTS must plan as a left-anti join, never a nested re-scan."""
    spec = all_specs()["parts_never_ordered"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    assert "Subquery" not in plan, plan


def test_disjunction_pushes_per_side_residuals(spark, sf_dir):
    """Catalyst must extract each side's evaluable residual from the
    OR-of-ANDs and push it below the join: the lineitem scan gets the
    quantity-range disjunction, the part scan gets the type/size one."""
    spec = all_specs()["disjunctive_predicate_revenue"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [")
    assert len(pushed) >= 3, plan  # both scans carry pushed filters
    assert "Or(" in pushed[1] or "Or(" in pushed[2], plan


def test_q5_join_tree_broadcasts_dims(spark, sf_dir):
    """The 6-table Q5-shaped join must broadcast all three dimension
    sides (region/nation/supplier) and never degenerate to a nested
    loop; the fact chain stays as shuffle joins."""
    spec = all_specs()["local_supplier_volume"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_aqe_coalesces_small_shuffles(spark, sf_dir):
    """After execution, the adaptive plan must show AQEShuffleRead
    coalescing — proof AQE is live, which is what re-plans skew and
    right-sizes partitions at 100 TB (config, not code)."""
    spec = all_specs()["star_join_revenue"]
    df = spec.spark(spark, sf_dir)
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in plan, plan[:500]
    assert "AQEShuffleRead" in plan, plan[:2000]


def test_q4_exists_plans_as_semi_join_with_range_residual(spark, sf_dir):
    """The Q4-shaped EXISTS (equi key + >30-day range) must be ONE
    left-semi hash join with the range as join residual — not a per-order
    subquery and not a nested loop."""
    spec = all_specs()["late_shipment_priority_counts"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    assert "Subquery" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q10_grouped_topk_avoids_total_sort(spark, sf_dir):
    """Q10's top-20 must plan as TakeOrderedAndProject over the grouped
    aggregate — never a global range-partitioned sort."""
    spec = all_specs()["top_returned_revenue_customers"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_q13_priority_filter_stays_in_outer_join(spark, sf_dir):
    """Q13's priority exclusion must remain part of the LEFT OUTER join
    condition (zero-order customers survive); Catalyst must not flip the
    join inner."""
    spec = all_specs()["customer_order_count_distribution"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in plan, plan


def test_q17_correlated_avg_is_decorrelated(spark, sf_dir):
    """Q17's per-part average threshold must be one grouped aggregate
    joined back on partkey — a surviving per-row Subquery would re-scan
    lineitem per probe row."""
    spec = all_specs()["small_quantity_brand_revenue"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_q20_shortlist_is_semi_join_chain(spark, sf_dir):
    """Q20's IN-subquery must plan as a left-semi join into supplier
    (only keys travel), with the part LIKE filter pushed to its scan."""
    spec = all_specs()["bulk_part_supplier_shortlist"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    assert "StringStartsWith(p_name,small)" in plan, plan


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark, sf_dir):
    """Scale pattern: when a shuffle join's build side is selective, Spark
    injects a runtime bloom filter (bloom_filter_agg -> might_contain on
    the probe scan) so non-matching fact rows die before the shuffle. On a
    cluster this triggers by itself once the probe side passes the 10 GB
    applicationSideScanSizeThreshold; the test lowers the thresholds to
    demonstrate the same plan shape at test scale and pins that the
    engine's session/config keeps the optimization available."""
    from pyspark.sql import functions as F

    from energy_emissions_lakehouse_spark.tables import t

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = t(spark, sf_dir, "lineitem")
        part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
        j = (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_type")
            .agg(F.sum("l_quantity").alias("q"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:1500]
        assert "might_contain" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scan_pushdown_and_column_pruning(spark, sf_dir):
    """Filters must reach the parquet scan (PushedFilters) and projection
    must prune the read schema — a scan reading all 11 lineitem columns
    for a 2-column aggregate is wrong at any scale."""
    from pyspark.sql import functions as F

    from energy_emissions_lakehouse_spark.tables import t

    li = t(spark, sf_dir, "lineitem")
    q = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") > 0.02)
        )
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    q.collect()  # finalize AQE so codegen spans materialize in the plan
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert scan, plan[:1200]
    assert "PushedFilters: [" in plan and "IsNotNull" in plan, plan[:1500]
    # the pushed set must mention both filtered columns
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_returnflag", "l_quantity"):
        assert col in read_schema, read_schema
    # pruned: un-needed wide columns never leave the reader
    for col in ("l_comment", "l_extendedprice", "l_orderkey"):
        assert col not in read_schema, read_schema
    # the aggregate itself runs inside whole-stage codegen: stages are
    # star-annotated ("*(n) HashAggregate") in the executed-plan string
    assert any(
        ln.strip().startswith("+- *(") or " *(" in ln
        for ln in plan.splitlines()
        if "HashAggregate" in ln
    ), plan[:1500]


@pytest.mark.parametrize(
    "name", ["embedding_kmeans_clusters", "ivf_topk_nprobe1", "pq_encode_stats"]
)
def test_argmin_paths_use_aggregates_not_windows(spark, sf_dir, name):
    """IVF assignment, Lloyd assignment, and PQ encoding keep only the
    rank-1 row per key, so they must be min(struct) grouped aggregates
    (map-side partial combine) or a vectorised argmin (Lloyd's mapInArrow
    pass), never row_number windows that sort-shuffle the full scored set.
    ivf_topk_nprobe1's final top-k window is over the QUERY subset only —
    the corpus-sized assignment pass is the part that must stay
    window-free, so nprobe1 is excluded and kmeans/pq (pure assignment
    pipelines) assert zero Window nodes."""
    df = all_specs()[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_windows = sum(
        1
        for line in plan.splitlines()
        if line.strip().lstrip("*+-: (0123456789)").startswith("Window ")
    )
    if name in ("embedding_kmeans_clusters", "pq_encode_stats"):
        assert n_windows == 0, f"{name}: argmin regressed to a window"
    else:
        # top-k serving windows allowed; assignment argmin windows are not —
        # nprobe=1 search has exactly 2 windows (query-side probe pick +
        # final top-k), both over the small query side
        assert n_windows <= 2, f"{name}: unexpected extra windows ({n_windows})"


def test_contamination_join_never_broadcasts_corpus_side(spark, sf_dir):
    """doc_contamination_overlap's bench split is corpus-proportional (5%
    of docs, shingle-exploded), so broadcasting it is a multi-TB exchange
    at 100 TB (round-3 verdict).  The plan must be a shuffled hash join on
    the shingle key with NO BroadcastExchange anywhere in the join tree."""
    spec = all_specs()["doc_contamination_overlap"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan[:2000]
    assert "ShuffledHashJoin" in plan, plan[:2000]


def test_contamination_bloom_broadcasts_only_the_word_table(spark, sf_dir):
    """doc_contamination_bloom may broadcast ONLY the fixed-size bloom
    word table (<=16K longs); the shingle-level exact join must stay a
    shuffled hash join, and no broadcast subtree may carry bench doc ids
    (a corpus-proportional side)."""
    spec = all_specs()["doc_contamination_bloom"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan[:2000]
    for line in plan.splitlines():
        if "BroadcastExchange" in line or "BroadcastHashJoin" in line:
            assert "b_id" not in line, line.strip()[:200]


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling, demonstrated live at test scale: a join
    whose left side is 90% one key must re-plan as
    SortMergeJoin(skew=true) with an 'AQEShuffleRead ... skewed' on the
    hot side — the runtime defense the engine relies on before reaching
    for manual salting (operators/skew.py).

    The negative case matters as much: when a DOWNSTREAM operator
    requires hash distribution on the join key (e.g. groupBy(join key)),
    AQE must NOT split the skewed partition — the split would break the
    required co-partitioning — so the very same join plans WITHOUT the
    skew marker. That suppressed case is exactly the niche where manual
    salting (salted_join_revenue) remains necessary at 100 TB."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 220_000).select(
            F.when(F.col("id") < 200_000, 0)
            .otherwise(F.col("id") % 20)
            .alias("k"),
            F.rand(7).alias("x"),
        )
        right = spark.range(0, 20).select(
            F.col("id").alias("k"), F.lit("d").alias("tag")
        )
        j = left.join(right, "k").agg(
            F.count("*").alias("n"), F.sum("x").alias("s")
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
        assert any(
            "AQEShuffleRead" in ln and "skewed" in ln
            for ln in plan.splitlines()
        ), plan[:1500]

        # negative: groupBy on the join key demands hash(k) downstream ->
        # the split is suppressed and the hot partition stays whole
        j2 = left.join(right, "k").groupBy("k").agg(
            F.count("*").alias("n")
        )
        j2.collect()
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" not in plan2, plan2[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bm25_postings_probe_and_heap_topk(spark, sf_dir):
    """BM25's plan must (a) read only (doc_id, text) from documents —
    column pruning through tokenize/explode, (b) keep the corpus-sized
    postings out of every broadcast (only the |query|-bounded term stats
    may broadcast), and (c) take the global top-k as per-partition heaps
    (TakeOrderedAndProject), never a range-shuffle total sort."""
    spec = all_specs()["bm25_keyword_topk"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Exchange rangepartitioning" not in plan, plan[:2000]
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            assert "lang" not in line and "source" not in line, line[:160]


def test_tfidf_argmax_is_aggregate_not_window(spark, sf_dir):
    """The per-document characteristic-term argmax must run as a
    min(struct) grouped aggregate (map-side partial combine) — a
    row_number window would sort-shuffle the full weighted postings."""
    spec = all_specs()["tfidf_characteristic_terms"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    n_windows = sum(
        1
        for line in plan.splitlines()
        if line.strip().lstrip("*+-: (0123456789)").startswith("Window ")
    )
    assert n_windows == 0, f"argmax regressed to a window ({n_windows})"


def test_bigram_lm_tail_is_heap_topk(spark, sf_dir):
    """The fluency tail must surface via TakeOrderedAndProject. The
    model-scoring join key is the bigram string; any broadcast the
    planner picks here is AQE size-based (no static hint in the query),
    which degrades gracefully to a shuffle join at real scale."""
    spec = all_specs()["doc_bigram_lm_fluency_tail"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Exchange rangepartitioning" not in plan, plan[:2000]


def test_countmin_sketch_is_bounded_broadcast(spark, sf_dir):
    """The count-min estimate join may broadcast ONLY the sketch (a
    bounded D*W counter matrix) — never term-level data. Any broadcast
    subtree mentioning 'term' or 'exact_count' would be corpus-scale."""
    spec = all_specs()["countmin_heavy_hitter_terms"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "BroadcastExchange" in line:
            assert "term" not in line and "exact_count" not in line, (
                line.strip()[:200]
            )
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_zorder_layout_is_single_aggregation_pass(spark, sf_dir):
    """Z-order assignment is map-only bit math: the plan must contain
    exactly one data-bearing hash aggregation pair (file_id rollup) over
    the lineitem scan plus the broadcast 1-row stats — no windows, no
    range-shuffle sort of the fact table."""
    spec = all_specs()["zorder_layout_lineitem"]
    plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    n_windows = sum(
        1
        for line in plan.splitlines()
        if line.strip().lstrip("*+-: (0123456789)").startswith("Window ")
    )
    assert n_windows == 0, plan[:1500]
    assert "Exchange rangepartitioning" not in plan or "Sort" in plan, plan[:800]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pit_join_is_equi_hash_join(spark, sf_dir):
    """SCD2 point-in-time join must extract the business-key equi-join
    (hash join, interval predicate as residual) — never a nested loop:
    at 100 TB the history join degenerating to NLJ is the classic PIT
    performance bug."""
    from energy_emissions_lakehouse_spark.queries.maintenance import (
        scd2_point_in_time_join,
    )

    s = _plan(scd2_point_in_time_join(spark, sf_dir))
    assert "HashJoin" in s
    assert "NestedLoop" not in s
    assert "CartesianProduct" not in s


def test_recursive_cte_runs_as_union_loop(spark, sf_dir):
    """Spark 4 executes WITH RECURSIVE natively (UnionLoop operator); if
    this ever silently falls back to something else, the bounded-depth
    guarantee needs re-review."""
    from energy_emissions_lakehouse_spark.queries.graph import (
        recursive_cte_reachability,
    )

    s = _plan(recursive_cte_reachability(spark, sf_dir))
    assert "UnionLoop" in s


def test_mmr_shortlist_is_heap_topk(spark, sf_dir):
    """The MMR relevance shortlist must be TakeOrderedAndProject
    (per-partition heaps), not a global-window rank: the input is
    corpus-sized."""
    from energy_emissions_lakehouse_spark.queries.retrieval import (
        mmr_diversified_topk,
    )

    s = _plan(mmr_diversified_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in s
    assert "Window" not in s


def test_weighted_sample_window_is_partitioned(spark, sf_dir):
    """The per-stratum top-K window must hash-partition on the stratum —
    a single-partition window here would serialize the whole table."""
    from energy_emissions_lakehouse_spark.queries.advanced_olap import (
        weighted_sample_parts,
    )

    s = _plan(weighted_sample_parts(spark, sf_dir))
    assert "hashpartitioning(p_brand" in s


def test_ewma_taps_share_one_window_pass(spark, sf_dir):
    """All 16 EWMA lag taps (and their 16 presence twins) must compile
    into ONE Window node over one sort — 32 separate window passes would
    re-sort the grid 32 times."""
    from energy_emissions_lakehouse_spark.queries.timeseries import (
        events_hourly_ewma,
    )

    s = _plan(events_hourly_ewma(spark, sf_dir))
    assert s.count("Window [") == 1


def test_rolling_hll_sketch_path_scans_events_once(spark, sf_dir):
    """The sketch branch must touch raw events exactly once (daily
    sketches), with window widening done by sketch-merge fan-out. The
    exact branch scans again by design (it exists to verify the sketch);
    total event scans are therefore exactly 3 (sketch + days + user_days
    distinct), never proportional to the window width."""
    from energy_emissions_lakehouse_spark.queries.advanced_olap import (
        rolling_distinct_users_hll,
    )

    s = _plan(rolling_distinct_users_hll(spark, sf_dir))
    assert "hll_union_agg" in s or "hll_union" in s
    assert s.count("events.parquet") <= 3


def test_ohlc_is_one_aggregation_pass(spark, sf_dir):
    """The whole candle (open/close argmin-argmax + high/low/count) must
    come from ONE groupBy — no window, no sort, no self-join."""
    from energy_emissions_lakehouse_spark.queries.timeseries import (
        events_hourly_ohlc,
    )

    s = _plan(events_hourly_ohlc(spark, sf_dir))
    assert "Window" not in s
    assert "Join" not in s


def test_phash_candidates_come_from_band_equi_join(spark, sf_dir):
    """Perceptual-hash near-dup candidates must be generated by the band
    equi-join — never a cartesian/NLJ pair enumeration."""
    from energy_emissions_lakehouse_spark.queries.multimodal import (
        media_phash_neardup,
    )

    s = _plan(media_phash_neardup(spark, sf_dir))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_bootstrap_has_no_hash_expressions(spark, sf_dir):
    """The bootstrap's replicate weights must come from the LCG (integer
    codegen); an md5/conv in this plan means the 14s-per-run hashing
    regression came back."""
    from energy_emissions_lakehouse_spark.queries.advanced_olap import (
        poisson_bootstrap_ci_revenue,
    )

    s = _plan(poisson_bootstrap_ci_revenue(spark, sf_dir))
    assert "md5" not in s.lower()


def test_copurchase_consumers_read_the_staged_index(spark, sf_dir):
    """Triangle census / lift must serve from the staged pair index (the
    cocnt floor pushed to the parquet scan), never replay the basket
    self-join: the pre-r5 shape recomputed the (pa, pb) aggregation
    independently in 5 queries (~21 s of bench time)."""
    from energy_emissions_lakehouse_spark.queries.graph import (
        part_copurchase_lift,
        triangle_count_copurchase,
    )

    def formatted(df) -> str:
        jvm = spark._jvm
        return df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    tri = formatted(triangle_count_copurchase(spark, sf_dir))
    assert "copurchase" in tri  # staged-index location in the scan
    assert "GreaterThanOrEqual(cocnt,2)" in tri  # floor pushed down
    # the basket table never appears: no lineitem scan, no o==o self-join
    assert "lineitem" not in tri

    lift = formatted(part_copurchase_lift(spark, sf_dir))
    assert "copurchase" in lift
    assert "GreaterThanOrEqual(cocnt,3)" in lift


def test_lpa_serves_from_staged_index_with_pushdown(spark, sf_dir):
    """LPA's per-round joins must bottom out at the staged-index parquet
    scan with the edge floor pushed down — K rounds re-read a small
    staged file, never replay the basket self-join. Inspect the LAZY
    plan (_lpa_frame): the registered query eagerly checkpoints inside
    its loop-local shuffle override (round 6), which opaques the
    returned frame's plan behind the checkpoint RDD scan."""
    from energy_emissions_lakehouse_spark.queries.graph import _lpa_frame

    s = (
        _lpa_frame(spark, sf_dir)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "copurchase" in s
    assert "GreaterThanOrEqual(cocnt,2)" in s
    assert "lineitem" not in s


def test_pq_incremental_never_reencodes_history(spark, sf_dir):
    """Incremental ANN index maintenance must be O(batch), not O(corpus):
    the plan reads history codes from the STAGED pq parquet (encoded +
    codebooks locations), scans raw embeddings EXACTLY ONCE (the batch
    side — a second scan would mean the batch-encode subplan has two
    consumers and runs twice), and contains zero Lloyd training work
    (no posexplode centroid updates, no iterative checkpoint scans)."""
    import re

    from energy_emissions_lakehouse_spark.queries.vectors import (
        pq_incremental_assign,
    )

    s = (
        pq_incremental_assign(spark, sf_dir)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    locations = [ln for ln in s.splitlines() if "Location" in ln]
    emb_scans = [ln for ln in locations if "embeddings.parquet" in ln]
    staged = [ln for ln in locations if re.search(r"/pq/[0-9a-f]+/", ln)]
    assert len(emb_scans) == 1, locations
    # history codes + codebooks come from the staged index (the encoded
    # location appears once per consumer: history rows + staged batch codes)
    assert any("/encoded" in ln for ln in staged), locations
    assert any("/codebooks" in ln for ln in staged), locations
    # no training: the Lloyd update's posexplode never appears
    assert "posexplode" not in s


def test_dv_mask_is_broadcast_anti_join_no_data_shuffle(spark, sf_dir):
    """The deletion-vector mask must compile to a BroadcastHashJoin
    LeftAnti with the DV side broadcast — no shuffle (Exchange
    hashpartitioning) of the data side: at 100 TB the mask is a
    kilobytes-scale position list applied map-side to every scan task.
    And a table with NO active DVs must get the plain scan (zero join
    nodes) — the mask is pay-as-you-go."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from pyspark.sql import functions as _F

    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    d = _tf.mkdtemp(prefix="dv-plan-")
    try:
        vt = VersionedTable.create(
            spark,
            _os.path.join(d, "t"),
            spark.range(1000).select(
                _F.col("id").alias("k"), (_F.col("id") * 2).alias("v")
            ),
        )
        clean = _plan(vt.read())
        assert "Join" not in clean, clean[:800]  # no-DV read: plain scan
        vt.delete_where_mor("k % 7 = 0")
        masked = _plan(vt.read())
        assert "BroadcastHashJoin" in masked, masked[:1500]
        assert "LeftAnti" in masked, masked[:1500]
        assert "Exchange hashpartitioning" not in masked, masked[:1500]
    finally:
        _sh.rmtree(d, ignore_errors=True)


def test_residual_filter_pushes_through_dv_mask_to_scan(spark, sf_dir):
    """The caller's residual predicate on a DV-masked read must reach
    the parquet scan BELOW the anti-join (PushedFilters) with the read
    schema pruned to the referenced columns — at 100 TB the mask must
    not turn every filtered read into a full-scan-then-filter."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from pyspark.sql import functions as _F

    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    d = _tf.mkdtemp(prefix="dv-pushdown-")
    try:
        vt = VersionedTable.create(
            spark,
            _os.path.join(d, "t"),
            spark.range(5000).select(
                _F.col("id").alias("k"), (_F.col("id") * 2).alias("v")
            ),
        )
        vt.delete_where_mor("k % 7 = 0")
        plan = _plan(vt.read().where(_F.col("k") == 437).select("k", "v"))
        assert "EqualTo(k,437)" in plan, plan[:2000]  # pushed to the scan
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
    finally:
        _sh.rmtree(d, ignore_errors=True)
