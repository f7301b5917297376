"""Round-10 lakehouse DDL surface: metadata-only TYPE WIDENING
(operators/vtable.py widen_column_type — Delta typeWidening semantics)
and the streaming source's fail-and-restart schema-change contract
(sources/vtable_stream.py — Delta streaming-source semantics).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.operators.vtable import (
    VersionedTable,
    _is_widening,
    log_versions,
    read_commit,
)
from energy_emissions_lakehouse_spark.sources.vtable_stream import (
    VtableStreamReader,
    register_vtable_source,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="widen-r10-")
    yield os.path.join(d, "t")
    shutil.rmtree(d, ignore_errors=True)


def _kv(spark, lo, hi, ktype="int", vtype="float"):
    return spark.range(lo, hi).select(
        F.col("id").cast(ktype).alias("k"),
        (F.col("id") * 1.5).cast(vtype).alias("v"),
    )


# ---------------------------------------------------------- widening matrix
def test_widening_matrix():
    from pyspark.sql.types import (
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    assert _is_widening(IntegerType(), LongType())
    assert _is_widening(IntegerType(), DoubleType())
    assert _is_widening(ShortType(), IntegerType())
    assert _is_widening(FloatType(), DoubleType())
    assert _is_widening(DecimalType(10, 2), DecimalType(12, 2))
    assert _is_widening(DecimalType(10, 2), DecimalType(14, 4))
    # narrowing / cross-family / same-type are NOT widening
    assert not _is_widening(LongType(), IntegerType())
    assert not _is_widening(DoubleType(), FloatType())
    assert not _is_widening(StringType(), LongType())
    assert not _is_widening(IntegerType(), StringType())
    assert not _is_widening(IntegerType(), IntegerType())
    assert not _is_widening(DecimalType(12, 4), DecimalType(12, 2))
    # scale up without integer-digit headroom would drop digits
    assert not _is_widening(DecimalType(10, 2), DecimalType(10, 4))


def test_widen_is_metadata_only_and_read_serves_wide(spark, root):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 5))
    v = vt.widen_column_type("k", "bigint")
    entry = read_commit(root, v)
    assert entry["op"] == "widen_type"
    assert entry["add"] == [] and entry["remove"] == []
    assert entry["widen"] == {"k": "bigint"}
    got = vt.read()
    assert dict(got.dtypes)["k"] == "bigint"
    assert sorted(r.k for r in got.collect()) == [0, 1, 2, 3, 4]


def test_widen_refuses_narrowing_and_cross_family(spark, root):
    vt = VersionedTable.create(
        spark, root, _kv(spark, 0, 3, ktype="bigint", vtype="double")
    )
    with pytest.raises(ValueError, match="not a lossless widening"):
        vt.widen_column_type("k", "int")
    with pytest.raises(ValueError, match="not a lossless widening"):
        vt.widen_column_type("k", "string")
    with pytest.raises(ValueError, match="already"):
        vt.widen_column_type("k", "bigint")
    with pytest.raises(ValueError, match="no column"):
        vt.widen_column_type("zzz", "bigint")


def test_write_path_upcasts_narrow_batch_after_widen(spark, root):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 3))
    vt.widen_column_type("k", "bigint")
    vt.append(_kv(spark, 3, 6))  # still int-typed batch: upcast, not error
    got = vt.read()
    assert dict(got.dtypes)["k"] == "bigint"
    assert got.count() == 6
    # a batch that is NOT widening-compatible still fails loudly
    bad = spark.range(2).select(
        F.col("id").cast("string").alias("k"),
        (F.col("id") * 1.5).cast("float").alias("v"),
    )
    with pytest.raises(ValueError, match="schema-on-write"):
        vt.append(bad)


def test_merge_on_int_to_double_widened_key(spark, root):
    """MERGE prunes on its first key's per-segment [min, max] stats; after
    an int -> double widen, pre-widen segments record int stats and later
    ones double, and the pruning join must still compare them."""
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 4))
    vt.widen_column_type("k", "double")
    vt.append(_kv(spark, 10, 12, ktype="double"))
    v = vt.merge_upsert(_kv(spark, 2, 3, ktype="double"), keys=["k"])
    assert read_commit(root, v)["rewritten"] == 1  # only the int-era segment
    assert sorted(r.k for r in vt.read().collect()) == [0, 1, 2, 3, 10, 11]


def test_time_travel_serves_each_eras_type(spark, root):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 4))
    vt.widen_column_type("v", "double")
    vt.append(_kv(spark, 4, 6, vtype="double"))
    assert dict(vt.read(0).dtypes)["v"] == "float"
    assert dict(vt.read(1).dtypes)["v"] == "double"
    assert dict(vt.read().dtypes)["v"] == "double"
    # float -> double upcast is value-exact per element
    narrow = {r.k: r.v for r in vt.read(0).collect()}
    wide = {r.k: r.v for r in vt.read().collect()}
    for k, val in narrow.items():
        assert wide[k] == val


def test_restore_across_widen_reverts_type_and_map(spark, root):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 4))
    vt.widen_column_type("k", "bigint")
    v_restore = vt.restore(0)
    entry = read_commit(root, v_restore)
    assert entry.get("widen") == {}
    assert dict(vt.read().dtypes)["k"] == "int"
    # the Arrow DataSource path serves the restored-narrow type too
    register_vtable_source(spark)
    src = spark.read.format("eel_vtable").option("path", root).load()
    assert dict(src.dtypes)["k"] == "int"
    assert src.count() == 4


def test_widen_then_rename_rekeys_map_and_datasource_reads_wide(spark, root):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 4))
    vt.widen_column_type("k", "bigint")
    vt.rename_column("k", "key_id")
    head = read_commit(root, vt.latest_version())
    assert head["widen"] == {"key_id": "bigint"}
    got = vt.read()
    assert dict(got.dtypes)["key_id"] == "bigint"
    assert sorted(r.key_id for r in got.collect()) == [0, 1, 2, 3]
    register_vtable_source(spark)
    src = spark.read.format("eel_vtable").option("path", root).load()
    assert dict(src.dtypes)["key_id"] == "bigint"
    assert sorted(r.key_id for r in src.collect()) == [0, 1, 2, 3]


def test_datasource_serves_wide_before_any_wide_segment(spark, root):
    """The metadata-only widen must be visible through the Arrow reader
    even when every physical file is still narrow (the footer type is
    stale — the log's widen map is authoritative)."""
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 4))
    vt.widen_column_type("k", "bigint")
    register_vtable_source(spark)
    src = spark.read.format("eel_vtable").option("path", root).load()
    assert dict(src.dtypes)["k"] == "bigint"
    assert sorted(r.k for r in src.collect()) == [0, 1, 2, 3]
    # versionAsOf to the narrow era still serves int through the source
    old = (
        spark.read.format("eel_vtable")
        .option("path", root)
        .option("versionAsOf", "0")
        .load()
    )
    assert dict(old.dtypes)["k"] == "int"


def test_decimal_widening_roundtrip(spark, root):
    df = spark.range(3).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.25).cast("decimal(10,2)").alias("amt"),
    )
    vt = VersionedTable.create(spark, root, df)
    vt.widen_column_type("amt", "decimal(14,4)")
    got = vt.read()
    assert dict(got.dtypes)["amt"] == "decimal(14,4)"
    assert {str(r.amt) for r in got.collect()} == {
        "0.0000", "1.2500", "2.5000"
    }


def test_mor_update_across_widen_boundary(spark, root):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 6))
    vt.widen_column_type("v", "double")
    vt.update_where_mor("k % 2 = 0", {"v": F.expr("v * 2")})
    got = {r.k: r.v for r in vt.read().collect()}
    for k in range(6):
        want = float(
            __import__("numpy").float32(k * 1.5)
        ) * (2 if k % 2 == 0 else 1)
        assert got[k] == want


def test_cdf_across_widen_coerces_union(spark, root):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 4), enable_cdf=True)
    vt.widen_column_type("k", "bigint")
    vt.append(_kv(spark, 4, 6, ktype="bigint"))
    feed = vt.read_changes(0, vt.latest_version())
    assert dict(feed.dtypes)["k"] == "bigint"
    inserts = feed.filter(F.col("_change_type") == "insert")
    assert inserts.count() == 6


# --------------------------------------- streaming schema-change semantics
def test_midstream_widen_fails_with_restart_message(spark, root):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 4))
    reader = VtableStreamReader(root, vt.read().schema, {})
    vt.widen_column_type("k", "bigint")
    vt.append(_kv(spark, 4, 6, ktype="bigint"))
    with pytest.raises(RuntimeError, match="restart the query"):
        reader.partitions(
            {"version": 0}, {"version": log_versions(root)[-1]}
        )


def test_midstream_evolve_fails_with_restart_message(spark, root):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 4))
    reader = VtableStreamReader(root, vt.read().schema, {})
    vt.append_evolve(
        _kv(spark, 4, 6).withColumn("tag", F.lit("x"))
    )
    with pytest.raises(RuntimeError, match="restart the query"):
        reader.partitions(
            {"version": 0}, {"version": log_versions(root)[-1]}
        )


def test_historic_evolution_before_open_streams_fine(spark, root):
    """Evolution committed BEFORE the stream opens is ordinary widened
    replay (old segments null-fill) — only post-open DDL fails."""
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 4))
    vt.append_evolve(_kv(spark, 4, 6).withColumn("tag", F.lit("x")))
    register_vtable_source(spark)
    name = "r10_hist_evolve"
    q = (
        spark.readStream.format("eel_vtable")
        .option("path", root)
        .load()
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"), F.count("tag").alias("n_tag"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.table(name).collect()[0]
    assert (row.n, row.n_tag) == (6, 2)


def test_stream_restart_across_evolution_resumes_exactly_once(
    spark, root, tmp_path
):
    """The full Delta contract: run -> evolution commit -> restart from
    the SAME checkpoint picks up the new schema and serves only the
    not-yet-delivered versions (offset preserved, no duplicates)."""
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 5))
    register_vtable_source(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("eel_vtable")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # delivers v0 (5 rows, schema k,v)
    vt.append_evolve(
        _kv(spark, 5, 8).withColumn("tag", F.lit("late"))
    )
    run_once()  # restart: new schema, serves ONLY v1 (3 rows with tag)
    got = spark.read.option("mergeSchema", "true").parquet(out)
    assert got.count() == 8
    assert got.select("k").distinct().count() == 8  # exactly-once
    assert got.filter(F.col("tag").isNotNull()).count() == 3


def test_stream_restart_across_widen_resumes_wide(spark, root, tmp_path):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 5))
    register_vtable_source(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("eel_vtable")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    vt.widen_column_type("k", "bigint")
    vt.append(_kv(spark, 5, 8, ktype="bigint"))
    run_once()
    # output spans int32-era and int64-era files: read under the wide
    # schema (the same upcast contract the table itself uses)
    got = spark.read.schema("k bigint, v float").parquet(out)
    assert got.count() == 8
    assert got.select("k").distinct().count() == 8


# ------------------------------------------------- hidden partitioning
def _dated(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.to_timestamp(
            F.concat(
                F.lit("1995-"),
                F.lpad(((F.col("id") % 12) + 1).cast("string"), 2, "0"),
                F.lit("-15"),
            )
        ).alias("ts"),
        (F.col("id") % 5).alias("g"),
    )


def test_set_spec_validation(spark, root):
    vt = VersionedTable.create(spark, root, _dated(spark, 0, 10))
    with pytest.raises(ValueError, match="unknown transform"):
        vt.set_partition_spec([("ts", "hour")])
    with pytest.raises(ValueError, match="no column"):
        vt.set_partition_spec([("zzz", "month")])
    with pytest.raises(ValueError, match="date/timestamp"):
        vt.set_partition_spec([("k", "month")])
    with pytest.raises(ValueError, match="positive integer"):
        vt.set_partition_spec([("g", "bucket")])
    with pytest.raises(ValueError, match="takes no param"):
        vt.set_partition_spec([("ts", "month", 3)])
    df2 = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 0.5).alias("x")
    )
    vt2 = VersionedTable.create(spark, root + "_2", df2)
    with pytest.raises(ValueError, match="integral or string"):
        vt2.set_partition_spec([("x", "bucket", 4)])
    with pytest.raises(ValueError, match="integral source"):
        vt2.set_partition_spec([("x", "truncate", 10)])


def test_partitioned_append_one_segment_per_tuple(spark, root):
    vt = VersionedTable.create(spark, root, _dated(spark, 0, 5))
    vt.set_partition_spec([("ts", "month")])
    v = vt.append(_dated(spark, 5, 60))
    entry = read_commit(root, v)
    assert len(entry["add"]) == 12  # one per month
    pv_vals = sorted(
        pv["month(ts)"] for pv in entry["pv"].values()
    )
    assert pv_vals == [f"1995-{m:02d}" for m in range(1, 13)]
    assert vt.read().count() == 60
    assert {r.k for r in vt.read().collect()} == set(range(60))


def test_partition_prune_month_and_spec_evolution(spark, root):
    import datetime

    vt = VersionedTable.create(spark, root, _dated(spark, 0, 5))
    vt.set_partition_spec([("ts", "month")])
    vt.append(_dated(spark, 5, 60))
    vt.set_partition_spec([("g", "bucket", 4)])
    vt.append(_dated(spark, 60, 80))
    v = vt.latest_version()
    lo = datetime.datetime(1995, 3, 1)
    hi = datetime.datetime(1995, 3, 31, 23, 59, 59)
    scanned, skipped = vt.pruned_segments(v, "ts", lo, hi)
    # v0 (no pv, no timestamp stats) + March + the 4 bucket segments
    assert len(scanned) == 6
    assert len(skipped) == 11  # the other 11 months — pv-pruned
    got = vt.read_pruned("ts", lo, hi).filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    )
    want = (
        _dated(spark, 0, 80)
        .filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
        .count()
    )
    assert got.count() == want
    # bucket probe: among era-B segments exactly one is planned
    s2, k2 = vt.pruned_segments(v, "g", 3, 3)
    pvs = vt._replay(v)["pvs"]
    bkey = "bucket(g,4)"
    assert sum(1 for r in s2 if bkey in pvs.get(r, {})) == 1
    assert sum(1 for r in k2 if bkey in pvs.get(r, {})) == 3
    # value safety: the probe rows all arrive
    got_b = vt.read_pruned("g", 3, 3).filter(F.col("g") == 3)
    assert got_b.count() == _dated(spark, 0, 80).filter("g = 3").count()


def test_partition_pv_survives_checkpoint(spark, root):
    """CHECKPOINT_EVERY=8: push past a checkpoint and confirm the pv
    fold (and pruning) still resolves through it."""
    vt = VersionedTable.create(spark, root, _dated(spark, 0, 2))
    vt.set_partition_spec([("g", "bucket", 2)])
    for i in range(9):
        vt.append(_dated(spark, 2 + i * 3, 5 + i * 3))
    v = vt.latest_version()
    assert v >= 9
    pvs = vt._replay(v)["pvs"]
    n_bucketed = sum(1 for pv in pvs.values() if "bucket(g,2)" in pv)
    assert n_bucketed >= 9  # every partitioned append contributed
    s, k = vt.pruned_segments(v, "g", 1, 1)
    assert len(k) > 0  # pruning works through the checkpointed fold
    got = vt.read_pruned("g", 1, 1).filter(F.col("g") == 1)
    want = _dated(spark, 0, 29).filter("g = 1").count()
    assert got.count() == want


def test_spec_source_rename_drop_refused(spark, root):
    vt = VersionedTable.create(spark, root, _dated(spark, 0, 5))
    vt.set_partition_spec([("ts", "month")])
    with pytest.raises(ValueError, match="partition-spec source"):
        vt.rename_column("ts", "event_ts")
    with pytest.raises(ValueError, match="partition-spec source"):
        vt.drop_column("ts")
    # evolving the spec away frees the column
    vt.set_partition_spec([])
    vt.rename_column("ts", "event_ts")
    assert "event_ts" in vt.read().columns


def test_null_partition_value_roundtrips_and_never_prunes(spark, root):
    df = spark.range(6).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.col("id") % 3).alias("g"),
    )
    vt = VersionedTable.create(spark, root, df.filter("k < 0"))
    vt.set_partition_spec([("g", "identity")])
    vt.append(df)
    got = vt.read()
    assert got.count() == 6
    assert got.filter(F.col("g").isNull()).count() == 3
    # the null-partition segment is never skipped
    s, k = vt.pruned_segments(vt.latest_version(), "g", 1, 1)
    pvs = vt._replay(vt.latest_version())["pvs"]
    null_segs = [r for r, pv in pvs.items() if pv.get("identity(g)") is None]
    assert null_segs and all(r in s for r in null_segs)


def test_overwrite_keeps_spec_when_shape_matches(spark, root):
    vt = VersionedTable.create(spark, root, _dated(spark, 0, 10))
    vt.set_partition_spec([("ts", "month")])
    v = vt.overwrite(_dated(spark, 0, 30))
    entry = read_commit(root, v)
    assert len(entry["add"]) == 12  # partitioned replace
    assert entry["spec"]  # spec survives
    assert vt.read().count() == 30
    # schema-evolving overwrite that drops the source column resets it
    v2 = vt.overwrite(
        spark.range(4).select(F.col("id").alias("k"))
    )
    assert read_commit(root, v2).get("spec") == []
    assert vt.read().count() == 4


def test_datasource_prunes_on_partition_values(spark, root):
    """The Python DataSource planner consults pv BEFORE stats: a month
    probe on a timestamp column (no footer stats) must plan only the
    matching month's files."""
    from pyspark.sql.datasource import EqualTo

    from energy_emissions_lakehouse_spark.sources.vtable_batch import (
        VtableBatchReader,
    )

    vt = VersionedTable.create(spark, root, _dated(spark, 0, 5))
    vt.set_partition_spec([("g", "bucket", 4)])
    vt.append(_dated(spark, 5, 45))
    reader = VtableBatchReader(root, vt.read().schema, {"path": root})
    reader.pushFilters([EqualTo(("g",), 2)])
    parts = reader.partitions()
    pvs = vt._replay(vt.latest_version())["pvs"]
    planned_dirs = {p.path.split("/")[-2] for p in parts}
    bucketed = [
        r.split("/")[-1] for r, pv in pvs.items() if "bucket(g,4)" in pv
    ]
    assert sum(1 for d in planned_dirs if d in bucketed) == 1
    # and the engine-side residual still returns every matching row
    register_vtable_source(spark)
    src = spark.read.format("eel_vtable").option("path", root).load()
    assert (
        src.filter(F.col("g") == 2).count()
        == _dated(spark, 0, 45).filter("g = 2").count()
    )


# ------------------------------------------------- log stats -> planner
def test_table_stats_from_log_metadata(spark, root):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 100))
    vt.append(_kv(spark, 100, 150))
    st = vt.table_stats()
    assert st["n_rows"] == 150
    assert st["n_bytes"] > 0
    assert st["n_files"] >= 2
    assert not st["has_dvs"]
    assert vt.table_stats(0)["n_rows"] == 100


def test_read_source_broadcasts_small_dim_from_log_stats(spark, root):
    """The plan-asserted CBO flip: a Python DataSource has no stats
    hook (Spark costs it at defaultSizeInBytes), so without the log
    stats the dim side of the join shuffles; read_source feeds the
    commit log's byte estimate into the broadcast decision and the
    join flips to BroadcastHashJoin."""
    import tempfile as _tf

    dim = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("grp")
    )
    vt = VersionedTable.create(spark, root, dim)
    fact_dir = _tf.mkdtemp(prefix="cbo-fact-") + "/fact"
    spark.range(300_000).select(
        (F.col("id") % 20).alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    ).write.parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # fact (several MB) above, dim (KB) below the threshold
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "262144")

        def plan_of(d):
            return d._jdf.queryExecution().executedPlan().toString()

        unhinted = (
            fact.join(vt.read_source(use_log_stats=False), "k")
            .groupBy("grp")
            .count()
        )
        assert "BroadcastHashJoin" not in plan_of(unhinted)
        hinted = (
            fact.join(vt.read_source(), "k").groupBy("grp").count()
        )
        assert "BroadcastHashJoin" in plan_of(hinted)
        # and the hinted plan is value-correct
        got = {r.grp: r["count"] for r in hinted.collect()}
        assert got == {0: 105_000, 1: 105_000, 2: 90_000}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_read_source_never_broadcasts_a_big_table(spark, root):
    vt = VersionedTable.create(spark, root, _kv(spark, 0, 1000))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        df = vt.read_source()  # ~KBs > 1 KiB threshold: no hint
        plan = df._jdf.queryExecution().logical().toString()
        assert "hint" not in plan.lower()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ------------------------------------------------- catalog as-of reads
def test_catalog_read_as_of_serves_consistent_cut(spark, root, tmp_path):
    from energy_emissions_lakehouse_spark.operators.catalog import (
        TableCatalog,
    )

    base = str(tmp_path / "cat")
    t_a = VersionedTable.create(
        spark, os.path.join(base, "a"), _kv(spark, 0, 5)
    )
    t_b = VersionedTable.create(
        spark, os.path.join(base, "b"), _kv(spark, 0, 3)
    )
    cat = TableCatalog.create(spark, base, {"a": t_a.root, "b": t_b.root})
    txn = cat.begin()
    txn.table("a").append(_kv(spark, 5, 8))
    txn.table("b").append(_kv(spark, 3, 9))
    v1 = txn.commit()
    txn2 = cat.begin()
    txn2.table("a").append(_kv(spark, 8, 20))
    txn2.commit()

    snap0 = cat.read_as_of(0)
    assert snap0.names() == ["a", "b"]
    assert snap0.read("a").count() == 5
    assert snap0.read("b").count() == 3
    snap1 = cat.read_as_of(v1)
    assert snap1.read("a").count() == 8
    assert snap1.read("b").count() == 9
    # head unaffected; snapshot reads are repeatable after later commits
    assert cat.read("a").count() == 20
    assert snap1.read("a").count() == 8
    # snapshot agrees with per-table time travel of its pinned versions
    want = (
        VersionedTable(spark, snap1.entries["a"]["root"])
        .read(snap1.table_version("a"))
        .count()
    )
    assert snap1.read("a").count() == want
    with pytest.raises(KeyError, match="no table"):
        snap1.read("zzz")


def test_catalog_version_at_timestamp(spark, root, tmp_path):
    import time as _time

    from energy_emissions_lakehouse_spark.operators.catalog import (
        TableCatalog,
    )

    base = str(tmp_path / "cat")
    t_a = VersionedTable.create(
        spark, os.path.join(base, "a"), _kv(spark, 0, 5)
    )
    cat = TableCatalog.create(spark, base, {"a": t_a.root})
    ts_after_create = _time.time()
    _time.sleep(0.02)
    txn = cat.begin()
    txn.table("a").append(_kv(spark, 5, 8))
    txn.commit()
    assert cat.version_at(ts_after_create) == 0
    assert cat.version_at(_time.time()) == cat.latest_version()
    with pytest.raises(ValueError, match="no version at or before"):
        cat.version_at(0.0)
    # the composition: time -> catalog version -> consistent cut
    assert cat.read_as_of(cat.version_at(ts_after_create)).read(
        "a"
    ).count() == 5


# ------------------------------------------- exact-substring dedup tier
def test_exact_substring_coverage_hand_computed(spark):
    """Two docs share a verbatim 12-token run; w=5 windows inside it
    collide, the island fold must report exactly the run's extent."""
    from energy_emissions_lakehouse_spark.operators.dedup import (
        exact_substring_coverage,
    )

    run = [f"r{i}" for i in range(12)]
    a = ["a0", "a1", "a2"] + run + ["a3", "a4"]          # 17 tokens
    b = ["b0"] + run + ["b1", "b2", "b3", "b4", "b5"]    # 18 tokens
    c = [f"c{i}" for i in range(10)]                      # no dups
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, toks array<string>"
    )
    got = {
        r.doc_id: (r.n_dup_windows, r.covered_tokens, r.n_tokens)
        for r in exact_substring_coverage(docs, w=5).collect()
    }
    # in doc 1 the run spans positions 3..14: windows start 3..10 (8 of
    # them), covered = 10-3+5 = 12 tokens; doc 2: positions 1..12,
    # windows 1..8, covered 12; doc 3 absent
    assert got == {1: (8, 12, 17), 2: (8, 12, 18)}


def test_exact_substring_same_doc_repeat_detected(spark):
    """Lee et al. dedup within a document too: a run repeated INSIDE one
    doc duplicates its own windows."""
    from energy_emissions_lakehouse_spark.operators.dedup import (
        exact_substring_coverage,
    )

    run = [f"x{i}" for i in range(6)]
    doc = run + ["mid1", "mid2"] + run  # 14 tokens, run at 0..5 and 8..13
    docs = spark.createDataFrame(
        [(7, doc)], "doc_id long, toks array<string>"
    )
    rows = exact_substring_coverage(docs, w=6).collect()
    assert len(rows) == 1
    r = rows[0]
    # windows at pos 0 and pos 8 collide; gap 8 > 0+6 so two islands of
    # 6 covered tokens each
    assert (r.n_dup_windows, r.covered_tokens) == (2, 12)


def test_exact_substring_short_docs_yield_nothing(spark):
    from energy_emissions_lakehouse_spark.operators.dedup import (
        exact_substring_coverage,
    )

    docs = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "b"])],
        "doc_id long, toks array<string>",
    )
    assert exact_substring_coverage(docs, w=5).count() == 0


# ------------------------------------------- partition-scoped OPTIMIZE
def test_compact_partition_packs_only_matching_segments(spark, root):
    vt = VersionedTable.create(spark, root, _dated(spark, 0, 3))
    vt.set_partition_spec([("ts", "month")])
    vt.append(_dated(spark, 3, 40))
    vt.append(_dated(spark, 40, 80))  # two segments per month now
    before = vt.read()
    n_before, sum_before = before.count(), before.agg(
        F.sum("k")
    ).collect()[0][0]
    pvs_before = vt._replay(vt.latest_version())["pvs"]
    march_before = [
        r for r, pv in pvs_before.items() if pv.get("month(ts)") == "1995-03"
    ]
    assert len(march_before) == 2
    import datetime

    v = vt.compact_partition("ts", datetime.date(1995, 3, 15))
    entry = read_commit(root, v)
    assert entry["op"] == "compact"
    assert entry["scope"] == "partition"
    assert entry["packed"] == 2 and len(entry["add"]) == 1
    # the packed segment keeps the partition tuple -> pruning survives
    pvs = vt._replay(v)["pvs"]
    assert pvs[entry["add"][0]] == {"month(ts)": "1995-03"}
    march_after = [
        r for r, pv in pvs.items() if pv.get("month(ts)") == "1995-03"
    ]
    assert march_after == entry["add"]
    # content identity + untouched others
    after = vt.read()
    assert after.count() == n_before
    assert after.agg(F.sum("k")).collect()[0][0] == sum_before
    other = [
        r for r, pv in pvs_before.items()
        if pv.get("month(ts)") not in (None, "1995-03")
    ]
    live_now = set(vt._replay(v)["live"])
    assert all(r in live_now for r in other)
    # no-op when fewer than two segments match
    assert vt.compact_partition("ts", datetime.date(1995, 3, 15)) == v


def test_compact_partition_never_touches_prespec_segments(spark, root):
    vt = VersionedTable.create(spark, root, _dated(spark, 0, 20))  # pre-spec
    vt.set_partition_spec([("ts", "month")])
    vt.append(_dated(spark, 20, 30))
    import datetime

    v0_live = set(vt._replay(0)["live"])
    v = vt.compact_partition("ts", datetime.date(1995, 3, 15))
    # only one partitioned March segment exists -> no-op; the pre-spec
    # segment (which HOLDS March rows) must never qualify
    assert v == vt.latest_version()
    assert v0_live <= set(vt._replay(v)["live"])


# ------------------------------------------------- feature interplay
def test_stream_source_serves_partitioned_appends(spark, root):
    """A partitioned append is many segments in ONE commit; the
    streaming source must serve them all as that version's batch, and
    a set_spec commit (metadata-only) must stream as nothing."""
    vt = VersionedTable.create(spark, root, _dated(spark, 0, 3))
    vt.set_partition_spec([("g", "identity")])
    vt.append(_dated(spark, 3, 40))
    register_vtable_source(spark)
    name = "r10_part_stream"
    q = (
        spark.readStream.format("eel_vtable")
        .option("path", root)
        .load()
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("s"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.table(name).collect()[0]
    assert (row.n, row.s) == (40, sum(range(40)))


def test_widen_then_partition_spec_interplay(spark, root):
    """Widen a spec source column: bucket probes hash str(value), which
    is width-independent for integers, so pruning stays exact across
    the widen (and across the upcast write)."""
    def _nd(lo, hi):  # _dated with a NARROW (int) k
        return _dated(spark, lo, hi).withColumn(
            "k", F.col("k").cast("int")
        )

    vt = VersionedTable.create(spark, root, _nd(0, 3))
    vt.set_partition_spec([("g", "bucket", 4)])
    vt.append(_nd(3, 30))
    vt.widen_column_type("k", "bigint")      # widen a NON-spec column
    with pytest.raises(ValueError, match="not a lossless widening"):
        vt.widen_column_type("g", "int")     # narrowing still refused
    vt.append(_nd(30, 50))                   # narrow batch: upcast write
    v = vt.latest_version()
    s, k = vt.pruned_segments(v, "g", 2, 2)
    pvs = vt._replay(v)["pvs"]
    bkey = "bucket(g,4)"
    # two partitioned appends -> exactly two segments hold bucket(2)
    assert sum(1 for r in s if bkey in pvs.get(r, {})) == 2
    got = vt.read_pruned("g", 2, 2).filter(F.col("g") == 2)
    assert got.count() == _dated(spark, 0, 50).filter("g = 2").count()
    assert dict(vt.read().dtypes)["k"] == "bigint"


# ---------------------------------------- partitioned-write crash litter
def test_vacuum_reclaims_crashed_partitioned_write_litter(spark, root):
    """A writer killed inside _write_partitioned strands (a) the
    .pt-scratch dir at the root and (b) possibly some already-renamed
    orphan leaf segments in data/ that no commit references.  Vacuum
    reclaims BOTH past the grace window; a fresh (possibly in-flight)
    scratch survives."""
    import time as _time

    vt = VersionedTable.create(spark, root, _dated(spark, 0, 5))
    vt.set_partition_spec([("g", "identity")])
    vt.append(_dated(spark, 5, 20))
    # simulate the crash litter
    scratch = os.path.join(root, ".pt-scratch-dead-12345")
    os.makedirs(os.path.join(scratch, "_pt_0=9"))
    orphan = os.path.join(root, "data", "00000000000000000099-deadbeef")
    os.makedirs(orphan)
    old = _time.time() - 7200
    # vacuum judges the scratch TREE's newest mtime (Spark writes under
    # _temporary/, so the top dir's mtime pins at job start) — age the
    # whole tree
    for d, _dirs, files in os.walk(scratch):
        os.utime(d, (old, old))
        for fn in files:
            os.utime(os.path.join(d, fn), (old, old))
    os.utime(scratch, (old, old))
    os.utime(orphan, (old, old))
    fresh = os.path.join(root, ".pt-scratch-live-999")
    os.makedirs(fresh)

    reclaimed = vt.vacuum(retain_last=1, orphan_grace_s=3600.0)
    assert ".pt-scratch-dead-12345" in reclaimed
    assert any("deadbeef" in r for r in reclaimed)
    assert not os.path.exists(scratch)
    assert not os.path.exists(orphan)
    assert os.path.exists(fresh)  # in-flight grace honored
    # the table is untouched
    assert vt.read().count() == 20
    s, k = vt.pruned_segments(vt.latest_version(), "g", 2, 2)
    assert len(k) > 0  # pv pruning still intact after the sweep


# -------------------------------------------- round-10 review-fix pins
def test_widen_refuses_bucket_spec_source_out_of_domain(spark, root):
    df = spark.range(5).select(
        F.col("id").cast("int").alias("g"), F.col("id").alias("k")
    )
    vt = VersionedTable.create(spark, root, df)
    vt.set_partition_spec([("g", "bucket", 4)])
    with pytest.raises(ValueError, match="portable-hash contract"):
        vt.widen_column_type("g", "double")
    # integer-ladder widening of the spec source is FINE (str(5) is
    # width-independent) and pruning stays exact
    vt.widen_column_type("g", "bigint")
    vt.append(
        spark.range(5, 30).select(
            F.col("id").alias("g"), F.col("id").alias("k")
        )
    )
    got = vt.read_pruned("g", 7, 7).filter(F.col("g") == 7)
    assert got.count() == 1


def test_restore_reverts_partition_spec(spark, root):
    vt = VersionedTable.create(
        spark, root, spark.range(3).select(F.col("id").alias("a"))
    )
    vt.append_evolve(
        spark.range(3, 6).select(
            F.col("id").alias("a"), (F.col("id") % 2).alias("c")
        )
    )
    vt.set_partition_spec([("c", "identity")])
    vt.restore(0)
    assert vt.partition_spec() == []
    # the post-restore append must not reference the vanished column
    vt.append(spark.range(6, 9).select(F.col("id").alias("a")))
    assert vt.read().count() == 6


def test_partition_probe_type_strictness(spark, root):
    """Cross-typed probes must SCAN, never skip a holding segment."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        partition_skips,
    )

    pv = {"bucket(k,8)": 3}
    # float probe of an int-bucketed column: conservative scan
    assert not partition_skips(pv, "k", 5.0, 5.0, is_point=True)
    # identity on a date column probed with datetime: conservative scan
    pv2 = {"identity(d)": "1995-03-01"}
    import datetime

    assert not partition_skips(
        pv2, "d",
        datetime.datetime(1996, 1, 1), datetime.datetime(1996, 1, 1),
    )
    # well-typed probes still prune
    assert partition_skips(pv2, "d", "1996-01-01", "1996-12-31")


def test_parse_size_conf_suffixes():
    from energy_emissions_lakehouse_spark.operators.vtable import (
        _parse_size_conf,
    )

    assert _parse_size_conf("10485760b") == 10485760
    assert _parse_size_conf("64MB") == 64 << 20
    assert _parse_size_conf("1g") == 1 << 30
    assert _parse_size_conf("512k") == 512 << 10
    assert _parse_size_conf("-1") == -1
    assert _parse_size_conf("0") == 0
    assert _parse_size_conf("nonsense") is None
    assert _parse_size_conf(None) is None


def test_reserved_pt_column_names_refused(spark, root):
    df = spark.range(3).select(
        F.col("id").alias("k"), F.lit(1).alias("_pt_0")
    )
    vt = VersionedTable.create(spark, root, df)
    with pytest.raises(ValueError, match="_pt_N"):
        vt.set_partition_spec([("k", "identity")])
