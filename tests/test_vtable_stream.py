"""Protocol pins for the vtable STREAMING SOURCE
(sources/vtable_stream.py): offsets-are-versions replay, per-version
micro-batching, availableNow full-batch correctness (the incremental
cursor would silently truncate — measured), change-commit rejection and
skipChangeCommits, and evolution null-fill through the Arrow reader.
Value parity of the registered query is covered by its oracle
(queries/versioned.py stream_vtable_append_source)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.operators.vtable import VersionedTable
from energy_emissions_lakehouse_spark.sources.vtable_stream import (
    register_vtable_source,
)


@pytest.fixture()
def vt_root():
    d = tempfile.mkdtemp(prefix="vtstream-test-")
    yield os.path.join(d, "t")
    shutil.rmtree(d, ignore_errors=True)


def _mk_history(spark, root) -> VersionedTable:
    """v0 create(0..4), v1 append(5..8), v2 merge (change commit),
    v3 append(100..102), v4 evolve-append(200..201 with tag)."""
    vt = VersionedTable.create(
        spark,
        root,
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
    )
    vt.append(
        spark.range(5, 9).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    vt.merge_upsert(
        spark.createDataFrame([(5, -1)], ["k", "v"]), keys=["k"]
    )
    vt.append(
        spark.range(100, 103).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    vt.append_evolve(
        spark.range(200, 202).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.lit("x").alias("tag"),
        )
    )
    return vt


def _agg(stream):
    return stream.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("s"),
        F.count("tag").alias("n_tag"),
    )


def test_available_now_replays_all_append_commits(spark, vt_root):
    """The default (all-available) batch mode under trigger availableNow
    must cover EVERY data commit — availableNow calls latestOffset once,
    so a truncated stream here means the cursor regression returned."""
    _mk_history(spark, vt_root)
    register_vtable_source(spark)
    stream = (
        spark.readStream.format("eel_vtable")
        .option("path", vt_root)
        .option("skipChangeCommits", "true")
        .load()
    )
    assert stream.schema.fieldNames() == ["k", "v", "tag"]
    name = "vtstream_t1"
    q = (
        _agg(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.table(name).collect()[0]
    # appends: 5 + 4 + 3 + 2 = 14 rows; sum(k) = 10+26+303+401 = 740;
    # evolution null-fill: only the 2 evolved rows carry tag
    assert (row.n, row.s, row.n_tag) == (14, 740, 2)


def test_max_versions_per_batch_replays_version_by_version(spark, vt_root):
    _mk_history(spark, vt_root)
    register_vtable_source(spark)
    stream = (
        spark.readStream.format("eel_vtable")
        .option("path", vt_root)
        .option("skipChangeCommits", "true")
        .option("maxVersionsPerBatch", "1")
        .load()
    )
    name = "vtstream_t2"
    q = (
        _agg(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    row = spark.table(name).collect()[0]
    assert (row.n, row.s, row.n_tag) == (14, 740, 2)
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == 4  # one per data commit; v2 skipped


def test_change_feed_stream_emits_exact_row_level_history(spark, vt_root):
    """readChangeFeed: appends synthesize inserts, merge streams its
    commit-time pre/post images + merge-inserts, delete streams delete
    rows, compaction emits NOTHING; rows are stamped _commit_version."""
    vt = VersionedTable.create(
        spark,
        vt_root,
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        enable_cdf=True,
    )
    vt.append(
        spark.range(5, 8).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    vt.merge_upsert(
        spark.createDataFrame([(2, -2), (6, -6), (100, -100)], ["k", "v"]),
        keys=["k"],
    )
    vt.delete_where("k < 2")
    vt.compact()
    register_vtable_source(spark)
    feed = (
        spark.readStream.format("eel_vtable")
        .option("path", vt_root)
        .option("readChangeFeed", "true")
        .load()
    )
    name = "vtstream_cdf"
    q = (
        feed.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sk"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        (r._commit_version, r._change_type, r.n, r.sk)
        for r in spark.table(name).collect()
    )
    assert rows == [
        (0, "insert", 5, 10),
        (1, "insert", 3, 18),
        (2, "insert", 1, 100),
        (2, "update_postimage", 2, 8),
        (2, "update_preimage", 2, 8),
        (3, "delete", 2, 1),
    ]  # nothing from v4: compaction is dataChange=false


def test_change_feed_raises_on_remove_commit_without_cdf(spark, vt_root):
    """A remove-carrying commit on a table WITHOUT enable_cdf cannot be
    streamed as changes — the reader must fail loudly, naming the fix."""
    from pyspark.errors.exceptions.base import PySparkException

    _mk_history(spark, vt_root)  # merge at v2, table not CDF-enabled
    register_vtable_source(spark)
    feed = (
        spark.readStream.format("eel_vtable")
        .option("path", vt_root)
        .option("readChangeFeed", "true")
        .load()
    )
    q = (
        feed.groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("vtstream_cdf_err")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(PySparkException, match="enable_cdf"):
        q.awaitTermination()


def test_change_feed_of_vacuumed_commit_fails_loudly(spark, vt_root):
    """A stream planning a commit whose cdf segment was vacuumed must
    raise, never silently emit zero rows for that version."""
    from pyspark.errors.exceptions.base import PySparkException

    vt = VersionedTable.create(
        spark,
        vt_root,
        spark.range(3).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        enable_cdf=True,
    )
    vt.merge_upsert(spark.createDataFrame([(1, -1)], ["k", "v"]), keys=["k"])
    vt.append(
        spark.range(5, 7).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    vt.vacuum(retain_last=1)  # sweeps the v1 merge's cdf segment
    register_vtable_source(spark)
    feed = (
        spark.readStream.format("eel_vtable")
        .option("path", vt_root)
        .option("readChangeFeed", "true")
        .load()
    )
    q = (
        feed.groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("vtstream_cdf_vac")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(PySparkException, match="vacuumed segment"):
        q.awaitTermination()


def test_plain_mode_streams_stored_change_type_column(spark, vt_root):
    """A table that legitimately STORES a _change_type column streams it
    verbatim in plain mode; readChangeFeed on it rejects the reserved
    name instead of emitting a duplicate column."""
    df = spark.range(4).select(
        F.col("id").alias("k"), F.lit("insert").alias("_change_type")
    )
    VersionedTable.create(spark, vt_root, df)
    register_vtable_source(spark)
    stream = (
        spark.readStream.format("eel_vtable").option("path", vt_root).load()
    )
    assert stream.schema.fieldNames() == ["k", "_change_type"]
    name = "vtstream_stored_ct"
    q = (
        stream.groupBy("_change_type")
        .count()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert [(r._change_type, r["count"]) for r in spark.table(name).collect()] \
        == [("insert", 4)]
    with pytest.raises(Exception, match="reserved"):
        (
            spark.readStream.format("eel_vtable")
            .option("path", vt_root)
            .option("readChangeFeed", "true")
            .load()
        )


def test_change_commit_raises_without_skip_option(spark, vt_root):
    from pyspark.errors.exceptions.base import PySparkException

    _mk_history(spark, vt_root)
    register_vtable_source(spark)
    stream = (
        spark.readStream.format("eel_vtable").option("path", vt_root).load()
    )
    q = (
        stream.groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("vtstream_t3")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(PySparkException, match="skipChangeCommits"):
        q.awaitTermination()


def test_streaming_ivm_is_batch_boundary_independent(spark, vt_root):
    """The signed-delta view must land on the same state no matter how
    the commits split into micro-batches: one availableNow batch vs
    version-by-version replay (maxVersionsPerBatch=1 drained with
    processAllAvailable — availableNow reads the cursor exactly once by
    design, see the source docstring) — integer-cents folds are
    associative, so the results are identical."""
    import uuid as _uuid

    from energy_emissions_lakehouse_spark.streaming.jobs import run_to_table

    df = spark.range(20).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 1.25).alias("p"),
    )
    vt = VersionedTable.create(
        spark, vt_root, df.where("k < 10"), enable_cdf=True
    )
    vt.append(df.where("k >= 10"))
    vt.update_where_mor("k % 4 = 0", {"p": "p + 100"})
    vt.delete_where("k % 5 = 0")
    register_vtable_source(spark)

    def view(extra_opts: dict) -> list:
        reader = (
            spark.readStream.format("eel_vtable")
            .option("path", vt_root)
            .option("readChangeFeed", "true")
        )
        for key, val in extra_opts.items():
            reader = reader.option(key, val)
        feed = reader.load()
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), 1
        ).when(
            F.col("_change_type").isin("delete", "update_preimage"), -1
        )
        cents = F.round(F.col("p") * F.lit(100), 0).cast("long")
        agg = feed.groupBy("g").agg(
            F.sum(sign).alias("n"), F.sum(sign * cents).alias("c")
        )
        if extra_opts:
            # incremental cursor: drain batch-by-batch
            name = f"ivm_{_uuid.uuid4().hex[:8]}"
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            out = spark.table(name)
        else:
            out = run_to_table(agg, "complete")
        return sorted(
            (r.g, r.n, r.c) for r in out.where("n > 0").collect()
        )

    one_shot = view({})
    per_version = view({"maxVersionsPerBatch": "1"})
    assert one_shot == per_version
    # and both equal the direct head aggregate
    direct = sorted(
        (r.g, r.n, r.c)
        for r in vt.read()
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("p") * F.lit(100), 0).cast("long")).alias("c"),
        )
        .collect()
    )
    assert one_shot == direct
