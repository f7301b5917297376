"""Column-rename (column-mapping) semantics for the versioned table.

rename_column is a metadata-only commit: segments keep their write-time
column names forever and reads coalesce each logical column across its
rename chain.  These tests pin the full interaction surface: data
round-trips (including legitimately-NULL values), chained renames, DML
across the boundary, time travel and RESTORE reverting the name, stats
and bloom pruning under retired names, compact, clone, the loud
refusals (collisions, retired-name reuse, constraint references, the
non-chain-aware SQL source), and the evolution guard.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.operators.vtable import (
    VersionedTable,
)


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="vtable-rename-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk(spark, root, rows, schema="k bigint, v bigint"):
    return VersionedTable.create(
        spark, root, spark.createDataFrame(rows, schema)
    )


def _state(vt, version=None):
    return {
        r.asDict()["k"]: tuple(
            x for c, x in sorted(r.asDict().items()) if c != "k"
        )
        for r in vt.read(version).collect()
    }


def test_rename_is_metadata_only_and_preserves_nulls(spark, base):
    root = os.path.join(base, "t")
    vt = _mk(spark, root, [(1, 10), (2, None), (3, 30)])
    n_segs_before = len(vt._replay()["live"])
    v = vt.rename_column("v", "val")
    entry = vt._read_commit(v)
    assert entry["add"] == [] and entry["remove"] == []  # zero rewrite
    assert vt.read().columns == ["k", "val"]
    # a legitimately-NULL pre-rename value stays NULL (the coalesce
    # cannot fall through: the retired twin is null-filled on exactly
    # the files where the current name is absent, never both present)
    assert _state(vt) == {1: (10,), 2: (None,), 3: (30,)}
    vt.append(spark.createDataFrame([(4, None), (5, 50)], "k bigint, val bigint"))
    assert _state(vt) == {1: (10,), 2: (None,), 3: (30,), 4: (None,), 5: (50,)}
    assert len(vt._replay()["live"]) == n_segs_before + 1


def test_chained_rename_and_dml_across_boundary(spark, base):
    root = os.path.join(base, "t")
    vt = _mk(spark, root, [(1, 10), (2, 20), (3, 30)])
    vt.rename_column("v", "v_mid")
    vt.append(spark.createDataFrame([(4, 40)], "k bigint, v_mid bigint"))
    vt.rename_column("v_mid", "v_final")
    assert _state(vt) == {1: (10,), 2: (20,), 3: (30,), 4: (40,)}
    # COW update across both boundaries (rewrites under the NEW name)
    vt.update_where("k <= 2", {"v_final": F.expr("v_final + 1")})
    # MOR delete across the boundary
    vt.delete_where_mor("k = 3")
    # keyed merge across the boundary
    vt.merge_upsert(
        spark.createDataFrame([(4, 400), (9, 90)], "k bigint, v_final bigint"),
        keys=["k"],
    )
    assert _state(vt) == {1: (11,), 2: (21,), 4: (400,), 9: (90,)}
    # compact rewrites everything under the final name; content identical
    before = _state(vt)
    vt.compact()
    assert _state(vt) == before


def test_time_travel_and_restore_revert_the_name(spark, base):
    root = os.path.join(base, "t")
    vt = _mk(spark, root, [(1, 10)])
    vt.rename_column("v", "val")          # v1
    vt.append(spark.createDataFrame([(2, 20)], "k bigint, val bigint"))  # v2
    assert vt.read(0).columns == ["k", "v"]
    assert vt.read(2).columns == ["k", "val"]
    v_restore = vt.restore(0)             # back across the rename
    assert vt.read().columns == ["k", "v"]
    assert _state(vt) == {1: (10,)}
    vt.restore(2)                          # forward again: name re-applies
    assert vt.read().columns == ["k", "val"]
    assert _state(vt) == {1: (10,), 2: (20,)}
    # every version still replays its own era's schema
    assert vt.read(v_restore).columns == ["k", "v"]


def test_stats_and_bloom_prune_under_retired_names(spark, base):
    root = os.path.join(base, "t")
    vt = VersionedTable.create(
        spark,
        root,
        spark.createDataFrame([(i, i) for i in range(100)], "k bigint, v bigint"),
        bloom_cols=["v"],
    )
    vt.rename_column("v", "val")
    vt.append(
        spark.createDataFrame(
            [(i, i) for i in range(1000, 1100)], "k bigint, val bigint"
        )
    )
    head = vt.latest_version()
    # range pruning on the LOGICAL name must find the old segment's
    # stats under the retired physical name
    scanned, skipped = vt.pruned_segments(head, "val", 1000, 1100)
    assert len(skipped) == 1 and len(scanned) == 1  # old segment skipped
    assert vt.column_range("val") == (0, 1099)
    # point prune: stats straddle nothing here, bloom must answer under
    # the write-time name on each side
    scanned, skipped = vt.prune_point(head, "val", 50)
    assert len(scanned) == 1 and len(skipped) == 1
    rows = vt.read_point("val", 50).filter(F.col("val") == 50).collect()
    assert [(r.k, r.val) for r in rows] == [(50, 50)]


def test_rename_refusals(spark, base):
    root = os.path.join(base, "t")
    vt = _mk(spark, root, [(1, 10)])
    with pytest.raises(ValueError, match="no column"):
        vt.rename_column("nope", "x")
    with pytest.raises(ValueError, match="exists"):
        vt.rename_column("v", "k")
    with pytest.raises(ValueError, match="reserved"):
        vt.rename_column("v", "_dv_seg")
    vt.add_constraint("v_positive", "v >= 0")
    with pytest.raises(ValueError, match="constraint"):
        vt.rename_column("v", "val")
    vt.drop_constraint("v_positive")
    vt.rename_column("v", "val")
    # retired-name reuse refused in BOTH rename and evolution
    with pytest.raises(ValueError, match="retired"):
        vt.rename_column("val", "v")
    with pytest.raises(ValueError, match="retired"):
        vt.append_evolve(
            spark.createDataFrame([(9, 9, 9)], "k bigint, val bigint, v bigint")
        )
    # overwrite resets the chains and frees the name
    vt.overwrite(spark.createDataFrame([(1, 1)], "k bigint, v bigint"))
    assert vt.read().columns == ["k", "v"]
    assert _state(vt) == {1: (1,)}


def test_sql_batch_source_reads_renamed_tables(spark, base):
    """The Python DataSource BATCH path is rename-aware: per-file
    first-present-wins projection over the chain (a file stores exactly
    one of the names), chain-resolved footer types, and chain-resolved
    stats/bloom pushdown.  The STREAM path stays gated (see the
    companion refusal test)."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    root = os.path.join(base, "t")
    vt = _mk(spark, root, [(1, 10), (2, None), (3, 30)])
    vt.rename_column("v", "val")
    vt.append(spark.createDataFrame([(4, 40)], "k bigint, val bigint"))
    src = spark.read.format("eel_vtable").option("path", root).load()
    assert src.columns == ["k", "val"]
    got = {(r.k, r.val) for r in src.collect()}
    assert got == {(1, 10), (2, None), (3, 30), (4, 40)}
    # pushed filter on the RENAMED column still returns exact rows
    # (stats/bloom pruning resolves through the chain; the residual
    # predicate re-applies row-level either way)
    hit = (
        spark.read.format("eel_vtable").option("path", root).load()
        .filter(F.col("val") == 10)
        .collect()
    )
    assert [(r.k, r.val) for r in hit] == [(1, 10)]
    # versionAsOf time travel serves the OLD name through the source
    v0 = (
        spark.read.format("eel_vtable")
        .option("path", root)
        .option("versionAsOf", 0)
        .load()
    )
    assert v0.columns == ["k", "v"]
    assert {(r.k, r.v) for r in v0.collect()} == {(1, 10), (2, None), (3, 30)}


def test_stream_source_refuses_renamed_tables_loudly(spark, base):
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    root = os.path.join(base, "t")
    vt = _mk(spark, root, [(1, 10)])
    vt.rename_column("v", "val")
    # the reader is constructed at stream START, so the refusal
    # surfaces from the query, not from load()
    q = (
        spark.readStream.format("eel_vtable")
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName("rename_gate_probe")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="rename"):
        q.awaitTermination()


def test_clone_preserves_rename_chains(spark, base):
    root = os.path.join(base, "t")
    vt = _mk(spark, root, [(1, 10), (2, 20)])
    vt.rename_column("v", "val")
    vt.append(spark.createDataFrame([(3, 30)], "k bigint, val bigint"))
    c = vt.clone_to(os.path.join(base, "c"))
    assert c.read().columns == ["k", "val"]
    assert _state(c) == {1: (10,), 2: (20,), 3: (30,)}
    assert c.read(0).columns == ["k", "v"]  # clone time-travels too


def test_change_feed_spans_rename_with_logical_names(spark, base):
    root = os.path.join(base, "t")
    vt = _mk(spark, root, [(1, 10), (2, 20)])
    vt.rename_column("v", "val")  # v1
    vt.append(spark.createDataFrame([(3, 30)], "k bigint, val bigint"))  # v2
    # a snapshot diff SPANNING the rename sees it as drop+add (the
    # documented evolution-spanning semantics: each side reads its own
    # era's schema, so pre-rename keys surface as updates whose val
    # pre-image is null — exactly the backfill a downstream consumer
    # replays).  A diff WITHIN the post-rename era is clean.
    spanning = {
        (r["k"], r["change_type"]): (r["val_pre"], r["val_post"])
        for r in vt.change_feed(0, 2, keys=["k"]).collect()
    }
    assert spanning == {
        (1, "update"): (None, 10),
        (2, "update"): (None, 20),
        (3, "insert"): (None, 30),
    }
    within = {
        (r["k"], r["change_type"]): (r["val_pre"], r["val_post"])
        for r in vt.change_feed(1, 2, keys=["k"]).collect()
    }
    assert within == {(3, "insert"): (None, 30)}


def test_drop_column_metadata_only_and_time_travel(spark, base):
    root = os.path.join(base, "t")
    vt = _mk(spark, root, [(1, 10), (2, 20)])
    v = vt.drop_column("v")
    entry = vt._read_commit(v)
    assert entry["add"] == [] and entry["remove"] == []  # zero rewrite
    assert vt.read().columns == ["k"]
    assert vt.read(0).columns == ["k", "v"]  # bytes stay; time travel serves
    assert _state(vt, 0) == {1: (10,), 2: (20,)}
    # restore across the drop resurrects the column with the data
    vt.restore(0)
    assert vt.read().columns == ["k", "v"]
    assert _state(vt) == {1: (10,), 2: (20,)}


def test_drop_column_guards(spark, base):
    root = os.path.join(base, "t")
    vt = _mk(spark, root, [(1, 10)])
    with pytest.raises(ValueError, match="no column"):
        vt.drop_column("nope")
    vt.add_constraint("v_pos", "v >= 0")
    with pytest.raises(ValueError, match="constraint"):
        vt.drop_column("v")
    vt.drop_constraint("v_pos")
    vt.drop_column("v")
    with pytest.raises(ValueError, match="only column"):
        vt.drop_column("k")
    # re-introducing the dropped name is refused: old files' values
    # would bleed into the new column
    with pytest.raises(ValueError, match="retired"):
        vt.append_evolve(
            spark.createDataFrame([(9, 99)], "k bigint, v bigint")
        )
    # ...and so is renaming another column ONTO it
    vt.append_evolve(spark.createDataFrame([(5, 7)], "k bigint, w bigint"))
    with pytest.raises(ValueError, match="dropped"):
        vt.rename_column("w", "v")
    # overwrite resets the record and frees the name
    vt.overwrite(spark.createDataFrame([(1, 1)], "k bigint, v bigint"))
    assert _state(vt) == {1: (1,)}


def test_drop_renamed_column_blocks_whole_chain(spark, base):
    root = os.path.join(base, "t")
    vt = _mk(spark, root, [(1, 10)])
    vt.rename_column("v", "val")
    vt.drop_column("val")
    assert vt.read().columns == ["k"]
    # BOTH physical generations are retired: the chain moved to dropped
    for name in ("v", "val"):
        with pytest.raises(ValueError, match="retired"):
            vt.append_evolve(
                spark.createDataFrame([(9, 9)], f"k bigint, {name} bigint")
            )
    # DML on the narrowed table still works
    vt.append(spark.createDataFrame([(2,)], "k bigint"))
    vt.delete_where_mor("k = 1")
    assert _state(vt) == {2: ()}
