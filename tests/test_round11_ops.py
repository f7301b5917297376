"""Round-11 pins: semantic conflict resolution on the vtable commit log
(Delta ConflictChecker semantics — PROTOCOL.md "Concurrency Control").

A lost commit race is re-validated against the interleaved commits and
auto-rebased when provably disjoint; TRUE conflicts raise typed
ConcurrentCommitError subclasses.  Interleaves are injected
deterministically: the loser's first _commit attempt triggers the
winner's commit, so the loser always loses version v+1 and must rebase.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.operators.vtable import (
    ConcurrentAppendError,
    ConcurrentDeleteDeleteError,
    MetadataChangedError,
    VersionedTable,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="r11-")
    yield os.path.join(d, "t")
    shutil.rmtree(d, ignore_errors=True)


def _rows(spark, lo, hi, price=1.0):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 0 + price).cast("double").alias("p"),
    )


def _inject_loss(monkeypatch, loser: VersionedTable, action) -> dict:
    """Make ``loser``'s next commit attempt lose: fire ``action`` (the
    winner's commit) right before the loser's FIRST _commit call, so the
    version it claims is taken and the rebase path must run.  Returns a
    state dict whose 'fired' records that the race actually happened."""
    orig = VersionedTable._commit
    state = {"fired": False}

    def patched(self, version, op, add, remove, schema, extra=None):
        if not state["fired"] and self is loser:
            state["fired"] = True
            action()
        return orig(self, version, op, add, remove, schema, extra)

    monkeypatch.setattr(VersionedTable, "_commit", patched)
    return state


# --------------------------------------------------------- blind appends

def test_blind_append_rebases_across_concurrent_append(
    spark, root, monkeypatch
):
    vt_a = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    vt_b = VersionedTable(spark, root)
    state = _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.append(_rows(spark, 100, 110))
    )
    v = vt_a.append(_rows(spark, 200, 210))  # must NOT raise
    assert state["fired"]
    assert v == 2  # rebased past the interleaved append
    assert vt_a.read().count() == 30
    assert [e["op"] for e in vt_a.history()] == [
        "create", "append", "append"
    ]


def test_blind_append_rebases_across_concurrent_delete(
    spark, root, monkeypatch
):
    """Appends read nothing — a concurrent DELETE (full-remove data
    commit) never conflicts with them (Delta: blind appends only
    conflict with metadata)."""
    vt_a = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    vt_b = VersionedTable(spark, root)
    state = _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.delete_where(F.col("k") < 5)
    )
    vt_a.append(_rows(spark, 200, 210))
    assert state["fired"]
    # delete kept k in [5,10), append added [200,210)
    assert vt_a.read().count() == 15


def test_blind_append_conflicts_with_metadata_change(
    spark, root, monkeypatch
):
    vt_a = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    vt_b = VersionedTable(spark, root)
    _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.add_constraint("k_pos", "k >= 0")
    )
    with pytest.raises(MetadataChangedError):
        vt_a.append(_rows(spark, 200, 210))


def test_blind_append_conflicts_with_schema_change(
    spark, root, monkeypatch
):
    """An interleaved overwrite that EVOLVES the schema (op 'overwrite'
    is not in the metadata-op set; the schema-shape comparison must
    catch it)."""
    vt_a = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    vt_b = VersionedTable(spark, root)
    _inject_loss(
        monkeypatch,
        vt_a,
        lambda: vt_b.overwrite(
            _rows(spark, 0, 10).withColumn("extra", F.lit(1))
        ),
    )
    with pytest.raises(MetadataChangedError):
        vt_a.append(_rows(spark, 200, 210))


# ------------------------------------------------------- DML rebase

def _two_segment_table(spark, root) -> VersionedTable:
    """seg0: k in [0,100), seg1: k in [1000,1100) — range-disjoint."""
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 100))
    vt.append(_rows(spark, 1000, 1100))
    return vt


def test_disjoint_overwrite_ranges_both_land(spark, root, monkeypatch):
    vt_a = _two_segment_table(spark, root)
    vt_b = VersionedTable(spark, root)
    state = _inject_loss(
        monkeypatch,
        vt_a,
        lambda: vt_b.overwrite_range(
            _rows(spark, 1000, 1100, price=9.0), "k", 1000, 1099
        ),
    )
    vt_a.overwrite_range(_rows(spark, 0, 100, price=5.0), "k", 0, 99)
    assert state["fired"]
    got = {
        r["p"]
        for r in vt_a.read().select("p").distinct().collect()
    }
    assert got == {5.0, 9.0}
    assert vt_a.read().count() == 200
    assert vt_a.latest_version() == 3  # zero extra commits


def test_overlapping_overwrite_ranges_conflict(spark, root, monkeypatch):
    vt_a = _two_segment_table(spark, root)
    vt_b = VersionedTable(spark, root)
    _inject_loss(
        monkeypatch,
        vt_a,
        lambda: vt_b.overwrite_range(
            _rows(spark, 0, 50, price=9.0), "k", 0, 49
        ),
    )
    with pytest.raises(ConcurrentDeleteDeleteError):
        vt_a.overwrite_range(_rows(spark, 0, 100, price=5.0), "k", 0, 99)


def test_dml_conflicts_with_overlapping_concurrent_append(
    spark, root, monkeypatch
):
    """A concurrent append INTO the replaced range: rows the replace
    should have replaced — serializable isolation demands a conflict."""
    vt_a = _two_segment_table(spark, root)
    vt_b = VersionedTable(spark, root)
    _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.append(_rows(spark, 50, 60))
    )
    with pytest.raises(ConcurrentAppendError):
        vt_a.overwrite_range(_rows(spark, 0, 100, price=5.0), "k", 0, 99)


def test_dml_rebases_across_disjoint_concurrent_append(
    spark, root, monkeypatch
):
    vt_a = _two_segment_table(spark, root)
    vt_b = VersionedTable(spark, root)
    state = _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.append(_rows(spark, 5000, 5010))
    )
    vt_a.overwrite_range(_rows(spark, 0, 100, price=5.0), "k", 0, 99)
    assert state["fired"]
    assert vt_a.read().count() == 210


def test_merge_pruned_rebases_across_disjoint_append(
    spark, root, monkeypatch
):
    vt_a = _two_segment_table(spark, root)
    vt_b = VersionedTable(spark, root)
    state = _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.append(_rows(spark, 5000, 5010))
    )
    vt_a.merge_upsert(_rows(spark, 0, 5, price=7.0), ["k"])
    assert state["fired"]
    df = vt_a.read()
    assert df.count() == 210
    assert df.filter(F.col("p") == 7.0).count() == 5


def test_merge_pruned_conflicts_with_append_in_key_range(
    spark, root, monkeypatch
):
    vt_a = _two_segment_table(spark, root)
    vt_b = VersionedTable(spark, root)
    _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.append(_rows(spark, 2, 4))
    )
    with pytest.raises(ConcurrentAppendError):
        vt_a.merge_upsert(_rows(spark, 0, 5, price=7.0), ["k"])


def test_delete_conflicts_with_any_concurrent_append(
    spark, root, monkeypatch
):
    """A copy-on-write DELETE carries no read probes, so ANY interleaved
    add may hold rows its predicate matches: the lost race raises the
    typed conflict and the table stays at the winner's head."""
    vt_a = _two_segment_table(spark, root)
    vt_b = VersionedTable(spark, root)
    state = _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.append(_rows(spark, 2, 4))
    )
    with pytest.raises(ConcurrentAppendError):
        vt_a.delete_where(F.col("k") < 5)
    assert state["fired"]
    assert vt_a.latest_version() == 2
    assert vt_a.read().count() == 202


# ----------------------------------------------------------- compaction

def test_compact_rebases_across_blind_append(spark, root, monkeypatch):
    """Compaction reads exactly its input files: an interleaved append
    never invalidates it (ignore_adds), and the appended rows survive."""
    vt_a = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    vt_a.append(_rows(spark, 10, 20))
    vt_b = VersionedTable(spark, root)
    state = _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.append(_rows(spark, 100, 105))
    )
    vt_a.compact()
    assert state["fired"]
    assert vt_a.read().count() == 25  # 20 compacted + 5 appended


def test_compact_conflicts_when_input_removed(spark, root, monkeypatch):
    vt_a = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    vt_a.append(_rows(spark, 10, 20))
    vt_b = VersionedTable(spark, root)
    _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.delete_where(F.col("k") < 5)
    )
    with pytest.raises(ConcurrentDeleteDeleteError):
        vt_a.compact()


# ----------------------------------------------------------------- soak

def test_soak_disjoint_writers_zero_visible_retries(spark, root):
    """Two threads, three barrier-released rounds of disjoint-range
    replaces each: every op lands (no caller-visible error), exactly one
    commit per op, and the end state is the last round's writes."""
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 100))
    vt.append(_rows(spark, 1000, 1100))
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def writer(lo, hi, base_price):
        try:
            handle = VersionedTable(spark, root)
            for rnd in range(3):
                barrier.wait(timeout=120)
                handle.overwrite_range(
                    _rows(spark, lo, hi, price=base_price + rnd),
                    "k", lo, hi - 1,
                )
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errs.append(exc)

    ths = [
        threading.Thread(target=writer, args=(0, 100, 10.0)),
        threading.Thread(target=writer, args=(1000, 1100, 20.0)),
    ]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errs, errs
    assert vt.latest_version() == 7  # 2 seeds + 6 ops, one commit each
    final = dict(
        vt.read()
        .groupBy((F.col("k") < 500).alias("low"))
        .agg(F.min("p").alias("mn"), F.max("p").alias("mx"))
        .select("low", "mn", "mx")
        .rdd.map(lambda r: (r["low"], (r["mn"], r["mx"])))
        .collect()
    )
    assert final[True] == (12.0, 12.0)
    assert final[False] == (22.0, 22.0)


# ------------------------------------------------- DV fast read path

def test_dv_fast_path_matches_antijoin_and_skips_join(
    spark, root, monkeypatch
):
    """Small DVs apply as per-file InSet position filters in the scan —
    no join in the plan — and serve EXACTLY the rows the broadcast
    anti-join fallback serves."""
    import energy_emissions_lakehouse_spark.operators.vtable as vmod

    vt = VersionedTable.create(spark, root, _rows(spark, 0, 1000))
    vt.append(_rows(spark, 1000, 2000))
    vt.delete_where_mor(F.col("k") % 7 == 0)
    fast = vt.read()
    plan = fast._jdf.queryExecution().executedPlan().toString()
    # fast path: per-file LONG-key anti against the broadcast position
    # list — never the legacy 3-column identity join (no path splitting)
    assert "_mask_pos" in plan
    assert "_dv_seg" not in plan, "fast path must not derive identities"
    fast_rows = sorted((r["k"], r["p"]) for r in fast.collect())
    # force the legacy anti-join and compare value-exactly
    monkeypatch.setattr(vmod, "_DV_DRIVER_MAX_BYTES", 0)
    vmod._dv_fold.cache_clear()
    legacy = vt.read()
    legacy_plan = legacy._jdf.queryExecution().executedPlan().toString()
    assert "_dv_seg" in legacy_plan, "fallback must be the identity join"
    assert sorted((r["k"], r["p"]) for r in legacy.collect()) == fast_rows
    assert len(fast_rows) == 2000 - len([k for k in range(2000) if k % 7 == 0])


def test_dv_fast_path_branch_cap_falls_back(spark, root, monkeypatch):
    import energy_emissions_lakehouse_spark.operators.vtable as vmod

    vt = VersionedTable.create(spark, root, _rows(spark, 0, 100))
    vt.delete_where_mor(F.col("k") < 3)
    monkeypatch.setattr(vmod, "_DV_MAX_FILE_BRANCHES", 0)
    vmod._dv_fold.cache_clear()
    df = vt.read()
    assert "LeftAnti" in df._jdf.queryExecution().executedPlan().toString()
    assert df.count() == 97


def test_dv_fast_path_prunes_dvs_of_unscanned_segments(spark, root):
    """A DV whose segment is not in the scanned rels (pruned / since
    rewritten) must not leak masks into other segments' files."""
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 100))
    vt.append(_rows(spark, 1000, 1100))
    vt.delete_where_mor(F.col("k") < 10)  # masks only segment 0 rows
    # range-pruned read of the second segment only: full 100 rows
    pruned = vt.read_pruned("k", 1000, 1099)
    assert pruned.where(
        (F.col("k") >= 1000) & (F.col("k") <= 1099)
    ).count() == 100
    # and the full read drops exactly the masked ten
    assert vt.read().count() == 190


# ------------------------------------------------- NDV stats -> planner

def _g_rows(spark, lo, hi, mod):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % mod).cast("int").alias("g"),
    )


def test_ndv_sketch_fold_and_time_travel(spark, root):
    vt = VersionedTable.create(
        spark, root, _g_rows(spark, 0, 1000, 37), ndv_cols=["g", "k"]
    )
    vt.append(_g_rows(spark, 1000, 2000, 41))
    assert vt.table_ndv("g") == 41
    assert vt.table_ndv("g", 0) == 37  # per-version fold
    k_est = vt.table_ndv("k")
    assert 1900 <= k_est <= 2100  # HLL estimate of 2000
    assert vt.table_ndv("absent") is None


def test_ndv_low_cardinality_picks_inset_pushdown(spark, root, tmp_path):
    """Log NDV under the threshold -> no join, IN pushed into the fact
    parquet scan."""
    vt = VersionedTable.create(
        spark, root, _g_rows(spark, 0, 1000, 7), ndv_cols=["g"]
    )
    fact_dir = str(tmp_path / "fact")
    _g_rows(spark, 0, 5000, 60).write.parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    out = vt.distinct_filter(fact, "g", "g", max_inset=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "PushedFilters: [In(g" in plan
    # exact: rows whose g (= id % 60) falls in the dim's 0..6 domain
    assert out.count() == sum(1 for i in range(5000) if (i % 60) < 7)


def test_ndv_high_cardinality_picks_semijoin(spark, root, tmp_path):
    vt = VersionedTable.create(
        spark, root, _g_rows(spark, 0, 1000, 997), ndv_cols=["g"]
    )
    fact_dir = str(tmp_path / "fact")
    _g_rows(spark, 0, 5000, 60).write.parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    out = vt.distinct_filter(fact, "g", "g", max_inset=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert out.count() == sum(1 for i in range(5000) if (i % 60) < 997)


def test_ndv_absent_sketch_is_conservative_semijoin(
    spark, root, tmp_path
):
    """No ndv_cols -> table_ndv None -> the strategy must NOT guess
    small: semi-join even for a tiny dim (the 'only with the log's
    estimate' direction)."""
    vt = VersionedTable.create(spark, root, _g_rows(spark, 0, 100, 3))
    fact_dir = str(tmp_path / "fact")
    _g_rows(spark, 0, 1000, 10).write.parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    assert vt.table_ndv("g") is None
    out = vt.distinct_filter(fact, "g", "g", max_inset=64)
    assert "LeftSemi" in (
        out._jdf.queryExecution().executedPlan().toString()
    )


# -------------------------------------------- deep-history replay bounds

def test_snapshot_resolution_reads_bounded_tail(spark, root, monkeypatch):
    """A FRESH handle's head resolution must read O(tail) commit files
    (checkpoint + at most CHECKPOINT_EVERY entries + the head), however
    deep the history — the round-11 deep-history contract (measured
    13.5 ms at a 10k-commit log)."""
    import energy_emissions_lakehouse_spark.operators.vtable as vmod

    vt = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    seed = vt._replay(0)["live"][0]
    for v in range(1, 4 * vmod.CHECKPOINT_EVERY + 3):
        rel = os.path.join(
            "data", f"{v:020d}-{os.urandom(4).hex()}"
        )
        shutil.copytree(
            os.path.join(root, seed), os.path.join(root, rel)
        )
        vt._commit(
            v, "append", add=[rel], remove=[],
            schema=vt.read(0).schema,
        )
    fresh = VersionedTable(spark, root)
    calls = {"n": 0}
    orig = VersionedTable._read_commit

    def counting(self, version):
        calls["n"] += 1
        return orig(self, version)

    monkeypatch.setattr(VersionedTable, "_read_commit", counting)
    fresh._replay()
    assert calls["n"] <= vmod.CHECKPOINT_EVERY + 3, (
        f"head resolution read {calls['n']} commits at depth "
        f"{vt.latest_version()} — the checkpointed fold is unbounded"
    )


def test_incremental_checkpoint_equals_genesis_state(spark, root):
    """Checkpoints now fold from the previous checkpoint + tail; their
    recorded live/dv sets must equal the genesis walk's across a
    history with removes, MOR deletes and a compaction."""
    import json as _json

    import energy_emissions_lakehouse_spark.operators.vtable as vmod

    vt = VersionedTable.create(spark, root, _rows(spark, 0, 50))
    for i in range(1, 9):
        vt.append(_rows(spark, 100 * i, 100 * i + 20))
    vt.delete_where(F.col("k") < 5)
    vt.delete_where_mor(F.col("k") % 11 == 0)
    vt.compact_small(max_bytes=1 << 30)
    while vt.latest_version() % vmod.CHECKPOINT_EVERY != 0:
        vt.append(_rows(spark, 9000, 9010))
    head = vt.latest_version()
    with open(vt._checkpoint_path(head)) as fh:
        ckpt = _json.load(fh)
    # round 12: the on-disk form is main + sidecars; hydrate to the
    # legacy view shape the assertions below pin
    ckpt = vt._hydrate_checkpoint(ckpt)
    genesis = vt._replay(head, use_checkpoint=False)
    live_g, dvs_g = genesis["live"], genesis["dvs"]
    assert sorted(ckpt["live"]) == sorted(live_g)
    assert sorted(ckpt["dvs"]) == sorted(dvs_g)
    assert ckpt["txns"] == vt._replay(head, use_checkpoint=False)["txns"]


# ------------------------------------------- byte-based stream rate cap

def _batch_boundaries(reader, head: int) -> list[int]:
    """Drive the reader's offset cycle to the head; return the end
    version of each micro-batch."""
    ends = []
    cur = reader.initialOffset()
    while cur["version"] < head:
        nxt = reader.latestOffset()
        if nxt["version"] == cur["version"]:
            break
        reader.partitions(cur, nxt)
        reader.commit(nxt)
        ends.append(nxt["version"])
        cur = nxt
    return ends


def test_stream_max_bytes_per_batch_boundaries(spark, root):
    """maxBytesPerBatch sizes micro-batches from the LOG's per-segment
    byte stats: with a cap of ~1.5 segments each batch carries one
    version; ~2.5 segments -> two; a cap smaller than any single commit
    still advances one version per batch (soft cap)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        read_commit,
    )
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        VtableStreamReader,
    )

    vt = VersionedTable.create(spark, root, _rows(spark, 0, 500))
    for i in range(1, 4):
        vt.append(_rows(spark, 500 * i, 500 * (i + 1)))
    head = vt.latest_version()
    entry1 = read_commit(root, 1)
    seg_bytes = sum(
        st["__bytes__"] for st in entry1["stats"].values()
    )
    assert seg_bytes > 0  # the log records per-segment bytes
    schema = vt.read().schema

    one = VtableStreamReader(
        root, schema, {"maxBytesPerBatch": str(int(seg_bytes * 1.5))}
    )
    assert _batch_boundaries(one, head) == [0, 1, 2, 3]

    two = VtableStreamReader(
        root, schema, {"maxBytesPerBatch": str(int(seg_bytes * 2.5))}
    )
    assert _batch_boundaries(two, head) == [1, 3]

    tiny = VtableStreamReader(root, schema, {"maxBytesPerBatch": "1"})
    assert _batch_boundaries(tiny, head) == [0, 1, 2, 3]

    unlimited = VtableStreamReader(root, schema, {})
    assert _batch_boundaries(unlimited, head) == [head]


# -------------------------------------------------- MOR merge rebase

def test_merge_mor_rebases_across_disjoint_append(
    spark, root, monkeypatch
):
    vt_a = _two_segment_table(spark, root)
    vt_b = VersionedTable(spark, root)
    state = _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.append(_rows(spark, 5000, 5010))
    )
    vt_a.merge_upsert_mor(_rows(spark, 0, 5, price=7.0), ["k"])
    assert state["fired"]
    df = vt_a.read()
    assert df.count() == 210
    assert df.filter(F.col("p") == 7.0).count() == 5
    # the interleaved append's rows survived untouched
    assert df.filter(F.col("k") >= 5000).count() == 10


def test_merge_mor_conflicts_with_append_in_key_range(
    spark, root, monkeypatch
):
    vt_a = _two_segment_table(spark, root)
    vt_b = VersionedTable(spark, root)
    _inject_loss(
        monkeypatch, vt_a, lambda: vt_b.append(_rows(spark, 2, 4))
    )
    with pytest.raises(ConcurrentAppendError):
        vt_a.merge_upsert_mor(_rows(spark, 0, 5, price=7.0), ["k"])


def test_merge_mor_conflicts_with_concurrent_dv(spark, root, monkeypatch):
    """Another MOR writer's DV masks rows this merge's scan read —
    conservative conflict."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        ConcurrentDeleteReadError,
    )

    vt_a = _two_segment_table(spark, root)
    vt_b = VersionedTable(spark, root)
    _inject_loss(
        monkeypatch, vt_a,
        lambda: vt_b.delete_where_mor(F.col("k") >= 1090),
    )
    with pytest.raises(ConcurrentDeleteReadError):
        vt_a.merge_upsert_mor(_rows(spark, 0, 5, price=7.0), ["k"])


# -------------------------------- NDV/bytes stats across checkpoints

def test_ndv_and_bytes_survive_checkpoint_boundary(spark, root):
    """__hll__ and __bytes__ ride the stats map into checkpoints: after
    the fold crosses a checkpoint, table_ndv and the stream's byte
    stats still resolve for PRE-checkpoint segments."""
    import energy_emissions_lakehouse_spark.operators.vtable as vmod

    vt = VersionedTable.create(
        spark, root, _g_rows(spark, 0, 200, 13), ndv_cols=["g"]
    )
    while vt.latest_version() < vmod.CHECKPOINT_EVERY + 2:
        lo = 200 * (vt.latest_version() + 1)
        vt.append(_g_rows(spark, lo, lo + 200, 13))
    head = vt.latest_version()
    assert os.path.exists(
        vt._checkpoint_path(vmod.CHECKPOINT_EVERY)
    )
    fresh = VersionedTable(spark, root)
    assert fresh.table_ndv("g") == 13
    stats = fresh._replay(head)["stats"]
    assert all("__bytes__" in st for st in stats.values())
