"""Round-12 operator pins.

Sidecar checkpoints: checkpoint-commit cost must be O(tail + dirty
sidecars), not O(live) — the main checkpoint file carries only the small
folds plus references to immutable per-SIDECAR_MAX-segment sidecar files,
and consecutive checkpoints REUSE every sidecar whose entries are
unchanged.  A hydrated checkpoint must equal the genesis replay at its
version; a checkpoint that is not a complete sidecar-form state is
skipped, never misread.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import energy_emissions_lakehouse_spark.operators.vtable as vmod
from energy_emissions_lakehouse_spark.operators.vtable import (
    CHECKPOINT_EVERY,
    VersionedTable,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="r12-")
    yield os.path.join(d, "t")
    shutil.rmtree(d, ignore_errors=True)


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 2.0).alias("p"),
    )


def _sidecar_files(root) -> set[str]:
    return {
        n
        for n in os.listdir(os.path.join(root, vmod.LOG_DIR))
        if n.endswith(".sidecar.json")
    }


def _ckpt_raw(vt, version) -> dict:
    with open(vt._checkpoint_path(version)) as fh:
        return json.load(fh)


def _to_boundary(vt, spark):
    while vt.latest_version() % CHECKPOINT_EVERY != 0:
        vt.append(_rows(spark, 9000, 9005))
    return vt.latest_version()


def test_checkpoint_is_sidecar_form_and_hydrates_exact(spark, root):
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 50))
    for i in range(1, CHECKPOINT_EVERY + 1):
        vt.append(_rows(spark, 100 * i, 100 * i + 10))
    head = CHECKPOINT_EVERY
    raw = _ckpt_raw(vt, head)
    assert "sidecars" in raw and "live" not in raw and "stats" not in raw
    assert _sidecar_files(root), "sidecar files must exist on disk"
    # a FRESH handle (disk hydration path) folds exactly the genesis walk
    fresh = VersionedTable(spark, root)
    genesis = fresh._replay(head, use_checkpoint=False)
    live_g, dvs_g = genesis["live"], genesis["dvs"]
    ckpt = fresh._latest_checkpoint(head)
    assert sorted(ckpt["live"]) == sorted(live_g)
    assert sorted(ckpt["dvs"]) == sorted(dvs_g)
    assert set(ckpt["stats"]) == set(live_g)
    assert set(ckpt["seg_commits"]) == set(live_g)
    # and the consumer folds serve identical answers via the checkpoint
    assert fresh._replay(head)["stats"] == {
        rel: fresh._read_commit(v).get("stats", {}).get(rel, {})
        for rel, v in fresh._replay(head)["seg_commits"].items()
    }


def test_consecutive_checkpoints_reuse_clean_sidecars(
    spark, root, monkeypatch
):
    monkeypatch.setattr(vmod, "SIDECAR_MAX", 4)
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    for i in range(1, 2 * CHECKPOINT_EVERY + 1):
        vt.append(_rows(spark, 100 * i, 100 * i + 5))
    refs1 = [s["name"] for s in _ckpt_raw(vt, CHECKPOINT_EVERY)["sidecars"]]
    refs2 = [
        s["name"] for s in _ckpt_raw(vt, 2 * CHECKPOINT_EVERY)["sidecars"]
    ]
    # 9 live at ckpt1 -> [4, 4, 1]; the full chunks must be REUSED by
    # name at ckpt2 (append-only tail dirties only the last + new ones)
    assert len(refs1) >= 2
    reused = set(refs1[:-1]) & set(refs2)
    assert reused == set(refs1[:-1]), (
        f"clean sidecars must be reused by name: {refs1} vs {refs2}"
    )
    # and the second checkpoint's hydrated state is exact
    head = 2 * CHECKPOINT_EVERY
    ckpt = vt._hydrate_checkpoint(_ckpt_raw(vt, head))
    assert sorted(ckpt["live"]) == sorted(
        set(vt._replay(head, use_checkpoint=False)["live"])
    )


def test_full_rewrite_replaces_every_sidecar(spark, root, monkeypatch):
    monkeypatch.setattr(vmod, "SIDECAR_MAX", 4)
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    for i in range(1, CHECKPOINT_EVERY + 1):
        vt.append(_rows(spark, 100 * i, 100 * i + 5))
    refs1 = [s["name"] for s in _ckpt_raw(vt, CHECKPOINT_EVERY)["sidecars"]]
    # a copy-on-write delete matching a row in EVERY segment rewrites
    # the whole live set: every prior sidecar's segments are removed, so
    # the next checkpoint must carry entirely fresh sidecar names (a
    # full rewrite dirties everything)
    vt.delete_where(F.col("k") % 100 == 0)
    head = _to_boundary(vt, spark)
    refs2 = [s["name"] for s in _ckpt_raw(vt, head)["sidecars"]]
    assert set(refs2).isdisjoint(set(refs1))
    # and hydration must stay exact
    ckpt = vt._hydrate_checkpoint(_ckpt_raw(vt, head))
    live_g = set(vt._replay(head, use_checkpoint=False)["live"])
    assert sorted(ckpt["live"]) == sorted(live_g)


def test_partial_remove_reuses_untouched_sidecars(
    spark, root, monkeypatch
):
    """A MOR delete (no segment remove) then small appends: every prior
    full sidecar is reused; a pruned merge that rewrites ONE segment
    dirties only that segment's sidecar."""
    monkeypatch.setattr(vmod, "SIDECAR_MAX", 4)
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    for i in range(1, CHECKPOINT_EVERY + 1):
        vt.append(_rows(spark, 100 * i, 100 * i + 5))
    refs1 = [s["name"] for s in _ckpt_raw(vt, CHECKPOINT_EVERY)["sidecars"]]
    vt.delete_where_mor("k = 101")  # DV only: no add/remove
    head = _to_boundary(vt, spark)
    refs2 = [s["name"] for s in _ckpt_raw(vt, head)["sidecars"]]
    assert set(refs1[:-1]) <= set(refs2), "MOR delete must not dirty data sidecars"
    ckpt = vt._hydrate_checkpoint(_ckpt_raw(vt, head))
    assert sorted(ckpt["dvs"]) == sorted(
        set(vt._replay(head, use_checkpoint=False)["dvs"])
    )


def test_restore_in_tail_falls_back_to_full_fold(spark, root):
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 20))
    vt.append(_rows(spark, 100, 120))
    target = vt.latest_version()
    vt.append(_rows(spark, 200, 220))
    vt.delete_where(F.col("k") >= 200)
    restore_v = vt.restore(target)
    n_filler = CHECKPOINT_EVERY - (restore_v % CHECKPOINT_EVERY)
    n_filler = 0 if n_filler == CHECKPOINT_EVERY else n_filler
    head = _to_boundary(vt, spark)
    assert head >= CHECKPOINT_EVERY
    fresh = VersionedTable(spark, root)
    ckpt = fresh._latest_checkpoint(head)
    live_g = set(fresh._replay(ckpt["version"], use_checkpoint=False)["live"])
    assert sorted(ckpt["live"]) == sorted(live_g)
    # physical-writer provenance survives the resurrection (restore's
    # re-add must NOT claim the restore commit as the writer)
    commits = fresh._replay(head)["seg_commits"]
    assert all(
        rel in fresh._read_commit(v)["add"] for rel, v in commits.items()
    )
    # reads stay exact end-to-end (restored state + boundary filler)
    assert sorted(r.k for r in fresh.read().collect()) == sorted(
        list(range(20))
        + list(range(100, 120))
        + list(range(9000, 9005)) * n_filler
    )


def test_missing_sidecar_falls_back_to_older_state(spark, root):
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 30))
    for i in range(1, CHECKPOINT_EVERY + 2):
        vt.append(_rows(spark, 100 * i, 100 * i + 5))
    head = vt.latest_version()
    # externally clean EVERY sidecar file (not our vacuum's doing)
    for n in _sidecar_files(root):
        os.unlink(os.path.join(root, vmod.LOG_DIR, n))
    fresh = VersionedTable(spark, root)
    # the broken checkpoint is dropped; folds fall back (genesis here)
    # and serve the exact state
    assert fresh._replay(head)["live"] == sorted(
        set(fresh._replay(head, use_checkpoint=False)["live"])
    )
    assert fresh.read().count() == 30 + 5 * (CHECKPOINT_EVERY + 1)


def test_deep_drip_rewrites_bounded_sidecars_per_checkpoint(
    spark, root, monkeypatch
):
    """The O(dirty) write contract: at a drip-feed history, each new
    checkpoint writes at most ceil(tail_adds / SIDECAR_MAX) + 1 new
    sidecar files, however many are live."""
    monkeypatch.setattr(vmod, "SIDECAR_MAX", 4)
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    seen: set[str] = set()
    new_per_ckpt: list[int] = []
    for i in range(1, 4 * CHECKPOINT_EVERY + 1):
        vt.append(_rows(spark, 100 * i, 100 * i + 5))
        if vt.latest_version() % CHECKPOINT_EVERY == 0:
            files = _sidecar_files(root)
            new_per_ckpt.append(len(files - seen))
            seen = files
    # 8 adds per checkpoint window, SIDECAR_MAX=4 -> at most 3 new files
    # (partial last + two full), never O(live)
    assert new_per_ckpt and all(n <= 3 for n in new_per_ckpt), new_per_ckpt



def test_one_replay_reads_each_tail_commit_once(spark, root, monkeypatch):
    """One log replay serves a whole operation: on a head 7 commits past
    a checkpoint, a checkpoint write and a pruned read each read every
    tail commit exactly once, and no other commit."""
    from collections import Counter

    vt = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    for i in range(1, CHECKPOINT_EVERY + 8):
        vt.append(_rows(spark, 100 * i, 100 * i + 5))
    head = vt.latest_version()
    assert head == CHECKPOINT_EVERY + 7
    tail = Counter(range(CHECKPOINT_EVERY + 1, head + 1))
    reads: Counter = Counter()
    real = vmod.read_commit

    def counting(root_, version):
        reads[version] += 1
        return real(root_, version)

    monkeypatch.setattr(vmod, "read_commit", counting)
    fresh = VersionedTable(spark, root)
    fresh.read_pruned("k", 100, 104)
    assert reads == tail, f"read_pruned read {dict(reads)}"
    reads.clear()
    fresh._write_checkpoint(head)
    assert reads == tail, f"_write_checkpoint read {dict(reads)}"



def test_shared_handle_checkpoint_cache_under_thread_stress(spark, root):
    """Threads sharing ONE handle replay, write and re-read checkpoints
    concurrently: every replay equals the genesis fold at its version
    and the handle's checkpoint cache never exceeds its bound."""
    import sys
    import threading

    vt = VersionedTable.create(spark, root, _rows(spark, 0, 5))
    schema = vt.read().schema
    seg = vt._replay()["live"][0]
    head = 8 * CHECKPOINT_EVERY + 3  # twice the cache bound: evictions
    for v in range(1, head + 1):  # metadata-only commits: no data job
        vt._commit(
            v, "set_constraint", add=[], remove=[], schema=schema,
            extra={"constraints": {"c": f"k < {1000 + v}"}},
        )
    want = {
        v: vt._replay(v, use_checkpoint=False) for v in range(head + 1)
    }
    shared = VersionedTable(spark, root)
    errors: list[BaseException] = []

    def worker(tid: int) -> None:
        try:
            for i in range(1500):
                v = (tid * 7 + i * 5) % (head + 1)
                if v and v % CHECKPOINT_EVERY == 0 and i % 7 == 0:
                    shared._write_checkpoint(v)
                ckpt = shared._latest_checkpoint(v)
                if ckpt is not None:
                    cv = ckpt["version"]
                    assert v - CHECKPOINT_EVERY < cv <= v, (v, cv)
                    assert ckpt["constraints"] == want[cv]["constraints"]
                if i % 20 == 0:
                    got = shared._replay(v)
                    assert got["live"] == [seg]
                    for k in ("dvs", "txns", "constraints", "stats"):
                        assert got[k] == want[v][k], (v, k)
                assert len(shared._ckpt_payloads) <= vmod._CKPT_CACHE_MAX
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ts), "stress run did not finish"
    assert not errors, errors[:3]


# ---------------------------- MCV stats + stats-driven skew planning

def _keyed_skew(spark, n, hot_frac_mod):
    """n rows; key 7 gets every hot_frac_mod-th row, rest uniform 0..24."""
    return spark.range(0, n).select(
        F.when(F.col("id") % hot_frac_mod == 0, F.lit(7))
        .otherwise(F.col("id") % 25)
        .cast("int")
        .alias("k"),
        (F.col("id") * 1.5).alias("v"),
    )


def _dim25(spark):
    return spark.range(0, 25).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 5).cast("int").alias("r"),
    )


def test_mcv_stats_recorded_and_folded(spark, root):
    vt = VersionedTable.create(
        spark, root, _keyed_skew(spark, 1000, 2), ndv_cols=["k"]
    )
    v, n = vt.table_mcv("k")
    assert v == "7"
    # key 7: 500 hot rows + uniform hits (id%2!=0 and id%25==7)
    exact = sum(
        1 for i in range(1000) if (i % 2 == 0 and 7 == 7) or (i % 2 and i % 25 == 7)
    )
    assert n == exact
    # fold across segments: append more hot rows, count accumulates
    vt.append(_keyed_skew(spark, 100, 2))
    v2, n2 = vt.table_mcv("k")
    assert v2 == "7" and n2 > n
    # untracked column -> None (never guess)
    assert vt.table_mcv("v") is None


def test_mcv_absent_on_untracked_table(spark, root):
    vt = VersionedTable.create(spark, root, _keyed_skew(spark, 100, 2))
    assert vt.table_mcv("k") is None


def test_join_skew_planned_salts_on_hot_key(spark, root):
    from energy_emissions_lakehouse_spark.operators.skew import SALT_COL

    vt = VersionedTable.create(
        spark, root, _keyed_skew(spark, 2000, 2), ndv_cols=["k"]
    )
    out = vt.join_skew_planned(_dim25(spark), "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert SALT_COL in plan, "hot-key stats must select the salted join"
    # the salted rewrite is row-identical to the plain join
    plain = vt.read().join(_dim25(spark), "k")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_join_skew_planned_plain_on_uniform(spark, root):
    from energy_emissions_lakehouse_spark.operators.skew import SALT_COL

    vt = VersionedTable.create(
        spark, root, _keyed_skew(spark, 2000, 10**9), ndv_cols=["k"]
    )
    out = vt.join_skew_planned(_dim25(spark), "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert SALT_COL not in plan, "uniform stats must stay unsalted"
    assert out.count() == 2000


def test_join_skew_planned_broadcast_beats_salt(spark, root):
    """A provably broadcastable dim short-circuits to the broadcast
    join even when the fact is hot-keyed (measured: broadcast wins;
    never salt a broadcastable join)."""
    from energy_emissions_lakehouse_spark.operators.skew import SALT_COL

    vt = VersionedTable.create(
        spark, root, _keyed_skew(spark, 2000, 2), ndv_cols=["k"]
    )
    out = vt.join_skew_planned(_dim25(spark), "k", dim_bytes=1024)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert SALT_COL not in plan
    assert "BroadcastHashJoin" in plan
    assert out.count() == 2000


def test_join_skew_planned_no_stats_no_salt(spark, root):
    """Unknown MCV (untracked table) must choose conservatively: plain
    join, never pay replication on a guess."""
    from energy_emissions_lakehouse_spark.operators.skew import SALT_COL

    vt = VersionedTable.create(spark, root, _keyed_skew(spark, 500, 2))
    out = vt.join_skew_planned(_dim25(spark), "k")
    assert SALT_COL not in (
        out._jdf.queryExecution().executedPlan().toString()
    )
    assert out.count() == 500


def test_reserved_mcv_stats_key_rejected(spark, root):
    bad = spark.range(3).select(F.col("id").alias("__mcv__"))
    with pytest.raises(ValueError, match="reserved"):
        VersionedTable.create(spark, root, bad)


def test_vacuum_reclaims_crash_orphaned_sidecars(spark, root, monkeypatch):
    """In NORMAL operation every written sidecar stays referenced by the
    checkpoint that published it (checkpoints are never vacuumed), so
    nothing is reclaimable; a checkpoint publish that crashes between
    the sidecar writes and the main rename strands unreferenced sidecar
    litter — vacuum reclaims exactly that, and every referenced sidecar
    survives."""
    import errno

    monkeypatch.setattr(vmod, "SIDECAR_MAX", 4)
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 10))
    for i in range(1, CHECKPOINT_EVERY + 1):
        vt.append(_rows(spark, 100 * i, 100 * i + 5))
    referenced = {
        s["name"] for s in _ckpt_raw(vt, CHECKPOINT_EVERY)["sidecars"]
    }
    assert _sidecar_files(root) == referenced  # normal op: zero orphans
    assert [
        d for d in vt.vacuum(orphan_grace_s=0.0, dry_run=True)
        if d.endswith(".sidecar.json")
    ] == []
    # crash the NEXT checkpoint's main publish: sidecars land, main dies
    real_rename = os.rename

    def flaky(src, dst, *a, **kw):
        if dst.endswith(".checkpoint.json"):
            raise OSError(errno.EIO, "injected checkpoint fault")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(vmod.os, "rename", flaky)
    for i in range(CHECKPOINT_EVERY):
        vt.append(_rows(spark, 5000 + 10 * i, 5000 + 10 * i + 5))
    monkeypatch.setattr(vmod.os, "rename", real_rename)
    orphans = _sidecar_files(root) - referenced
    assert orphans, "setup: the crashed publish must strand sidecars"
    n_before = vt.read().count()
    deleted = vt.vacuum(orphan_grace_s=0.0)
    assert {
        os.path.basename(d) for d in deleted if d.endswith(".sidecar.json")
    } == orphans
    assert _sidecar_files(root) == referenced
    # the surviving checkpoint still hydrates; reads untouched
    fresh = VersionedTable(spark, root)
    assert fresh._latest_checkpoint(
        fresh.latest_version()
    )["version"] == CHECKPOINT_EVERY
    assert fresh.read().count() == n_before


def test_join_skew_planned_vtable_dim_auto_broadcast(spark, root, tmp_path):
    """A VersionedTable dim supplies its own log byte estimate: a tiny
    dim vtable short-circuits to broadcast even on a hot-keyed fact."""
    from energy_emissions_lakehouse_spark.operators.skew import SALT_COL

    vt = VersionedTable.create(
        spark, root, _keyed_skew(spark, 2000, 2), ndv_cols=["k"]
    )
    dim_vt = VersionedTable.create(
        spark, str(tmp_path / "dim"), _dim25(spark)
    )
    out = vt.join_skew_planned(dim_vt, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert SALT_COL not in plan and "BroadcastHashJoin" in plan
    assert out.count() == 2000


def test_mcv_fold_drops_removed_segments(spark, root):
    """A compaction/rewrite removes segments: their MCV entries must
    leave the fold (stats ride the ADDING commit; live-set filtered)."""
    vt = VersionedTable.create(
        spark, root, _keyed_skew(spark, 1000, 2), ndv_cols=["k"]
    )
    v_hot, n_hot = vt.table_mcv("k")
    assert v_hot == "7"
    # rewrite the whole table to a uniform distribution: the old hot
    # segment is gone, the fold must see only the new segment's MCV
    vt.overwrite(_keyed_skew(spark, 1000, 10**9))
    v2, n2 = vt.table_mcv("k")
    exact = {}
    for i in range(1000):
        k = 7 if i % 10**9 == 0 else i % 25
        exact[k] = exact.get(k, 0) + 1
    best = max(exact, key=lambda k: (exact[k], str(k)))
    assert (v2, n2) == (str(best), exact[best])
    # time travel still folds the OLD version's stats
    assert vt.table_mcv("k", 0) == (v_hot, n_hot)


def test_mcv_string_column(spark, root):
    df = spark.range(0, 100).select(
        F.when(F.col("id") % 3 == 0, F.lit("alpha"))
        .otherwise(F.concat(F.lit("x"), F.col("id")))
        .alias("s")
    )
    vt = VersionedTable.create(spark, root, df, ndv_cols=["s"])
    v, n = vt.table_mcv("s")
    assert v == "alpha" and n == 34


def test_racing_writers_publish_exact_checkpoints(spark, root):
    """Two writer threads racing idempotent appends across several
    checkpoint boundaries: whatever subset of checkpoints actually
    publishes (best-effort under contention), every published one must
    hydrate to exactly the genesis fold at its version."""
    import threading

    vt0 = VersionedTable.create(spark, root, _rows(spark, 0, 5))
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def worker(tid: int) -> None:
        try:
            vt = VersionedTable(spark, root)
            barrier.wait()
            for i in range(2 * CHECKPOINT_EVERY):
                batch = _rows(spark, 1000 * tid + 10 * i,
                              1000 * tid + 10 * i + 3)
                vt.idempotent_append(batch, f"src{tid}", i)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    ts = [threading.Thread(target=worker, args=(t,)) for t in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    fresh = VersionedTable(spark, root)
    head = fresh.latest_version()
    assert head == 4 * CHECKPOINT_EVERY  # every commit landed exactly once
    n_published = 0
    for cv in range(CHECKPOINT_EVERY, head + 1, CHECKPOINT_EVERY):
        if not os.path.exists(fresh._checkpoint_path(cv)):
            continue  # lost to a concurrent-commit race: legal
        n_published += 1
        ckpt = fresh._hydrate_checkpoint(_ckpt_raw(fresh, cv))
        genesis = fresh._replay(cv, use_checkpoint=False)
        live_g, dvs_g = genesis["live"], genesis["dvs"]
        assert sorted(ckpt["live"]) == sorted(live_g), f"v{cv} live"
        assert sorted(ckpt["dvs"]) == sorted(dvs_g), f"v{cv} dvs"
        assert set(ckpt["stats"]) == set(live_g), f"v{cv} stats"
        assert ckpt["txns"] == fresh._replay(
            cv, use_checkpoint=False
        )["txns"], f"v{cv} txns"
    assert n_published >= 1, "no checkpoint published across 4 boundaries"


def test_legacy_inline_checkpoint_upgrades_to_sidecars(spark, root):
    """An INLINE checkpoint on disk (the format before sidecars) is not
    a complete sidecar-form state: reads skip it and fold from genesis,
    and the NEXT checkpoint write upgrades to sidecar form with exact
    state."""
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 20))
    for i in range(1, CHECKPOINT_EVERY + 1):
        vt.append(_rows(spark, 100 * i, 100 * i + 5))
    # rewrite the sidecar checkpoint as the legacy inline form
    cpath = vt._checkpoint_path(CHECKPOINT_EVERY)
    hydrated = vt._hydrate_checkpoint(_ckpt_raw(vt, CHECKPOINT_EVERY))
    legacy = {
        k: hydrated[k]
        for k in ("version", "live", "txns", "dvs", "constraints",
                  "stats", "seg_commits", "pvs")
    }
    with open(cpath, "w") as fh:
        json.dump(legacy, fh)
    for n in _sidecar_files(root):  # r11 logs have no sidecar files
        os.unlink(os.path.join(root, vmod.LOG_DIR, n))
    # a FRESH handle skips the inline form; reads stay exact
    fresh = VersionedTable(spark, root)
    assert fresh._latest_checkpoint(CHECKPOINT_EVERY) is None
    assert fresh._replay(CHECKPOINT_EVERY)["live"] == (
        fresh._replay(CHECKPOINT_EVERY, use_checkpoint=False)["live"]
    )
    assert fresh.read(CHECKPOINT_EVERY).count() == 20 + 5 * CHECKPOINT_EVERY
    # drive to the next boundary: the new checkpoint must be sidecar
    # form (upgrade) and exact
    for i in range(CHECKPOINT_EVERY):
        fresh.append(_rows(spark, 5000 + 10 * i, 5000 + 10 * i + 5))
    head = fresh.latest_version()
    raw = _ckpt_raw(fresh, head)
    assert "sidecars" in raw and "live" not in raw
    up = fresh._hydrate_checkpoint(raw)
    assert sorted(up["live"]) == sorted(
        set(fresh._replay(head, use_checkpoint=False)["live"])
    )
    assert fresh.read().count() == 20 + 5 * (2 * CHECKPOINT_EVERY)


# ----------------------- startingVersion / startingTimestamp (Delta)

def _stream_all(spark, root, **opts):
    import tempfile as _tf

    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    reader = spark.readStream.format("eel_vtable").option("path", root)
    for k, v in opts.items():
        reader = reader.option(k, v)
    name = f"sv_{abs(hash((root, tuple(sorted(opts.items()))))) % 10**8}"
    q = (
        reader.load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", _tf.mkdtemp(prefix="sv-ck-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(r.k for r in spark.table(name).collect())
    spark.catalog.dropTempView(name)
    return rows


def test_starting_version_skips_history(spark, root):
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 5))
    vt.append(_rows(spark, 10, 15))
    vt.append(_rows(spark, 20, 25))
    assert _stream_all(spark, root, startingVersion="1") == list(
        range(10, 15)
    ) + list(range(20, 25))
    assert _stream_all(spark, root, startingVersion="2") == list(
        range(20, 25)
    )
    # from 0 == full replay
    assert len(_stream_all(spark, root, startingVersion="0")) == 15


def test_starting_version_past_head_idles(spark, root):
    vt = VersionedTable.create(spark, root, _rows(spark, 0, 5))
    assert _stream_all(spark, root, startingVersion="7") == []


def test_starting_timestamp_resolves_commit_boundary(spark, root):
    from energy_emissions_lakehouse_spark.operators.vtable import (
        read_commit,
    )

    vt = VersionedTable.create(spark, root, _rows(spark, 0, 5))
    vt.append(_rows(spark, 10, 15))
    ts1 = read_commit(root, 1)["ts"]
    # exactly at v1's ts -> v1 onward; just after -> nothing yet
    assert _stream_all(spark, root, startingTimestamp=str(ts1)) == list(
        range(10, 15)
    )
    assert _stream_all(
        spark, root, startingTimestamp=str(ts1 + 10.0)
    ) == []


def test_starting_version_and_timestamp_mutually_exclusive(spark, root):
    VersionedTable.create(spark, root, _rows(spark, 0, 3))
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        VtableStreamReader,
    )

    with pytest.raises(ValueError, match="mutually exclusive"):
        VtableStreamReader(
            root,
            VersionedTable(spark, root).read().schema,
            {"startingVersion": "1", "startingTimestamp": "0"},
        )
