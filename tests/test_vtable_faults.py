"""Adversarial fault injection for the vtable / catalog commit
protocol (operators/vtable.py, operators/catalog.py): writers killed
between segment write and commit, ``os.link`` failures mid-claim,
hard-crash scratch litter, a mis-configured vacuum racing an in-flight
writer, torn segment directories, catalog pointer-swap crashes, and
checkpoint write failures.  Invariants asserted throughout: the HEAD
READ STAYS SERVEABLE after every injected fault, every orphan is
eventually swept, and no fault can publish a reference to bytes that
do not exist (reference semantics:
/root/reference/src/30_load/load_to_postgres.py's engine.begin()
all-or-nothing contract, generalized to the file log)."""

from __future__ import annotations

import errno
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.operators import vtable as vt_mod
from energy_emissions_lakehouse_spark.operators.catalog import (
    TableCatalog,
)
from energy_emissions_lakehouse_spark.operators.vtable import (
    CHECKPOINT_EVERY,
    DATA_DIR,
    LOG_DIR,
    VersionedTable,
)


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="vtable-fault-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk(spark, root, n=20) -> VersionedTable:
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    return VersionedTable.create(spark, root, df)


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _log_scratch(root):
    return [
        n
        for n in os.listdir(os.path.join(root, LOG_DIR))
        if ".tmp-" in n
    ]


def test_writer_killed_between_segment_write_and_commit(spark, base):
    """A writer that dies after _write_segment but before _commit
    leaves ONLY an unreferenced segment directory: the head is
    untouched, reads never see the rows, vacuum keeps the orphan
    inside the in-flight grace window and sweeps it past it — and the
    sweep never disturbs live data."""
    root = os.path.join(base, "t")
    vt = _mk(spark, root, n=20)
    head = vt.latest_version()
    orphan = vt._write_segment(_batch(spark, 100, 110), head + 1)
    # "crash": no commit.  The head read serves exactly the old rows.
    assert vt.latest_version() == head
    assert vt.read().count() == 20
    # fresh orphan = potentially in-flight: protected at default grace
    assert orphan not in vt.vacuum(retain_last=1, dry_run=True)
    assert os.path.isdir(os.path.join(root, orphan))
    # past the grace window it is reclaimed (explicit zero = operator
    # override, the documented Delta retention-check analog)
    swept = vt.vacuum(retain_last=1, orphan_grace_s=0.0)
    assert orphan in swept
    assert not os.path.exists(os.path.join(root, orphan))
    assert vt.read().count() == 20  # live data untouched by the sweep
    # the table keeps working: the next writer claims the same slot
    assert vt.append(_batch(spark, 200, 205)) == head + 1
    assert vt.read().count() == 25


def test_commit_link_failure_leaves_no_trace_and_retry_wins(spark, base):
    """An os.link failure mid-claim (NFS hiccup / storage error, NOT
    the lost-race EEXIST) must abort the commit with the scratch file
    cleaned up, the log unextended, and the head serveable; a plain
    retry then succeeds."""
    root = os.path.join(base, "t")
    vt = _mk(spark, root, n=10)
    head = vt.latest_version()
    real_link = os.link

    def flaky_link(src, dst, *a, **kw):
        if root in str(dst):
            raise OSError(errno.EIO, "injected storage fault")
        return real_link(src, dst, *a, **kw)

    vt_mod.os.link = flaky_link
    try:
        with pytest.raises(OSError, match="injected storage fault"):
            vt.append(_batch(spark, 100, 105))
    finally:
        vt_mod.os.link = real_link
    assert vt.latest_version() == head  # log unextended
    assert _log_scratch(root) == []  # scratch unlinked on the way out
    assert vt.read().count() == 10
    # the failed attempt's segment is an orphan; retry writes its own
    assert vt.append(_batch(spark, 100, 105)) == head + 1
    assert vt.read().count() == 15
    # exactly one stranded segment from the failed attempt, sweepable
    swept = vt.vacuum(retain_last=10, orphan_grace_s=0.0)
    assert len([s for s in swept if s.startswith(DATA_DIR)]) == 1
    assert vt.read().count() == 15


def test_hard_crash_commit_scratch_is_swept_by_vacuum(spark, base):
    """A writer killed INSIDE _commit (after writing scratch, before
    the finally) strands a ``.tmp-`` file in the log dir.  _versions
    must ignore it (reads unaffected) and vacuum reclaims it past the
    grace window — fresh scratch survives (it may be a live committer
    microseconds from linking)."""
    root = os.path.join(base, "t")
    vt = _mk(spark, root, n=5)
    head = vt.latest_version()
    scratch = os.path.join(
        root, LOG_DIR, f"{head + 1:020d}.json.tmp-99999-deadbeef"
    )
    with open(scratch, "w") as fh:
        fh.write('{"torn": true')  # even torn JSON: it is never parsed
    assert vt.latest_version() == head
    assert vt.read().count() == 5
    # fresh: protected
    assert not any(
        LOG_DIR in d for d in vt.vacuum(retain_last=1, dry_run=True)
    )
    old = time.time() - 7200
    os.utime(scratch, (old, old))
    swept = vt.vacuum(retain_last=1)
    assert any(d.endswith("deadbeef") for d in swept)
    assert not os.path.exists(scratch)
    # and the slot is still claimable by a real writer
    assert vt.append(_batch(spark, 10, 12)) == head + 1


def test_misconfigured_vacuum_racing_inflight_writer_fails_loud(
    spark, base
):
    """THE corruption scenario the grace window exists for: a vacuum
    run with orphan_grace_s=0 sweeps an in-flight writer's segment
    between write and commit.  The commit must then REFUSE (loud
    FileNotFoundError) rather than publish a head that references
    vanished bytes — every subsequent read of the table stays
    serveable."""
    root = os.path.join(base, "t")
    vt = _mk(spark, root, n=8)
    head = vt.latest_version()
    inflight = vt._write_segment(_batch(spark, 100, 104), head + 1)
    # the rogue sweep (another process, grace misconfigured to zero)
    assert inflight in vt.vacuum(retain_last=1, orphan_grace_s=0.0)
    with pytest.raises(FileNotFoundError, match="vanished before"):
        vt._commit(
            head + 1,
            "append",
            add=[inflight],
            remove=[],
            schema=vt.read().schema,
        )
    assert vt.latest_version() == head  # the log never saw it
    assert vt.read().count() == 8  # head fully serveable
    assert _log_scratch(root) == []  # the refused commit left no litter
    assert vt.append(_batch(spark, 200, 203)) == head + 1  # recovery


def test_partial_segment_directory_never_breaks_reads(spark, base):
    """A segment directory torn mid-parquet-write (no _SUCCESS, junk
    bytes) is unreferenced by construction — reads ignore it, vacuum
    reclaims it past the grace window."""
    root = os.path.join(base, "t")
    vt = _mk(spark, root, n=12)
    torn = os.path.join(root, DATA_DIR, "00000000000000000099-torn0000")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as fh:
        fh.write(b"\x00NOT-A-PARQUET-FOOTER")
    assert vt.read().count() == 12
    old = time.time() - 7200
    os.utime(torn, (old, old))
    rel = os.path.join(DATA_DIR, os.path.basename(torn))
    assert rel in vt.vacuum(retain_last=1)
    assert not os.path.exists(torn)
    assert vt.read().count() == 12


def test_catalog_pointer_swap_crash_publishes_nothing(spark, base):
    """A multi-table transaction whose CATALOG commit dies mid-claim
    (os.link fault on the pointer map) publishes NOTHING: both tables
    read at the old cut, the catalog log is unextended and scratch-
    free, and a fresh transaction replays the work successfully —
    nothing from the failed attempt rides into its lineage."""
    import energy_emissions_lakehouse_spark.operators.catalog as cat_mod

    a = VersionedTable.create(
        spark,
        os.path.join(base, "a"),
        spark.range(10).select(F.col("id").alias("k")),
    )
    b = VersionedTable.create(
        spark,
        os.path.join(base, "b"),
        spark.range(5).select(F.col("id").alias("k")),
    )
    cat = TableCatalog.create(spark, base, {"a": a.root, "b": b.root})
    cat_head = cat.latest_version()
    txn = cat.begin()
    txn.table("a").append(spark.createDataFrame([(111,)], "k bigint"))
    txn.table("b").append(spark.createDataFrame([(222,)], "k bigint"))
    real_link = os.link
    cat_dir = os.path.join(base, "_catalog")

    def flaky_link(src, dst, *args, **kw):
        if cat_dir in str(dst):
            raise OSError(errno.EIO, "injected catalog fault")
        return real_link(src, dst, *args, **kw)

    cat_mod.os.link = flaky_link
    try:
        with pytest.raises(OSError, match="injected catalog fault"):
            txn.commit()
    finally:
        cat_mod.os.link = real_link
    assert cat.latest_version() == cat_head  # pointer map unmoved
    assert cat.read("a").count() == 10 and cat.read("b").count() == 5
    assert not any(".tmp-" in n for n in os.listdir(cat_dir))
    # recovery: a FRESH transaction (failed branches are orphans)
    retry = cat.begin()
    retry.table("a").append(spark.createDataFrame([(111,)], "k bigint"))
    retry.table("b").append(spark.createDataFrame([(222,)], "k bigint"))
    v = retry.commit()
    assert v == cat_head + 1
    assert cat.read("a").count() == 11 and cat.read("b").count() == 6
    # exactly one row landed per table: the dead branch leaked nothing
    assert cat.read("a").where("k = 111").count() == 1


def test_checkpoint_write_failure_never_fails_the_commit(spark, base):
    """Checkpoints are best-effort: an os.rename fault while publishing
    the checkpoint must NOT fail the data commit, must leave no
    scratch litter, and later snapshot resolution just replays a
    longer tail — bit-identical results."""
    root = os.path.join(base, "t")
    vt = _mk(spark, root, n=2)
    real_rename = os.rename

    def flaky_rename(src, dst, *a, **kw):
        if dst.endswith(".checkpoint.json"):
            raise OSError(errno.EIO, "injected checkpoint fault")
        return real_rename(src, dst, *a, **kw)

    vt_mod.os.rename = flaky_rename
    try:
        for i in range(CHECKPOINT_EVERY + 2):
            vt.append(_batch(spark, 100 + 10 * i, 105 + 10 * i))
    finally:
        vt_mod.os.rename = real_rename
    head = vt.latest_version()
    assert head >= CHECKPOINT_EVERY
    ckpts = [
        n
        for n in os.listdir(os.path.join(root, LOG_DIR))
        if n.endswith(".checkpoint.json")
    ]
    assert ckpts == []  # every checkpoint publish was injected dead
    assert _log_scratch(root) == []
    assert vt.read().count() == 2 + 5 * (CHECKPOINT_EVERY + 2)
    assert set(vt._replay(head)["live"]) == set(vt._replay(
        head, use_checkpoint=False
    )["live"])


def test_chaos_soak_dml_under_rogue_zero_grace_vacuum(spark, base):
    """Chaos composition of the two suites: writer threads run mixed
    DML while a rogue thread loops vacuum(orphan_grace_s=0) — the
    mis-configuration that reaps in-flight files between write and
    commit.  The protocol guarantee under this abuse is NOT that ops
    succeed first try (they may be refused loudly mid-flight, or lose
    their snapshot's files to the aggressive retention) but that NO
    refused/raced attempt ever corrupts the table: a whole-op re-run
    eventually lands, the final state matches every thread's model
    exactly, the history is contiguous, and the head read serves."""
    import threading

    n_threads, n_ops = 3, 10
    root = os.path.join(base, "t")
    vt0 = _mk(spark, root, n=4)
    assert vt0.latest_version() == 0
    stop = threading.Event()
    errors: list = []
    results: list[dict] = []
    refusals = {"count": 0}

    def rogue_vacuum() -> None:
        # continuous aggressive sweeps at a grace barely above the
        # write-to-commit latency: true orphans are reaped almost
        # immediately, in-flight writers are protected only by the
        # grace margin and the TOCTOU refresh.  (grace=0 under
        # concurrent writers is UNSAFE BY DESIGN — any in-flight file
        # is older than zero, so a tight zero-grace loop livelocks
        # every writer and can reap a mid-sweep commit in the residual
        # microsecond window; the grace window is the documented
        # protection, exactly like Delta's retention check.)
        vt = VersionedTable(spark, root)
        while not stop.is_set():
            try:
                vt.vacuum(retain_last=2, orphan_grace_s=2.5)
            except Exception:  # noqa: BLE001 - chaos agent, best effort
                pass
            stop.wait(1.0)

    def worker(tid: int) -> None:
        try:
            vt = VersionedTable(spark, root)
            lo = (tid + 1) * 1_000_000
            model: dict[int, int] = {}
            for i in range(n_ops):
                for attempt in range(120):
                    try:
                        if i % 3 == 2 and model:
                            victim = min(model)
                            vt.delete_where_mor(f"k = {victim}")
                            model.pop(victim)
                        else:
                            keys = [lo + 10 * i + j for j in range(3)]
                            vt.append(
                                spark.createDataFrame(
                                    [(k, i) for k in keys],
                                    "k bigint, v bigint",
                                )
                            )
                            for k in keys:
                                model[k] = i
                        break
                    except FileNotFoundError:
                        # in-flight files reaped (commit refused loudly)
                        refusals["count"] += 1
                    except Exception as exc:  # noqa: BLE001
                        # ConcurrentCommitError, or a Spark job that
                        # lost its snapshot's files to the aggressive
                        # retention — both re-run the whole op
                        name = type(exc).__name__
                        if "ConcurrentCommit" not in name:
                            refusals["count"] += 1
                else:
                    raise AssertionError(f"thread {tid} starved")
            results.append({"tid": tid, "lo": lo, "model": model})
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    rogue = threading.Thread(target=rogue_vacuum)
    rogue.start()
    threads = [
        threading.Thread(target=worker, args=(t,))
        for t in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    rogue.join()
    assert not errors, errors[:3]
    vt = VersionedTable(spark, root)
    head = vt.latest_version()
    assert vt._versions() == list(range(head + 1))  # contiguous log
    rows = {r.k: r.v for r in vt.read().collect()}  # head serves
    for s in results:
        got = {
            k: v
            for k, v in rows.items()
            if s["lo"] <= k < s["lo"] + 1_000_000
        }
        assert got == s["model"], f"thread {s['tid']} diverged"
    print(
        f"\nCHAOS commits={head} loud_refusals_or_lost_snapshots="
        f"{refusals['count']} (all recovered by whole-op re-run)"
    )


def test_vacuum_toctou_refresh_rescues_midsweep_commit(spark, base):
    """The sweep's keep/ever sets are computed ONCE; a commit landing
    mid-sweep references files in neither set, and before round 9 a
    backdated in-flight segment committed during the sweep would be
    deleted — silently breaking the new head.  The pre-delete refresh
    must re-read the log tail and rescue it.  Injected by committing
    from inside the sweep's first getmtime probe (which runs after the
    fold, before the refresh)."""
    root = os.path.join(base, "t")
    vt = _mk(spark, root, n=6)
    head = vt.latest_version()
    rel = vt._write_segment(_batch(spark, 100, 104), head + 1)
    # backdate the in-flight segment PAST any grace: only the refresh
    # can save it now
    old = time.time() - 7200
    os.utime(os.path.join(root, rel), (old, old))
    schema = vt.read().schema
    state = {"committed": False}
    real_getmtime = os.path.getmtime

    def commit_then_stat(path):
        if not state["committed"] and os.path.basename(rel) in str(path):
            state["committed"] = True
            vt._commit(head + 1, "append", add=[rel], remove=[],
                       schema=schema)
        return real_getmtime(path)

    vt_mod.os.path.getmtime = commit_then_stat
    try:
        sweeper = VersionedTable(spark, root)
        deleted = sweeper.vacuum(retain_last=10, orphan_grace_s=3600.0)
    finally:
        vt_mod.os.path.getmtime = real_getmtime
    assert state["committed"], "injection never fired"
    assert rel not in deleted  # rescued by the refresh
    assert os.path.isdir(os.path.join(root, rel))
    assert vt.latest_version() == head + 1
    assert vt.read().count() == 10  # the mid-sweep commit serves fully


def test_torn_clone_crash_mid_data_walk_then_reclone_succeeds(
    spark, base, monkeypatch
):
    """A cloner killed while hard-linking DATA files (before any log
    name lands) must leave NOTHING that looks like a table — and a
    re-clone into the SAME dest must succeed (the FileExistsError-pass
    path re-links what landed) and serve the head exactly.  The log
    lands LAST by design: this test pins that ordering's payoff."""
    root = os.path.join(base, "t")
    vt = _mk(spark, root, n=6)
    vt.append(_batch(spark, 100, 104))
    dest = os.path.join(base, "c")

    real_link = os.link
    calls = {"n": 0}

    def chaos_link(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # die mid-walk, before the log starts
            raise RuntimeError("chaos: cloner killed")
        real_link(src, dst)

    monkeypatch.setattr(os, "link", chaos_link)
    with pytest.raises(RuntimeError, match="chaos"):
        vt.clone_to(dest)
    monkeypatch.setattr(os, "link", real_link)

    # not a table: no log dir, so opening it cannot serve anything
    assert not os.path.isdir(os.path.join(dest, LOG_DIR))
    # and the same dest is re-clonable (partial data links are benign)
    c = vt.clone_to(dest)
    assert {(r.k, r.v) for r in c.read().collect()} == {
        (r.k, r.v) for r in vt.read().collect()
    }


def test_torn_clone_crash_mid_log_is_a_consistent_prefix(
    spark, base, monkeypatch
):
    """A cloner killed while linking LOG names leaves a log PREFIX —
    and because every data file landed before any log name (and log
    names link in sorted version order), that prefix is a fully
    consistent EARLIER snapshot: the torn clone reads exactly like
    time travel to its last linked version.  Never a torn/unserveable
    state."""
    root = os.path.join(base, "t")
    vt = _mk(spark, root, n=6)
    vt.append(_batch(spark, 100, 104))   # v1
    vt.append(_batch(spark, 200, 204))   # v2
    dest = os.path.join(base, "c")

    real_link = os.link
    state = {"log_links": 0}

    def chaos_link(src, dst):
        if os.sep + LOG_DIR + os.sep in dst:
            state["log_links"] += 1
            if state["log_links"] == 3:  # 0 and 1 land; die before v2
                raise RuntimeError("chaos: cloner killed mid-log")
        real_link(src, dst)

    monkeypatch.setattr(os, "link", chaos_link)
    with pytest.raises(RuntimeError, match="chaos"):
        vt.clone_to(dest)
    monkeypatch.setattr(os, "link", real_link)

    torn = VersionedTable(spark, dest)
    assert torn.latest_version() == 1  # the linked prefix
    assert {(r.k, r.v) for r in torn.read().collect()} == {
        (r.k, r.v) for r in vt.read(1).collect()
    }, "torn clone must equal time travel to its prefix head"


def test_clone_racing_vacuum_skips_vanished_file_loudly(
    spark, base, monkeypatch
):
    """A file vacuumed away MID-CLONE is skipped (the _link
    FileNotFoundError branch): the clone still completes and serves its
    HEAD — only reads of the affected OLD version fail, loudly, exactly
    like time travel past a vacuum on the source."""
    root = os.path.join(base, "t")
    vt = _mk(spark, root, n=6)          # v0: segment A
    vt.overwrite(_batch(spark, 100, 104))  # v1: segment B, A now historic
    dest = os.path.join(base, "c")

    # find v0's (historic) segment: referenced by v0, not live at head
    live = set(vt._replay()["live"])
    v0_segs = set(vt._read_commit(0)["add"]) - live
    assert v0_segs
    victim = next(iter(v0_segs))

    real_link = os.link

    def chaos_link(src, dst):
        if victim in src:
            raise FileNotFoundError(src)  # "vacuum got there first"
        real_link(src, dst)

    monkeypatch.setattr(os, "link", chaos_link)
    c = vt.clone_to(dest)  # completes despite the vanished historic file
    monkeypatch.setattr(os, "link", real_link)

    assert {(r.k, r.v) for r in c.read().collect()} == {
        (r.k, r.v) for r in vt.read().collect()
    }, "clone head must serve"
    with pytest.raises(Exception, match="(?i)missing|vacuum|not.*found"):
        c.read(0).collect()  # the affected old version fails LOUDLY
