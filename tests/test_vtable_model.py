"""Model-checked DML sequences: a seeded random program of table
operations runs against BOTH the versioned table and a trivial
in-memory model (a dict of key→value), asserting after EVERY op that
the head read equals the model — and at the end that TIME TRAVEL to
every intermediate version reproduces that version's model snapshot
exactly (the linearizable-history check, content edition: the log is
not just gap-free, each version serves precisely the state the op
sequence had produced).

Ops drawn: append (fresh keys), append (duplicate-key rows — the table
is a multiset, modeled as counts), COW delete_where, MOR
delete_where_mor, COW update_where, MOR update_where_mor, overwrite,
compact, restore (to a random earlier version), plus no-op DML on
never-matching predicates.  Deterministic seed — failures reproduce.

Reference contract: /root/reference/SQL tables are plain multisets
with UPDATE/DELETE semantics; this pins the engine's versioned
implementation to the same observable behavior through every execution
shape (copy-on-write, merge-on-read, rewrite, metadata-only restore).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.operators import vtable as vt_mod
from energy_emissions_lakehouse_spark.operators.vtable import VersionedTable

N_OPS = int(os.environ.get("EEL_MODEL_OPS", "26"))
SEED = 0xEE1


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="vtable-model-")
    yield os.path.join(d, "t")
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v bigint")


def _snapshot(model: dict[int, list[int]]) -> dict[int, tuple[int, ...]]:
    """Freeze the multiset model {k: sorted values} for later replay."""
    return {k: tuple(sorted(vs)) for k, vs in model.items() if vs}


def _table_state(vt, version=None) -> dict[int, tuple[int, ...]]:
    out: dict[int, list[int]] = {}
    for r in vt.read(version).collect():
        out.setdefault(r.k, []).append(r.v)
    return {k: tuple(sorted(vs)) for k, vs in out.items()}


def _assert_noop_dml(vt):
    """Never-matching predicates: all four predicate DML shapes must be
    commit-free (the head version may not move)."""
    head = vt.latest_version()
    assert vt.delete_where("k = -1") == head
    assert vt.update_where("k = -1", {"v": F.lit(0)}) == head
    assert vt.delete_where_mor("k = -1") == head
    assert vt.update_where_mor("k = -1", {"v": F.lit(0)}) == head
    assert vt.latest_version() == head


def test_random_dml_program_matches_model_and_history(spark, root):
    rng = random.Random(SEED)
    model: dict[int, list[int]] = {1: [10], 2: [20], 3: [30]}
    vt = VersionedTable.create(
        spark, root, _df(spark, [(1, 10), (2, 20), (3, 30)])
    )
    # version -> expected state (only versions that changed data)
    history: dict[int, dict[int, tuple[int, ...]]] = {
        0: _snapshot(model)
    }
    next_key = 100
    for step in range(N_OPS):
        op = rng.choice(
            [
                "append",
                "append",
                "append_dup",
                "delete_cow",
                "delete_mor",
                "update_cow",
                "update_mor",
                "overwrite",
                "compact",
                "restore",
                "noop_dml",
            ]
        )
        if op == "append":
            rows = [(next_key + i, (next_key + i) * 7) for i in range(3)]
            next_key += 3
            vt.append(_df(spark, rows))
            for k, v in rows:
                model.setdefault(k, []).append(v)
        elif op == "append_dup":
            live = [k for k, vs in model.items() if vs]
            if not live:
                continue
            k = rng.choice(live)
            vt.append(_df(spark, [(k, k * 11)]))
            model[k].append(k * 11)
        elif op in ("delete_cow", "delete_mor"):
            live = [k for k, vs in model.items() if vs]
            if not live:
                continue
            k = rng.choice(live)
            cond = f"k = {k}"
            v = (
                vt.delete_where(cond)
                if op == "delete_cow"
                else vt.delete_where_mor(cond)
            )
            model[k] = []
        elif op in ("update_cow", "update_mor"):
            live = [k for k, vs in model.items() if vs]
            if not live:
                continue
            k = rng.choice(live)
            cond, setex = f"k = {k}", {"v": F.expr("v + 1")}
            (
                vt.update_where(cond, setex)
                if op == "update_cow"
                else vt.update_where_mor(cond, setex)
            )
            model[k] = [v + 1 for v in model[k]]
        elif op == "overwrite":
            rows = [(next_key, next_key * 3), (next_key + 1, 0)]
            next_key += 2
            vt.overwrite(_df(spark, rows))
            model = {}
            for k, v in rows:
                model.setdefault(k, []).append(v)
        elif op == "compact":
            vt.compact()
        elif op == "restore":
            target = rng.choice(sorted(history))
            vt.restore(target)
            model = {
                k: list(vs) for k, vs in history[target].items()
            }
        elif op == "noop_dml":
            _assert_noop_dml(vt)
        head = vt.latest_version()
        snap = _snapshot(model)
        got = _table_state(vt)
        assert got == snap, f"step {step} op {op}: head != model"
        history[head] = snap
    _assert_noop_dml(vt)  # whether or not the seed drew the op
    # ---- time travel: EVERY recorded version replays its exact state
    for v, snap in sorted(history.items()):
        assert _table_state(vt, v) == snap, f"time travel to v{v} diverged"
    # ---- and the change feed spans the whole history without gaps
    assert vt._versions() == list(range(vt.latest_version() + 1))
    # ---- round 12: whatever random program ran, every checkpoint's
    # hydrated sidecar state must equal the genesis fold at its version
    # (restores, full rewrites, MOR DVs, compactions included)
    head = vt.latest_version()
    for cv in range(0, head + 1):
        if cv == 0 or cv % vt_mod.CHECKPOINT_EVERY != 0:
            continue
        if not os.path.exists(vt._checkpoint_path(cv)):
            continue  # best-effort publishes may legitimately be absent
        ckpt = vt._hydrate_checkpoint(
            json.load(open(vt._checkpoint_path(cv)))
        )
        genesis = vt._replay(cv, use_checkpoint=False)
        live_g, dvs_g = genesis["live"], genesis["dvs"]
        assert sorted(ckpt["live"]) == sorted(live_g), f"ckpt v{cv} live"
        assert sorted(ckpt["dvs"]) == sorted(dvs_g), f"ckpt v{cv} dvs"
        assert set(ckpt["stats"]) == set(live_g), f"ckpt v{cv} stats"


# --------------------------------------------------------------------------
# Evolution-aware program: the round-9 extension.  Adds to the op pool the
# surfaces the first checker left out — schema evolution (append_evolve,
# with RESTORE narrowing the schema back across the boundary), COW + MOR
# MERGE, compact_dvs, full-retention vacuum (must reclaim NOTHING a
# retained read needs), and a mid-program zero-copy CLONE whose snapshot
# must stay bit-stable while the source keeps mutating.  The model gains a
# schema bit: values are (v, w) pairs with w=None wherever the row predates
# the live evolution — and the end-of-run replay asserts BOTH the data and
# the per-version SCHEMA (pre-evolution versions must not serve column w).


def _df3(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v bigint, w bigint")


def _state_ev(vt, version=None):
    """{k: sorted multiset of (v, w)} with w=None when absent from the
    served schema."""
    out: dict[int, list[tuple]] = {}
    for r in vt.read(version).collect():
        d = r.asDict()
        out.setdefault(d["k"], []).append((d["v"], d.get("w")))
    return {k: tuple(sorted(vs)) for k, vs in out.items()}


def _snap_ev(model: dict[int, list[tuple]]) -> dict[int, tuple]:
    return {k: tuple(sorted(vs)) for k, vs in model.items() if vs}


def test_random_program_with_evolution_merge_and_clone(spark, root):
    rng = random.Random(SEED ^ 0x9)
    n_ops = int(os.environ.get("EEL_MODEL_EV_OPS", "40"))
    model: dict[int, list[tuple]] = {1: [(10, None)], 2: [(20, None)]}
    vt = VersionedTable.create(spark, root, _df(spark, [(1, 10), (2, 20)]))
    has_w = False
    history: dict[int, dict[int, tuple]] = {0: _snap_ev(model)}
    history_has_w: dict[int, bool] = {0: False}
    clone = clone_snap = clone_has_w = None
    next_key = 100

    def mkdf(rows):
        # rows: (k, v, w) triples; project to the CURRENT schema
        if has_w:
            return _df3(spark, rows)
        return _df(spark, [(k, v) for k, v, _ in rows])

    for step in range(n_ops):
        op = rng.choice(
            [
                "append", "append", "evolve", "delete_cow", "delete_mor",
                "update_cow", "update_mor", "merge_cow", "merge_mor",
                "compact", "compact_dvs", "restore", "vacuum_full_retention",
                "clone",
            ]
        )
        if op == "append":
            rows = [
                (next_key + i, (next_key + i) * 7, (next_key + i) * 13)
                for i in range(2)
            ]
            next_key += 2
            vt.append(mkdf(rows))
            for k, v, w in rows:
                model.setdefault(k, []).append((v, w if has_w else None))
        elif op == "evolve":
            if has_w:
                continue  # already wide — nothing to evolve
            rows = [(next_key, next_key * 7, next_key * 13)]
            next_key += 1
            vt.append_evolve(_df3(spark, rows))
            has_w = True
            for k, v, w in rows:
                model.setdefault(k, []).append((v, w))
        elif op in ("delete_cow", "delete_mor"):
            live = [k for k, vs in model.items() if vs]
            if not live:
                continue
            k = rng.choice(live)
            cond = f"k = {k}"
            (vt.delete_where if op == "delete_cow" else vt.delete_where_mor)(
                cond
            )
            model[k] = []
        elif op in ("update_cow", "update_mor"):
            live = [k for k, vs in model.items() if vs]
            if not live:
                continue
            k = rng.choice(live)
            cond, setex = f"k = {k}", {"v": F.expr("v + 1")}
            (vt.update_where if op == "update_cow" else vt.update_where_mor)(
                cond, setex
            )
            model[k] = [(v + 1, w) for v, w in model[k]]
        elif op in ("merge_cow", "merge_mor"):
            live = [k for k, vs in model.items() if vs]
            ks = ([rng.choice(live)] if live else []) + [next_key]
            next_key += 1
            rows = [(k, k * 5, k * 17) for k in ks]
            src = mkdf(rows)
            (vt.merge_upsert if op == "merge_cow" else vt.merge_upsert_mor)(
                src, keys=["k"]
            )
            # source wins: ALL target rows of a matched key are replaced
            # by the single source row; new keys insert
            for k, v, w in rows:
                model[k] = [(v, w if has_w else None)]
        elif op == "compact":
            vt.compact()
        elif op == "compact_dvs":
            vt.compact_dvs()
        elif op == "restore":
            target = rng.choice(sorted(history))
            vt.restore(target)
            model = {k: list(vs) for k, vs in history[target].items()}
            has_w = history_has_w[target]
        elif op == "vacuum_full_retention":
            # retain every version: vacuum must reclaim NOTHING a read
            # needs, and every prior head must stay replayable after it
            deleted = vt.vacuum(retain_last=10_000)
            assert deleted == [], deleted
        elif op == "clone":
            if clone is not None:
                continue  # one clone per program
            clone = vt.clone_to(os.path.join(os.path.dirname(root), "c"))
            clone_snap = _snap_ev(model)
            clone_has_w = has_w

        head = vt.latest_version()
        got = _state_ev(vt)
        assert got == _snap_ev(model), f"step {step} op {op}: head != model"
        assert ("w" in vt.read().columns) == has_w, f"step {step}: schema"
        history[head] = _snap_ev(model)
        history_has_w[head] = has_w

    # ---- full-history replay: data AND schema per version
    for v in sorted(history):
        assert _state_ev(vt, v) == history[v], f"time travel to v{v}"
        assert ("w" in vt.read(v).columns) == history_has_w[v], (
            f"schema at v{v}"
        )
    assert vt._versions() == list(range(vt.latest_version() + 1))

    # ---- the clone froze its snapshot; divergence is two-way isolated
    if clone is not None:
        assert _state_ev(clone) == clone_snap, "source mutations leaked"
        assert ("w" in clone.read().columns) == clone_has_w
        src_head = vt.latest_version()
        clone.append(
            _df3(spark, [(999_999, 1, 1)])
            if clone_has_w
            else _df(spark, [(999_999, 1)])
        )
        assert vt.latest_version() == src_head, "clone commit leaked back"
        assert 999_999 not in _state_ev(vt), "clone data leaked back"


# --------------------------------------------------------------------------
# DDL-aware program: the round-9-tail extension.  Adds metadata-only
# RENAME and DROP COLUMN to the op pool — the model tracks the CURRENT
# name of the value column (and whether it is dropped) per version, and
# the end-of-run replay asserts data AND column names at every version,
# including across restore boundaries that revert both.


def test_random_program_with_rename_and_drop(spark, root):
    rng = random.Random(SEED ^ 0xDD1)
    n_ops = int(os.environ.get("EEL_MODEL_DDL_OPS", "34"))
    # model: {k: multiset of v-values}; vname: current logical name of
    # the value column, or None when dropped
    model: dict[int, list[int]] = {1: [10], 2: [20]}
    vt = VersionedTable.create(spark, root, _df(spark, [(1, 10), (2, 20)]))
    vname: str | None = "v"
    retired: set[str] = set()
    fresh_names = iter(f"v{i}" for i in range(1, 1000))
    history: dict[int, dict] = {
        0: {"snap": _snapshot(model), "vname": vname}
    }

    def read_state():
        out: dict[int, list[int]] = {}
        for r in vt.read().collect():
            d = r.asDict()
            out.setdefault(d["k"], []).append(
                d[vname] if vname is not None else None
            )
        return {k: tuple(sorted(vs)) for k, vs in out.items()}

    next_key = 100
    for step in range(n_ops):
        op = rng.choice(
            [
                "append", "append", "rename", "rename", "drop",
                "delete_mor", "update_cow", "restore", "noop",
            ]
        )
        if op == "append":
            k = next_key
            next_key += 1
            if vname is None:
                vt.append(spark.createDataFrame([(k,)], "k bigint"))
                model.setdefault(k, []).append(None)
            else:
                vt.append(
                    spark.createDataFrame(
                        [(k, k * 7)], f"k bigint, {vname} bigint"
                    )
                )
                model.setdefault(k, []).append(k * 7)
        elif op == "rename":
            if vname is None:
                continue
            new = next(fresh_names)
            retired.add(vname)
            vt.rename_column(vname, new)
            vname = new
        elif op == "drop":
            if vname is None:
                continue
            retired.add(vname)
            vt.drop_column(vname)
            vname = None
            # all values become unobservable; the model keeps row
            # EXISTENCE (k multiplicity) with None values
            model = {k: [None] * len(vs) for k, vs in model.items()}
        elif op == "delete_mor":
            live = [k for k, vs in model.items() if vs]
            if not live:
                continue
            k = rng.choice(live)
            vt.delete_where_mor(f"k = {k}")
            model[k] = []
        elif op == "update_cow":
            if vname is None:
                continue
            live = [k for k, vs in model.items() if vs]
            if not live:
                continue
            k = rng.choice(live)
            vt.update_where(
                f"k = {k}", {vname: F.expr(f"{vname} + 1")}
            )
            model[k] = [v + 1 if v is not None else None for v in model[k]]
        elif op == "restore":
            target = rng.choice(sorted(history))
            vt.restore(target)
            model = {
                k: list(vs) for k, vs in history[target]["snap"].items()
            }
            vname = history[target]["vname"]
            # restore does NOT un-retire names (the dropped/rename
            # records revert to the target's, but our test-side retired
            # set stays conservative — fresh names only)
        elif op == "noop":
            head = vt.latest_version()
            assert vt.delete_where_mor("k = -1") == head

        head = vt.latest_version()
        got = read_state()
        want = {k: tuple(sorted(vs)) for k, vs in model.items() if vs}
        assert got == want, f"step {step} op {op}"
        expect_cols = ["k"] + ([vname] if vname is not None else [])
        assert vt.read().columns == expect_cols, f"step {step} cols"
        history[head] = {"snap": _snapshot(model), "vname": vname}

    # ---- replay: every version serves its own data AND column names
    for v in sorted(history):
        rec = history[v]
        cols = vt.read(v).columns
        expect = ["k"] + ([rec["vname"]] if rec["vname"] else [])
        assert cols == expect, f"v{v}: {cols} != {expect}"
        out: dict[int, list] = {}
        for r in vt.read(v).collect():
            d = r.asDict()
            out.setdefault(d["k"], []).append(
                d[rec["vname"]] if rec["vname"] else None
            )
        got = {k: tuple(sorted(vs)) for k, vs in out.items()}
        assert got == rec["snap"], f"time travel to v{v} diverged"
    assert vt._versions() == list(range(vt.latest_version() + 1))
