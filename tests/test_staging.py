"""Behavior pins for the engine's cache policy (fsutil): the on-disk
build-once staging layer, its consumers (co-purchase pair index, PQ
model, jaccard pairs, stream sources), and the per-session memo.

The staging contract: a keyed directory is trusted only with its
_SUCCESS marker; warm hits never re-run builders; `fresh` forces a cold
rebuild; queries that override session conf must restore it.

The memo contract: same session + same source version -> same handle;
touching a source rebuilds; results are never cached (actions re-read the
files); threads sharing a session get one handle per key; the memo stays
within its bound; no module keeps an ad-hoc memo or stager of its own.
"""

from __future__ import annotations

import ast
import os
import shutil
import uuid

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import energy_emissions_lakehouse_spark
from energy_emissions_lakehouse_spark import tables
from energy_emissions_lakehouse_spark.fsutil import (
    SESSION_MEMO_MAX,
    session_memo_keys,
    staged_tables,
    staging_dir,
    table_cache_key,
)
from energy_emissions_lakehouse_spark.queries import text as text_q
from energy_emissions_lakehouse_spark.queries import vectors as vec_q
from energy_emissions_lakehouse_spark.tables import t


def _family() -> str:
    return f"testfam-{uuid.uuid4().hex[:8]}"


def test_staged_tables_cold_build_then_warm_reuse(spark):
    fam = _family()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).select(F.col("id").alias("v"))

    try:
        out1 = staged_tables(spark, fam, "k1", {"t": build})["t"]
        assert sorted(r.v for r in out1.collect()) == [0, 1, 2, 3, 4]
        assert calls["n"] == 1
        # warm: the marker exists, so the builder must NOT run again
        out2 = staged_tables(spark, fam, "k1", {"t": build})["t"]
        assert sorted(r.v for r in out2.collect()) == [0, 1, 2, 3, 4]
        assert calls["n"] == 1
    finally:
        shutil.rmtree(staging_dir(fam), ignore_errors=True)


def test_staged_tables_fresh_forces_rebuild(spark):
    fam = _family()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3)

    try:
        staged_tables(spark, fam, "k1", {"t": build})
        staged_tables(spark, fam, "k1", {"t": build}, fresh=True)
        assert calls["n"] == 2
    finally:
        shutil.rmtree(staging_dir(fam), ignore_errors=True)


def test_staged_tables_distrusts_unmarked_directory(spark):
    """A keyed dir without _SUCCESS is a partial build (crashed writer,
    squatter) — it must be rebuilt, never trusted."""
    fam = _family()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(2)

    try:
        base = os.path.join(staging_dir(fam), "k1")
        os.makedirs(os.path.join(base, "t"))  # partial: no marker
        out = staged_tables(spark, fam, "k1", {"t": build})["t"]
        assert calls["n"] == 1
        assert out.count() == 2
        assert os.path.isfile(os.path.join(base, "_SUCCESS"))
    finally:
        shutil.rmtree(staging_dir(fam), ignore_errors=True)


def test_table_cache_key_is_stable_and_part_sensitive(sf_dir):
    k1 = table_cache_key(sf_dir, "lineitem", "pairs")
    k2 = table_cache_key(sf_dir, "lineitem", "pairs")
    k3 = table_cache_key(sf_dir, "lineitem", "other")
    assert k1 == k2
    assert k1 != k3


def test_staged_copurchase_pairs_match_direct_computation(spark, sf_dir):
    """The staged index must be value-identical to the on-the-fly pair
    aggregation it replaces (same (pa, pb, cocnt) multiset)."""
    from energy_emissions_lakehouse_spark.queries.graph import (
        _copurchase_pairs,
        _order_parts,
        _staged_copurchase_pairs,
    )

    staged = sorted(
        (r.pa, r.pb, r.cocnt)
        for r in _staged_copurchase_pairs(spark, sf_dir).collect()
    )
    direct = sorted(
        (r.pa, r.pb, r.cocnt)
        for r in _copurchase_pairs(_order_parts(spark, sf_dir)).collect()
    )
    assert staged == direct
    assert len(staged) > 0


def test_kcore_restores_shuffle_partitions(spark, sf_dir):
    """kcore_copurchase runs its peeling loop under a loop-local
    shuffle-partitions override; the caller's setting must survive."""
    from energy_emissions_lakehouse_spark.queries.graph import (
        kcore_copurchase,
    )

    sentinel = "57"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", sentinel)
    try:
        df = kcore_copurchase(spark, sf_dir)
        assert spark.conf.get("spark.sql.shuffle.partitions") == sentinel
        # the returned census is already materialized (checkpointed inside
        # the override) — collecting it must not depend on session conf
        assert df.count() >= 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == sentinel
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_staged_tables_failed_builder_leaves_no_litter(spark):
    """A builder that raises must clean its tmp dir and leave the keyed
    dir unmarked, so the next call rebuilds from scratch."""
    import glob

    import pytest

    fam = _family()

    def boom():
        raise RuntimeError("builder failed")

    try:
        root = staging_dir(fam)
        with pytest.raises(RuntimeError, match="builder failed"):
            staged_tables(spark, fam, "k1", {"t": boom})
        assert glob.glob(os.path.join(root, "k1.tmp-*")) == []
        assert not os.path.isfile(os.path.join(root, "k1", "_SUCCESS"))
        # recovery: a working builder now succeeds under the same key
        out = staged_tables(
            spark, fam, "k1", {"t": lambda: spark.range(4)}
        )["t"]
        assert out.count() == 4
    finally:
        shutil.rmtree(staging_dir(fam), ignore_errors=True)


def test_oracle_float_columns_always_cast_to_double():
    """Exactness-policy tripwire (round-5 lesson): DuckDB keeps
    FLOAT * k in float32, whose product can cross a rounding boundary the
    double product doesn't — embeddings.embedding is the testdata's only
    float32 column, so every oracle element access on it must be wrapped
    in CAST(... AS DOUBLE) (or access the DOUBLE[]-cast array)."""
    import re

    from energy_emissions_lakehouse_spark.registry import all_oracle_sql

    # every element access must be the cast TARGET, i.e. wrapped as
    # CAST(embedding[i] AS DOUBLE) — a prefix check alone would accept
    # CAST(embedding[i] AS FLOAT) and reject a compliant 'CAST( ' spacing
    # (round-5 advice)
    compliant = re.compile(
        r"(?i)CAST\(\s*embedding\[[^\]]*\]\s+AS\s+DOUBLE\s*\)"
    )
    offenders = []
    for name, raw in all_oracle_sql().items():
        sql = "\n".join(
            ln for ln in raw.splitlines() if not ln.lstrip().startswith("--")
        )
        n_access = len(re.findall(r"embedding\[", sql))
        n_compliant = len(compliant.findall(sql))
        if n_access != n_compliant:
            offenders.append((name, n_access, n_compliant))
    assert offenders == []


def test_loop_shuffle_partitions_restores_on_exit_and_error(spark):
    """The loop-local override must restore the caller's setting on normal
    exit, on exception, and when nested — a leaked override would silently
    run every later query at loop geometry."""
    import pytest

    from energy_emissions_lakehouse_spark.session import (
        loop_shuffle_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with loop_shuffle_partitions(spark, 8):
        assert spark.conf.get(key) == "8"
        with loop_shuffle_partitions(spark, 4):
            assert spark.conf.get(key) == "4"
        assert spark.conf.get(key) == "8"
    assert spark.conf.get(key) == before

    with pytest.raises(RuntimeError, match="boom"):
        with loop_shuffle_partitions(spark, 8):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before


def test_displace_restores_concurrent_winners_marked_build(spark, monkeypatch):
    """Round-7 advice: between the pre-displace marker re-check and the
    rename there is still a TOCTOU window — a concurrent winner's MARKED
    build landing in it used to be displaced and deleted.  Simulate the
    winner completing inside the window (via a racing os.rename shim) and
    pin that the displaced marked build is renamed BACK and served, not
    rebuilt."""
    fam = _family()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(4)

    try:
        base = os.path.join(staging_dir(fam), "k1")
        staged_tables(spark, fam, "k1", {"t": build})  # seed a real build
        os.remove(os.path.join(base, "_SUCCESS"))  # looks stale at check time
        real_rename = os.rename

        def racing_rename(src, dst):
            if src == base and ".trash-" in dst:
                # the concurrent winner marks the build inside the window
                with open(os.path.join(base, "_SUCCESS"), "w"):
                    pass
            return real_rename(src, dst)

        monkeypatch.setattr(os, "rename", racing_rename)
        out = staged_tables(spark, fam, "k1", {"t": build})["t"]
        assert calls["n"] == 1  # winner's build restored — no rebuild
        assert out.count() == 4
        assert os.path.isfile(os.path.join(base, "_SUCCESS"))
    finally:
        shutil.rmtree(staging_dir(fam), ignore_errors=True)


def test_staging_init_sweeps_dead_pid_scratch(spark):
    """Round-6 verdict item 7: `*.trash-*` / `*.tmp-*` scratch stranded by
    a CRASHED process is swept on staged_tables init; live bases and this
    process's own scratch are untouched."""
    import subprocess
    import sys

    fam = _family()
    try:
        fd = staging_dir(fam)
        proc = subprocess.Popen([sys.executable, "-c", ""])
        proc.wait()  # reaped: its pid is guaranteed dead
        stale_trash = os.path.join(fd, f"k9.trash-{proc.pid}-deadbeef")
        stale_tmp = os.path.join(fd, f"k9.tmp-{proc.pid}-deadbeef")
        mine = os.path.join(fd, f"k9.trash-{os.getpid()}-deadbeef")
        for d in (stale_trash, stale_tmp, mine):
            os.makedirs(d)
        out = staged_tables(spark, fam, "k1", {"t": lambda: spark.range(2)})["t"]
        assert out.count() == 2
        assert not os.path.exists(stale_trash)
        assert not os.path.exists(stale_tmp)
        assert os.path.isdir(mine)  # own-pid scratch is never swept
        assert os.path.isdir(os.path.join(fd, "k1"))  # live base untouched
    finally:
        shutil.rmtree(staging_dir(fam), ignore_errors=True)


def test_jaccard_memo_misses_when_corpus_regenerated(spark, sf_dir, tmp_path):
    """Round-7 advice (+ self-review hardening): regenerating
    documents.parquet mid-process must make BOTH the jaccard-pairs memo
    AND the underlying shingle memo (text.doc_sh) miss, so the rebuilt
    staged pairs reflect the NEW corpus content — not merely churn the
    memo key while serving pairs derived from stale checkpointed
    shingles (which would persist wrong pairs on disk under the fresh
    staging key)."""
    import shutil as _sh

    import duckdb

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    doc_path = str(corpus / "documents.parquet")
    _sh.copy(os.path.join(sf_dir, "documents.parquet"), doc_path)
    sdir = str(corpus)
    keys = [table_cache_key(sdir, "documents", "jac",
                            text_q.JACCARD_THRESHOLD)]
    try:
        pairs_v1 = {
            (r.a_id, r.b_id)
            for r in text_q.ngram_jaccard_pairs(spark, sdir).collect()
        }
        assert (1, 2) not in pairs_v1  # random texts: not near-dups
        n_keys = len(session_memo_keys(spark, "text.jaccard_pairs"))
        # same corpus version: warm hit, no new memo entry
        text_q.ngram_jaccard_pairs(spark, sdir)
        assert len(session_memo_keys(spark, "text.jaccard_pairs")) == n_keys
        # REGENERATE the corpus with different content: docs 1 and 2
        # become identical same-lang texts -> a guaranteed sim-1.0 pair
        dup = "alpha beta gamma delta epsilon zeta eta theta"
        duckdb.execute(
            f"""
            COPY (
                SELECT * REPLACE (
                    CASE WHEN doc_id IN (1, 2) THEN '{dup}' ELSE text END
                        AS text,
                    CASE WHEN doc_id IN (1, 2) THEN 'en' ELSE lang END
                        AS lang)
                FROM read_parquet('{doc_path}')
            ) TO '{doc_path}' (FORMAT PARQUET)
            """
        )
        keys.append(table_cache_key(sdir, "documents", "jac",
                                    text_q.JACCARD_THRESHOLD))
        assert keys[1] != keys[0]
        pairs_v2 = {
            (r.a_id, r.b_id)
            for r in text_q.ngram_jaccard_pairs(spark, sdir).collect()
        }
        assert (
            len(session_memo_keys(spark, "text.jaccard_pairs")) == n_keys + 1
        )
        # the DATA freshness pin: the rebuilt pairs see the new content
        assert (1, 2) in pairs_v2
    finally:
        for k in keys:
            _sh.rmtree(os.path.join(staging_dir("jaccard_pairs"), k),
                       ignore_errors=True)


# ------------------------------------------------------ the session memo


def test_same_session_same_file_returns_same_handle(spark, sf_dir):
    a = t(spark, sf_dir, "region")
    b = t(spark, sf_dir, "region")
    assert a is b
    assert a.count() == b.count() > 0


def _events_ts(spark, d: str) -> bool:
    return tables._events_ts_is_nanos(os.path.join(d, "events.parquet"))


#: memo kind -> (the source file it keys on, a call served from it)
_SOURCE_KEYED_MEMOS = {
    "tables.t": ("region", lambda spark, d: t(spark, d, "region")),
    "tables.events_ts": ("events", _events_ts),
    "text.doc_sh": ("documents", text_q._doc_sh),
    "text.doc_5g": ("documents", text_q._doc_5g),
    "text.xs_windows": ("documents", text_q._xs_windows),
    "text.jaccard_pairs": ("documents", text_q.ngram_jaccard_pairs),
    "vectors.emb_count": ("embeddings", vec_q._emb_corpus_count),
}


def _builds(spark, kind: str) -> int:
    if kind == "tables.events_ts":  # process-global lru_cache, not a memo
        return tables._ts_is_nanos.cache_info().misses
    return len(session_memo_keys(spark, kind))


@pytest.mark.parametrize("kind", sorted(_SOURCE_KEYED_MEMOS))
def test_mtime_bump_invalidates(spark, sf_dir, tmp_path, kind):
    """Touching the source (same content, new mtime) must rebuild every
    memo derived from it; an untouched source is a warm hit."""
    table, call = _SOURCE_KEYED_MEMOS[kind]
    d = str(tmp_path)
    dst = os.path.join(d, f"{table}.parquet")
    shutil.copyfile(os.path.join(sf_dir, f"{table}.parquet"), dst)
    jac_keys = [table_cache_key(d, table, "jac", text_q.JACCARD_THRESHOLD)]
    try:
        a = call(spark, d)
        n = _builds(spark, kind)
        assert call(spark, d) is a  # warm: served from the memo
        assert _builds(spark, kind) == n
        os.utime(dst, ns=(os.stat(dst).st_mtime_ns + 10**9,) * 2)
        jac_keys.append(
            table_cache_key(d, table, "jac", text_q.JACCARD_THRESHOLD)
        )
        b = call(spark, d)
        assert _builds(spark, kind) == n + 1
        if isinstance(a, DataFrame):
            assert a is not b
            assert b.count() == a.count()
        else:
            assert b == a
    finally:
        for k in jac_keys:
            shutil.rmtree(os.path.join(staging_dir("jaccard_pairs"), k),
                          ignore_errors=True)


def test_rewritten_file_serves_new_rows(spark, sf_dir, tmp_path):
    dst_dir = tmp_path / "sfgen"
    dst_dir.mkdir()
    dst = str(dst_dir / "region.parquet")
    shutil.copyfile(os.path.join(sf_dir, "region.parquet"), dst)
    n0 = t(spark, str(dst_dir), "region").count()
    # swap in a larger file: the memo must serve the NEW data
    bigger = t(spark, sf_dir, "region").unionAll(t(spark, sf_dir, "region"))
    tmp_out = str(dst_dir / "out")
    bigger.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    import glob

    part = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
    shutil.copyfile(part, dst)
    assert t(spark, str(dst_dir), "region").count() == 2 * n0


def test_threads_sharing_a_session_get_one_handle_per_key(
    spark, sf_dir, tmp_path
):
    """Four threads on one session race every memo/stager kind; orders is
    a fresh copy, so the partitioned-orders stager really builds in all
    four at once."""
    from concurrent.futures import ThreadPoolExecutor

    from energy_emissions_lakehouse_spark.medallion import staging
    from energy_emissions_lakehouse_spark.queries.core import (
        _partitioned_orders_path,
    )
    from energy_emissions_lakehouse_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    d = str(tmp_path)
    shutil.copyfile(os.path.join(sf_dir, "orders.parquet"),
                    os.path.join(d, "orders.parquet"))
    calls = {
        "t": lambda: t(spark, sf_dir, "region"),
        "layer": lambda: staging.layer(spark, "dim_region"),
        "doc_sh": lambda: text_q._doc_sh(spark, sf_dir),
        "register": lambda: register_synthetic_source(spark),
        "orders_by_year": lambda: _partitioned_orders_path(spark, d),
    }

    def run_all(_=None) -> dict:
        return {name: fn() for name, fn in calls.items()}

    base = None
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            runs = list(pool.map(run_all, range(4)))
        base = os.path.dirname(runs[0]["orders_by_year"])
        sequential = run_all()
        for name in calls:
            handles = [r[name] for r in runs] + [sequential[name]]
            if isinstance(handles[0], DataFrame):
                assert all(h is handles[0] for h in handles), name
            else:
                assert len(set(handles)) == 1, name
        # the one build is whole: no scratch left, every row present
        family_dir, key = os.path.split(base)
        assert not [e for e in os.listdir(family_dir) if e.startswith(key + ".")]
        orders = spark.read.parquet(os.path.join(d, "orders.parquet"))
        by_year = spark.read.parquet(sequential["orders_by_year"])
        assert by_year.count() == orders.count()
        region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
        assert sorted(sequential["t"].collect()) == sorted(region.collect())
        assert len(session_memo_keys(spark)) <= SESSION_MEMO_MAX
    finally:
        if base:
            shutil.rmtree(base, ignore_errors=True)


def test_session_memo_stress_one_value_per_key_and_bounded():
    """More threads than cores, a tiny switch interval: all threads miss
    each key at once and build it concurrently, yet every one gets the
    first insert; the memo never grows past its bound."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from energy_emissions_lakehouse_spark.fsutil import session_memo

    class Session:  # any weak-referenceable object keys a memo
        pass

    session = Session()
    n_threads, n_rounds = 16, 20
    barrier = threading.Barrier(n_threads)
    served: list[list] = [[] for _ in range(n_rounds)]
    guard = threading.Lock()

    def slow_build() -> object:
        time.sleep(0.001)  # widen the build window the lock must not hold
        return object()

    def worker(w: int) -> None:
        for r in range(n_rounds):
            barrier.wait(timeout=30)
            v = session_memo(session, ("race", r), slow_build)
            with guard:
                served[r].append(v)
        barrier.wait(timeout=30)  # no eviction while a round is in flight
        for k in range(SESSION_MEMO_MAX):
            session_memo(session, ("fill", w, k), object)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            for f in [pool.submit(worker, w) for w in range(n_threads)]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(old)
    for r, values in enumerate(served):
        assert len(values) == n_threads
        assert all(v is values[0] for v in values), f"round {r}"
    assert len(session_memo_keys(session)) == SESSION_MEMO_MAX


def _calls(path: str):
    """(enclosing function, dotted callee, first arg) of every call."""
    tree = ast.parse(open(path, encoding="utf-8").read())
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if isinstance(child, ast.Call):
                f = child.func
                callee = (
                    f"{f.value.id}.{f.attr}"
                    if isinstance(f, ast.Attribute)
                    and isinstance(f.value, ast.Name)
                    else getattr(f, "id", "")
                )
                arg = child.args[0] if child.args else None
                out.append((name, callee, getattr(arg, "id", None)))
            walk(child, name)

    walk(tree, None)
    return out


def test_no_ad_hoc_session_memos_or_stagers():
    """Every in-process memo goes through fsutil.session_memo (keyed on the
    session object, never on ``id(spark)``) and every build-once through
    fsutil.staged_artifact: an ``os.rename`` elsewhere is a hand-rolled
    stager.  The vtable/catalog commit protocols and the flush-sentinel
    publish (which appends to a published directory) are the exceptions."""
    pkg = os.path.dirname(energy_emissions_lakehouse_spark.__file__)
    rename_ok = {"fsutil.py", "operators/vtable.py", "operators/catalog.py"}
    found = []
    for dirpath, _, files in os.walk(pkg):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            for fn, callee, arg in _calls(path):
                if callee == "id" and arg == "spark":
                    found.append(f"{rel}:{fn}: id(spark)")
                if callee in ("os.rename", "os.replace") and not (
                    rel in rename_ok
                    or (rel, fn) == ("streaming/jobs.py",
                                     "read_events_stream_with_flush")
                ):
                    found.append(f"{rel}:{fn}: {callee}")
    assert not found, found


def test_scripts_import_their_own_checkout():
    """A script that puts a literal path on ``sys.path`` imports whatever
    package lives there: run from a second checkout (a clone for an A/B),
    it would exercise — and certify — the other checkout's code.  Scripts
    derive the path from their own location instead."""
    scripts = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    found = []
    for f in sorted(os.listdir(scripts)):
        if not f.endswith(".py"):
            continue
        path = os.path.join(scripts, f)
        tree = ast.parse(open(path, encoding="utf-8").read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and ast.unparse(node.func) == "sys.path.insert"
                and any(
                    isinstance(a, ast.Constant) and isinstance(a.value, str)
                    for a in node.args
                )
            ):
                found.append(f"{f}:{node.lineno}")
    assert not found, found
