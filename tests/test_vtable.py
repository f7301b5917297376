"""ACID-semantics pins for the versioned parquet table layer
(operators/vtable.py): commit atomicity, snapshot isolation, time
travel, optimistic concurrency, change feed, compaction invariance,
vacuum retention, checkpointed log replay, and crash-orphan
invisibility.  The value parity of the staged 5-version history is
covered by the registered oracles (queries/versioned.py); these tests
pin the PROTOCOL behaviors an oracle cannot see."""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.operators.vtable import (
    CHECKPOINT_EVERY,
    ConcurrentCommitError,
    VersionedTable,
)


@pytest.fixture()
def vt_root():
    d = tempfile.mkdtemp(prefix="vtable-test-")
    yield os.path.join(d, "t")
    shutil.rmtree(d, ignore_errors=True)


def _mk(spark, root, n=20) -> VersionedTable:
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    return VersionedTable.create(spark, root, df)


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def test_create_append_time_travel(spark, vt_root):
    vt = _mk(spark, vt_root, n=5)
    vt.append(
        spark.range(5, 8).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    assert vt.read(0).count() == 5
    assert vt.read(1).count() == 8
    assert vt.read().count() == 8  # default = latest
    assert _rows(vt.read(1))[:2] == [(0, 0), (1, 10)]
    with pytest.raises(ValueError, match="unknown version"):
        vt.read(99)


def test_snapshot_isolation_pinned_reader(spark, vt_root):
    """A resolved DataFrame must keep serving ITS snapshot across any
    number of later commits — segments are immutable and the file list
    was pinned at resolution time."""
    vt = _mk(spark, vt_root, n=10)
    pinned = vt.read(0)
    vt.delete_where("k % 2 = 0")
    vt.overwrite(
        spark.range(3).select(F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v"))
    )
    assert pinned.count() == 10
    assert vt.read().count() == 3


def test_concurrent_commit_loser_raises_then_retry_wins(spark, vt_root):
    """Optimistic concurrency: the version slot is claimed atomically;
    the loser gets ConcurrentCommitError and succeeds on retry against
    the new snapshot."""
    vt = _mk(spark, vt_root, n=4)
    batch = spark.range(100, 102).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("v")
    )
    # Simulate a racing writer landing version 1 first.
    racing = VersionedTable(spark, vt_root)
    racing.append(batch)
    seg = vt._write_segment(batch, 1)
    with pytest.raises(ConcurrentCommitError):
        vt._commit(1, "append", add=[seg], remove=[], schema=batch.schema)
    # Retry at the refreshed version succeeds and both appends survive.
    assert vt.append(batch) == 2
    assert vt.read(2).count() == 8


def test_torn_commit_is_impossible_under_final_name(spark, vt_root):
    """The commit payload reaches its final name only via os.link of a
    fully written+fsynced scratch file — every *.json in the log must
    parse, and scratch files never linger."""
    vt = _mk(spark, vt_root, n=3)
    for i in range(3):
        vt.append(
            spark.range(i, i + 1).select(
                F.col("id").alias("k"), F.lit(i).cast("bigint").alias("v")
            )
        )
    log = os.path.join(vt_root, "_log")
    for name in os.listdir(log):
        assert ".tmp-" not in name
        with open(os.path.join(log, name)) as fh:
            json.load(fh)  # parses completely


def test_merge_upsert_source_wins_and_history_preserved(spark, vt_root):
    vt = _mk(spark, vt_root, n=6)
    src = spark.range(4, 9).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
    )
    vt.merge_upsert(src, keys=["k"])
    latest = dict(_rows(vt.read()))
    assert latest[0] == 0 and latest[3] == 30  # untouched
    assert all(latest[k] == -1 for k in range(4, 9))  # source won + inserts
    assert _rows(vt.read(0)) == [(k, k * 10) for k in range(6)]  # v0 intact


def test_schema_on_write_rejects_incompatible_batch(spark, vt_root):
    """Delta semantics: a mixed-type segment would poison later reads,
    so append/merge reject an INCOMPATIBLE batch at write time; a batch
    whose only difference is a narrower widenable type is upcast
    (round-10 type-widening write path); overwrite may evolve."""
    vt = _mk(spark, vt_root, n=3)
    bad = spark.range(2).select(
        F.col("id").alias("k"), F.lit("x").alias("v")
    )
    with pytest.raises(ValueError, match="schema-on-write"):
        vt.append(bad)
    with pytest.raises(ValueError, match="schema-on-write"):
        vt.merge_upsert(bad, keys=["k"])
    assert vt.latest_version() == 0  # nothing committed
    # a NARROWER widenable batch (int vs the table's bigint) upcasts
    # instead of failing — Delta's widening-aware schema-on-write
    narrow = spark.range(100, 102).select(
        F.col("id").cast("int").alias("k"),
        F.lit(0).cast("int").alias("v"),
    )
    vt.append(narrow)
    assert vt.read().schema["v"].dataType.simpleString() == "bigint"
    assert vt.read().count() == 5
    wrong_cols = spark.range(2).select(F.col("id").alias("zzz"))
    with pytest.raises(ValueError, match="schema-on-write"):
        vt.append(wrong_cols)
    vt.overwrite(bad)  # explicit full replace MAY change the schema
    assert vt.read().schema["v"].dataType.simpleString() == "string"


def test_delete_where_null_predicate_rows_are_kept(spark, vt_root):
    """SQL DELETE semantics: only predicate-TRUE rows go; NULL-predicate
    rows stay."""
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 50)], "k bigint, v bigint"
    )
    vt = VersionedTable.create(spark, vt_root, df)
    vt.delete_where("v > 10")
    assert sorted(r.k for r in vt.read().collect()) == [1, 2]


def test_compaction_is_content_identical_and_collapses_segments(
    spark, vt_root
):
    vt = _mk(spark, vt_root, n=10)
    for i in range(4):
        vt.append(
            spark.range(100 + i, 101 + i).select(
                F.col("id").alias("k"), F.lit(i).cast("bigint").alias("v")
            )
        )
    before_version = vt.latest_version()
    before = _rows(vt.read(before_version))
    n_live_before = len(vt._replay()["live"])
    assert n_live_before == 5  # create + 4 appends
    vt.compact()
    assert _rows(vt.read()) == before
    assert len(vt._replay()["live"]) == 1
    # exactly one parquet part file after a coalesce(1) bin-pack
    seg = vt._replay()["live"][0]
    parts = glob.glob(os.path.join(vt_root, seg, "part-*"))
    assert len(parts) == 1


def test_change_feed_classifies_insert_update_delete_only(spark, vt_root):
    vt = _mk(spark, vt_root, n=6)  # keys 0..5
    vt.delete_where("k = 0")
    vt.merge_upsert(
        spark.createDataFrame([(3, -1), (99, -1)], "k bigint, v bigint"),
        keys=["k"],
    )
    cdf = vt.change_feed(0, vt.latest_version(), keys=["k"])
    got = {
        r.k: (r.change_type, r.v_pre, r.v_post) for r in cdf.collect()
    }
    assert got == {
        0: ("delete", 0, None),
        3: ("update", 30, -1),
        99: ("insert", None, -1),
    }  # unchanged keys 1,2,4,5 absent


def test_change_feed_spans_schema_evolution_boundary(spark, vt_root):
    """A feed whose window crosses an append_evolve must not fail with
    an unresolved column: a column absent from the older snapshot gets a
    null pre-image (the streaming-CDF semantics), so the evolved rows
    surface as updates — null → value — downstream can replay."""
    vt = _mk(spark, vt_root, n=3)  # v0: (k, v), keys 0..2
    vt.append_evolve(
        spark.range(10, 12).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.lit("fresh").alias("note"),
        )
    )  # v1: schema (k, v, note)
    cdf = vt.change_feed(0, 1, keys=["k"])
    assert {"k", "change_type", "v_pre", "v_post", "note_pre", "note_post"} \
        == set(cdf.columns)
    got = {
        r.k: (r.change_type, r.note_pre, r.note_post) for r in cdf.collect()
    }
    # old keys unchanged (note null on BOTH sides — old segments read
    # null under the widened schema, matching the null pre-image)
    assert got == {
        10: ("insert", None, "fresh"),
        11: ("insert", None, "fresh"),
    }
    # a key column missing from one side fails loudly, not mid-plan
    with pytest.raises(ValueError, match="not present in both"):
        vt.change_feed(0, 1, keys=["note"])
    with pytest.raises(ValueError, match="neither snapshot"):
        vt.change_feed(0, 1, keys=["k"], compare_cols=["ghost"])


def test_vacuum_retains_recent_versions_and_fails_loud_on_old(
    spark, vt_root
):
    vt = _mk(spark, vt_root, n=8)
    vt.delete_where("k < 2")
    vt.delete_where("k < 4")
    deleted = vt.vacuum(retain_last=2)
    assert deleted  # v0's segment no longer referenced
    assert vt.read(1).count() == 6
    assert vt.read(2).count() == 4
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        vt.read(0)


def test_vacuum_sweeps_crash_orphans_but_never_live_segments(
    spark, vt_root
):
    """A writer that crashed after writing its segment but before its
    commit leaves an orphan: invisible to reads, reclaimed by vacuum."""
    vt = _mk(spark, vt_root, n=5)
    orphan = vt._write_segment(
        spark.range(3).select(F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")),
        version_hint=99,
    )
    assert vt.read().count() == 5  # orphan invisible
    # FRESH orphan: indistinguishable from an in-flight writer between
    # _write_segment and _commit — the grace window must keep it
    deleted = vt.vacuum(retain_last=1)
    assert orphan not in deleted
    assert os.path.isdir(os.path.join(vt.root, orphan))
    # AGED orphan: past the grace window it is a crashed writer — sweep
    old = os.path.getmtime(os.path.join(vt.root, orphan)) - 7200
    os.utime(os.path.join(vt.root, orphan), (old, old))
    deleted = vt.vacuum(retain_last=1)
    assert orphan in deleted
    assert vt.read().count() == 5


def test_vacuum_grace_zero_sweeps_fresh_orphans_on_request(spark, vt_root):
    """orphan_grace_s=0 is the explicit force switch (no writers are in
    flight, reclaim everything now) — and expired-commit segments are
    always reclaimed immediately regardless of grace (their writer
    already committed, no in-flight risk)."""
    vt = _mk(spark, vt_root, n=5)
    orphan = vt._write_segment(
        spark.range(2).select(
            F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")
        ),
        version_hint=99,
    )
    vt.overwrite(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    # default grace: the expired commit's segment goes at once (its
    # writer already committed — fresh mtime does not protect it), the
    # fresh orphan stays
    deleted = vt.vacuum(retain_last=1)
    assert orphan not in deleted
    assert deleted  # v0's now-unreferenced segment reclaimed
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        vt.read(0)
    # grace 0: the explicit force switch sweeps the fresh orphan too
    deleted = vt.vacuum(retain_last=1, orphan_grace_s=0)
    assert orphan in deleted
    assert vt.read().count() == 4


def test_checkpointed_replay_matches_full_replay(spark, vt_root):
    """Past CHECKPOINT_EVERY commits, snapshot resolution uses the
    checkpoint + tail; it must equal a from-genesis fold."""
    vt = _mk(spark, vt_root, n=2)
    for i in range(CHECKPOINT_EVERY + 3):
        vt.append(
            spark.range(10 + i, 11 + i).select(
                F.col("id").alias("k"), F.lit(i).cast("bigint").alias("v")
            )
        )
    v = vt.latest_version()
    assert v > CHECKPOINT_EVERY
    ckpts = [
        n
        for n in os.listdir(os.path.join(vt_root, "_log"))
        if n.endswith(".checkpoint.json")
    ]
    assert ckpts  # a checkpoint actually landed
    assert vt._replay(v)["live"] == (
        vt._replay(v, use_checkpoint=False)["live"]
    )
    assert vt.read(v).count() == 2 + CHECKPOINT_EVERY + 3


def test_timestamp_as_of_resolves_to_latest_commit_at_or_before(
    spark, vt_root
):
    """TIMESTAMP AS OF: a time between commits reads the earlier one; a
    time before the first commit raises."""
    import time as _time

    vt = _mk(spark, vt_root, n=3)
    t0 = vt._read_commit(0)["ts"]
    mid = _time.time()
    _time.sleep(0.01)
    vt.append(
        spark.range(3, 5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    assert vt.version_at(mid) == 0
    assert vt.version_at(_time.time()) == 1
    assert vt.read(timestamp=mid).count() == 3
    assert vt.read(timestamp=_time.time()).count() == 5
    with pytest.raises(ValueError, match="no commit at or before"):
        vt.version_at(t0 - 1.0)
    with pytest.raises(ValueError, match="not both"):
        vt.read(version=0, timestamp=mid)


def test_read_pruned_scan_set_is_spark_visible(spark, vt_root):
    """The pruning decision shows up in the PLAN's input files, not just
    our bookkeeping: the pruned read's inputFiles() cover only the
    scanned segment, the full read covers both."""
    vt = _mk(spark, vt_root, n=10)
    vt.append(
        spark.range(100, 110).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    seg0 = vt._read_commit(0)["add"][0]
    seg1 = vt._read_commit(1)["add"][0]
    pruned_files = vt.read_pruned("k", 0, 9).inputFiles()
    assert pruned_files and all(seg0 in f for f in pruned_files)
    assert not any(seg1 in f for f in pruned_files)
    full_files = vt.read(1).inputFiles()
    assert any(seg1 in f for f in full_files)


def test_segment_stats_recorded_and_range_pruning_skips_disjoint(
    spark, vt_root
):
    """Commits carry per-segment min/max from the parquet footers; a
    range read scans only overlapping segments and matches the unpruned
    result exactly."""
    vt = _mk(spark, vt_root, n=10)  # keys 0..9
    vt.append(
        spark.range(100, 110).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    stats = vt._read_commit(1)["stats"]
    (seg_stats,) = stats.values()
    assert seg_stats["k"] == [100, 109]
    scanned, skipped = vt.pruned_segments(1, "k", 0, 9)
    assert len(scanned) == 1 and len(skipped) == 1
    pruned = sorted(
        r.k for r in vt.read_pruned("k", 0, 9).where("k <= 9").collect()
    )
    full = sorted(
        r.k for r in vt.read(1).where("k <= 9").collect()
    )
    assert pruned == full == list(range(10))


def test_segment_stats_drop_inexact_string_bounds(spark, vt_root):
    """Parquet writers may elide min/max for oversized BYTE_ARRAY values
    while still reporting has_min_max (pyarrow 16.1.0: a value past the
    statistics size limit folds to max='') — trusting that fabricated
    bound would let read_pruned skip a segment that HOLDS matching rows.
    Such columns must be dropped from the stats (→ always scanned)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from energy_emissions_lakehouse_spark.operators.vtable import DATA_DIR

    vt = _mk(spark, vt_root, n=3)
    rel = os.path.join(DATA_DIR, "planted-inexact")
    os.makedirs(os.path.join(vt.root, rel))
    pq.write_table(
        pa.table({"s": ["z" * 100000, "b"], "i": [1, 2]}),
        os.path.join(vt.root, rel, "part-00000.parquet"),
    )
    stats = vt._segment_stats(rel)
    assert stats.get("i") == [1, 2]  # exact int stats survive
    assert "s" not in stats  # elided-to-'' string max: dropped, not trusted
    # and a plain Spark-written string segment: bounds only when exact —
    # either way a range probe must scan, never silently skip real rows
    vt2_root = os.path.join(os.path.dirname(vt.root), "t2")
    vt2 = VersionedTable.create(
        spark,
        vt2_root,
        spark.createDataFrame(
            [("z" * 100000, 1), ("mmm", 2)], ["s", "i"]
        ).coalesce(1),
    )
    scanned, skipped = vt2.pruned_segments(0, "s", "x", "zz")
    assert skipped == [] and len(scanned) == 1
    assert [r.i for r in vt2.read_pruned("s", "x", "zz").where(
        "s >= 'x'"
    ).collect()] == [1]


def test_pruning_is_conservative_without_stats(spark, vt_root):
    """A column with no recorded stats must never be pruned on — every
    segment is scanned (pruning may only skip provably-disjoint files)."""
    vt = _mk(spark, vt_root, n=5)
    vt.append(
        spark.range(50, 55).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    scanned, skipped = vt.pruned_segments(
        vt.latest_version(), "no_such_col", 0, 1
    )
    assert skipped == [] and len(scanned) == 2
    assert vt.column_range("no_such_col") is None
    assert vt.column_range("k") == (0, 54)


def test_merge_pruned_rewrites_only_touched_segments(spark, vt_root):
    """A merge whose source keys fall inside one segment's range rewrites
    ONLY that segment; the disjoint segment stays live under its original
    path, and the content equals the full relational merge."""
    vt = _mk(spark, vt_root, n=10)  # segment A: keys 0..9
    vt.append(
        spark.range(100, 110).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )  # segment B: keys 100..109
    seg_a = vt._read_commit(0)["add"][0]
    seg_b = vt._read_commit(1)["add"][0]
    src = spark.createDataFrame(
        [(105, -1), (108, -2), (200, -3)], ["k", "v"]
    )  # two updates inside B's range + one insert outside every range
    v = vt.merge_upsert(src, keys=["k"])
    entry = vt._read_commit(v)
    assert entry["remove"] == [seg_b]
    assert entry["rewritten"] == 1 and entry["preserved"] == 1
    assert seg_a in set(vt._replay(v)["live"])  # untouched segment survives
    got = dict(_rows(vt.read(v)))
    assert got[105] == -1 and got[108] == -2 and got[200] == -3
    assert got[0] == 0 and got[104] == 1040  # non-matched rows intact
    assert len(got) == 21


def test_delete_rewrites_only_touched_segments(spark, vt_root):
    """A copy-on-write DELETE confined to one segment's rows rewrites
    ONLY that segment (exact discovery); the other segment stays live
    under its original path."""
    vt = _mk(spark, vt_root, n=10)  # segment A: keys 0..9
    vt.append(
        spark.range(100, 110).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )  # segment B: keys 100..109
    seg_a = vt._read_commit(0)["add"][0]
    seg_b = vt._read_commit(1)["add"][0]
    v = vt.delete_where("k >= 105")
    entry = vt._read_commit(v)
    assert entry["op"] == "delete" and entry["remove"] == [seg_b]
    assert entry["rewritten"] == 1 and entry["preserved"] == 1
    assert seg_a in set(vt._replay(v)["live"])  # untouched segment survives
    got = dict(_rows(vt.read(v)))
    assert sorted(got) == list(range(10)) + list(range(100, 105))


def test_merge_pruned_statless_segment_is_conservatively_rewritten(
    spark, vt_root
):
    """A segment with no recorded stats for the merge key must always be
    treated as touched — pruning may only skip provably-disjoint files."""
    vt = _mk(spark, vt_root, n=5)
    # strip the stats from the create commit (an older-rev log would
    # simply lack them); commits are re-read from disk on every access
    path = vt._commit_path(0)
    entry = json.load(open(path))
    entry["stats"] = {}
    os.chmod(path, 0o644)
    json.dump(entry, open(path, "w"))
    src = spark.createDataFrame([(999, -1)], ["k", "v"])
    touched, untouched = vt.touched_segments(src, "k", 0)
    assert untouched == [] and len(touched) == 1
    v = vt.merge_upsert(src, keys=["k"])
    assert vt._read_commit(v)["rewritten"] == 1
    assert vt.read(v).count() == 6


def test_idempotent_append_makes_replays_noops(spark, vt_root):
    """The txn action: a replayed (source, batch) pair returns the
    original committed version without writing anything."""
    vt = _mk(spark, vt_root, n=3)
    batch = spark.range(10, 13).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    v1 = vt.idempotent_append(batch, "src_a", 0)
    assert vt.idempotent_append(batch, "src_a", 0) == v1  # replay no-ops
    assert vt.latest_version() == v1
    assert vt.read().count() == 6
    # a DIFFERENT batch id (and a different source reusing id 0) commit
    assert vt.idempotent_append(batch, "src_a", 1) == v1 + 1
    assert vt.idempotent_append(batch, "src_b", 0) == v1 + 2
    assert vt.read().count() == 12


def test_stream_vtable_ingest_commits_each_batch_once(spark, sf_dir):
    """The exactly-once streaming sink: 4 micro-batches each delivered
    twice -> exactly 4 append commits (plus the empty create), each
    carrying its txn record, and the final content equals the source."""
    import os as _os

    from energy_emissions_lakehouse_spark.fsutil import staging_dir
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )
    from energy_emissions_lakehouse_spark.streaming.jobs import (
        run_foreachbatch_vtable_ingest,
        stage_events_split,
    )
    from energy_emissions_lakehouse_spark.tables import t

    src = stage_events_split(spark, sf_dir, n_files=4)
    sink_root = _os.path.join(staging_dir("vtable_sink"), "pytest-ingest")
    final = run_foreachbatch_vtable_ingest(spark, src, sink_root)
    assert final.count() == t(spark, sf_dir, "events").count()
    vt = VersionedTable(spark, sink_root)
    hist = vt.history()
    assert [h["op"] for h in hist] == ["create"] + ["append"] * 4
    txns = {(h["txn"]["source"], h["txn"]["batch"]) for h in hist[1:]}
    assert txns == {("events_ingest", i) for i in range(4)}


def test_append_evolve_widens_schema_without_rewriting_segments(
    spark, vt_root
):
    """Schema evolution: a batch with a new column widens the schema in
    ONE metadata commit; old segments are untouched on disk and surface
    the column as null; time travel still serves the old schema."""
    vt = _mk(spark, vt_root, n=3)
    seg0 = vt._read_commit(0)["add"][0]
    mtime_before = os.path.getmtime(os.path.join(vt.root, seg0))
    batch = spark.range(10, 12).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("new").alias("tag"),
    )
    v = vt.append_evolve(batch)
    assert vt._read_commit(v)["evolved"] == ["tag"]
    assert vt._read_commit(v)["remove"] == []  # no rewrite
    assert os.path.getmtime(os.path.join(vt.root, seg0)) == mtime_before
    latest = vt.read(v)
    assert latest.schema.fieldNames() == ["k", "v", "tag"]
    tags = {r.k: r.tag for r in latest.collect()}
    assert tags[0] is None and tags[10] == "new"
    assert vt.read(0).schema.fieldNames() == ["k", "v"]  # time travel


def test_append_evolve_fills_omitted_columns_and_rejects_type_change(
    spark, vt_root
):
    vt = _mk(spark, vt_root, n=2)
    # omitted column v -> typed null
    v = vt.append_evolve(
        spark.range(5, 6).select(
            F.col("id").alias("k"), F.lit(1.5).alias("w")
        )
    )
    rows = {r.k: (r.v, r.w) for r in vt.read(v).collect()}
    assert rows[5] == (None, 1.5) and rows[0] == (0, None)
    # a type CHANGE is not evolution
    with pytest.raises(ValueError, match="type change"):
        vt.append_evolve(
            spark.range(1).select(
                F.col("id").alias("k"),
                F.col("id").cast("string").alias("v"),
            )
        )


def test_compact_clustered_prunes_on_both_dimensions(spark, vt_root):
    """OPTIMIZE ZORDER: after the clustered rewrite, a narrow probe on
    EITHER cluster column prunes at least half the segments, and the
    content is identical to the pre-rewrite state."""
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"),
        F.expr("id div 64").alias("b"),
        F.col("id").alias("payload"),
    )
    vt = VersionedTable.create(spark, vt_root, df)
    before = vt.read(0).agg(
        F.count(F.lit(1)), F.sum("a"), F.sum("b"), F.sum("payload")
    ).collect()[0]
    v = vt.compact_clustered(["a", "b"], n_segments=16)
    entry = vt._read_commit(v)
    assert entry["clustered_by"] == ["a", "b"]
    assert len(entry["add"]) > 1  # multiple clustered segments
    after = vt.read(v).agg(
        F.count(F.lit(1)), F.sum("a"), F.sum("b"), F.sum("payload")
    ).collect()[0]
    assert tuple(before) == tuple(after)  # content-identical rewrite
    n_live = len(vt._replay(v)["live"])
    for col in ("a", "b"):
        lo, hi = vt.column_range(col, v)
        scanned, skipped = vt.pruned_segments(
            v, col, lo, lo + (hi - lo) // 8
        )
        assert len(skipped) >= n_live // 2, (
            f"probe on {col}: {len(skipped)}/{n_live} skipped"
        )
        # pruned read + residual == full read + same predicate
        pred = f"{col} <= {lo + (hi - lo) // 8}"
        assert (
            vt.read_pruned(col, lo, lo + (hi - lo) // 8, v)
            .where(pred).count()
            == vt.read(v).where(pred).count()
        )


def test_compact_clustered_null_cluster_rows_get_their_own_segment(
    spark, vt_root
):
    """Rows with NULL in a cluster column are preserved in a dedicated
    nulls segment (Delta zorder semantics), not dropped or crashed on."""
    df = spark.range(100).select(
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id") % 8)
        .alias("a"),
        F.expr("id div 8").alias("b"),
        F.col("id").alias("payload"),
    )
    vt = VersionedTable.create(spark, vt_root, df)
    v = vt.compact_clustered(["a", "b"], n_segments=4)
    got = vt.read(v)
    assert got.count() == 100
    assert got.where("a IS NULL").count() == 10
    assert got.agg(F.sum("payload")).collect()[0][0] == 4950
    # the nulls segment has no stats for `a`, so a probe on `a` must
    # conservatively scan it
    nulls_seg = [r for r in vt._read_commit(v)["add"] if "-z004-" in r]
    assert len(nulls_seg) == 1
    scanned, _ = vt.pruned_segments(v, "a", 0, 0)
    assert nulls_seg[0] in scanned


def test_txn_map_folds_into_checkpoints_and_detects_replays(
    spark, vt_root
):
    """Delta's setTransactions shape: the checkpoint carries the latest
    (batch, version) per source, so replay detection reads the tail, not
    the whole history; an old pre-txn checkpoint falls back to a genesis
    fold rather than missing a transaction."""
    vt = _mk(spark, vt_root, n=2)
    batch = spark.range(2).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    for i in range(CHECKPOINT_EVERY + 1):  # crosses the v8 checkpoint
        vt.idempotent_append(batch, "src_ck", i)
    ckpt = json.load(open(vt._checkpoint_path(CHECKPOINT_EVERY)))
    assert ckpt["txns"]["src_ck"] == [CHECKPOINT_EVERY - 1, CHECKPOINT_EVERY]
    latest = vt.latest_version()
    # replay of the latest batch: exact original version, no new commit
    assert vt.idempotent_append(batch, "src_ck", CHECKPOINT_EVERY) == latest
    assert vt.latest_version() == latest
    # an older batch id also no-ops (monotonic-batch contract)
    assert vt.idempotent_append(batch, "src_ck", 0) == latest
    assert vt.latest_version() == latest
    # pre-txn checkpoint (older rev): drop the txns key -> still detected
    del ckpt["txns"]
    json.dump(ckpt, open(vt._checkpoint_path(CHECKPOINT_EVERY), "w"))
    assert vt.idempotent_append(batch, "src_ck", CHECKPOINT_EVERY) == latest
    assert vt.latest_version() == latest


def test_idempotent_append_retries_lost_commit_race(spark, vt_root):
    """A commit lost to a concurrent DIFFERENT source is retried at the
    new head instead of surfacing ConcurrentCommitError to the sink."""
    from energy_emissions_lakehouse_spark.operators import vtable as vmod

    vt = _mk(spark, vt_root, n=3)
    batch = spark.range(10, 12).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    original = vt._commit
    calls = {"n": 0}

    def racy_commit(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:  # another writer wins the first attempt
            raise vmod.ConcurrentCommitError("simulated lost race")
        return original(*args, **kwargs)

    vt._commit = racy_commit
    v = vt.idempotent_append(batch, "src_retry", 7)
    vt._commit = original
    assert calls["n"] == 2  # one loss, one win
    assert vt._read_commit(v)["txn"] == {"source": "src_retry", "batch": 7}
    assert vt.read(v).count() == 5


def test_idempotent_append_retry_keeps_interleaved_evolved_schema(
    spark, vt_root
):
    """Losing the commit race to an append_evolve must NOT revert the
    evolution: the retried commit re-reads the head and records the
    CURRENT widened schema (read() serves the latest commit's schema,
    so recording the stale pre-race batch schema would silently drop
    the new column for every later reader)."""
    vt = _mk(spark, vt_root, n=3)
    writer2 = VersionedTable(spark, vt_root)
    wider = spark.range(3, 5).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("tagged").alias("note"),
    )
    batch = spark.range(10, 12).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    original = vt._commit
    state = {"first": True}

    def interleaved(*args, **kwargs):
        if state["first"]:
            state["first"] = False
            writer2.append_evolve(wider)  # the winner widens the schema
        return original(*args, **kwargs)  # -> ConcurrentCommitError

    vt._commit = interleaved
    v = vt.idempotent_append(batch, "src_evo", 0)
    vt._commit = original
    recorded = {f["name"] for f in vt._read_commit(v)["schema"]["fields"]}
    assert "note" in recorded  # widened schema survived the retry
    head = vt.read()
    assert set(head.columns) == {"k", "v", "note"}
    assert head.count() == 7
    assert head.where("note = 'tagged'").count() == 2
    assert head.where("k >= 10").where("note IS NULL").count() == 2
    # replay of the same batch still no-ops at the exact version
    assert vt.idempotent_append(batch, "src_evo", 0) == v


def test_idempotent_append_retry_rejects_type_changed_head(
    spark, vt_root
):
    """If the interleaved winner REPLACED the schema (overwrite with a
    type change), the retried commit must fail loudly instead of
    recording a segment the new schema cannot read."""
    vt = _mk(spark, vt_root, n=3)
    writer2 = VersionedTable(spark, vt_root)
    replaced = spark.range(2).select(
        F.col("id").alias("k"), F.lit("str-now").alias("v")
    )
    batch = spark.range(10, 12).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    original = vt._commit
    state = {"first": True}

    def interleaved(*args, **kwargs):
        if state["first"]:
            state["first"] = False
            writer2.overwrite(replaced)
        return original(*args, **kwargs)

    vt._commit = interleaved
    with pytest.raises(ValueError, match="schema-on-write violation"):
        vt.idempotent_append(batch, "src_clash", 0)
    vt._commit = original


def test_cdf_segments_written_only_when_enabled_and_vacuumed_with_commits(
    spark, vt_root
):
    """The enable_cdf table property: merge/delete commits write change
    segments and reference them; a non-CDF table writes none; vacuum
    keeps the cdf of retained commits and sweeps the rest."""
    df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    vt = VersionedTable.create(spark, vt_root, df, enable_cdf=True)
    assert vt.cdf_enabled
    src = spark.createDataFrame([(2, -2), (100, -100)], ["k", "v"])
    vt.merge_upsert(src, keys=["k"])
    vt.delete_where("k < 1")
    vt.compact()
    hist = vt.history()
    assert [("cdf" in e) for e in hist] == [False, True, True, False]
    # the merge feed: 1 pre + 1 post + 1 insert; the delete feed: 1 row
    cdf_v1 = spark.read.parquet(os.path.join(vt.root, hist[1]["cdf"]))
    types = sorted(
        r._change_type for r in cdf_v1.select("_change_type").collect()
    )
    assert types == ["insert", "update_postimage", "update_preimage"]
    # vacuum retaining the last 2 commits (delete + compact): the merge
    # cdf goes, the delete cdf stays
    deleted = vt.vacuum(retain_last=2)
    assert hist[1]["cdf"] in deleted
    assert os.path.isdir(os.path.join(vt.root, hist[2]["cdf"]))
    # a table WITHOUT the property writes no cdf
    root2 = vt_root + "_nocdf"
    vt2 = VersionedTable.create(spark, root2, df)
    assert not vt2.cdf_enabled
    vt2.merge_upsert(src, keys=["k"])
    assert "cdf" not in vt2.history()[1]
    assert not os.path.isdir(os.path.join(root2, "cdf"))


def test_staged_ranged_merge_rewrote_one_of_four_segments(spark, sf_dir):
    """The staged ranged table's v4 is the registered pruned merge: its
    quarter-confined updates must have rewritten exactly ONE of the four
    quarter segments (the 100 TB claim vtable_merge_pruned_rewrite makes,
    pinned at the commit-metadata level)."""
    from energy_emissions_lakehouse_spark.queries.versioned import (
        staged_vtable,
    )

    vt = staged_vtable(spark, sf_dir, "table_ranged")
    hist = vt.history()
    assert [h["op"] for h in hist] == (
        ["create"] + ["append"] * 3 + ["merge"]
    )
    merge = hist[4]
    assert merge["rewritten"] == 1 and merge["preserved"] == 3
    assert len(merge["remove"]) == 1 and len(merge["add"]) == 1
    # the rewritten segment is the second quarter's (added at v1)
    assert merge["remove"] == hist[1]["add"]


def test_staged_history_build_is_memoized_and_deterministic(spark, sf_dir):
    """The registered queries serve from ONE staged history per corpus
    version; rebuilding fresh yields identical content."""
    from energy_emissions_lakehouse_spark.queries.versioned import (
        staged_vtable,
    )

    vt1 = staged_vtable(spark, sf_dir)
    vt2 = staged_vtable(spark, sf_dir)
    assert vt1.root == vt2.root  # memo hit
    ops = [h["op"] for h in vt1.history()]
    assert ops == [
        "create", "append", "merge", "delete", "compact", "append",
    ]
    assert vt1.history()[5]["evolved"] == ["o_backfill_src"]
    fp1 = sorted(
        (r.o_orderkey, r.o_orderstatus) for r in vt1.read(4).collect()
    )
    vt3 = staged_vtable(spark, sf_dir, fresh=True)
    fp3 = sorted(
        (r.o_orderkey, r.o_orderstatus) for r in vt3.read(4).collect()
    )
    assert fp1 == fp3


# ------------------------------------------------- deletion vectors (MOR)
def test_delete_mor_masks_rows_without_touching_segments(spark, vt_root):
    """Merge-on-read delete: the commit references a tiny position file,
    add/remove are empty, the data segment is untouched, and time travel
    to the pre-delete version still serves every row."""
    vt = _mk(spark, vt_root, n=20)
    seg0 = vt._read_commit(0)["add"][0]
    v1 = vt.delete_where_mor("k % 3 = 0")
    entry = vt._read_commit(v1)
    assert entry["op"] == "delete_mor"
    assert entry["add"] == [] and entry["remove"] == []
    assert vt.active_deletion_vectors() == entry["dv_add"]
    got = sorted(r.k for r in vt.read().collect())
    assert got == [k for k in range(20) if k % 3 != 0]
    assert vt.read(0).count() == 20  # snapshot isolation across the DV
    assert set(vt._replay(v1)["live"]) == {seg0}  # zero data rewritten


def test_delete_mor_is_position_scoped_and_accumulates(spark, vt_root):
    """DV semantics are POSITION-scoped: rows appended after the delete
    stay live even when they match the old predicate; multiple DVs
    accumulate and a later DV never double-records already-masked rows."""
    vt = _mk(spark, vt_root, n=10)
    vt.delete_where_mor("k % 2 = 0")
    vt.append(
        spark.range(20, 24).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )  # 20, 22 match k % 2 = 0 but arrive after: they stay
    vt.delete_where_mor("k = 1 OR k % 2 = 0")
    assert sorted(r.k for r in vt.read().collect()) == [3, 5, 7, 9, 21, 23]
    dvs = vt.active_deletion_vectors()
    assert len(dvs) == 2
    # second DV holds only rows alive at ITS snapshot (1, 20, 22) — the
    # first DV's rows are not re-recorded
    dv2 = spark.read.parquet(os.path.join(vt.root, dvs[1]))
    assert dv2.count() == 3


def test_full_replace_materializes_and_clears_dvs(spark, vt_root):
    """compact / copy-on-write delete read through the DV mask, so the
    rewrite materializes the deletes and the active-DV set resets."""
    vt = _mk(spark, vt_root, n=12)
    vt.delete_where_mor("k >= 8")
    before = sorted(r.k for r in vt.read().collect())
    assert before == list(range(8))
    v = vt.compact()
    assert vt.active_deletion_vectors() == []
    assert sorted(r.k for r in vt.read().collect()) == before
    assert vt.read(v - 1).count() == 8  # pre-compact version: via DV
    # copy-on-write delete also reads through remaining DVs
    vt.delete_where_mor("k = 0")
    vt.delete_where("k = 1")
    assert vt.active_deletion_vectors() == []
    assert sorted(r.k for r in vt.read().collect()) == list(range(2, 8))


def test_merge_pruned_does_not_resurrect_mor_deleted_rows(spark, vt_root):
    """The touched-slice read of merge_upsert applies DVs, so a
    pruned rewrite of the segment materializes its deletions instead of
    resurrecting them — and DVs on UNTOUCHED segments stay active."""
    lo = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    hi = spark.range(100, 110).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    vt = VersionedTable.create(spark, vt_root, lo)
    vt.append(hi)
    vt.delete_where_mor("k = 105 OR k = 5")  # one hit per segment
    src = spark.createDataFrame([(101, -1), (333, -3)], ["k", "v"])
    v = vt.merge_upsert(src, keys=["k"])
    assert vt._read_commit(v)["rewritten"] == 1  # only the hi segment
    got = {r.k: r.v for r in vt.read().collect()}
    assert 105 not in got  # materialized by the rewrite
    assert 5 not in got  # still masked by the (active) DV
    assert got[101] == -1 and got[333] == -3
    assert len(vt.active_deletion_vectors()) == 1


def test_delete_mor_writes_cdf_and_streams_as_changefeed(spark, vt_root):
    """On a CDF-enabled table delete_mor emits the deleted rows as a
    change segment in the same commit; the streaming source replays it
    under readChangeFeed, refuses plain-append mode, and skips it under
    skipChangeCommits."""
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    vt = VersionedTable.create(spark, vt_root, df, enable_cdf=True)
    v1 = vt.delete_where_mor("k >= 7")
    entry = vt._read_commit(v1)
    assert entry.get("cdf")
    cdf = spark.read.parquet(os.path.join(vt.root, entry["cdf"]))
    assert sorted(r.k for r in cdf.collect()) == [7, 8, 9]
    assert {r._change_type for r in cdf.collect()} == {"delete"}


def test_vacuum_sweeps_dvs_with_their_versions(spark, vt_root):
    """A DV active only at expired versions is reclaimed (its commit's
    readers are gone); reading the expired version then fails loudly on
    the missing DV, same as a vacuumed data segment."""
    vt = _mk(spark, vt_root, n=10)
    v_dv = vt.delete_where_mor("k < 3")
    vt.compact()  # materializes; DV now referenced only by v_dv
    vt.append(
        spark.range(50, 52).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    deleted = vt.vacuum(retain_last=2)
    dv_rel = vt._read_commit(v_dv)["dv_add"][0]
    assert dv_rel in deleted
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        vt.read(v_dv).count()
    assert vt.read().count() == 9  # head unaffected


def test_dv_resolution_through_checkpoint_matches_genesis_fold(
    spark, vt_root
):
    """Past CHECKPOINT_EVERY commits the DV set resolves from the
    checkpoint + tail; it must equal the from-genesis fold."""
    vt = _mk(spark, vt_root, n=6)
    vt.delete_where_mor("k = 0")
    for i in range(CHECKPOINT_EVERY + 2):
        vt.append(
            spark.range(100 + i, 101 + i).select(
                F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")
            )
        )
    vt.delete_where_mor("k = 100")
    v = vt.latest_version()
    assert v > CHECKPOINT_EVERY
    assert vt._replay(v, use_checkpoint=True)["dvs"] == vt._replay(
        v, use_checkpoint=False
    )["dvs"]
    assert len(vt.active_deletion_vectors()) == 2
    assert sorted(r.k for r in vt.read().where("k < 102").collect()) == [
        1, 2, 3, 4, 5, 101,
    ]


def test_stream_source_rejects_or_skips_delete_mor_commits(spark, vt_root):
    """A delete_mor commit changes existing rows with remove=[] — the
    plain append stream must fail loudly, skipChangeCommits must skip."""
    import tempfile as _tf

    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    vt = VersionedTable.create(spark, vt_root, df)
    vt.delete_where_mor("k = 2")
    vt.append(
        spark.range(30, 32).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    register_vtable_source(spark)

    def _drain(**opts):
        out: list = []
        reader = (
            spark.readStream.format("eel_vtable")
            .option("path", vt.root)
        )
        for k, val in opts.items():
            reader = reader.option(k, val)
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName("mor_stream_probe")
            .trigger(availableNow=True)
            .option(
                "checkpointLocation",
                _tf.mkdtemp(prefix="mor-stream-ck-"),
            )
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(
            "SELECT * FROM mor_stream_probe"
        ).collect()
        spark.catalog.dropTempView("mor_stream_probe")
        return rows

    from pyspark.errors.exceptions.base import PySparkException

    with pytest.raises(PySparkException, match="skipChangeCommits"):
        _drain()
    rows = _drain(skipChangeCommits="true")
    # deletes skipped: initial 5 + the 2 appends, k=2 still present
    assert sorted(r.k for r in rows) == [0, 1, 2, 3, 4, 30, 31]


# ------------------------------------------------- bloom point-lookup index
def _mk_bloom(spark, root, n=800, groups=4):
    """Layout clustered by GROUP while lookups probe the unique key —
    every segment's key [min,max] straddles every value, so min/max
    stats can never prune and the bloom filter is the only pruner."""
    def _slice(g):
        # sparse keys (multiples of 7) so in-range ABSENT values exist
        return (
            spark.range(n)
            .select(
                (F.col("id") * 7).alias("k"),
                (F.col("id") % groups).alias("g"),
                (F.col("id") * 3).alias("v"),
            )
            .where(F.col("g") == g)
        )

    vt = VersionedTable.create(
        spark, root, _slice(0),
        bloom_cols=["k"], bloom_bits=1 << 14, bloom_k=5,
    )
    for g in range(1, groups):
        vt.append(_slice(g))
    return vt


def test_bloom_point_lookup_prunes_where_stats_cannot(spark, vt_root):
    vt = _mk_bloom(spark, vt_root)
    assert len(os.listdir(os.path.join(vt_root, "_index"))) == 4
    head = vt.latest_version()
    # stats alone: every segment straddles k=3059 -> nothing skipped
    s_stats, k_stats = vt.pruned_segments(head, "k", 3059, 3059)
    assert k_stats == [] and len(s_stats) == 4
    # bloom: exactly the holding segment (id=437, g = 437 % 4 = 1)
    scanned, skipped = vt.prune_point(head, "k", 3059)
    assert len(scanned) == 1 and len(skipped) == 3
    got = vt.read_point("k", 3059).where(F.col("k") == 3059).collect()
    assert [(r.k, r.g, r.v) for r in got] == [(3059, 1, 1311)]
    # IN-RANGE absent key (not a multiple of 7): stats straddle it in
    # every segment, the bloom still proves all four disjoint
    s_abs, _ = vt.prune_point(head, "k", 3060)
    assert s_abs == []
    assert vt.read_point("k", 3060).where("k = 3060").count() == 0


def test_bloom_probe_is_conservative(spark, vt_root):
    """Unindexed column, missing sidecar, or a bloomless table: the
    probe must answer 'scan' — skipping is only ever proof-backed."""
    vt = _mk_bloom(spark, vt_root)
    head = vt.latest_version()
    # v is not bloom-indexed and every segment straddles: all scanned
    scanned, skipped = vt.prune_point(head, "v", 9)
    assert skipped == [] and len(scanned) == 4
    # a vanished sidecar demotes that segment to always-scan (the probe
    # key is in-range-absent so stats cannot skip either)
    side = sorted(os.listdir(os.path.join(vt_root, "_index")))[0]
    os.unlink(os.path.join(vt_root, "_index", side))
    s2, _ = vt.prune_point(head, "k", 3061)
    assert len(s2) == 1  # only the sidecar-less segment
    # a table with no bloom index at all: read_point = stats-only path
    import tempfile as _tf

    other = os.path.join(_tf.mkdtemp(prefix="noBloom-"), "t")
    vt2 = _mk(spark, other, n=10)
    assert vt2.read_point("k", 3).where("k = 3").count() == 1


def test_bloom_lookup_applies_deletion_vectors(spark, vt_root):
    vt = _mk_bloom(spark, vt_root)
    vt.delete_where_mor("k = 3059")
    assert vt.read_point("k", 3059).where("k = 3059").count() == 0
    assert vt.read_point("k", 3066).where("k = 3066").count() == 1


def test_vacuum_sweeps_bloom_sidecars_with_segments(spark, vt_root):
    vt = _mk_bloom(spark, vt_root)
    n_before = len(os.listdir(os.path.join(vt_root, "_index")))
    assert n_before == 4
    vt.compact()  # replaces 4 segments with 1 (new sidecar written)
    assert len(os.listdir(os.path.join(vt_root, "_index"))) == 5
    vt.vacuum(retain_last=1)
    # expired segments AND their sidecars are gone; the live one stays
    left = os.listdir(os.path.join(vt_root, "_index"))
    assert len(left) == 1
    live_seg = os.path.basename(vt._replay()["live"][0])
    assert left[0] == live_seg + ".bloom.json"
    # and the compacted table still answers point lookups correctly
    assert vt.read_point("k", 3059).where("k = 3059").count() == 1


def test_bloom_index_on_string_column(spark, vt_root):
    df1 = spark.createDataFrame(
        [("alpha", 1), ("beta", 2)], ["name", "v"]
    )
    df2 = spark.createDataFrame(
        [("gamma", 3), ("delta", 4)], ["name", "v"]
    )
    vt = VersionedTable.create(
        spark, vt_root, df1, bloom_cols=["name"], bloom_bits=1 << 10,
        bloom_k=5,
    )
    vt.append(df2)
    scanned, skipped = vt.prune_point(vt.latest_version(), "name", "gamma")
    assert len(scanned) == 1 and len(skipped) == 1
    got = vt.read_point("name", "gamma").where("name = 'gamma'").collect()
    assert [(r.name, r.v) for r in got] == [("gamma", 3)]
    s2, _ = vt.prune_point(vt.latest_version(), "name", "zeta")
    assert s2 == []


# ----------------------------------------------------- merge-on-read MERGE
def test_merge_mor_masks_matches_and_appends_source(spark, vt_root):
    """MOR MERGE: matched target rows masked by a DV, entire source
    appended as one segment, ZERO existing segments rewritten."""
    vt = _mk(spark, vt_root, n=6)  # k 0..5, v = k*10
    src = spark.createDataFrame([(4, -1), (9, -9)], "k bigint, v bigint")
    v1 = vt.merge_upsert_mor(src, keys=["k"])
    entry = vt._read_commit(v1)
    assert entry["op"] == "merge_mor"
    assert entry["remove"] == [] and len(entry["add"]) == 1
    assert len(entry["dv_add"]) == 1
    got = dict(_rows(vt.read()))
    assert got == {0: 0, 1: 10, 2: 20, 3: 30, 4: -1, 5: 50, 9: -9}
    assert _rows(vt.read(0)) == [(k, k * 10) for k in range(6)]  # v0 intact
    assert vt._read_commit(0)["add"][0] in set(vt._replay(v1)["live"])
    # the DV holds exactly the one matched row's position
    dv = spark.read.parquet(
        os.path.join(vt.root, entry["dv_add"][0])
    )
    assert dv.count() == 1


def test_merge_mor_respects_prior_dvs_and_compacts_clean(spark, vt_root):
    """A key previously DV-deleted is NOT a match (it is dead) — the
    source row for it is an insert; compaction materializes the whole
    stack and resets the DV set."""
    vt = _mk(spark, vt_root, n=8)
    vt.delete_where_mor("k >= 6")  # k 6,7 masked
    vt.merge_upsert_mor(
        spark.createDataFrame([(0, -1), (6, -6)], "k bigint, v bigint"),
        keys=["k"],
    )
    got = dict(_rows(vt.read()))
    assert got == {0: -1, 1: 10, 2: 20, 3: 30, 4: 40, 5: 50, 6: -6}
    assert len(vt.active_deletion_vectors()) == 2
    before = _rows(vt.read())
    vt.compact()
    assert vt.active_deletion_vectors() == []
    assert _rows(vt.read()) == before


def test_merge_mor_writes_update_and_insert_cdf(spark, vt_root):
    df = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    vt = VersionedTable.create(spark, vt_root, df, enable_cdf=True)
    v1 = vt.merge_upsert_mor(
        spark.createDataFrame([(2, -2), (50, -50)], "k bigint, v bigint"),
        keys=["k"],
    )
    cdf = spark.read.parquet(
        os.path.join(vt.root, vt._read_commit(v1)["cdf"])
    )
    got = sorted((r.k, r.v, r._change_type) for r in cdf.collect())
    assert got == [
        (2, -2, "update_postimage"),
        (2, 20, "update_preimage"),
        (50, -50, "insert"),
    ]


# --------------------------------------------- review-fix behavior pins
def test_pure_insert_merge_mor_registers_no_dv(spark, vt_root):
    """A MOR merge whose keys are all new (the common incremental-ingest
    shape) must commit as a plain append: no dv_add (the anti-join plan
    and change-commit stream classification are pay-as-you-go)."""
    vt = _mk(spark, vt_root, n=4)
    v1 = vt.merge_upsert_mor(
        spark.createDataFrame([(100, -1), (200, -2)], "k bigint, v bigint"),
        keys=["k"],
    )
    entry = vt._read_commit(v1)
    assert "dv_add" not in entry
    assert vt.active_deletion_vectors() == []
    assert os.listdir(os.path.join(vt_root, "dv")) == []  # no stranded file
    plan = vt.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # still the plain scan
    assert vt.read().count() == 6
    # a no-op MOR delete likewise records no DV
    v2 = vt.delete_where_mor("k = 99999")
    assert "dv_add" not in vt._read_commit(v2)
    assert vt.read().count() == 6


def test_create_validates_bloom_args_before_touching_disk(spark, vt_root):
    df = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("x")
    )
    with pytest.raises(ValueError, match="bloom_bits"):
        VersionedTable.create(
            spark, vt_root, df, bloom_cols=["k"], bloom_bits=32
        )
    # float columns are not bloomable (engine-divergent string forms
    # would make the probe a false-NEGATIVE machine)
    with pytest.raises(ValueError, match="supports"):
        VersionedTable.create(spark, vt_root, df, bloom_cols=["x"])
    with pytest.raises(ValueError, match="supports"):
        VersionedTable.create(spark, vt_root, df, bloom_cols=["nope"])
    assert not os.path.exists(vt_root)  # nothing half-created
    VersionedTable.create(spark, vt_root, df, bloom_cols=["k"])  # retry ok


def test_bloom_probe_rejects_unsafe_value_types(spark, vt_root):
    vt = _mk_bloom(spark, vt_root)
    head = vt.latest_version()
    for bad in (3059.0, True, None):
        with pytest.raises((TypeError, ValueError)):
            vt.prune_point(head, "k", bad)
    # a malformed sidecar payload degrades to scan, never a crash
    side = sorted(os.listdir(os.path.join(vt_root, "_index")))[0]
    path = os.path.join(vt_root, "_index", side)
    payload = json.load(open(path))
    payload["m"] = "not-a-number"
    json.dump(payload, open(path, "w"))
    scanned, _ = vt.prune_point(head, "k", 3061)  # in-range absent
    assert len(scanned) == 1  # the corrupt-sidecar segment is scanned


def test_reserved_dv_identity_names_rejected_at_write(spark, vt_root):
    bad = spark.range(2).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("_dv_pos")
    )
    with pytest.raises(ValueError, match="reserved"):
        VersionedTable.create(spark, vt_root, bad)
    vt = _mk(spark, vt_root, n=2)
    with pytest.raises(ValueError, match="reserved"):
        vt.overwrite(bad)
    with pytest.raises(ValueError, match="reserved"):
        vt.append_evolve(
            spark.range(1).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("v"),
                F.lit("x").alias("_dv_seg"),
            )
        )


def test_compact_dvs_folds_active_set_identically(spark, vt_root):
    """DV maintenance: N active position files fold into ONE in a
    metadata-only commit — reads identical before/after, time travel to
    the pre-fold version still serves the old DVs, single-DV tables
    no-op commit-free, and the stream source skips the commit like
    compact (dataChange=false)."""
    vt = _mk(spark, vt_root, n=20)
    vt.delete_where_mor("k % 5 = 0")
    vt.delete_where_mor("k = 7")
    vt.merge_upsert_mor(
        spark.createDataFrame([(3, -3), (100, -100)], "k bigint, v bigint"),
        keys=["k"],
    )
    assert len(vt.active_deletion_vectors()) == 3
    before = _rows(vt.read())
    v = vt.compact_dvs()
    assert len(vt.active_deletion_vectors()) == 1
    assert vt._read_commit(v)["folded"] == 3
    assert _rows(vt.read()) == before
    assert _rows(vt.read(v - 1)) == before  # pre-fold: old DVs intact
    # idempotent: one active DV -> no-op, no commit
    assert vt.compact_dvs() == v
    assert vt.latest_version() == v
    # the stream planner classifies dv_compact as dataChange=false
    from pyspark.sql.types import LongType, StructField as SF, StructType as ST

    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        VtableStreamReader,
    )

    reader = VtableStreamReader(
        vt.root,
        ST([SF("k", LongType()), SF("v", LongType())]),
        {"skipChangeCommits": "true"},
    )
    parts_all = reader.partitions({"version": -1}, {"version": v})
    parts_to_fold = reader.partitions({"version": -1}, {"version": v - 1})
    assert len(parts_all) == len(parts_to_fold)  # the fold commit adds none
    # vacuum with only the post-fold version retained reclaims the
    # folded-away DV files
    vt.append(
        spark.range(200, 202).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    deleted = vt.vacuum(retain_last=1)
    assert sum(1 for d in deleted if d.startswith("dv/")) == 3
    assert len(os.listdir(os.path.join(vt.root, "dv"))) == 1
    assert dict(_rows(vt.read()))[3] == -3  # merged DV still serving


def test_restore_is_metadata_only_and_preserves_history(spark, vt_root):
    """RESTORE = new commit with a file-list diff: the head serves the
    target state exactly, NO data directory is written, every
    intermediate version keeps time-traveling, restoring to the current
    state no-ops commit-free, and writes continue on top."""
    vt = _mk(spark, vt_root, n=20)
    v0_rows = _rows(vt.read())
    vt.delete_where("k % 5 = 0")                      # v1 copy-on-write
    vt.append(
        spark.range(100, 103).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )                                                  # v2
    n_dirs = len(os.listdir(os.path.join(vt_root, "data")))
    v = vt.restore(0)                                  # v3: pure metadata
    assert v == 3
    assert len(os.listdir(os.path.join(vt_root, "data"))) == n_dirs
    assert _rows(vt.read()) == v0_rows
    assert vt._read_commit(3)["restored_from"] == 0
    # history intact: the "undone" versions still serve
    assert _rows(vt.read(1)) == [r for r in v0_rows if r[0] % 5 != 0]
    assert vt.read(2).count() == len(v0_rows) - 4 + 3
    # restoring to the state already served: no-op, no commit
    assert vt.restore(3) == 3
    assert vt.restore(0) == 3
    assert vt.latest_version() == 3
    # writes continue on top of the restored state
    vt.append(
        spark.range(200, 202).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )                                                  # v4
    assert vt.read().count() == len(v0_rows) + 2
    # vacuum keeps the re-referenced segment: head stays readable
    vt.vacuum(retain_last=1)
    assert _rows(vt.read())[: len(v0_rows)] == v0_rows


def test_restore_swaps_deletion_vector_state(spark, vt_root):
    """Restore across MOR history must swap the ACTIVE DV SET both ways:
    back to pre-delete (masks lifted) and forward again onto a DV
    version (masks re-applied via the re-referenced position files)."""
    vt = _mk(spark, vt_root, n=20)
    all_rows = _rows(vt.read())
    vt.delete_where_mor("k % 4 = 0")                   # v1: DV #1
    masked = _rows(vt.read())
    assert len(vt.active_deletion_vectors()) == 1
    v = vt.restore(0)                                  # v2: DV set -> empty
    assert vt.active_deletion_vectors() == []
    assert _rows(vt.read()) == all_rows
    v = vt.restore(1)                                  # v3: DV set restored
    assert len(vt.active_deletion_vectors()) == 1
    assert _rows(vt.read()) == masked
    assert v == 3


def test_restore_across_evolution_narrows_schema(spark, vt_root):
    """Restoring past an append_evolve serves the TARGET's (narrower)
    schema again; the evolved version keeps its wide schema under time
    travel."""
    vt = _mk(spark, vt_root, n=5)
    vt.append_evolve(
        spark.range(50, 52).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.lit("x").alias("tag"),
        )
    )                                                  # v1: wide
    assert vt.read().columns == ["k", "v", "tag"]
    vt.restore(0)                                      # v2: narrow again
    assert vt.read().columns == ["k", "v"]
    assert vt.read(1).columns == ["k", "v", "tag"]
    # schema-on-write follows the RESTORED schema
    vt.append(
        spark.range(60, 61).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    assert vt.read().count() == 6


def test_restore_vacuumed_target_fails_loudly(spark, vt_root):
    """A restore target whose segments were vacuumed must raise, never
    read as zero rows (Delta: cannot restore past retention)."""
    vt = _mk(spark, vt_root, n=5)
    vt.overwrite(
        spark.range(3).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    vt.overwrite(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    vt.vacuum(retain_last=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        vt.restore(0)


def test_stream_source_treats_restore_as_change_commit(spark, vt_root):
    """A restore resurrects/removes rows — never replayable as an
    append: the source raises by default and skips the commit wholesale
    under skipChangeCommits (re-referenced segments must NOT re-stream)."""
    from pyspark.sql.types import LongType, StructField as SF, StructType as ST

    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        VtableStreamReader,
    )

    vt = _mk(spark, vt_root, n=5)
    vt.append(
        spark.range(10, 12).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )                                                  # v1
    v = vt.restore(0)                                  # v2
    schema = ST([SF("k", LongType()), SF("v", LongType())])
    strict = VtableStreamReader(vt.root, schema, {})
    with pytest.raises(RuntimeError, match="restore"):
        strict.partitions({"version": -1}, {"version": v})
    lax = VtableStreamReader(
        vt.root, schema, {"skipChangeCommits": "true"}
    )
    parts_all = lax.partitions({"version": -1}, {"version": v})
    parts_pre = lax.partitions({"version": -1}, {"version": v - 1})
    assert len(parts_all) == len(parts_pre)  # restore replayed nothing


def _mk_checked(spark, root, n=10):
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    return VersionedTable.create(
        spark, root, df, constraints={"v_nonneg": "v >= 0"}
    )


def test_create_constraint_rejects_bad_defs_before_mkdir(spark, vt_root):
    """Malformed constraint DEFINITIONS reject the create before any
    mkdir — a retry must not hit 'already exists'."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    df = spark.range(3).select(F.col("id").alias("k"))
    for bad in (
        {"has space": "k >= 0"},
        {"": "k >= 0"},
        {"c1": "   "},
        {"c1": "no_such_col > 0"},
    ):
        with pytest.raises(Exception):
            VersionedTable.create(spark, vt_root, df, constraints=bad)
        assert not os.path.exists(vt_root)
    VersionedTable.create(spark, vt_root, df, constraints={"k_ok": "k >= 0"})


def test_create_constraint_violating_data_tears_root_down(spark, vt_root):
    """Data violating a constraint at create time rejects the create and
    removes the half-built root — the call is retryable."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        ConstraintViolationError,
        VersionedTable,
    )

    df = spark.range(5).select(
        F.col("k").alias("k")
        if False
        else F.col("id").alias("k"),
        (F.col("id") - 2).alias("v"),  # v in [-2, 2]: two violations
    )
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        VersionedTable.create(
            spark, vt_root, df, constraints={"v_nonneg": "v >= 0"}
        )
    assert not os.path.exists(vt_root)
    _mk_checked(spark, vt_root)  # retry with clean data succeeds


def test_write_enforcement_rejects_batch_wholesale(spark, vt_root):
    """A violating batch is rejected WHOLE at segment-write time — the
    table is untouched and the offending segment is cleaned up (no
    orphan for vacuum to sweep)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        ConstraintViolationError,
    )

    vt = _mk_checked(spark, vt_root)
    before = _rows(vt.read())
    n_dirs = len(os.listdir(os.path.join(vt_root, "data")))
    bad = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") - 1).alias("v")
    )
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        vt.append(bad)
    assert vt.latest_version() == 0
    assert _rows(vt.read()) == before
    assert len(os.listdir(os.path.join(vt_root, "data"))) == n_dirs
    # merge goes through the same choke point
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        vt.merge_upsert(bad, keys=["k"])
    assert _rows(vt.read()) == before


def test_add_drop_constraint_lifecycle(spark, vt_root):
    """add_constraint validates EXISTING rows first; the active map
    follows set_constraint commits; UNKNOWN passes (ANSI CHECK) so NOT
    NULL must be spelled explicitly; drop_constraint re-opens the gate."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        ConstraintViolationError,
    )

    vt = _mk(spark, vt_root, n=10)  # k in [0,9], v = 10k
    with pytest.raises(ConstraintViolationError, match="not added"):
        vt.add_constraint("k_big", "k >= 5")  # existing rows violate
    assert vt.constraints() == {}
    vt.add_constraint("v_cap", "v <= 1000")
    assert vt.constraints() == {"v_cap": "v <= 1000"}
    with pytest.raises(ValueError, match="already exists"):
        vt.add_constraint("v_cap", "v <= 500")
    with pytest.raises(ConstraintViolationError, match="v_cap"):
        vt.append(
            spark.createDataFrame([(50, 5000)], "k bigint, v bigint")
        )
    # UNKNOWN passes: a NULL v satisfies v_cap (ANSI CHECK semantics)
    vt.append(spark.createDataFrame([(60, None)], "k bigint, v bigint"))
    assert (60, None) in _rows(vt.read())
    # ... until NOT NULL is spelled explicitly
    vt.drop_constraint("v_cap")
    with pytest.raises(ConstraintViolationError):
        vt.add_constraint("v_notnull", "v IS NOT NULL")  # the null row
    vt.delete_where("v IS NULL")
    vt.add_constraint("v_notnull", "v IS NOT NULL")
    with pytest.raises(ConstraintViolationError, match="v_notnull"):
        vt.append(
            spark.createDataFrame([(61, None)], "k bigint, v bigint")
        )
    vt.append(spark.createDataFrame([(70, 7000)], "k bigint, v bigint"))
    with pytest.raises(ValueError, match="no constraint named"):
        vt.drop_constraint("ghost")


def test_validate_constraints_audit(spark, vt_root):
    """One-pass audit: active constraints report 0 (writes enforce
    them); extra what-if checks count their would-be violations."""
    vt = _mk_checked(spark, vt_root)  # v = 10k, k in [0,9]
    got = {
        r.check_name: (r.n_violations, r.n_rows)
        for r in vt.validate_constraints(
            extra_checks={"v_cap_50": "v <= 50"}
        ).collect()
    }
    assert got == {"v_nonneg": (0, 10), "v_cap_50": (4, 10)}
    with pytest.raises(ValueError, match="no constraints"):
        _mk(spark, vt_root + "2").validate_constraints()
    assert vt.constraint_violations("v <= 50").count() == 4


def test_constraints_survive_restore(spark, vt_root):
    """Constraints are governance metadata: restore reverts DATA, not
    the active constraint map."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        ConstraintViolationError,
    )

    vt = _mk(spark, vt_root, n=5)
    vt.append(
        spark.range(10, 12).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )                                                  # v1
    vt.add_constraint("v_nonneg", "v >= 0")            # v2
    vt.restore(1)                                      # v3
    assert vt.constraints() == {"v_nonneg": "v >= 0"}
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        vt.append(
            spark.createDataFrame([(99, -1)], "k bigint, v bigint")
        )


def _batch_src(spark, root, **opts):
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    r = spark.read.format("eel_vtable").option("path", root)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_source_reads_snapshot_with_dv_mask(spark, vt_root):
    """spark.read.format('eel_vtable') serves the head through per-file
    position masks — identical rows to the anti-join read path."""
    vt = _mk(spark, vt_root, n=40)
    vt.delete_where_mor("k % 4 = 0")
    vt.append(
        spark.range(100, 105).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    src = _batch_src(spark, vt_root)
    assert _rows(src) == _rows(vt.read())
    assert (100, 1000) in _rows(src)  # post-DV append unmasked
    # versionAsOf pins data AND the version-scoped DV set
    assert _rows(_batch_src(spark, vt_root, versionAsOf=0)) == _rows(
        vt.read(0)
    )
    assert _rows(_batch_src(spark, vt_root, versionAsOf=1)) == _rows(
        vt.read(1)
    )


def test_batch_source_pushdown_prunes_files(spark, vt_root):
    """pushFilters drives stats+bloom file skipping: a point probe plans
    fewer partitions than the full scan, an absent key plans zero, a
    range conjunct prunes disjoint segments — and ALL filters are
    returned for engine-side re-application."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    from energy_emissions_lakehouse_spark.sources.vtable_batch import (
        VtableBatchReader,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    vt = VersionedTable.create(
        spark, vt_root, df.filter("k < 50"),
        bloom_cols=["k"], bloom_bits=4096, bloom_k=5,
    )
    vt.append(df.filter("k >= 50"))
    schema = vt.read().schema

    def parts(filters):
        r = VtableBatchReader(vt_root, schema, {})
        if filters:
            returned = r.pushFilters(filters)
            assert list(returned) == filters  # residual = everything
        return len(r.partitions())

    full = parts([])
    assert parts([EqualTo(("k",), 7)]) < full          # stats prune
    assert parts([EqualTo(("k",), 123456)]) == 0       # bloom: absent
    assert parts([GreaterThan(("k",), 60)]) < full     # range prune
    assert parts([In(("k",), (3, 7))]) < full
    # unsupported shapes never prune (conservative)
    assert parts([EqualTo(("no_stats_col",), 1)]) == full
    # ...and pushed queries stay value-correct end to end
    src = _batch_src(spark, vt_root)
    assert [tuple(r) for r in src.where("k = 7").collect()] == [(7, 70)]
    assert src.where("k > 97").count() == 2


def test_batch_source_evolution_and_cdf_rejection(spark, vt_root):
    """Pre-evolution files null-fill evolved columns through the batch
    source; readChangeFeed is a streaming-only option on the batch path."""
    vt = _mk(spark, vt_root, n=3)
    vt.append_evolve(
        spark.range(10, 12).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.lit("new").alias("tag"),
        )
    )
    src = _batch_src(spark, vt_root)
    got = {r.k: r.tag for r in src.collect()}
    assert got[0] is None and got[10] == "new"
    # narrow snapshot through versionAsOf
    assert _batch_src(spark, vt_root, versionAsOf=0).columns == ["k", "v"]
    with pytest.raises(Exception, match="readChangeFeed"):
        _batch_src(spark, vt_root, readChangeFeed="true").collect()


def test_sink_write_modes_and_schema(spark, vt_root):
    """df.write.format('eel_vtable'): save-to-new-root CREATES the
    table, append enforces the exact schema, overwrite replaces the
    live set and may evolve, and every version stays time-travelable."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )

    def w(frame, mode):
        frame.write.format("eel_vtable").option("path", vt_root).mode(
            mode
        ).save()

    w(df.filter("k < 30"), "overwrite")  # create
    vt = VersionedTable(spark, vt_root)
    assert vt.latest_version() == 0
    assert vt._read_commit(0)["op"] == "create"
    w(df.filter("k >= 30"), "append")
    assert _rows(vt.read()) == _rows(df)
    assert vt._read_commit(1)["stats"]  # footer stats folded
    with pytest.raises(Exception, match="schema-on-write"):
        w(spark.range(3).select(F.col("id").alias("x")), "append")
    assert vt.latest_version() == 1  # rejected before any commit
    w(
        spark.range(5).select(
            F.col("id").alias("a"), F.lit("s").alias("b")
        ),
        "overwrite",
    )  # overwrite may evolve the schema
    assert vt.read().columns == ["a", "b"]
    assert vt.read(1).count() == 50  # history intact
    # the sink's segment reads through the batch source too
    src = (
        spark.read.format("eel_vtable")
        .option("path", vt_root)
        .option("versionAsOf", 1)
        .load()
    )
    assert _rows(src) == _rows(df)


def test_sink_overwrite_resets_spec_and_renames(spark, vt_root):
    """A sink overwrite to a new shape resets the partition spec and the
    rename chains exactly as overwrite() does, so the next API append in
    the new shape lands (a stale spec column would not resolve)."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    vt = _mk(spark, vt_root)
    vt.set_partition_spec([("k", "bucket", 4)])
    vt.rename_column("v", "w")
    spark.range(5).select(
        F.col("id").alias("a"), F.lit("s").alias("b")
    ).write.format("eel_vtable").option("path", vt_root).mode(
        "overwrite"
    ).save()
    entry = vt._read_commit(vt.latest_version())
    assert entry["op"] == "overwrite"
    assert entry["spec"] == [] and entry["renames"] == {}
    vt.append(
        spark.range(5, 8).select(
            F.col("id").alias("a"), F.lit("t").alias("b")
        )
    )
    assert sorted(r.a for r in vt.read().collect()) == list(range(8))


def test_sink_create_rejects_reserved_names(spark, vt_root):
    """A sink create runs create()'s reserved-name check: a frame with a
    deletion-vector identity column fails with the same error and leaves
    no log behind."""
    import re

    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    bad = spark.range(3).select(
        F.col("id").alias("k"), F.lit("x").alias("_dv_seg")
    )
    with pytest.raises(ValueError, match="reserved") as api:
        VersionedTable.create(spark, vt_root, bad)
    with pytest.raises(Exception, match=re.escape(str(api.value))):
        bad.write.format("eel_vtable").option("path", vt_root).mode(
            "overwrite"
        ).save()
    assert not os.path.isdir(os.path.join(vt_root, "_log"))


def test_sink_constraint_enforcement_and_cleanup(spark, vt_root):
    """CHECK constraints gate the DataFrame sink exactly like API
    writes: a violating job aborts, the table is untouched, and the
    written segment is cleaned up."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    vt = _mk_checked(spark, vt_root)  # v_nonneg: v >= 0
    bad = spark.createDataFrame([(99, -5)], "k bigint, v bigint")
    with pytest.raises(Exception, match="v_nonneg"):
        bad.write.format("eel_vtable").option("path", vt_root).mode(
            "append"
        ).save()
    assert vt.latest_version() == 0
    assert len(os.listdir(os.path.join(vt_root, "data"))) == 1
    good = spark.createDataFrame([(99, 5)], "k bigint, v bigint")
    good.write.format("eel_vtable").option("path", vt_root).mode(
        "append"
    ).save()
    assert (99, 5) in _rows(vt.read())


def test_sink_commit_publishes_only_reported_task_files(spark, vt_root):
    """The commit references the segment DIRECTORY, so the directory
    must hold exactly the files successful task attempts reported:
    stray files (speculative duplicates, failed-attempt leftovers) are
    swept before publication, and a failed write() leaves no readable
    parquet behind."""
    import pyarrow as pa

    from energy_emissions_lakehouse_spark.sources.vtable_batch import (
        VtableBatchWriter,
    )

    _mk(spark, vt_root, n=5)
    schema = VersionedTable(spark, vt_root).read().schema
    w = VtableBatchWriter(vt_root, schema, overwrite=False)
    batch = pa.record_batch(
        {"k": pa.array([100], pa.int64()), "v": pa.array([1], pa.int64())}
    )
    msg = w.write(iter([batch]))
    seg = os.path.join(vt_root, w.rel)
    # a speculative/retried attempt's file nothing reported
    stray = os.path.join(seg, "part-deadbeef.parquet")
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": [999], "v": [9]}), stray)
    w.commit([msg])
    assert not os.path.exists(stray)
    vt = VersionedTable(spark, vt_root)
    assert (100, 1) in _rows(vt.read())
    assert (999, 9) not in _rows(vt.read())

    # a failing task must not finalize a valid parquet
    w2 = VtableBatchWriter(vt_root, schema, overwrite=False)

    def boom():
        yield batch
        raise RuntimeError("task died")

    with pytest.raises(RuntimeError, match="task died"):
        w2.write(boom())
    seg2 = os.path.join(vt_root, w2.rel)
    assert glob.glob(os.path.join(seg2, "*.parquet")) == []


def test_sink_abort_never_removes_root(spark, vt_root):
    """abort() sweeps only the job's segment — never the root (a
    concurrent creator may have committed a real table there, and the
    root may hold pre-existing unrelated files)."""
    from pyspark.sql.types import LongType, StructField as SF, StructType as ST

    from energy_emissions_lakehouse_spark.sources.vtable_batch import (
        VtableBatchWriter,
    )

    os.makedirs(vt_root)
    keepsake = os.path.join(vt_root, "unrelated.txt")
    with open(keepsake, "w") as fh:
        fh.write("precious")
    schema = ST([SF("k", LongType()), SF("v", LongType())])
    w = VtableBatchWriter(vt_root, schema, overwrite=True)  # creating
    os.makedirs(os.path.join(vt_root, w.rel), exist_ok=True)
    w.abort([None])
    assert os.path.exists(keepsake)
    assert not os.path.exists(os.path.join(vt_root, w.rel))
    # ...and a concurrently-created table survives an aborted creator
    _mk(spark, os.path.join(vt_root, "winner"))
    w2 = VtableBatchWriter(os.path.join(vt_root, "winner"), schema, True)
    w2.abort([None])
    assert VersionedTable(spark, os.path.join(vt_root, "winner")).read(
    ).count() == 20


def test_create_violation_teardown_spares_preexisting_files(spark, vt_root):
    """A constraint-violating create removes only what it made — a
    pre-existing unrelated file in the root survives."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        ConstraintViolationError,
    )

    os.makedirs(vt_root)
    keepsake = os.path.join(vt_root, "unrelated.txt")
    with open(keepsake, "w") as fh:
        fh.write("precious")
    df = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") - 2).alias("v")
    )
    with pytest.raises(ConstraintViolationError):
        VersionedTable.create(
            spark, vt_root, df, constraints={"v_nonneg": "v >= 0"}
        )
    assert os.path.exists(keepsake)
    assert not os.path.isdir(os.path.join(vt_root, "_log"))
    # retryable in place
    VersionedTable.create(
        spark, vt_root, df.withColumn("v", F.abs(F.col("v"))),
        constraints={"v_nonneg": "v >= 0"},
    )


def test_restore_revalidates_constraints_added_since_target(spark, vt_root):
    """Restoring to a snapshot predating an active constraint must not
    resurrect violating rows: the restore validates the target snapshot
    and refuses — while a target at which the constraint was already
    active restores without complaint."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        ConstraintViolationError,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, -5), (3, 30)], "k bigint, v bigint"
    )
    vt = VersionedTable.create(spark, vt_root, df)
    vt.delete_where("v < 0")                      # v1: clean
    vt.add_constraint("v_nonneg", "v >= 0")       # v2: validates v1 head
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        vt.restore(0)                             # would resurrect v=-5
    assert vt.latest_version() == 2               # refused, unchanged
    vt.append(spark.createDataFrame([(4, 40)], "k bigint, v bigint"))
    assert vt.restore(1) == 4                     # constraint active-at-
    assert sorted(r.k for r in vt.read().collect()) == [1, 3]


def test_constraints_fold_into_checkpoints(spark, vt_root):
    """The active constraint map rides the log checkpoints, so
    resolution is O(tail) — the checkpoint payload carries it and the
    resolver serves it past the checkpoint floor."""
    vt = _mk(spark, vt_root, n=5)
    vt.add_constraint("v_nonneg", "v >= 0")
    for i in range(CHECKPOINT_EVERY + 1):
        vt.append(
            spark.createDataFrame([(100 + i, i)], "k bigint, v bigint")
        )
    ckpt = vt._latest_checkpoint(vt.latest_version())
    assert ckpt is not None
    assert ckpt["constraints"] == {"v_nonneg": "v >= 0"}
    assert vt.constraints() == {"v_nonneg": "v >= 0"}


# ------------------------------------------------------- UPDATE / replaceWhere
def _mk_two_seg(spark, root) -> VersionedTable:
    """k in [0,50) and [50,100) as two segments, v = k*10."""
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    vt = VersionedTable.create(spark, root, df.where("k < 50"))
    vt.append(df.where("k >= 50"))
    return vt


def test_update_where_mor_masks_and_appends(spark, vt_root):
    """MOR UPDATE: matched positions land in a DV, post-images append as
    one segment, ZERO existing segments are rewritten — and the
    semantics are position-scoped (a later append matching the
    predicate is untouched)."""
    vt = _mk_two_seg(spark, vt_root)
    v = vt.update_where_mor("k % 10 = 0", {"v": "v + 1"})
    entry = vt._read_commit(v)
    assert entry["op"] == "update_mor"
    assert entry["remove"] == [] and len(entry["add"]) == 1
    assert len(entry["dv_add"]) == 1
    head = vt.read()
    assert head.count() == 100  # mask and append cancel out
    got = sorted(r.v for r in head.where("k % 10 = 0").collect())
    assert got == [k * 10 + 1 for k in range(0, 100, 10)]
    # position-scoped: a later matching append stays untouched
    vt.append(spark.createDataFrame([(200, 7)], "k bigint, v bigint"))
    assert vt.read().where("k = 200").collect()[0].v == 7
    # zero matches: no-op, commit-free
    assert vt.update_where_mor("k = -1", {"v": "0"}) == vt.latest_version()


def test_update_where_cow_rewrites_only_touched(spark, vt_root):
    """Pruned copy-on-write UPDATE: only segments holding matching rows
    are rewritten; the discovery is exact, and predicate-UNKNOWN rows
    are kept unchanged (SQL UPDATE null semantics)."""
    vt = _mk_two_seg(spark, vt_root)
    live_before = set(vt._replay(vt.latest_version())["live"])
    v = vt.update_where("k >= 50 AND k < 55", {"v": "-1"})
    entry = vt._read_commit(v)
    assert entry["op"] == "update"
    assert entry["rewritten"] == 1 and entry["preserved"] == 1
    # the untouched [0,50) segment survives by NAME in the live set
    live_after = set(vt._replay(v)["live"])
    assert len(live_before & live_after) == 1
    head = vt.read()
    assert head.count() == 100
    assert head.where("v = -1").count() == 5
    assert head.where("k = 49").collect()[0].v == 490
    # UNKNOWN rows kept: null-yielding predicate touches nothing
    assert vt.update_where("k / 0 > 1", {"v": "0"}) == v  # null pred -> no-op
    # zero matches: commit-free
    assert vt.update_where("k = -1", {"v": "0"}) == v


def test_update_set_list_validation_and_cast(spark, vt_root):
    """SET targets must be existing columns; values cast to the CURRENT
    column type (ANSI UPDATE), never evolving the schema."""
    vt = _mk_two_seg(spark, vt_root)
    with pytest.raises(ValueError, match="SET target"):
        vt.update_where("k = 0", {"nope": "1"})
    with pytest.raises(ValueError, match="empty SET"):
        vt.update_where("k = 0", {})
    v = vt.update_where("k = 0", {"v": "'123'"})  # string literal -> bigint
    row = vt.read(v).where("k = 0").collect()[0]
    assert row.v == 123
    assert dict(vt.read().dtypes)["v"] == "bigint"


def test_update_where_mor_images_pass_constraints(spark, vt_root):
    """Updated images go through the same CHECK-constraint choke point
    as every write: a violating update is rejected wholesale and the
    table (and its DV set) is unchanged."""
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    vt = VersionedTable.create(
        spark, vt_root, df, constraints={"v_nonneg": "v >= 0"}
    )
    from energy_emissions_lakehouse_spark.operators.vtable import (
        ConstraintViolationError,
    )

    with pytest.raises(ConstraintViolationError):
        vt.update_where_mor("k < 3", {"v": "-5"})
    assert vt.latest_version() == 0
    assert vt.active_deletion_vectors() == []
    assert vt.read().where("v < 0").count() == 0


def test_overwrite_range_prunes_and_replaces(spark, vt_root):
    """replaceWhere on a range: stats-disjoint segments never enter the
    discovery scan (stats_skipped pinned), matching rows are replaced by
    the batch atomically, and a batch violating the predicate is
    rejected with the table unchanged."""
    vt = _mk_two_seg(spark, vt_root)
    repl = spark.range(50, 60).select(
        F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")
    )
    v = vt.overwrite_range(repl, "k", 50, 99)
    entry = vt._read_commit(v)
    assert entry["op"] == "replace_where"
    assert entry["rewritten"] == 1          # only the [50,100) segment
    assert entry["stats_skipped"] == 1      # [0,50) never scanned
    assert entry["preserved"] == 1
    head = vt.read()
    assert head.count() == 60               # 50 kept + 10 replacement
    assert head.where("k >= 60").count() == 0
    assert head.where("v = 0 AND k >= 50").count() == 10
    # batch outside the predicate: rejected, table unchanged
    bad = spark.createDataFrame([(1, 1)], "k bigint, v bigint")
    with pytest.raises(ValueError, match="ALL satisfy the predicate"):
        vt.overwrite_range(bad, "k", 50, 99)
    assert vt.latest_version() == v
    # empty batch = pure predicate delete; no zero-row segment registered
    v2 = vt.overwrite_range(repl.where("k < 0"), "k", 50, 99)
    e2 = vt._read_commit(v2)
    assert e2["add"] == [] and len(e2["remove"]) == 1
    assert vt.read().count() == 50
    # nothing matched AND empty batch: no-op, commit-free
    assert vt.overwrite_range(repl.where("k < 0"), "k", 90, 99) == v2


def test_overwrite_where_cdf_and_stream_semantics(spark, vt_root):
    """replaceWhere on a CDF table writes delete+insert change rows from
    the already-written batch; a replace that touches NO existing rows
    is structurally a plain append and must stream as one."""
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    vt = VersionedTable.create(spark, vt_root, df, enable_cdf=True)
    repl = spark.createDataFrame([(3, 333), (4, 444)], "k bigint, v bigint")
    v = vt.overwrite_where(repl, "k IN (3, 4)")
    cdf = spark.read.parquet(
        os.path.join(vt_root, vt._read_commit(v)["cdf"])
    )
    got = sorted(
        (r["_change_type"], r.k, r.v) for r in cdf.collect()
    )
    assert got == [
        ("delete", 3, 30), ("delete", 4, 40),
        ("insert", 3, 333), ("insert", 4, 444),
    ]
    # disjoint slice: remove=[] and no DV -> classified as plain append
    v2 = vt.overwrite_where(
        spark.createDataFrame([(100, 1)], "k bigint, v bigint"), "k = 100"
    )
    e2 = vt._read_commit(v2)
    assert e2["remove"] == [] and "dv_add" not in e2


def test_update_cow_materializes_dvs_of_touched_segments(spark, vt_root):
    """A COW update rewrites touched segments through a DV-aware read:
    previously MOR-deleted rows must not resurrect in the rewrite."""
    vt = _mk_two_seg(spark, vt_root)
    vt.delete_where_mor("k = 51")
    vt.update_where("k >= 50", {"v": "v + 1"})
    head = vt.read()
    assert head.where("k = 51").count() == 0
    assert head.count() == 99
    assert head.where("k = 52").collect()[0].v == 521


def test_clone_is_zero_copy_and_independent(spark, vt_root):
    """clone_to hard-links every file (zero-copy: same inode), the clone
    diverges independently, and a vacuum on EITHER side never breaks the
    other (each root unlinks only its own names)."""
    vt = _mk_two_seg(spark, vt_root)
    clone_root = vt_root + "-clone"
    cl = vt.clone_to(clone_root)
    part = glob.glob(os.path.join(vt_root, "data", "*", "part-*.parquet"))[0]
    rel = os.path.relpath(part, vt_root)
    assert os.path.samefile(part, os.path.join(clone_root, rel))
    # full history cloned: time travel works on the clone
    assert cl.read(0).count() == 50 and cl.read().count() == 100
    # divergence is isolated both ways
    cl.delete_where("k % 2 = 0")
    vt.append(spark.createDataFrame([(500, 1)], "k bigint, v bigint"))
    assert cl.read().count() == 50
    assert vt.read().count() == 101
    # source compact+vacuum reclaims ITS names; the clone keeps reading
    vt.compact()
    vt.vacuum(retain_last=1, orphan_grace_s=0.0)
    assert cl.read().count() == 50
    # and vice versa
    cl.compact()
    cl.vacuum(retain_last=1, orphan_grace_s=0.0)
    assert vt.read().count() == 101
    with pytest.raises(FileExistsError):
        vt.clone_to(clone_root)
    shutil.rmtree(clone_root, ignore_errors=True)


def test_clone_log_snapshot_excludes_later_commits(spark, vt_root):
    """The clone's log is snapshotted at the head seen at clone time:
    commits racing in after the snapshot are not part of the clone."""
    vt = _mk_two_seg(spark, vt_root)
    head = vt.latest_version()
    clone_root = vt_root + "-snap"
    cl = vt.clone_to(clone_root)
    assert cl.latest_version() == head
    # a pre-existing scratch commit file must not be cloned
    scratch = os.path.join(
        vt_root, "_log", "00000000000000000099.json.tmp-1-dead"
    )
    open(scratch, "w").close()
    shutil.rmtree(clone_root, ignore_errors=True)
    cl = vt.clone_to(clone_root)
    assert not glob.glob(os.path.join(clone_root, "_log", "*.tmp-*"))
    os.unlink(scratch)
    shutil.rmtree(clone_root, ignore_errors=True)


def test_staged_dml_history_structure(spark, sf_dir):
    """Protocol pins on the staged DML table the registered oracles
    value-check: the MOR update rewrote nothing, the range reload's
    log-stats pruning kept 2 slices out of the discovery scan and
    rewrote exactly the straddling 2 segments, the COW update rewrote
    1 of 5, and the clone shares inodes while its log diverged."""
    from energy_emissions_lakehouse_spark.queries.versioned import (
        staged_vtable,
    )

    vt = staged_vtable(spark, sf_dir, "table_dml")
    hist = vt.history()
    assert [h["op"] for h in hist] == (
        ["create"] + ["append"] * 3
        + ["update_mor", "replace_where", "update"]
    )
    mor = hist[4]
    assert mor["add"] and not mor["remove"] and mor["dv_add"]
    replace = hist[5]
    assert replace["rewritten"] == 2          # slice 2 + the images segment
    assert replace["preserved"] == 3          # slices 0, 1, 3
    assert replace["stats_skipped"] >= 2      # at least slices 0 and 1
    cow = hist[6]
    assert cow["rewritten"] == 1 and cow["preserved"] == 4
    # CDF rode every DML commit (the table is CDF-enabled)
    assert all("cdf" in hist[i] for i in (4, 5, 6))

    cl = staged_vtable(spark, sf_dir, "table_dml_clone")
    assert [h["op"] for h in cl.history()] == (
        ["create"] + ["append"] * 3 + ["update_mor", "delete"]
    )
    # zero-copy: the v0 segment is the SAME inode in both roots
    seg = hist[0]["add"][0]
    part = glob.glob(os.path.join(vt.root, seg, "part-*.parquet"))[0]
    assert os.path.samefile(
        part, os.path.join(cl.root, seg, os.path.basename(part))
    )


# ------------------------------------------------------ batch change feed
def test_read_changes_batch_table_changes(spark, vt_root):
    """Delta's table_changes shape: appends synthesize inserts, DML
    commits serve their commit-time feed, compact contributes nothing,
    and every row carries its _commit_version."""
    df = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    vt = VersionedTable.create(spark, vt_root, df, enable_cdf=True)
    vt.append(spark.createDataFrame([(10, 100)], "k bigint, v bigint"))
    vt.update_where_mor("k = 1", {"v": "11"})
    vt.delete_where("k = 2")
    vt.compact()
    ch = vt.read_changes(0, vt.latest_version())
    got = sorted(
        (r["_commit_version"], r["_change_type"], r.k, r.v)
        for r in ch.collect()
    )
    assert got == [
        (0, "insert", 0, 0), (0, "insert", 1, 10),
        (0, "insert", 2, 20), (0, "insert", 3, 30),
        (1, "insert", 10, 100),
        (2, "update_postimage", 1, 11), (2, "update_preimage", 1, 10),
        (3, "delete", 2, 20),
    ]
    # a window holding only the dataChange=false compact is empty
    assert vt.read_changes(4, 4).count() == 0


def test_read_changes_refuses_silent_gaps(spark, vt_root):
    """A change commit without a feed (CDF off) must raise — a replay
    over a silent gap is the one unforgivable CDF failure."""
    vt = _mk_two_seg(spark, vt_root)  # enable_cdf=False
    vt.delete_where("k = 1")
    with pytest.raises(ValueError, match="no change feed"):
        vt.read_changes(0, vt.latest_version())
    # the pure-append prefix still reads fine
    assert vt.read_changes(0, 1).count() == 100


def test_incremental_maintenance_scans_changes_not_data(spark, sf_dir):
    """The IVM query's plan reads the v3 snapshot and the cdf/ segments
    ONLY — none of the data segments added by v4..v6 appear in any scan
    (refreshing the view costs O(changes), not O(table))."""
    from energy_emissions_lakehouse_spark.queries.versioned import (
        staged_vtable,
        vtable_incremental_agg_maintenance,
    )

    vt = staged_vtable(spark, sf_dir, "table_dml")
    plan = (
        vtable_incremental_agg_maintenance(spark, sf_dir)
        ._jdf.queryExecution()
        .explainString(spark._jvm.org.apache.spark.sql.execution
                       .ExplainMode.fromString("formatted"))
    )
    new_data = [
        rel
        for v in (4, 5, 6)
        for rel in vt._read_commit(v)["add"]
    ]
    assert new_data  # the history really added post-v3 segments
    for rel in new_data:
        assert os.path.basename(rel) not in plan
    cdf_rels = [vt._read_commit(v)["cdf"] for v in (4, 5, 6)]
    for rel in cdf_rels:
        assert os.path.basename(rel) in plan


def test_sink_replace_where_option(spark, vt_root):
    """The replaceWhere writer option (Delta writer semantics): with
    mode('overwrite') the task-written segment becomes one atomic
    predicate-scoped replace; a batch violating the predicate is
    rejected wholesale; append mode is gated; an empty batch is a pure
    predicate delete; and a violating batch on the create path leaves
    NO half-created table."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    vt = _mk_two_seg(spark, vt_root)
    repl = spark.range(50, 60).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
    )
    (
        repl.write.format("eel_vtable").option("path", vt_root)
        .option("replaceWhere", "k >= 50").mode("overwrite").save()
    )
    entry = vt._read_commit(vt.latest_version())
    assert entry["op"] == "replace_where"
    assert entry["rewritten"] == 1 and entry["preserved"] == 1
    assert vt.read().count() == 60
    assert vt.read().where("v = -1").count() == 10
    # violating batch: rejected, table unchanged
    with pytest.raises(Exception, match="satisfy the predicate"):
        (
            repl.selectExpr("k - 50 AS k", "v")
            .write.format("eel_vtable").option("path", vt_root)
            .option("replaceWhere", "k >= 50").mode("overwrite").save()
        )
    assert vt.read().count() == 60
    # replaceWhere is an overwrite-mode option (Delta contract)
    with pytest.raises(Exception, match="overwrite"):
        (
            repl.write.format("eel_vtable").option("path", vt_root)
            .option("replaceWhere", "k >= 50").mode("append").save()
        )
    # empty batch = pure predicate delete through the sink
    (
        repl.where("k < 0")
        .write.format("eel_vtable").option("path", vt_root)
        .option("replaceWhere", "k >= 55").mode("overwrite").save()
    )
    assert vt.read().count() == 55
    # create path: the batch contract still validates, and a rejected
    # batch creates nothing
    bad_root = vt_root + "-rwnew"
    with pytest.raises(Exception, match="satisfy"):
        (
            repl.selectExpr("k - 50 AS k", "v")
            .write.format("eel_vtable").option("path", bad_root)
            .option("replaceWhere", "k >= 50").mode("overwrite").save()
        )
    assert not os.path.isdir(os.path.join(bad_root, "_log"))
    shutil.rmtree(bad_root, ignore_errors=True)


def test_vacuum_dry_run_and_describe_detail(spark, vt_root):
    """VACUUM DRY RUN lists exactly what a real vacuum would reclaim
    without touching disk; detail() is the DESCRIBE DETAIL surface."""
    vt = _mk_two_seg(spark, vt_root)
    vt.delete_where_mor("k = 7")
    vt.compact()
    d = vt.detail()
    assert d["version"] == 3 and d["operation"] == "compact"
    assert d["numLiveSegments"] == 1 and d["numDeletionVectors"] == 0
    assert d["numLiveFiles"] >= 1 and d["sizeInBytes"] > 0
    assert d["constraints"] == {}
    would = vt.vacuum(retain_last=1, orphan_grace_s=0.0, dry_run=True)
    assert would  # the pre-compact segments + the materialized DV
    # dry run deleted nothing: every old version still reads
    assert vt.read(0).count() == 50
    assert vt.read(2).count() == 99
    deleted = vt.vacuum(retain_last=1, orphan_grace_s=0.0)
    assert sorted(deleted) == sorted(would)
    with pytest.raises(FileNotFoundError):
        vt.read(0).count()


def test_update_on_emptied_table_is_noop(spark, vt_root):
    """A whole-table predicate delete via replace_where_segment(None)
    empties the live set; UPDATE on the empty table must be the
    documented commit-free no-op (the identity-keeping empty scan),
    not an unresolved-column error."""
    vt = _mk_two_seg(spark, vt_root)
    v = vt.replace_where_segment(None, "k >= 0")
    assert set(vt._replay(v)["live"]) == set()
    assert vt.read().count() == 0
    assert vt.update_where("k > 0", {"v": "0"}) == v  # no-op
    assert vt.overwrite_where(
        spark.createDataFrame([], "k bigint, v bigint"), "k < 0"
    ) == v  # empty batch on empty table: no-op too


def test_replace_segment_empty_batch_survives_commit_race(spark, vt_root):
    """replace_where_segment with a ZERO-ROW segment: the segment is
    reclaimed only after the commit settles, so a caller retrying a
    lost race never reads a vanished directory."""
    vt = _mk_two_seg(spark, vt_root)
    rel = os.path.join("data", "write-empty-test")
    spark.createDataFrame([], "k bigint, v bigint").write.parquet(
        os.path.join(vt_root, rel)
    )
    v = vt.replace_where_segment(rel, "k >= 90")
    assert vt.read().count() == 90  # pure predicate delete
    entry = vt._read_commit(v)
    # the zero-row batch segment was never referenced; the one add is
    # the kept-rows rewrite of the touched [50,100) segment
    assert rel not in entry["add"] and len(entry["add"]) == 1
    assert not os.path.isdir(os.path.join(vt_root, rel))  # reclaimed


def test_sink_replace_where_lost_create_race_stays_scoped(spark, vt_root):
    """A replaceWhere write that loses the version-0 create race must
    land as a predicate-scoped replace against the winner's table —
    never a full overwrite deleting the winner's non-matching rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from energy_emissions_lakehouse_spark.sources.vtable_batch import (
        VtableBatchWriter,
        _WriteMessage,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("k", LongType()), StructField("v", LongType())]
    )
    # the loser plans its write while the table does not exist yet
    w = VtableBatchWriter(vt_root, schema, True, replace_where="k >= 50")
    assert w.creating
    # ...the winner creates the table in between
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    VersionedTable.create(spark, vt_root, df)
    # loser's task output: 10 replacement rows, all satisfying the predicate
    seg = os.path.join(vt_root, w.rel)
    os.makedirs(seg, exist_ok=True)
    fname = "part-test.parquet"
    pq.write_table(
        pa.table({"k": list(range(50, 60)), "v": [-1] * 10}),
        os.path.join(seg, fname),
    )
    w.commit([_WriteMessage(fname, 10)])
    vt = VersionedTable(spark, vt_root)
    entry = vt._read_commit(vt.latest_version())
    assert entry["op"] == "replace_where"  # NOT a full overwrite
    head = vt.read()
    assert head.count() == 60  # winner's k<50 rows all survive
    assert head.where("k < 50").count() == 50
    assert head.where("v = -1").count() == 10


def test_clone_retry_after_partial_clone(spark, vt_root):
    """A clone that crashed mid-walk (data linked, log absent) must be
    completable by re-running clone_to — already-linked files are
    skipped, never funneled into a same-inode copy."""
    vt = _mk_two_seg(spark, vt_root)
    dest = vt_root + "-partial"
    vt.clone_to(dest)
    shutil.rmtree(os.path.join(dest, "_log"))  # simulate the crash point
    cl = vt.clone_to(dest)  # retry completes in place
    assert cl.read().count() == 100


def test_segment_stats_fold_into_checkpoints(spark, vt_root):
    """Per-live-segment min/max stats ride the log checkpoints (Delta's
    checkpoint add-file stats), so pruned reads resolve their skip list
    O(tail); the checkpointed fold must equal the genesis walk, and a
    pre-stats-rev checkpoint falls back to it."""
    vt = _mk(spark, vt_root, n=5)
    for i in range(CHECKPOINT_EVERY + 2):
        vt.append(
            spark.createDataFrame([(100 + i, i)], "k bigint, v bigint")
        )
    head = vt.latest_version()
    ckpt = vt._latest_checkpoint(head)
    assert "stats" in ckpt
    assert set(ckpt["stats"]) == set(ckpt["live"])
    # the checkpointed fold equals the genesis walk
    live = set(vt._replay(head)["live"])
    genesis: dict = {}
    for v in vt._versions():
        e = vt._read_commit(v)
        for rel in e["add"]:
            if rel in live:
                genesis[rel] = e.get("stats", {}).get(rel, {})
    assert vt._replay(head)["stats"] == genesis
    # pruning exact through the checkpointed path: a point probe scans
    # exactly the one segment holding it
    scanned, skipped = vt.pruned_segments(head, "k", 100, 100)
    assert len(scanned) == 1 and len(skipped) == len(live) - 1
    # legacy checkpoint (pre-stats rev): rewrite the on-disk sidecar
    # form as an INLINE payload without the stats key and drop the
    # handle's payload cache, so the fold truly re-reads and falls back
    # to the genesis walk — same answer
    cpath = vt._checkpoint_path(CHECKPOINT_EVERY)
    payload = vt._hydrate_checkpoint(json.loads(open(cpath).read()))
    legacy = {
        k: payload[k] for k in ("version", "live", "txns", "dvs")
    }
    with open(cpath, "w") as fh:
        json.dump(legacy, fh)
    vt._ckpt_payloads.clear()
    assert vt._replay(head)["stats"] == genesis


def test_compact_small_packs_only_small_segments(spark, vt_root):
    """Size-tiered OPTIMIZE: segments under the threshold coalesce into
    one, already-big segments stay live by NAME (never rewritten);
    content is identical through the pack, DVs over the packed slice
    materialize while untouched segments keep theirs, and streams skip
    the commit like any compact."""
    big = spark.range(20000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    vt = VersionedTable.create(spark, vt_root, big)
    vt.append(big.selectExpr("k + 100000 AS k", "v"))
    for i in range(3):  # the streaming-sink drip of tiny commits
        vt.append(
            spark.createDataFrame([(500000 + i, i)], "k bigint, v bigint")
        )
    vt.delete_where_mor("k = 500001")     # DV over a small segment
    vt.delete_where_mor("k = 7")          # DV over a big segment
    before = sorted(
        (r.k, r.v) for r in vt.read().collect()
    )
    live_before = set(vt._replay(vt.latest_version())["live"])
    sizes = {rel: vt._segment_bytes(rel) for rel in live_before}
    threshold = sorted(sizes.values())[-2]  # the two big loads stay out
    v = vt.compact_small(max_bytes=threshold)
    entry = vt._read_commit(v)
    assert entry["op"] == "compact" and entry["scope"] == "small"
    assert entry["packed"] == 3 and entry["preserved"] == 2
    live_after = set(vt._replay(v)["live"])
    # the big segments survive by NAME; the three tiny ones became one
    assert {r for r in live_before if sizes[r] >= threshold} < live_after
    assert len(live_after) == 3
    # content identity THROUGH the pack, including both DV masks:
    # the small-segment DV materialized into the packed rewrite, the
    # big-segment DV stays active
    after = sorted((r.k, r.v) for r in vt.read().collect())
    assert after == before
    assert vt.read().where("k = 500001 OR k = 7").count() == 0
    # fewer than two qualifying segments: commit-free no-op
    assert vt.compact_small(max_bytes=threshold) == v
    # streams skip it like any compact (dataChange=false)
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )
    from energy_emissions_lakehouse_spark.streaming.jobs import run_to_table

    register_vtable_source(spark)
    stream = (
        spark.readStream.format("eel_vtable")
        .option("path", vt_root)
        .option("skipChangeCommits", "true")
        .load()
    )
    n = run_to_table(
        stream.agg(F.count(F.lit(1)).alias("n")), "complete"
    ).collect()[0].n
    # appends replay (40003 rows); the DV deletes and the pack do not
    assert n == 40003


def test_provenance_and_changes_reject_stored_stamp_columns(spark, vt_root):
    """A table may STORE _commit_version / _change_type data columns
    (CDC-ingest shape, pinned for the stream source too); the reads
    that APPEND those stamps must reject the ambiguity loudly while
    plain reads serve the column verbatim."""
    df = spark.range(3).select(
        F.col("id").alias("k"),
        F.lit(7).cast("bigint").alias("_commit_version"),
    )
    vt = VersionedTable.create(spark, vt_root, df, enable_cdf=True)
    assert vt.read().where("_commit_version = 7").count() == 3  # plain ok
    with pytest.raises(ValueError, match="reserved for the provenance"):
        vt.read_with_provenance()
    with pytest.raises(ValueError, match="reserved for the change-feed"):
        vt.read_changes(0, 0)


def _genesis_seg_commits(vt, version):
    """Brute-force first-add-from-genesis map — the provenance ground
    truth the checkpointed fold must reproduce (a restore's re-add
    appears later than the physical write, so first-add wins here by
    construction)."""
    live = set(vt._replay(version)["live"])
    out = {}
    for v in sorted(vt._versions()):
        if v > version:
            break
        for rel in vt._read_commit(v)["add"]:
            if rel in live and rel not in out:
                out[rel] = v
    return out


def test_provenance_fold_is_checkpointed_and_restore_aware(spark, vt_root):
    """_live_segment_commits resolves O(tail) via the checkpoint but
    must equal the genesis fold EXACTLY — including the one adversarial
    shape: a segment dead at checkpoint time that a post-checkpoint
    RESTORE resurrects (its tail re-add must map to the commit that
    physically wrote it, not the restore)."""
    vt = _mk(spark, vt_root, n=2)  # v0: the segment restore will revive
    vt.append(
        spark.range(100, 101).select(
            F.col("id").alias("k"), F.lit(1).cast("bigint").alias("v")
        )
    )  # v1
    vt.overwrite(
        spark.range(200, 202).select(
            F.col("id").alias("k"), F.lit(2).cast("bigint").alias("v")
        )
    )  # v2: v0/v1 segments now dead
    for i in range(CHECKPOINT_EVERY):  # appends through the checkpoint
        vt.append(
            spark.range(300 + i, 301 + i).select(
                F.col("id").alias("k"), F.lit(i).cast("bigint").alias("v")
            )
        )
    head = vt.latest_version()
    assert head > CHECKPOINT_EVERY
    ckpt = vt._latest_checkpoint(head)
    assert ckpt is not None and "seg_commits" in ckpt
    # checkpointed fold == genesis fold on the plain (no-restore) head
    assert vt._replay(head)["seg_commits"] == _genesis_seg_commits(vt, head)
    # resurrect the PRE-checkpoint segments: the tail sees them added by
    # the restore commit, which must NOT win provenance
    v_r = vt.restore(1)
    got = vt._replay(v_r)["seg_commits"]
    want = _genesis_seg_commits(vt, v_r)
    assert got == want
    assert sorted(want.values()) == [0, 1]  # physical writers, not v_r
    stamps = {
        r.k: r._commit_version
        for r in vt.read_with_provenance(v_r).collect()
    }
    assert stamps[100] == 1 and all(
        stamps[k] == 0 for k in stamps if k != 100
    )
    # time travel BEFORE the restore still resolves through the ckpt
    assert vt._replay(head)["seg_commits"] == _genesis_seg_commits(vt, head)


def test_mor_dml_on_empty_table_is_commit_free_noop(spark, vt_root):
    """UPDATE/DELETE (merge-on-read) against a table with no live
    segments is a no-op returning the current head — SQL DML on an
    empty table is not an error (parity with update_where /
    delete_where and with the zero-matches path)."""
    vt = _mk(spark, vt_root, n=3)
    # no public op leaves ZERO live segments (even delete-all rewrites
    # to an empty segment), so construct the degenerate state at the
    # log layer — the DML surface must still treat it as empty-table
    v = vt.latest_version()
    vt._commit(
        v + 1, "truncate", add=[], remove=vt._replay(v)["live"],
        schema=vt.read().schema,
    )
    head = vt.latest_version()
    assert not vt._replay(head)["live"]
    assert vt.update_where_mor("k = 1", {"v": F.lit(0)}) == head
    assert vt.delete_where_mor("k = 1") == head
    assert vt.latest_version() == head  # truly commit-free


# ------------------------------------------- JVM-only metadata frames
def test_vtable_modules_build_no_python_list_frames():
    """A frame from ``createDataFrame(<list/tuple/comprehension>)`` plans
    as ``Scan ExistingRDD`` and starts Python workers when executed; the
    vtable's metadata frames are SQL literal relations instead
    (``vtable._literal_frame``)."""
    import ast

    import energy_emissions_lakehouse_spark

    pkg = os.path.dirname(energy_emissions_lakehouse_spark.__file__)
    paths = [os.path.join(pkg, "operators", "vtable.py")] + sorted(
        glob.glob(os.path.join(pkg, "sources", "vtable_*.py"))
    )
    literal = (
        ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp,
    )

    def python_rows(arg) -> bool:
        return isinstance(arg, literal) or (
            isinstance(arg, ast.Call)
            and ast.unparse(arg.func) in ("list", "tuple", "sorted")
        )

    found = []
    for path in paths:
        tree = ast.parse(open(path, encoding="utf-8").read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and node.args
                and python_rows(node.args[0])
            ):
                found.append(f"{os.path.basename(path)}:{node.lineno}")
    assert not found, found


def test_vtable_sink_writer_commits_through_the_api():
    """The eel_vtable batch sink commits through VersionedTable's public
    segment commits alone: its writer reads no private attribute of
    another object (``self`` aside) and holds no ``for ... in range``
    retry loop of its own — race handling lives in VersionedTable."""
    import ast

    from energy_emissions_lakehouse_spark.sources import vtable_batch

    tree = ast.parse(open(vtable_batch.__file__, encoding="utf-8").read())
    (cls,) = [
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "VtableBatchWriter"
    ]
    found = []
    for node in ast.walk(cls):
        if (
            isinstance(node, ast.Attribute)
            and node.attr.startswith("_")
            and not (
                isinstance(node.value, ast.Name) and node.value.id == "self"
            )
        ):
            found.append(f"{ast.unparse(node)}:{node.lineno}")
        if (
            isinstance(node, ast.For)
            and isinstance(node.iter, ast.Call)
            and ast.unparse(node.iter.func) == "range"
        ):
            found.append(f"for-range loop:{node.lineno}")
    assert not found, found


def test_provenance_read_plans_in_the_jvm(spark, vt_root):
    """With Arrow off (a plain session), the segment->commit lookup of
    read_with_provenance must still plan as a JVM literal relation."""
    vt = _mk(spark, vt_root, n=4)
    vt.append(
        spark.range(10, 12).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = vt.read_with_provenance()
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows = sorted((r.k, r._commit_version) for r in df.collect())
    finally:
        spark.conf.set(key, old)
    assert "ExistingRDD" not in plan, plan
    assert rows == [(k, 0) for k in range(4)] + [(10, 1), (11, 1)]
