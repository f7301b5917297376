"""Regression pins for the round-10 ADVICE items (fixed in round 11).

1. medium — vtable.overwrite(): a same-name TYPE-evolving replace on a
   partition-spec source must not keep the inherited spec (pv values
   would be rendered under the new type while probes hash the old —
   an unsound partition skip).  It writes unpartitioned and resets the
   spec, exactly like the missing-column case.
2. low — vtable_stream: the mid-stream schema-change guard compares
   SCHEMAS, not op labels — a schema-evolving overwrite on an empty
   live set (remove=[], no dv_add) must raise the restart error, not
   serve its segments aligned to the stale open schema.
3. low — vtable._commit checkpoint: the stats and pvs maps come from
   ONE log replay (the commit-log walk must not run twice per
   checkpoint).
4. low — temporal partition pvs on TIMESTAMP sources: the session
   timezone is pinned into the spec at set_partition_spec time and a
   partitioned write under a different session zone is refused loudly
   (a zone drift could land boundary rows in a pruned month — unsound).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.operators.vtable import (
    LOG_DIR,
    VersionedTable,
    log_versions,
    read_commit,
)
from energy_emissions_lakehouse_spark.sources.vtable_stream import (
    VtableStreamReader,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="advice-r11-")
    yield os.path.join(d, "t")
    shutil.rmtree(d, ignore_errors=True)


def _keyed(spark, lo, hi, cast="int"):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 4).cast(cast).alias("b"),
    )


def test_overwrite_type_evolving_spec_source_resets_spec(spark, root):
    """int -> double on a bucket spec source via overwrite(): the commit
    must carry spec=[] and an UNPARTITIONED segment (no pv), so no later
    probe can md5("5") against stored md5("5.0") pv values."""
    vt = VersionedTable.create(spark, root, _keyed(spark, 0, 20))
    vt.set_partition_spec([("b", "bucket", 4)])
    vt.append(_keyed(spark, 20, 40))  # partitioned write under the spec
    assert vt.partition_spec()  # sanity: spec is active
    v = vt.overwrite(_keyed(spark, 0, 40, cast="double"))
    entry = read_commit(root, v)
    assert entry.get("spec") == [], "type-evolving overwrite must reset spec"
    assert entry.get("pv") in (None, {}), "must write unpartitioned"
    # and the table still reads correctly end-to-end
    assert vt.read().count() == 40


def test_overwrite_integer_ladder_widening_keeps_spec(spark, root):
    """int -> bigint on the spec source is rendering-stable (str(5) is
    width-independent): the spec survives and the write stays
    partitioned."""
    vt = VersionedTable.create(spark, root, _keyed(spark, 0, 20))
    vt.set_partition_spec([("b", "bucket", 4)])
    v = vt.overwrite(_keyed(spark, 0, 40, cast="bigint"))
    entry = read_commit(root, v)
    assert entry.get("spec"), "integer-ladder widening must keep the spec"
    assert entry.get("pv"), "write must stay partitioned"
    assert vt.read().count() == 40


def test_midstream_schema_evolving_overwrite_on_empty_live_raises(
    spark, root
):
    """Create an EMPTY table (live set drained by delete), open the
    stream, then overwrite with an evolved schema: remove=[] and no
    dv_add, so the old op-label guard saw a plain data commit — the
    schema guard must still raise the restart error."""
    vt = VersionedTable.create(spark, root, _keyed(spark, 0, 5))
    # drain the live set WITHOUT leaving a segment: an empty-batch
    # replaceWhere matching every row removes all segments and, with
    # zero kept rows, registers no rewrite
    vt.overwrite_where(_keyed(spark, 0, 0), F.lit(True))
    reader = VtableStreamReader(root, vt.read().schema, {})
    head = log_versions(os.path.join(root, LOG_DIR))[-1]
    # schema-evolving overwrite: adds a column; table was empty so the
    # commit removes nothing
    evolved = _keyed(spark, 0, 5).withColumn("extra", F.lit(1))
    v = vt.overwrite(evolved)
    entry = read_commit(root, v)
    assert entry["remove"] == [] and not entry.get("dv_add")
    with pytest.raises(RuntimeError, match="changed the table schema"):
        reader.partitions({"version": head}, {"version": v})


def test_midstream_plain_append_still_serves(spark, root):
    """Same-shape appends after open must NOT trip the schema guard
    (nullability noise between commits is ignored)."""
    vt = VersionedTable.create(spark, root, _keyed(spark, 0, 5))
    reader = VtableStreamReader(root, vt.read().schema, {})
    v = vt.append(_keyed(spark, 5, 9))
    parts = reader.partitions({"version": 0}, {"version": v})
    assert parts, "plain append must plan partitions"


def test_checkpoint_single_meta_fold(spark, root, monkeypatch):
    """The checkpoint writer must run the log replay exactly once per
    checkpoint (every fold from one walk)."""
    import energy_emissions_lakehouse_spark.operators.vtable as vmod

    vt = VersionedTable.create(spark, root, _keyed(spark, 0, 5))
    calls = {"n": 0, "in_checkpoint": False}
    orig = VersionedTable._replay
    orig_ckpt = VersionedTable._write_checkpoint

    def counting(self, *args, **kwargs):
        calls["n"] += calls["in_checkpoint"]
        return orig(self, *args, **kwargs)

    def checkpoint(self, version):
        calls["in_checkpoint"] = True
        try:
            return orig_ckpt(self, version)
        finally:
            calls["in_checkpoint"] = False

    monkeypatch.setattr(VersionedTable, "_replay", counting)
    monkeypatch.setattr(VersionedTable, "_write_checkpoint", checkpoint)
    # drive to the next checkpoint boundary
    next_ckpt = (
        (vt.latest_version() // vmod.CHECKPOINT_EVERY) + 1
    ) * vmod.CHECKPOINT_EVERY
    while vt.latest_version() < next_ckpt:
        calls["n"] = 0
        vt.append(_keyed(spark, 0, 2))
    assert os.path.exists(vt._checkpoint_path(next_ckpt))
    assert calls["n"] == 1, (
        f"checkpoint at v{next_ckpt} ran the meta fold {calls['n']} times"
    )


def test_timestamp_spec_pins_session_timezone(spark, root):
    """month(ts) on a TIMESTAMP source records the session tz; a
    partitioned write under a different session zone is refused, and
    restoring the zone makes it succeed with correct pvs."""
    df = spark.range(0, 6).select(
        F.col("id").cast("int").alias("k"),
        F.to_timestamp(
            F.concat(F.lit("2024-0"), (F.col("id") % 3 + 1), F.lit("-15"))
        ).alias("ts"),
    )
    original_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        vt = VersionedTable.create(spark, root, df)
        vt.set_partition_spec([("ts", "month")])
        spec = vt.partition_spec()
        assert spec[0].get("tz") == original_tz
        other = "Pacific/Kiritimati" if original_tz != "Pacific/Kiritimati" \
            else "Etc/GMT+12"
        spark.conf.set("spark.sql.session.timeZone", other)
        with pytest.raises(ValueError, match="pinned to session timezone"):
            vt.append(df)
        spark.conf.set("spark.sql.session.timeZone", original_tz)
        v = vt.append(df)
        pvs = read_commit(root, v)["pv"]
        months = sorted(pv["month(ts)"] for pv in pvs.values())
        assert months == ["2024-01", "2024-02", "2024-03"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", original_tz)


def test_date_spec_needs_no_timezone_pin(spark, root):
    """DATE sources are zone-free: no tz recorded, writes succeed under
    any session zone."""
    df = spark.range(0, 4).select(
        F.col("id").cast("int").alias("k"),
        F.to_date(F.lit("2024-03-15")).alias("d"),
    )
    vt = VersionedTable.create(spark, root, df)
    vt.set_partition_spec([("d", "month")])
    assert "tz" not in vt.partition_spec()[0]
    original_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
        v = vt.append(df)
        pvs = read_commit(root, v)["pv"]
        assert [pv["month(d)"] for pv in pvs.values()] == ["2024-03"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", original_tz)
