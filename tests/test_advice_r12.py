"""Regression pins for the round-11 ADVICE items (fixed in round 12).

1. low — vtable DV-fold memo under racing threads: it is a bounded,
   thread-safe functools.lru_cache; the thread tests of the session memo
   live in tests/test_staging.py.
2. low — vtable_ndv_inset_pushdown's used_inset flag matches CONCRETE
   join-exec node names, not the bare substring "Join"; pin that a real
   semi-join fallback plan on this Spark version contains at least one
   of the matched node names (rename-drift canary).
3. low — vtable_stream._entry_bytes: a vacuumed pre-rev segment globs
   to zero part files = UNKNOWN size, not 0 bytes; the byte cap must
   admit such a version alone instead of batching an arbitrarily long
   run of them.
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
from energy_emissions_lakehouse_spark.sources.vtable_stream import (
    VtableStreamReader,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="advice-r12-")
    yield os.path.join(d, "t")
    shutil.rmtree(d, ignore_errors=True)


def _keyed(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 4).cast("int").alias("b"),
    )


# --------------------------- 2. used_inset node-name matcher canary

def test_inset_flag_node_names_match_real_fallback_plan(spark, root):
    """The used_inset detector claims a semi-join fallback plan contains
    one of the concrete exec node names — verify against a REAL
    fallback plan on this Spark version (catches exec-node renames that
    would make the flag always-True)."""
    dim = spark.range(0, 1000).select(
        (F.col("id") % 997).cast("int").alias("g")
    )
    vt = VersionedTable.create(spark, root, dim, ndv_cols=["g"])
    fact = spark.range(0, 5000).select(
        (F.col("id") % 60).cast("int").alias("g")
    )
    out = vt.distinct_filter(fact, "g", "g", max_inset=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    nodes = (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
    )
    assert any(n in plan for n in nodes), (
        "semi-join fallback plan contains none of the matched exec "
        f"node names — Spark renamed them?\n{plan}"
    )


def test_ndv_inset_pushdown_query_flag_true(spark, sf_dir):
    """The registered query's 15-key dim selects the IN-pushdown plan;
    the flag computed from the executed plan must say so."""
    from energy_emissions_lakehouse_spark.registry import get_query

    rows = get_query("vtable_ndv_inset_pushdown").spark(
        spark, sf_dir
    ).collect()
    assert rows and all(r["used_inset"] for r in rows)


# ------------------- 3. vacuumed segment = unknown size, not 0 bytes

def test_entry_bytes_vacuumed_segment_saturates_cap(spark, root):
    vt = VersionedTable.create(spark, root, _keyed(spark, 0, 10))
    reader = VtableStreamReader(
        root, vt.read().schema, {"maxBytesPerBatch": "1000000"}
    )
    # pre-rev commit shape: no __bytes__ stats, and the segment's part
    # files are gone (vacuumed)
    entry = {"add": ["seg-vacuumed-0"], "stats": {}}
    assert reader._entry_bytes(entry) == reader.max_bytes + 1
    # uncapped reader still reports unknown as nonzero
    reader0 = VtableStreamReader(root, vt.read().schema, {})
    assert reader0._entry_bytes(entry) == 1


def test_bytes_cap_admits_vacuumed_versions_one_at_a_time(spark, root):
    """Three historical commits whose sizes are unknown (stats stripped,
    segments vacuumed) must stream as three micro-batches under a byte
    cap, not one unbounded batch."""
    import json

    from energy_emissions_lakehouse_spark.operators.vtable import (
        LOG_DIR,
        _fmt_version,
        read_commit,
    )

    vt = VersionedTable.create(spark, root, _keyed(spark, 0, 10))
    vt.append(_keyed(spark, 10, 20))
    vt.append(_keyed(spark, 20, 30))
    reader = VtableStreamReader(
        root, vt.read().schema, {"maxBytesPerBatch": "1000000000"}
    )
    for v in (1, 2):  # doctor the two appends into vacuumed pre-rev form
        entry = read_commit(root, v)
        for rel in entry["add"]:
            entry.setdefault("stats", {}).pop(rel, None)
            shutil.rmtree(os.path.join(root, rel), ignore_errors=True)
        with open(
            os.path.join(root, LOG_DIR, _fmt_version(v) + ".json"), "w"
        ) as fh:
            json.dump(entry, fh)
    # batch 1: v0 (known size, tiny) — v1 is unknown and must NOT ride
    # along on its fake 0 bytes
    off1 = reader.latestOffset()
    assert off1["version"] == 0
    # batch 2: v1 alone; batch 3: v2 alone
    off2 = reader.latestOffset()
    assert off2["version"] == 1
    off3 = reader.latestOffset()
    assert off3["version"] == 2
