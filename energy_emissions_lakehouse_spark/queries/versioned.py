"""Versioned-table (vtable) queries: ACID commit log, time travel,
change feed, compaction — the native replacement for the blocked
Delta/Iceberg jars (README "Blocked table formats").

Reference analog: the warehouse load
(/root/reference/src/30_load/load_to_postgres.py:73-117) runs
full-replace + upsert inside one Postgres transaction.  The vtable
layer (operators/vtable.py) gives the same commit atomicity and
snapshot isolation over plain parquet via a Delta-protocol-style JSON
commit log, which these queries exercise end to end.

A deterministic 5-version history is staged ONCE per corpus version
(fsutil.staged_artifact — build-once-serve-many, keyed on the orders
parquet's mtime+size so a regenerated corpus rebuilds it):

  v0 create   orders WHERE o_orderkey % 7 <> 0        (partial load)
  v1 append   orders WHERE o_orderkey % 7 = 0         (backfill → full)
  v2 merge    upsert: keys % 10 = 0 → status 'U', price * 1.1
  v3 delete   WHERE o_orderkey % 13 = 0
  v4 compact  (content-identical bin-pack)
  v5 evolve   %13-deleted rows backfilled with NEW col o_backfill_src

Every operation is a pure function of the orders table, so each
version's state is reconstructible in ANSI SQL — the DuckDB oracles
below rebuild the exact state the commit-log replay must produce.
Queries read through the REAL log-replay path (checkpointed snapshot
resolution, immutable segments), so a wrong add/remove fold, a torn
commit, or a content-changing compaction all break value parity.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from energy_emissions_lakehouse_spark.fsutil import (
    staged_artifact,
    staging_dir,
    table_cache_key,
)
from energy_emissions_lakehouse_spark.functions.exact import (
    scaled_sum,
    scaled_sum_sql,
)
from energy_emissions_lakehouse_spark.registry import register
from energy_emissions_lakehouse_spark.tables import t

#: Bump to invalidate staged histories when the build recipe changes.
_HISTORY_REV = 18

_ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

#: The v2 merge source, shared by the Spark build and (inlined) the oracles.
_UPDATES_SQL = """
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE (o_orderkey % 10) = 0
"""

#: Post-merge (v2) state: orders with the % 10 keys replaced by updates.
_V2_SQL = f"""
    updates AS ({_UPDATES_SQL}),
    v2 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.o_orderkey = o.o_orderkey)
        UNION ALL
        SELECT * FROM updates
    )
"""


def _build_history(spark: SparkSession, sf_dir: str, root: str) -> None:
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select(*_ORDER_COLS)
    key = F.col("o_orderkey")
    vt = VersionedTable.create(
        spark, root, orders.filter(key % 7 != 0), enable_cdf=True
    )
    vt.append(orders.filter(key % 7 == 0))
    updates = orders.filter(key % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    vt.merge_upsert(updates, keys=["o_orderkey"])
    vt.delete_where("o_orderkey % 13 = 0")
    vt.compact()
    # v5: schema evolution — the %13-deleted rows come back as a late
    # backfill carrying a NEW column; pre-existing rows surface it as
    # null with zero data rewritten (one metadata commit).
    backfill = (
        vt.read(2)
        .filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_backfill_src", F.lit("late_backfill"))
    )
    vt.append_evolve(backfill)


def _build_ranged(spark: SparkSession, sf_dir: str, root: str) -> None:
    """A second vtable whose four append batches partition the key space
    into contiguous quarters — the layout where per-segment min/max
    stats make range pruning effective (time-ordered ingest produces
    exactly this layout for event-time columns at scale).  v4 is a
    PRUNED merge: updates confined to the second quarter, so exactly one
    of the four segments is rewritten (pinned in tests/test_vtable.py)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select(*_ORDER_COLS)
    mm = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    quarter = F.expr(f"(o_orderkey * 4) div {mm}")
    vt = VersionedTable.create(spark, root, orders.filter(quarter == 0))
    for i in (1, 2, 3):
        vt.append(orders.filter(quarter == i))
    updates = orders.filter(
        (quarter == 1) & (F.col("o_orderkey") % 7 == 0)
    ).select(
        "o_orderkey",
        "o_custkey",
        F.lit("M").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.05)).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    vt.merge_upsert(updates, keys=["o_orderkey"])


def _build_zorder(spark: SparkSession, sf_dir: str, root: str) -> None:
    """A third vtable: full orders, then OPTIMIZE ZORDER BY
    (o_custkey, o_orderkey) into 16 segments — each segment tight in
    BOTH dimensions, so a narrow probe on either column prunes most of
    the live set from log stats alone."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select(*_ORDER_COLS)
    vt = VersionedTable.create(spark, root, orders)
    vt.compact_clustered(["o_custkey", "o_orderkey"], n_segments=16)


def _build_rename(spark: SparkSession, sf_dir: str, root: str) -> None:
    """A vtable exercising metadata-only column renames (Delta
    column-mapping semantics; operators/vtable.py rename_column):

      v0 create      (o_orderkey, o_orderstatus, o_totalprice)
                     WHERE o_orderkey % 7 = 0
      v1 rename      o_totalprice -> price_usd      (ZERO rewrite)
      v2 append      o_orderkey % 7 = 1 rows, written under price_usd
      v3 update_mor  o_orderkey % 2 = 0: price_usd *= 2 — the DV-backed
                     update reads ACROSS the rename (pre-rename files
                     coalesce o_totalprice into price_usd) and appends
                     post-images under the new name
      v4 rename      o_orderstatus -> status
      v5 evolve      append o_orderkey % 7 = 2 rows carrying a NEW
                     note column ('n' || key)
      v6 drop        note — metadata-only DROP COLUMN; the bytes stay,
                     time travel to v5 still serves them

    The head serves (o_orderkey, status, price_usd) over files that
    physically store three different column-name generations, plus a
    dropped column only time travel can see."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    key = F.col("o_orderkey")
    vt = VersionedTable.create(spark, root, orders.filter(key % 7 == 0))
    vt.rename_column("o_totalprice", "price_usd")
    vt.append(
        orders.filter(key % 7 == 1).withColumnRenamed(
            "o_totalprice", "price_usd"
        )
    )
    vt.update_where_mor(
        "o_orderkey % 2 = 0", {"price_usd": F.expr("price_usd * 2")}
    )
    vt.rename_column("o_orderstatus", "status")
    vt.append_evolve(
        orders.filter(key % 7 == 2).select(
            "o_orderkey",
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price_usd"),
            F.concat(F.lit("n"), key.cast("string")).alias("note"),
        )
    )
    vt.drop_column("note")


def _build_widen(spark: SparkSession, sf_dir: str, root: str) -> None:
    """A vtable exercising metadata-only LOSSLESS TYPE WIDENING (Delta's
    typeWidening table feature; operators/vtable.py widen_column_type):

      v0 create      (o_orderkey INT, price FLOAT, o_orderstatus)
                     WHERE o_orderkey % 5 = 0 — physically NARROW files
      v1 widen       o_orderkey INT -> BIGINT     (ZERO rewrite)
      v2 append      o_orderkey % 5 = 1 rows handed in with the OLD
                     narrow int key — the write path upcasts (Delta's
                     widening-aware schema-on-write)
      v3 widen       price FLOAT -> DOUBLE
      v4 evolve      append o_orderkey % 5 = 2 rows carrying a NEW
                     src='late' column, key/price still narrow in the
                     batch (evolve aligns + upcasts)
      v5 update_mor  o_orderkey % 2 = 0: price *= 2 — the DV-backed
                     update reads ACROSS both widen boundaries (narrow
                     files upcast at scan) and appends wide post-images

    The head serves (bigint, double) over files physically storing
    int32/float32 (v0), int64/float32 (v2), and int64/float64 (v4/v5)
    — three physical-type generations under one logical schema, plus
    deletion vectors masking the pre-update rows."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    base = orders.select(
        key.cast("int").alias("o_orderkey"),
        F.col("o_totalprice").cast("float").alias("price"),
        "o_orderstatus",
    )
    vt = VersionedTable.create(spark, root, base.filter(key % 5 == 0))
    vt.widen_column_type("o_orderkey", "bigint")
    vt.append(base.filter(key % 5 == 1))  # narrow batch -> upcast write
    vt.widen_column_type("price", "double")
    vt.append_evolve(
        base.filter(key % 5 == 2).withColumn("src", F.lit("late"))
    )
    vt.update_where_mor(
        "o_orderkey % 2 = 0", {"price": F.expr("price * 2")}
    )


def _build_spec(spark: SparkSession, sf_dir: str, root: str) -> None:
    """A vtable exercising HIDDEN PARTITIONING with spec evolution
    (Iceberg semantics; operators/vtable.py set_partition_spec):

      v0 create      1994 orders — one UNPARTITIONED segment (pre-spec)
      v1 set_spec    month(o_orderdate)           (metadata-only)
      v2 append      1995 orders — ONE SEGMENT PER MONTH, each recording
                     its partition tuple in the commit
      v3 set_spec    bucket(o_custkey, 8)         (spec EVOLUTION —
                     metadata-only; the month segments keep their pv)
      v4 append      1996 orders — one segment per custkey bucket

    o_orderdate is a TIMESTAMP column: parquet footer min/max stats are
    not JSON-safe for it (the stats fold drops them), so partition
    values are the ONLY file-skipping mechanism for temporal probes —
    exactly the case hidden partitioning exists for."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    yr = F.year("o_orderdate")
    vt = VersionedTable.create(spark, root, orders.filter(yr == 1994))
    vt.set_partition_spec([("o_orderdate", "month")])
    vt.append(orders.filter(yr == 1995))
    vt.set_partition_spec([("o_custkey", "bucket", 8)])
    vt.append(orders.filter(yr == 1996))


def _build_mor(spark: SparkSession, sf_dir: str, root: str) -> None:
    """A fourth vtable exercising merge-on-read deletion vectors:

      v0 create      orders WHERE o_orderkey % 5 <> 0      (CDF enabled)
      v1 delete_mor  o_orderkey % 11 = 0                   (DV #1)
      v2 delete_mor  o_orderstatus='F' AND o_orderkey%17=0 (DV #2 stacks)
      v3 append      orders WHERE o_orderkey % 5 = 0
                     (POSITION-scoped semantics: appended rows stay live
                      even where they match the earlier predicates)
      v4 compact     (materializes both DVs, active set resets to empty)
      v5 merge_mor   upsert keys %10=0 → status 'R', price*1.2 — matched
                     rows DV-masked, whole source appended, ZERO
                     segments rewritten (merge_upsert_mor)
      v6 delete_mor  o_orderpriority='1-URGENT' AND o_orderkey%19=0
      v7 dv_compact  fold the two active DVs into one (metadata-only,
                     content-identical, stream-skipped like compact)

    Deletes/merges write kilobyte position files instead of rewriting
    segments (operators/vtable.py delete_where_mor / merge_upsert_mor)
    — the 100 TB shape."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select(*_ORDER_COLS)
    key = F.col("o_orderkey")
    vt = VersionedTable.create(
        spark, root, orders.filter(key % 5 != 0), enable_cdf=True
    )
    vt.delete_where_mor("o_orderkey % 11 = 0")
    vt.delete_where_mor("o_orderstatus = 'F' AND o_orderkey % 17 = 0")
    vt.append(orders.filter(key % 5 == 0))
    vt.compact()
    updates = orders.filter(key % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("R").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.2)).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    vt.merge_upsert_mor(updates, keys=["o_orderkey"])
    vt.delete_where_mor(
        "o_orderpriority = '1-URGENT' AND o_orderkey % 19 = 0"
    )
    vt.compact_dvs()


def _build_bloom(spark: SparkSession, sf_dir: str, root: str) -> None:
    """A fifth vtable exercising the bloom-filter point-lookup index:
    orders sliced into 8 segments by o_custkey OCTILE with a bloom
    index on o_orderkey — the adversarial layout for stats pruning
    (every segment's orderkey [min,max] straddles every probe value, so
    min/max can never skip) and exactly where the per-segment bloom
    sidecars shine: a point lookup scans ~1 of 8 segments."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select(*_ORDER_COLS)
    mc = orders.agg(F.max("o_custkey")).collect()[0][0] + 1
    octile = F.expr(f"(o_custkey * 8) div {mc}")
    vt = VersionedTable.create(
        spark, root, orders.filter(octile == 0),
        bloom_cols=["o_orderkey"], bloom_bits=1 << 19, bloom_k=5,
    )
    for i in range(1, 8):
        vt.append(orders.filter(octile == i))


def _build_admin(spark: SparkSession, sf_dir: str, root: str) -> None:
    """A sixth vtable exercising RESTORE and CHECK constraints, on
    customer (all prior vtables are orders-derived):

      v0 create    full customer, with two CHECK constraints
                   (acctbal_floor, custkey_positive) every later write
                   is validated against
      v1 delete    WHERE c_mktsegment = 'BUILDING'   (copy-on-write)
      v2 evolve    promo batch: keys shifted +1,000,000 carrying a NEW
                   c_tier column (schema widens)
      v3 restore   TO VERSION 0 — pure metadata commit: the v1/v2
                   segments drop out, the v0 segment is re-referenced,
                   the schema narrows back; v1/v2 stay time-travelable
      v4 append    second batch, keys shifted +2,000,000 (original
                   schema — proof the restored schema governs writes)

    Head = customer UNION ALL the +2M batch, exactly — a restore that
    leaks a v1 delete, resurrects the v2 evolve rows, or misfolds the
    re-reference breaks value parity."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    cust = t(spark, sf_dir, "customer")
    vt = VersionedTable.create(
        spark, root, cust,
        constraints={
            "acctbal_floor": "c_acctbal >= -1000.0",
            # keys are 0-based in the corpus, so the floor is >= 0
            "custkey_nonneg": "c_custkey IS NOT NULL AND c_custkey >= 0",
        },
    )
    vt.delete_where("c_mktsegment = 'BUILDING'")
    promo = cust.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + F.lit(1000000)).alias("c_custkey"),
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("gold").alias("c_tier"),
    )
    vt.append_evolve(promo)
    vt.restore(0)
    vt.append(
        cust.filter(F.col("c_custkey") % 7 == 0).select(
            (F.col("c_custkey") + F.lit(2000000)).alias("c_custkey"),
            "c_name",
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        )
    )


def _build_dml(spark: SparkSession, sf_dir: str, base: str) -> None:
    """A seventh vtable (plus its zero-copy clone) exercising the DML
    completions — UPDATE in both execution shapes, replaceWhere, and
    clone divergence — on a range-clustered layout where the pruning
    is visible:

      v0 create   orders keys [0, q1)       (CDF enabled; q_i = i*mm//4)
      v1-v3 append [q1,q2), [q2,q3), [q3,mm)  (four range-tight segments)
      v4 update_mor  SET status 'X', price*0.9 WHERE o_orderkey%23=0
                     (DV-masked + post-images appended, ZERO rewrites;
                      the images segment straddles the whole key range)
      -- clone_to(table_dml_clone): hardlink snapshot of the v4 head --
      v5 replace_where  [q2, q3) reloaded: recomputed rows (status 'W',
                     price+1000).  Log stats keep slices 0/1/3 out of
                     the discovery scan; exact discovery rewrites slice
                     2 AND the straddling images segment (its off-range
                     images survive in the kept segment)
      v6 update (COW)  SET priority '0-RUSH' WHERE status = 'X' — the
                     matches live ONLY in the v5 kept segment, so ONE
                     of five live segments is rewritten

      clone diverges independently: delete_where(o_orderkey % 2 = 0),
      so clone head = v4 state restricted to odd keys while the source
      moved on through v5/v6 — shared inodes, separate logs.

    Every operation is a pure function of orders, so each state is
    reconstructible in ANSI SQL (_DML_SQL below)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    root = os.path.join(base, "table_dml")
    orders = t(spark, sf_dir, "orders").select(*_ORDER_COLS)
    key = F.col("o_orderkey")
    mm = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    q = [0, mm // 4, (mm * 2) // 4, (mm * 3) // 4, mm]
    vt = VersionedTable.create(
        spark, root, orders.filter((key >= q[0]) & (key < q[1])),
        enable_cdf=True,
    )
    for i in (1, 2, 3):
        vt.append(orders.filter((key >= q[i]) & (key < q[i + 1])))
    vt.update_where_mor(
        "o_orderkey % 23 = 0",
        {"o_orderstatus": "'X'", "o_totalprice": "o_totalprice * 0.9"},
    )
    clone = vt.clone_to(os.path.join(base, "table_dml_clone"))
    replacement = orders.filter((key >= q[2]) & (key < q[3])).select(
        "o_orderkey",
        "o_custkey",
        F.lit("W").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    vt.overwrite_range(replacement, "o_orderkey", q[2], q[3] - 1)
    vt.update_where("o_orderstatus = 'X'", {"o_orderpriority": "'0-RUSH'"})
    clone.delete_where("o_orderkey % 2 = 0")


def _staged_base(spark: SparkSession, sf_dir: str, fresh: bool = False) -> str:
    """The staged artifact holding the vtables (the 5-version history,
    the key-ranged layout, and the z-ordered layout); built once per
    corpus version."""
    key = table_cache_key(
        sf_dir, "orders", "vtable", _HISTORY_REV,
        # the admin table derives from CUSTOMER: fold its version in too
        table_cache_key(sf_dir, "customer", "admin"),
    )

    def _populate(tmp: str) -> None:
        # The six builds are independent tables under one artifact, and
        # each is a chain of SMALL commits — driver/scheduler latency,
        # not core-bound work — so they overlap well: Spark's scheduler
        # interleaves concurrent job submissions from driver threads
        # (the supported multi-job pattern).  Wall clock drops to
        # roughly the slowest single build instead of the sum.
        from concurrent.futures import ThreadPoolExecutor

        builds = [
            (_build_history, os.path.join(tmp, "table")),
            (_build_ranged, os.path.join(tmp, "table_ranged")),
            (_build_zorder, os.path.join(tmp, "table_zorder")),
            (_build_mor, os.path.join(tmp, "table_mor")),
            (_build_bloom, os.path.join(tmp, "table_bloom")),
            (_build_admin, os.path.join(tmp, "table_admin")),
            (_build_dml, tmp),  # table_dml + table_dml_clone
            (_build_rename, os.path.join(tmp, "table_rename")),
            (_build_widen, os.path.join(tmp, "table_widen")),
            (_build_spec, os.path.join(tmp, "table_spec")),
        ]
        with ThreadPoolExecutor(max_workers=len(builds)) as pool:
            futures = [
                pool.submit(fn, spark, sf_dir, dest) for fn, dest in builds
            ]
            for f in futures:
                f.result()  # surface the first failure, fail the artifact

    return staged_artifact("vtable", key, _populate, fresh=fresh)


def staged_vtable(spark: SparkSession, sf_dir: str, fresh: bool = False):
    """The staged 5-version orders vtable (build once, serve many)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    base = _staged_base(spark, sf_dir, fresh=fresh)
    return VersionedTable(spark, os.path.join(base, "table"))


def staged_vtable_ranged(
    spark: SparkSession, sf_dir: str, fresh: bool = False
):
    """The staged key-ranged orders vtable (four quarter segments)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    base = _staged_base(spark, sf_dir, fresh=fresh)
    return VersionedTable(spark, os.path.join(base, "table_ranged"))


def staged_vtable_zorder(
    spark: SparkSession, sf_dir: str, fresh: bool = False
):
    """The staged z-ordered orders vtable (16 clustered segments)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    base = _staged_base(spark, sf_dir, fresh=fresh)
    return VersionedTable(spark, os.path.join(base, "table_zorder"))


def staged_vtable_mor(spark: SparkSession, sf_dir: str, fresh: bool = False):
    """The staged merge-on-read vtable (deletion-vector history)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    base = _staged_base(spark, sf_dir, fresh=fresh)
    return VersionedTable(spark, os.path.join(base, "table_mor"))


def staged_vtable_bloom(
    spark: SparkSession, sf_dir: str, fresh: bool = False
):
    """The staged bloom-indexed orders vtable (8 custkey-octile
    segments, bloom on o_orderkey)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    base = _staged_base(spark, sf_dir, fresh=fresh)
    return VersionedTable(spark, os.path.join(base, "table_bloom"))


def staged_vtable_admin(
    spark: SparkSession, sf_dir: str, fresh: bool = False
):
    """The staged RESTORE + CHECK-constraint customer vtable."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    base = _staged_base(spark, sf_dir, fresh=fresh)
    return VersionedTable(spark, os.path.join(base, "table_admin"))


def staged_vtable_dml(spark: SparkSession, sf_dir: str, fresh: bool = False):
    """The staged DML vtable (MOR update + replaceWhere + COW update)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    base = _staged_base(spark, sf_dir, fresh=fresh)
    return VersionedTable(spark, os.path.join(base, "table_dml"))


def staged_vtable_rename(
    spark: SparkSession, sf_dir: str, fresh: bool = False
):
    """The staged column-rename vtable (two renames + cross-rename DML)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    base = _staged_base(spark, sf_dir, fresh=fresh)
    return VersionedTable(spark, os.path.join(base, "table_rename"))


def staged_vtable_widen(
    spark: SparkSession, sf_dir: str, fresh: bool = False
):
    """The staged type-widening vtable (two widens + cross-widen DML)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    base = _staged_base(spark, sf_dir, fresh=fresh)
    return VersionedTable(spark, os.path.join(base, "table_widen"))


def staged_vtable_spec(
    spark: SparkSession, sf_dir: str, fresh: bool = False
):
    """The staged hidden-partitioning vtable (month spec -> bucket spec)."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    base = _staged_base(spark, sf_dir, fresh=fresh)
    return VersionedTable(spark, os.path.join(base, "table_spec"))


def staged_vtable_dml_clone(
    spark: SparkSession, sf_dir: str, fresh: bool = False
):
    """The staged zero-copy clone, diverged from the DML table at v4."""
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    base = _staged_base(spark, sf_dir, fresh=fresh)
    return VersionedTable(spark, os.path.join(base, "table_dml_clone"))


@register(
    "vtable_time_travel_read",
    oracle=f"""
    WITH {_V2_SQL}
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM v2
    GROUP BY o_orderstatus
    """,
    survey="S7 V1 — time travel: read committed version 2 (post-merge) "
    "through commit-log replay; ACID analog of load_to_postgres.py:73-117 "
    "(on Delta: SELECT ... VERSION AS OF 2)",
)
def vtable_time_travel_read(spark, sf_dir) -> DataFrame:
    """Read the PINNED post-merge snapshot (v2) while the log has moved
    on to v4 — the replayed add/remove fold must reproduce exactly the
    relational merge the oracle computes directly."""
    vt = staged_vtable(spark, sf_dir)
    return vt.read(2).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "vtable_change_feed_orders",
    oracle=f"""
    WITH {_V2_SQL},
    v3 AS (SELECT * FROM v2 WHERE (o_orderkey % 13) <> 0),
    v0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE (o_orderkey % 7) <> 0),
    joined AS (
        SELECT a.o_orderkey AS pre_key, b.o_orderkey AS post_key,
               a.o_orderstatus AS pre_status, b.o_orderstatus AS post_status,
               a.o_totalprice AS pre_price, b.o_totalprice AS post_price
        FROM v0 a
        FULL OUTER JOIN
             (SELECT o_orderkey, o_orderstatus, o_totalprice FROM v3) b
        ON a.o_orderkey = b.o_orderkey
    ),
    cdf AS (
        SELECT CASE WHEN pre_key IS NULL THEN 'insert'
                    WHEN post_key IS NULL THEN 'delete'
                    ELSE 'update' END AS change_type,
               COALESCE(post_price, pre_price) AS image_price
        FROM joined
        WHERE pre_key IS NULL OR post_key IS NULL
           OR (pre_status IS DISTINCT FROM post_status)
           OR (pre_price IS DISTINCT FROM post_price)
    )
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {scaled_sum_sql('image_price')} AS image_price
    FROM cdf
    GROUP BY change_type
    """,
    survey="S7 V2 — change data feed: row-level insert/update/delete diff "
    "between committed snapshots v0 and v3 (Delta CDF / Iceberg "
    "changelog); one shuffle on the join key, no driver materialization",
)
def vtable_change_feed_orders(spark, sf_dir) -> DataFrame:
    """CDF between the initial partial load (v0) and the post-delete
    state (v3): backfilled keys surface as inserts, merge-touched
    survivors as updates, the % 13 removals as deletes; untouched rows
    must NOT appear."""
    vt = staged_vtable(spark, sf_dir)
    cdf = vt.change_feed(
        0, 3, keys=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice"],
    )
    return cdf.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        scaled_sum(
            F.coalesce(F.col("o_totalprice_post"), F.col("o_totalprice_pre"))
        ).alias("image_price"),
    )


@register(
    "vtable_compaction_content_identity",
    oracle=f"""
    WITH {_V2_SQL},
    v4 AS (SELECT * FROM v2 WHERE (o_orderkey % 13) <> 0)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM v4
    GROUP BY o_orderstatus
    """,
    survey="S7 V3 — compaction (OPTIMIZE): v4 bin-packs the live segments; "
    "reading it must be value-identical to the pre-compaction v3 state "
    "(the oracle rebuilds v3 relationally — any content drift in the "
    "rewrite breaks the hash)",
)
def vtable_compaction_content_identity(spark, sf_dir) -> DataFrame:
    """Fingerprint the POST-compaction snapshot (v4): per-status counts,
    an o_orderkey checksum, and the exact price sum.  The segment count
    collapse itself is pinned file-level in tests/test_vtable.py."""
    vt = staged_vtable(spark, sf_dir)
    return vt.read(4).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "vtable_stats_pruned_read",
    oracle=f"""
    WITH m AS (SELECT MAX(o_orderkey) + 1 AS mm FROM orders)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM orders, m
    WHERE (o_orderkey * 4) // m.mm = 2
    GROUP BY o_orderpriority
    """,
    survey="S4 F1 — file-level range pruning from commit-log stats "
    "(Iceberg manifest min/max): the third key quarter is read by "
    "scanning ONE of four segments; the skip list is decided from log "
    "metadata alone before any Spark job (tests pin 3 of 4 skipped)",
)
def vtable_stats_pruned_read(spark, sf_dir) -> DataFrame:
    """Range read over the key-ranged vtable: segment min/max stats
    (folded from parquet footers at commit time) prune the three
    non-overlapping quarters, and the residual predicate — the SAME
    quarter classification the build used — handles rows inside the one
    scanned segment.  At 100 TB this is the difference between a
    full-table scan and a few files; correctness never depends on the
    pruning arithmetic because the residual filter re-applies the exact
    predicate."""
    vt = staged_vtable_ranged(spark, sf_dir)
    # pinned to v3 — the pristine four-quarter layout (v4 is the pruned
    # merge exercised by vtable_merge_pruned_rewrite)
    lo_max, hi_max = vt.column_range("o_orderkey", version=3)
    mm = hi_max + 1  # table holds ALL orders, so the stats max is global
    lo = (2 * mm + 3) // 4  # smallest k with (k*4) div mm == 2
    hi = (3 * mm - 1) // 4  # largest such k
    pruned = vt.read_pruned("o_orderkey", lo, hi, version=3)
    return (
        pruned.where(F.expr(f"(o_orderkey * 4) div {mm} = 2"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
            scaled_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "vtable_zorder_pruned_scan",
    oracle=f"""
    WITH s AS (SELECT MIN(o_custkey) AS lo, MAX(o_custkey) AS hi
               FROM orders)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM orders, s
    WHERE o_custkey BETWEEN s.lo AND s.lo + (s.hi - s.lo) // 8
    GROUP BY o_orderpriority
    """,
    survey="S4 F1 — OPTIMIZE ZORDER BY + stats pruning (Delta zorder / "
    "Iceberg sort-order rewrite): orders rewritten into 16 segments "
    "clustered on the interleaved z-value of (o_custkey, o_orderkey); a "
    "narrow custkey probe prunes most segments from log stats alone "
    "even though custkey is NOT the ingest order — tests pin >=1/2 "
    "skipped on probes over EITHER dimension; residual predicate "
    "re-applied so correctness never rests on the layout",
)
def vtable_zorder_pruned_scan(spark, sf_dir) -> DataFrame:
    """Probe the first eighth of the custkey domain against the
    z-ordered vtable: read_pruned skips the segments whose custkey range
    is disjoint (most of them, because z-clustering keeps BOTH cluster
    columns tight per segment), and the residual BETWEEN handles rows
    inside the scanned segments.  The same probe against the key-RANGED
    table would scan all four segments — linear sort on one dim cannot
    prune the other."""
    vt = staged_vtable_zorder(spark, sf_dir)
    lo, hi = vt.column_range("o_custkey")
    band_hi = lo + (hi - lo) // 8
    pruned = vt.read_pruned("o_custkey", lo, band_hi)
    return (
        pruned.where(F.col("o_custkey").between(F.lit(lo), F.lit(band_hi)))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
            scaled_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "vtable_schema_evolution_backfill",
    oracle=f"""
    WITH {_V2_SQL},
    v5 AS (
        SELECT o_orderpriority, o_totalprice,
               CAST(NULL AS VARCHAR) AS o_backfill_src
        FROM v2 WHERE (o_orderkey % 13) <> 0
        UNION ALL
        SELECT o_orderpriority, o_totalprice, 'late_backfill'
        FROM v2 WHERE (o_orderkey % 13) = 0
    )
    SELECT COALESCE(o_backfill_src, 'original') AS backfill_src,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM v5
    GROUP BY COALESCE(o_backfill_src, 'original')
    """,
    survey="S7 V5 — schema evolution (Delta mergeSchema): v5 appends the "
    "%13-deleted rows back as a late backfill carrying a NEW column; the "
    "widened schema is ONE metadata commit — pre-existing segments are "
    "never rewritten (pinned file-level in tests) and surface the column "
    "as null; time travel to v4 still serves the old schema",
)
def vtable_schema_evolution_backfill(spark, sf_dir) -> DataFrame:
    """Read the post-evolution snapshot (v5): rows from old segments
    carry a null o_backfill_src (the parquet reader fills the absent
    column under the widened schema), the backfilled rows carry the
    marker.  Grouping on the coalesced marker checks both populations'
    counts and price sums value-exactly."""
    vt = staged_vtable(spark, sf_dir)
    return (
        vt.read(5)
        .groupBy(
            F.coalesce(F.col("o_backfill_src"), F.lit("original")).alias(
                "backfill_src"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            scaled_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "vtable_merge_pruned_rewrite",
    oracle=f"""
    WITH m AS (SELECT MAX(o_orderkey) + 1 AS mm FROM orders),
    merged AS (
        SELECT CASE WHEN (o_orderkey * 4) // m.mm = 1
                     AND o_orderkey % 7 = 0
                    THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
               o_orderkey,
               CASE WHEN (o_orderkey * 4) // m.mm = 1
                     AND o_orderkey % 7 = 0
                    THEN o_totalprice * 1.05
                    ELSE o_totalprice END AS o_totalprice
        FROM orders, m
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM merged
    GROUP BY o_orderstatus
    """,
    survey="S7 V4 — MERGE with file-level pruned rewrite (Delta/Iceberg "
    "touched-file MERGE, operators/vtable.py merge_upsert): updates "
    "confined to the second key quarter rewrite ONE of four segments; "
    "the other three stay live untouched (commit metadata pins "
    "rewritten=1/preserved=3 in tests); the whole-table content after "
    "the merge must equal the relational merge the oracle computes over "
    "raw orders",
)
def vtable_merge_pruned_rewrite(spark, sf_dir) -> DataFrame:
    """Read the post-merge snapshot (v4) of the ranged table: the MERGE
    (operators/vtable.py merge_upsert) discovered the one touched
    segment from per-segment key ranges, rewrote only it, and preserved
    the other three.  At 100 TB this is the difference between
    a full-table rewrite and a few files per merge.  The per-status
    count/checksum/price fingerprint catches a lost untouched segment, a
    double-applied update, or a dropped insert alike."""
    vt = staged_vtable_ranged(spark, sf_dir)
    return vt.read(4).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "stream_vtable_append_source",
    oracle=f"""
    WITH {_V2_SQL},
    streamed AS (
        SELECT o_orderpriority, o_totalprice,
               CAST(NULL AS VARCHAR) AS o_backfill_src
        FROM orders
        UNION ALL
        SELECT o_orderpriority, o_totalprice, 'late_backfill'
        FROM v2 WHERE (o_orderkey % 13) = 0
    )
    SELECT COALESCE(o_backfill_src, 'original') AS backfill_src,
           o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM streamed
    GROUP BY COALESCE(o_backfill_src, 'original'), o_orderpriority
    """,
    survey="W4 S4 — the vtable as a STREAMING SOURCE (Delta "
    "readStream.format('delta') shape; sources/vtable_stream.py): commit "
    "versions are offsets, data commits replay as append micro-batches, "
    "remove-carrying commits (merge/delete/compact) are skipped via "
    "skipChangeCommits (raising without it — pinned); pre-evolution "
    "segments null-fill the evolved column THROUGH the Arrow stream "
    "reader; the streamed union (v0+v1 full load, v5 backfill) is "
    "checked value-exactly",
)
def stream_vtable_append_source(spark, sf_dir) -> DataFrame:
    """Stream the staged history table's append commits (v0 create, v1
    append, v5 evolved backfill — v2/v3/v4 carry removes and are
    skipped) through the custom Python DataSource stream reader, and
    aggregate by backfill marker x priority.  The oracle's union of raw
    orders + the relational backfill must match value-exactly: a lost
    commit, a double-replayed version, or a wrong evolution null-fill
    all break the hash."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )
    from energy_emissions_lakehouse_spark.streaming.jobs import (
        run_to_table,
    )

    vt = staged_vtable(spark, sf_dir)
    register_vtable_source(spark)
    stream = (
        spark.readStream.format("eel_vtable")
        .option("path", vt.root)
        .option("skipChangeCommits", "true")
        .load()
    )
    agg = stream.groupBy(
        F.coalesce(F.col("o_backfill_src"), F.lit("original")).alias(
            "backfill_src"
        ),
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )
    return run_to_table(agg, "complete")


@register(
    "stream_vtable_changefeed",
    oracle=f"""
    WITH {_V2_SQL},
    feed AS (
        SELECT CAST(0 AS BIGINT) AS commit_version,
               'insert' AS change_type, o_totalprice,
               CAST(NULL AS VARCHAR) AS o_backfill_src
        FROM orders WHERE (o_orderkey % 7) <> 0
        UNION ALL
        SELECT 1, 'insert', o_totalprice, NULL
        FROM orders WHERE (o_orderkey % 7) = 0
        UNION ALL
        SELECT 2, 'update_preimage', o_totalprice, NULL
        FROM orders WHERE (o_orderkey % 10) = 0
        UNION ALL
        SELECT 2, 'update_postimage', o_totalprice, NULL FROM updates
        UNION ALL
        SELECT 3, 'delete', o_totalprice, NULL
        FROM v2 WHERE (o_orderkey % 13) = 0
        UNION ALL
        SELECT 5, 'insert', o_totalprice, 'late_backfill'
        FROM v2 WHERE (o_orderkey % 13) = 0
    )
    SELECT commit_version, change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_backfill_src) AS BIGINT) AS n_marked,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM feed
    GROUP BY commit_version, change_type
    """,
    survey="W4 S7 — streaming CHANGE DATA FEED from the vtable (Delta "
    "readChangeFeed streaming): merge/delete commits stream the cdf/ "
    "segments they wrote AT COMMIT TIME (update_preimage/postimage/"
    "delete — the enable_cdf table property, Delta's _change_data "
    "architecture), appends synthesize inserts from their data segments "
    "(no CDC files, Delta's append optimization), compaction emits "
    "NOTHING (dataChange=false); every row stamped _change_type + "
    "_commit_version; the whole 6-version history reconstructed "
    "relationally by the oracle",
)
def stream_vtable_changefeed(spark, sf_dir) -> DataFrame:
    """Stream the staged history's row-level change feed and aggregate
    per (commit_version, change_type): v0/v1 inserts, v2 pre+post update
    images, v3 deletes, v4 NOTHING (compaction), v5 evolved-backfill
    inserts (whose marker column rides the feed; pre-evolution change
    rows null-fill it — n_marked pins that).  A duplicated compact
    replay, a lost cdf segment, or wrong image rows all break the
    hash."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )
    from energy_emissions_lakehouse_spark.streaming.jobs import (
        run_to_table,
    )

    vt = staged_vtable(spark, sf_dir)
    register_vtable_source(spark)
    feed = (
        spark.readStream.format("eel_vtable")
        .option("path", vt.root)
        .option("readChangeFeed", "true")
        .load()
    )
    agg = feed.groupBy(
        F.col("_commit_version").alias("commit_version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_backfill_src").alias("n_marked"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )
    return run_to_table(agg, "complete")


@register(
    "stream_vtable_exactly_once_ingest",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {scaled_sum_sql('value')} AS total_value
    FROM events
    GROUP BY event_type
    """,
    survey="S7 W4 — exactly-once streaming sink into the versioned table: "
    "foreachBatch + idempotent txn commits (Delta txn action); every "
    "micro-batch is DELIVERED TWICE to prove replays no-op — any "
    "double-append double-counts the oracle (streaming/jobs.py "
    "run_foreachbatch_vtable_ingest)",
)
def stream_vtable_exactly_once_ingest(spark, sf_dir) -> DataFrame:
    """Stream the 4-file events split into a fresh vtable via foreachBatch
    with (source, batch_id) transaction commits, redelivering every batch
    once; the final table must hold each event EXACTLY once, which the
    per-type count/value oracle checks against the raw events table."""
    from energy_emissions_lakehouse_spark.streaming.jobs import (
        run_foreachbatch_vtable_ingest,
        stage_events_split,
    )

    src = stage_events_split(spark, sf_dir, n_files=4)
    sink_root = os.path.join(
        staging_dir("vtable_sink"),
        table_cache_key(sf_dir, "events", "ingest", _HISTORY_REV),
    )
    final = run_foreachbatch_vtable_ingest(spark, src, sink_root)
    return final.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        scaled_sum(F.col("value")).alias("total_value"),
    )


#: Reconstructible merge-on-read states (build recipe in _build_mor).
#: v2 is a pure filter of v0 (DVs mask predicate-TRUE rows in place);
#: the v3 append is NOT filtered — DV deletes are position-scoped.
_MOR_SQL = """
    mor_v0 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE (o_orderkey % 5) <> 0
    ),
    mor_v1 AS (
        SELECT * FROM mor_v0 WHERE (o_orderkey % 11) <> 0
    ),
    mor_v2 AS (
        SELECT * FROM mor_v1
        WHERE NOT (o_orderstatus = 'F' AND (o_orderkey % 17) = 0)
    ),
    mor_v4 AS (
        SELECT * FROM mor_v2
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE (o_orderkey % 5) = 0
    ),
    mor_updates AS (
        SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
               o_totalprice * 1.2 AS o_totalprice, o_orderdate,
               o_orderpriority
        FROM orders WHERE (o_orderkey % 10) = 0
    ),
    mor_v5 AS (
        SELECT * FROM mor_v4 o
        WHERE NOT EXISTS (SELECT 1 FROM mor_updates u
                          WHERE u.o_orderkey = o.o_orderkey)
        UNION ALL
        SELECT * FROM mor_updates
    ),
    mor_head AS (
        SELECT * FROM mor_v5
        WHERE NOT (o_orderpriority = '1-URGENT' AND (o_orderkey % 19) = 0)
    )
"""


@register(
    "vtable_mor_deleted_read",
    oracle=f"""
    WITH {_MOR_SQL}
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM mor_v4
    GROUP BY o_orderstatus
    """,
    survey="S7 V5 — merge-on-read DELETE via deletion vectors (Delta DV / "
    "Iceberg positional deletes): two stacked DVs mask rows with ZERO "
    "segments rewritten, a later append stays live where it matches the "
    "old predicates (position-scoped), and compact materializes "
    "(operators/vtable.py delete_where_mor)",
)
def vtable_mor_deleted_read(spark, sf_dir) -> DataFrame:
    """Head read after two stacked DV deletes, an overlapping append, and
    the materializing compact — a wrong DV fold (mask leaking onto
    appended rows, resurrected deletes, or a compact that re-applies
    cleared DVs) breaks value parity."""
    vt = staged_vtable_mor(spark, sf_dir)
    return vt.read(4).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "vtable_mor_time_travel_masks",
    oracle=f"""
    WITH {_MOR_SQL}
    SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum FROM mor_v0
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT) FROM mor_v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT) FROM mor_v2
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT) FROM mor_v4
    UNION ALL
    SELECT 4, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT) FROM mor_v4
    UNION ALL
    SELECT 5, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT) FROM mor_v5
    UNION ALL
    SELECT 6, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT) FROM mor_head
    UNION ALL
    SELECT 7, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT) FROM mor_head
    ORDER BY version
    """,
    survey="S7 V6 — time travel across deletion-vector history: each "
    "snapshot applies exactly the DVs active AT ITS VERSION (v0 none, "
    "v1 one, v2 two, v4 none after compact materialized them, v5 one "
    "again from the MOR merge, v6 two, v7 one folded DV serving the "
    "identical v6 state)",
)
def vtable_mor_time_travel_masks(spark, sf_dir) -> DataFrame:
    """Per-version row count + key checksum over the 5-version DV
    history — pins that the version-scoped DV fold serves every snapshot
    correctly, including the post-compact reset."""
    vt = staged_vtable_mor(spark, sf_dir)
    out = None
    for v in range(8):
        agg = vt.read(v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_checksum"),
        ).select(F.lit(v).alias("version"), "n_rows", "key_checksum")
        out = agg if out is None else out.unionAll(agg)
    return out.orderBy("version")


@register(
    "vtable_mor_change_feed_window",
    oracle=f"""
    WITH {_MOR_SQL}
    SELECT 'delete' AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS price_pre
    FROM mor_v1
    WHERE o_orderstatus = 'F' AND (o_orderkey % 17) = 0
    """,
    survey="S7 V7 — snapshot-diff change feed across a deletion-vector "
    "commit: the v1→v2 window surfaces exactly the second DV's masked "
    "rows as deletes (both sides of the diff read through their own "
    "version-scoped DV sets)",
)
def vtable_mor_change_feed_window(spark, sf_dir) -> DataFrame:
    """change_feed(1, 2) over the MOR table: the only difference is DV #2,
    so every emitted row must be a delete whose pre-image matches the
    second predicate applied to the v1-alive rows."""
    vt = staged_vtable_mor(spark, sf_dir)
    cdf = vt.change_feed(1, 2, keys=["o_orderkey"])
    return cdf.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice_pre")).alias("price_pre"),
    )


@register(
    "vtable_bloom_point_lookup",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey IN (
        (SELECT MIN(o_orderkey) FROM orders),
        (SELECT MAX(o_orderkey) FROM orders))
    ORDER BY o_orderkey
    """,
    survey="S7 V8 — bloom-filter point-lookup index (Delta bloom filter "
    "index): per-segment packed bitsets built at commit time from one "
    "distributed bit_or fold, probed driver-side to skip files a point "
    "predicate provably cannot match — the case min/max stats cannot "
    "prune (high-cardinality column, layout clustered by another "
    "dimension); conservative on any missing/unreadable sidecar",
)
def vtable_bloom_point_lookup(spark, sf_dir) -> DataFrame:
    """Point lookups through the bloom index on the custkey-clustered
    layout: the min and max orderkeys (present — each lives in exactly
    one octile segment) plus an absent probe (max+1) that must
    contribute nothing.  The residual predicate keeps correctness
    independent of pruning; the oracle is the plain relational filter."""
    vt = staged_vtable_bloom(spark, sf_dir)
    lo, hi = t(spark, sf_dir, "orders").agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).collect()[0]
    out = None
    for key in (lo, hi, hi + 1):
        part = vt.read_point("o_orderkey", key).where(
            F.col("o_orderkey") == key
        )
        out = part if out is None else out.unionAll(part)
    return out.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    ).orderBy("o_orderkey")


@register(
    "vtable_mor_merge_read",
    oracle=f"""
    WITH {_MOR_SQL}
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM mor_v5
    GROUP BY o_orderstatus
    """,
    survey="S7 V9 — merge-on-read MERGE (Iceberg MOR merge / Delta "
    "DV-backed MERGE, operators/vtable.py merge_upsert_mor): matched "
    "rows masked by a deletion vector discovered in one broadcast "
    "semi-join, the whole source appended as one segment, ZERO existing "
    "segments rewritten — the cheapest shape for a small delta into a "
    "100 TB table; rewrite amortizes into the next compact",
)
def vtable_mor_merge_read(spark, sf_dir) -> DataFrame:
    """Head read after the v5 MOR merge: %10 keys carry the merged
    status 'R' and 1.2x price, every other row is untouched — a mask
    leaking onto unmatched rows, a lost insert, or a resurrected
    pre-merge row breaks value parity."""
    vt = staged_vtable_mor(spark, sf_dir)
    return vt.read(5).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "vtable_mor_dv_compaction_identity",
    oracle=f"""
    WITH {_MOR_SQL}
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM mor_head
    GROUP BY o_orderpriority
    """,
    survey="S7 V10 — deletion-vector maintenance (compact_dvs, Delta "
    "folds this into OPTIMIZE): the active DV files merge into ONE in a "
    "metadata-only commit (no data segment touched, stream-skipped like "
    "compact) — a long-running MOR table's per-delete position files "
    "stop accumulating in every read's union and the log fold",
)
def vtable_mor_dv_compaction_identity(spark, sf_dir) -> DataFrame:
    """Head read THROUGH the folded DV (v7): content must be identical
    to the two-DV v6 state it replaced — grouped on o_orderpriority, the
    dimension the v6 delete cut into, so a lost or doubled mask row
    breaks parity."""
    vt = staged_vtable_mor(spark, sf_dir)
    return vt.read().groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


#: The admin-table SQL reconstructions (see _build_admin for the build):
#: each version's state as a pure function of customer.
_ADMIN_SQL = """
    admin_v1 AS (
        SELECT * FROM customer WHERE c_mktsegment <> 'BUILDING'
    ),
    admin_promo AS (
        SELECT CAST(c_custkey + 1000000 AS BIGINT) AS c_custkey, c_name,
               c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE (c_custkey % 7) = 0
    ),
    admin_head AS (
        SELECT * FROM customer
        UNION ALL
        SELECT CAST(c_custkey + 2000000 AS BIGINT) AS c_custkey, c_name,
               c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE (c_custkey % 7) = 0
    )
"""


@register(
    "vtable_restore_read",
    oracle=f"""
    WITH {_ADMIN_SQL}
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(c_custkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('c_acctbal')} AS acctbal_sum
    FROM admin_head
    GROUP BY c_mktsegment
    """,
    survey="S7 V11 — RESTORE TABLE ... TO VERSION AS OF (Delta RESTORE): "
    "the head serves exactly the restored version's state via a PURE "
    "METADATA commit (file-list diff: re-reference the target's "
    "segments, drop the later ones, swap the DV set) — no data rewritten "
    "at any scale; history stays intact and auditable",
)
def vtable_restore_read(spark, sf_dir) -> DataFrame:
    """Head read after restore(0) + one post-restore append: must be
    customer + the +2M batch EXACTLY — a restore that leaks the v1
    delete (BUILDING rows missing), resurrects the v2 evolve batch (+1M
    keys present), or misfolds the re-referenced segment breaks value
    parity.  Grouped on c_mktsegment, the dimension v1 deleted by."""
    vt = staged_vtable_admin(spark, sf_dir)
    return vt.read().groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("c_custkey").alias("key_checksum"),
        scaled_sum(F.col("c_acctbal")).alias("acctbal_sum"),
    )


@register(
    "vtable_restore_time_travel",
    oracle=f"""
    WITH {_ADMIN_SQL}
    SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS key_checksum FROM customer
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(c_custkey) AS BIGINT) FROM admin_v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(c_custkey) AS BIGINT)
    FROM (SELECT c_custkey FROM admin_v1
          UNION ALL SELECT c_custkey FROM admin_promo)
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(c_custkey) AS BIGINT) FROM customer
    UNION ALL
    SELECT 4, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(c_custkey) AS BIGINT) FROM admin_head
    ORDER BY version
    """,
    survey="S7 V12 — restore preserves history (restore-as-new-commit, "
    "never log rewrite): time travel to the pre-restore delete (v1) and "
    "evolve (v2) states keeps serving them, the restored head (v3) "
    "equals the target (v0), and writes continue on top (v4)",
)
def vtable_restore_time_travel(spark, sf_dir) -> DataFrame:
    """Per-version count + key checksum across the whole admin history,
    INCLUDING the versions the restore 'undid' — the proof that restore
    is additive history, not destruction."""
    vt = staged_vtable_admin(spark, sf_dir)
    out = None
    for v in range(5):
        agg = vt.read(v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("c_custkey").alias("key_checksum"),
        ).select(F.lit(v).alias("version"), "n_rows", "key_checksum")
        out = agg if out is None else out.unionAll(agg)
    return out.orderBy("version")


@register(
    "vtable_constraint_audit",
    oracle=f"""
    WITH {_ADMIN_SQL}
    SELECT check_name, n_violations, n_rows FROM (
        SELECT 'acctbal_floor' AS check_name,
               CAST(SUM(CASE WHEN NOT COALESCE(c_acctbal >= -1000.0, TRUE)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM admin_head
        UNION ALL
        SELECT 'acctbal_nonneg',
               CAST(SUM(CASE WHEN NOT COALESCE(c_acctbal >= 0.0, TRUE)
                        THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM admin_head
        UNION ALL
        SELECT 'custkey_nonneg',
               CAST(SUM(CASE WHEN NOT COALESCE(
                            c_custkey IS NOT NULL AND c_custkey >= 0, TRUE)
                        THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM admin_head
    ) ORDER BY check_name
    """,
    survey="S7 V13 — CHECK constraints (Delta delta.constraints.*): "
    "writes are validated against the active predicate map at segment-"
    "write time in ONE aggregate over the new files (O(delta), never "
    "O(table)); validate_constraints() is the audit surface — active "
    "constraints prove 0 violations, what-if predicates count in the "
    "same single pass",
)
def vtable_constraint_audit(spark, sf_dir) -> DataFrame:
    """The two enforced constraints audit to zero violations on the
    head (enforcement is the invariant, the audit is the proof), and a
    what-if tightened floor (acctbal >= 0) counts its would-be
    violations in the same single aggregate pass."""
    vt = staged_vtable_admin(spark, sf_dir)
    return vt.validate_constraints(
        extra_checks={"acctbal_nonneg": "c_acctbal >= 0.0"}
    ).orderBy("check_name")


@register(
    "vtable_sql_source_mor_scan",
    oracle=f"""
    WITH {_MOR_SQL}
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM mor_head
    GROUP BY o_orderstatus
    """,
    survey="S7 V14 — the vtable as a BATCH DataSource "
    "(spark.read.format('eel_vtable'), the Delta batch-read shape, "
    "sources/vtable_batch.py): snapshot reads plan one Arrow-batched "
    "InputPartition per live part file, and active deletion vectors "
    "apply as PER-FILE POSITION MASKS shipped inside each partition — "
    "no join, zero shuffle, the kilobyte mask travels with exactly the "
    "file it masks",
)
def vtable_sql_source_mor_scan(spark, sf_dir) -> DataFrame:
    """The MOR head (one folded DV active) read through the BATCH
    DataSource path — executor-side Arrow reads dropping masked row
    positions — must equal the anti-join read's state exactly: a mask
    applied to the wrong file, an off-by-one position, or a dropped
    mask breaks value parity."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    vt = staged_vtable_mor(spark, sf_dir)
    register_vtable_source(spark)
    src = spark.read.format("eel_vtable").option("path", vt.root).load()
    return src.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "vtable_sql_source_pushdown_point",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey IN (
        (SELECT MIN(o_orderkey) FROM orders),
        (SELECT MAX(o_orderkey) FROM orders))
    ORDER BY o_orderkey
    """,
    survey="S7 V15 — Catalyst filter pushdown into the vtable batch "
    "source (Spark 4.1 Python DataSource pushFilters): the WHERE "
    "clause's =/IN/range conjuncts reach the planner, which prunes "
    "files via the commit-log min/max stats AND the per-segment bloom "
    "sidecars (1-of-8 segments scanned on the custkey-clustered "
    "layout, pinned in tests); ALL filters are returned for row-level "
    "re-application, so correctness never rests on the pruning",
)
def vtable_sql_source_pushdown_point(spark, sf_dir) -> DataFrame:
    """Point lookups expressed as a plain .where() on the DataFrame —
    no vtable-specific read API — with the pushdown machinery driving
    the same stats+bloom file skipping read_point does by hand; probes
    the min and max orderkeys plus an absent key (max+1)."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    vt = staged_vtable_bloom(spark, sf_dir)
    register_vtable_source(spark)
    lo, hi = t(spark, sf_dir, "orders").agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).collect()[0]
    src = spark.read.format("eel_vtable").option("path", vt.root).load()
    return (
        src.where(F.col("o_orderkey").isin(int(lo), int(hi), int(hi) + 1))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


@register(
    "vtable_sql_sink_roundtrip",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey="S7 V16 — the vtable as a BATCH SINK "
    "(df.write.format('eel_vtable'), DataSourceArrowWriter): tasks "
    "stream Arrow batches into one immutable segment (invisible until "
    "committed — a failed job strands a vacuumable orphan, never a torn "
    "table), the driver folds ONE atomic commit with stats, bloom "
    "sidecars, schema-on-write and CHECK constraints through the same "
    "VersionedTable paths as API writes; overwrite-to-new-root creates "
    "the table (Delta save semantics), mode('append') enforces the "
    "exact schema",
)
def vtable_sql_sink_roundtrip(spark, sf_dir) -> DataFrame:
    """Write orders through the DataFrame sink in two jobs (overwrite
    one third, append the rest — exercising create-on-save, the append
    schema gate, and the task-file → driver-commit fold), then read the
    table back through the batch source: head must equal orders
    exactly.  The write is the measured operator, like the pysource
    writer roundtrip."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    import shutil

    orders = t(spark, sf_dir, "orders").select(*_ORDER_COLS)
    root = os.path.join(
        staging_dir("vtable_sink"),
        f"orders_{table_cache_key(sf_dir, 'orders', 'sink', _HISTORY_REV)}",
    )
    # fresh table per invocation: without this, every run (bench warmup
    # included) stacks two more commits plus two more copies of orders
    # into a root nothing vacuums — unbounded disk AND an ever-longer
    # log walk skewing the very number this query benches
    shutil.rmtree(root, ignore_errors=True)
    key = F.col("o_orderkey")
    (
        orders.filter(key % 3 == 0)
        .write.format("eel_vtable")
        .option("path", root)
        .mode("overwrite")
        .save()
    )
    (
        orders.filter(key % 3 != 0)
        .write.format("eel_vtable")
        .option("path", root)
        .mode("append")
        .save()
    )
    src = spark.read.format("eel_vtable").option("path", root).load()
    return src.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


#: The DML-table SQL reconstructions (see _build_dml for the build):
#: v4 (post MOR update), v5 (post replaceWhere), head (post COW update)
#: and the diverged clone, each a pure function of orders.  The range
#: bounds are the same integer arithmetic the build used (q2 = mm*2//4,
#: q3 = mm*3//4 with mm = max key + 1), recomputed via scalar subqueries.
_DML_SQL = """
    dml_bounds AS (
        SELECT (MAX(o_orderkey) + 1) * 2 // 4 AS q2,
               (MAX(o_orderkey) + 1) * 3 // 4 AS q3
        FROM orders
    ),
    dml_v4 AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN (o_orderkey % 23) = 0
                    THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN (o_orderkey % 23) = 0
                    THEN o_totalprice * 0.9
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
    ),
    dml_v5 AS (
        SELECT * FROM dml_v4
        WHERE o_orderkey < (SELECT q2 FROM dml_bounds)
           OR o_orderkey >= (SELECT q3 FROM dml_bounds)
        UNION ALL
        SELECT o_orderkey, o_custkey, 'W' AS o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        WHERE o_orderkey >= (SELECT q2 FROM dml_bounds)
          AND o_orderkey < (SELECT q3 FROM dml_bounds)
    ),
    dml_head AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate,
               CASE WHEN o_orderstatus = 'X'
                    THEN '0-RUSH' ELSE o_orderpriority END
               AS o_orderpriority
        FROM dml_v5
    ),
    dml_clone AS (
        SELECT * FROM dml_v4 WHERE (o_orderkey % 2) <> 0
    )
"""


def _ivm_sign() -> Column:
    """The signed-delta weight of a change-feed row: +1 for rows that
    enter the view state (insert, update post-image), -1 for rows that
    leave it (delete, update pre-image).  Shared by the batch and
    streaming IVM queries — their shared oracle (dml_head) only holds
    if both fold changes identically."""
    return (
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).when(
            F.col("_change_type").isin("delete", "update_preimage"),
            F.lit(-1),
        )
    )


def _price_cents() -> Column:
    """o_totalprice quantized to the same scaled integer scaled_sum
    uses — signed integer deltas compose exactly, no float drift."""
    return F.round(F.col("o_totalprice") * F.lit(100), 0).cast("long")


@register(
    "vtable_mor_update_read",
    oracle=f"""
    WITH {_DML_SQL}
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM dml_v4
    GROUP BY o_orderstatus
    """,
    survey="S7 V17 — merge-on-read UPDATE (Delta DV-backed UPDATE, "
    "operators/vtable.py update_where_mor): matched positions land in a "
    "deletion vector and the post-images append as ONE segment — zero "
    "existing segments rewritten, the cheapest update shape at 100 TB; "
    "SET expressions evaluate on the pre-image and cast to the column "
    "type (ANSI UPDATE)",
)
def vtable_mor_update_read(spark, sf_dir) -> DataFrame:
    """The v4 snapshot after the MOR update: %23 keys carry status 'X'
    and 0.9x price, everything else is untouched — a mask leaking onto
    unmatched rows, a lost image, or an image diverging from the SET
    arithmetic breaks value parity."""
    vt = staged_vtable_dml(spark, sf_dir)
    return vt.read(4).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "vtable_replace_where_read",
    oracle=f"""
    WITH {_DML_SQL}
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM dml_v5
    GROUP BY o_orderstatus
    """,
    survey="S7 V18 — replaceWhere (Delta replaceWhere / dynamic "
    "partition overwrite, operators/vtable.py overwrite_range): one "
    "commit atomically deletes the [q2,q3) key slice and inserts the "
    "recomputed batch (validated against the predicate); log min/max "
    "stats keep the disjoint slices out of the discovery scan entirely "
    "and exact discovery rewrites only the straddling segments (pinned "
    "rewritten=2/preserved=3 in tests)",
)
def vtable_replace_where_read(spark, sf_dir) -> DataFrame:
    """The v5 snapshot after the range reload: the slice's rows (the
    original quarter AND the v4 update-images that fell inside it) are
    gone, the 'W' replacement batch is in, off-range images survive —
    a leaked slice row, a lost off-range image, or a replacement row
    drifting from the recompute breaks value parity."""
    vt = staged_vtable_dml(spark, sf_dir)
    return vt.read(5).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "vtable_update_cow_head",
    oracle=f"""
    WITH {_DML_SQL}
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM dml_head
    GROUP BY o_orderpriority
    """,
    survey="S7 V19 — pruned copy-on-write UPDATE (Delta UPDATE, "
    "operators/vtable.py update_where): exact touched-file discovery "
    "via the pushed-down predicate rewrites ONLY the segments holding "
    "matching rows (1 of 5 live segments here — the matches live solely "
    "in the v5 kept segment); grouped on o_orderpriority, the column "
    "the SET rewrote",
)
def vtable_update_cow_head(spark, sf_dir) -> DataFrame:
    """Head read after the chained DML history (MOR update, range
    reload, COW update): surviving 'X' rows carry priority '0-RUSH',
    every other row keeps its original priority — an over-applied SET
    (touching 'W' or original rows) or an under-applied one breaks
    value parity."""
    vt = staged_vtable_dml(spark, sf_dir)
    return vt.read().groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "vtable_update_change_feed",
    oracle=f"""
    SELECT 'update' AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {scaled_sum_sql('o_totalprice')} AS price_pre,
           {scaled_sum_sql('o_totalprice * 0.9')} AS price_post
    FROM orders
    WHERE (o_orderkey % 23) = 0
    """,
    survey="S7 V20 — change feed across an UPDATE commit: the v3->v4 "
    "snapshot diff surfaces exactly the updated keys as 'update' rows "
    "whose pre-image is the original and post-image the SET result — "
    "both sides of the diff read through their own version-scoped DV "
    "sets (v4 masks the originals, v3 predates the DV)",
)
def vtable_update_change_feed(spark, sf_dir) -> DataFrame:
    """change_feed(3, 4) over the DML table: only the %23 keys may
    appear, all as updates, with price_pre/price_post matching the SET
    arithmetic exactly."""
    vt = staged_vtable_dml(spark, sf_dir)
    cdf = vt.change_feed(3, 4, keys=["o_orderkey"])
    return cdf.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        scaled_sum(F.col("o_totalprice_pre")).alias("price_pre"),
        scaled_sum(F.col("o_totalprice_post")).alias("price_post"),
    )


@register(
    "vtable_clone_divergence",
    oracle=f"""
    WITH {_DML_SQL}
    SELECT 'clone' AS side,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM dml_clone
    UNION ALL
    SELECT 'source',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT),
           {scaled_sum_sql('o_totalprice')}
    FROM dml_head
    ORDER BY side
    """,
    survey="S7 V21 — zero-copy CLONE (Delta SHALLOW CLONE semantics via "
    "hardlinks, operators/vtable.py clone_to): the clone snapshots the "
    "source log at its head and shares every data inode (no bytes "
    "copied — cloning 100 TB costs its file listing), then diverges "
    "independently; unlike Delta's path-referencing clone, a vacuum on "
    "either side can never break the other (pinned in tests)",
)
def vtable_clone_divergence(spark, sf_dir) -> DataFrame:
    """Source head vs clone head AFTER both diverged (source: replace +
    COW update; clone: a delete of even keys from the v4 state it was
    cloned at) — a clone that leaks a source commit, shares log state,
    or corrupts a shared segment breaks either side's parity."""
    vt = staged_vtable_dml(spark, sf_dir)
    cl = staged_vtable_dml_clone(spark, sf_dir)

    def _agg(table, side: str) -> DataFrame:
        return table.read().agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("key_checksum"),
            scaled_sum(F.col("o_totalprice")).alias("total_price"),
        ).select(
            F.lit(side).alias("side"),
            "n_orders",
            "key_checksum",
            "total_price",
        )

    return _agg(cl, "clone").unionAll(_agg(vt, "source")).orderBy("side")


@register(
    "vtable_cdf_mirror_sync",
    oracle=f"""
    WITH {_DML_SQL}
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM dml_head
    GROUP BY o_orderstatus
    """,
    survey="S7 V22 — batch change feed as a SYNC CONTRACT (Delta "
    "table_changes, operators/vtable.py read_changes): a downstream "
    "mirror holding only the v0 snapshot replays versions 1..head — "
    "appends as synthesized inserts, DML commits from their commit-time "
    "feeds — via last-change-per-key (one shuffle on the key) and must "
    "land EXACTLY on the head state; the feed being present is cheap to "
    "claim, being sufficient is what this proves",
)
def vtable_cdf_mirror_sync(spark, sf_dir) -> DataFrame:
    """Reconstruct the head purely from (v0 snapshot + change feed):
    keys never mentioned keep their v0 row; every other key takes its
    LATEST change (insert within the same replace commit supersedes the
    delete, deletes drop the key).  The result must match the directly-
    read head value-exactly — a lost image, a mis-signed delete, or a
    gap in the feed breaks parity.  Fully distributed: one window
    shuffle on the key, nothing row-level on the driver."""
    from pyspark.sql.window import Window

    vt = staged_vtable_dml(spark, sf_dir)
    head_v = vt.latest_version()
    changes = vt.read_changes(1, head_v).where(
        F.col("_change_type") != "update_preimage"
    )
    # latest state per key; within one commit an insert supersedes the
    # delete of the same key (replaceWhere = delete + insert)
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("_commit_version").desc(),
        F.when(F.col("_change_type") == "delete", 1).otherwise(0),
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    survivors = latest.where(
        F.col("_change_type") != "delete"
    ).select(*_ORDER_COLS)
    unchanged = vt.read(0).join(
        changes.select("o_orderkey").distinct(), "o_orderkey", "left_anti"
    ).select(*_ORDER_COLS)
    mirror = unchanged.unionByName(survivors)
    return mirror.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "vtable_incremental_agg_maintenance",
    oracle=f"""
    WITH {_DML_SQL}
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM dml_head
    GROUP BY o_orderstatus
    """,
    survey="S7 V23 — incremental materialized-view maintenance from the "
    "change feed: a grouped aggregate over the head is served as "
    "agg(v3 snapshot) + signed deltas folded from read_changes(4..6) "
    "(+post/+insert, -pre/-delete on the exact scaled-integer cents) — "
    "the v4+ DATA segments are never scanned, so refreshing the view "
    "over a 100 TB table costs O(changes), not O(table)",
)
def vtable_incremental_agg_maintenance(spark, sf_dir) -> DataFrame:
    """Maintain count+sum per status incrementally: quantize to the
    same cents integers scaled_sum uses (signed integer deltas compose
    exactly — no float drift), full-outer-merge the base aggregate with
    the delta aggregate, drop groups whose count reaches zero.  Must
    equal the direct head aggregate value-exactly."""
    vt = staged_vtable_dml(spark, sf_dir)
    head_v = vt.latest_version()
    cents = _price_cents()
    base = vt.read(3).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n0"), F.sum(cents).alias("c0")
    )
    sign = _ivm_sign()
    delta = (
        vt.read_changes(4, head_v)
        .groupBy("o_orderstatus")
        .agg(
            F.sum(sign).alias("dn"),
            F.sum(sign * cents).alias("dc"),
        )
    )
    merged = base.join(delta, "o_orderstatus", "full_outer").select(
        "o_orderstatus",
        (F.coalesce("n0", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
            "n_orders"
        ),
        (F.coalesce("c0", F.lit(0)) + F.coalesce("dc", F.lit(0))).alias(
            "c"
        ),
    )
    return merged.where(F.col("n_orders") > 0).select(
        "o_orderstatus",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        (F.col("c").cast("double") / F.lit(100.0)).alias("total_price"),
    )


@register(
    "stream_vtable_ivm",
    oracle=f"""
    WITH {_DML_SQL}
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM dml_head
    GROUP BY o_orderstatus
    """,
    survey="W4 S8 — STREAMING incremental view maintenance: a complete-"
    "mode aggregation over the change-feed stream whose state IS the "
    "materialized view — every micro-batch folds signed deltas "
    "(+insert/+postimage, -delete/-preimage on the exact scaled-integer "
    "cents), so after replaying the whole DML history (MOR update, "
    "replaceWhere, COW update) the view equals the head aggregate "
    "value-exactly; the view refreshes at O(changes per batch) forever, "
    "never rescanning the table",
)
def stream_vtable_ivm(spark, sf_dir) -> DataFrame:
    """The streaming twin of vtable_incremental_agg_maintenance: the
    per-status count+sum view maintained by the CDF stream itself.
    Deletes and update pre-images subtract, inserts and post-images
    add; integer cents make the signed folds order- and
    batch-boundary-independent, so the result is exact no matter how
    the commits split into micro-batches."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )
    from energy_emissions_lakehouse_spark.streaming.jobs import (
        run_to_table,
    )

    vt = staged_vtable_dml(spark, sf_dir)
    register_vtable_source(spark)
    feed = (
        spark.readStream.format("eel_vtable")
        .option("path", vt.root)
        .option("readChangeFeed", "true")
        .load()
    )
    sign = _ivm_sign()
    cents = _price_cents()
    view = feed.groupBy("o_orderstatus").agg(
        F.sum(sign).alias("n"), F.sum(sign * cents).alias("c")
    )
    out = run_to_table(view, "complete")
    return out.where(F.col("n") > 0).select(
        "o_orderstatus",
        F.col("n").cast("bigint").alias("n_orders"),
        (F.col("c").cast("double") / F.lit(100.0)).alias("total_price"),
    )


@register(
    "vtable_catalog_txn_load",
    oracle=f"""
    SELECT 'customer' AS side,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('c_acctbal')} AS value_sum
    FROM customer
    UNION ALL
    SELECT 'orders',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT),
           {scaled_sum_sql('o_totalprice')}
    FROM orders
    ORDER BY side
    """,
    survey="S7 V24 — MULTI-TABLE transaction (Iceberg catalog-level "
    "commit, operators/catalog.py): the reference's one-transaction "
    "two-table warehouse load (load_to_postgres.py:73-117) done "
    "natively — ordinary per-table vtable writes, then ONE atomic "
    "catalog pointer-swap commit pinning every participant's new head; "
    "readers through the catalog see a consistent cut (all-old or "
    "all-new, never a mix — crash/conflict semantics pinned in "
    "tests/test_catalog.py)",
)
def vtable_catalog_txn_load(spark, sf_dir) -> DataFrame:
    """Transactionally load TWO tables — append the missing two-thirds
    of orders AND replaceWhere-insert the BUILDING customers — then
    read both through the POST-txn catalog cut: each must equal its
    full source table exactly.  The measured operator is the whole
    envelope (two table loads + the catalog swap), the native twin of
    jdbc_txn_upsert_roundtrip."""
    import shutil as _shutil

    from energy_emissions_lakehouse_spark.operators.catalog import (
        TableCatalog,
    )
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select(*_ORDER_COLS)
    cust = t(spark, sf_dir, "customer")
    base = os.path.join(
        staging_dir("vtable_catalog"),
        f"txn_{table_cache_key(sf_dir, 'orders', 'catalog', _HISTORY_REV)}",
    )
    # fresh roots per invocation (same policy as vtable_sql_sink_roundtrip:
    # without this every run stacks more commits into an unvacuumed root)
    _shutil.rmtree(base, ignore_errors=True)
    key = F.col("o_orderkey")
    t_orders = VersionedTable.create(
        spark, os.path.join(base, "orders"), orders.filter(key % 3 == 0)
    )
    t_cust = VersionedTable.create(
        spark,
        os.path.join(base, "customer"),
        cust.filter(F.col("c_mktsegment") != "BUILDING"),
    )
    cat = TableCatalog.create(
        spark, base, {"orders": t_orders.root, "customer": t_cust.root}
    )
    txn = cat.begin()
    txn.table("orders").append(orders.filter(key % 3 != 0))
    txn.table("customer").overwrite_where(
        cust.filter(F.col("c_mktsegment") == "BUILDING"),
        "c_mktsegment = 'BUILDING'",
    )
    txn.commit()

    def _agg(name: str, key_col: str, val_col: str) -> DataFrame:
        return cat.read(name).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(key_col).alias("key_checksum"),
            scaled_sum(F.col(val_col)).alias("value_sum"),
        ).select(
            F.lit(name).alias("side"), "n_rows", "key_checksum", "value_sum"
        )

    return (
        _agg("customer", "c_custkey", "c_acctbal")
        .unionAll(_agg("orders", "o_orderkey", "o_totalprice"))
        .orderBy("side")
    )


@register(
    "vtable_provenance_read",
    oracle=f"""
    WITH {_DML_SQL}
    SELECT CASE
             WHEN o_orderkey >= (SELECT q2 FROM dml_bounds)
              AND o_orderkey <  (SELECT q3 FROM dml_bounds) THEN 5
             WHEN (o_orderkey % 23) = 0 THEN 6
             WHEN o_orderkey <  (SELECT q2 FROM dml_bounds) // 2 THEN 0
             WHEN o_orderkey <  (SELECT q2 FROM dml_bounds) THEN 1
             ELSE 3
           END AS commit_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM dml_head
    GROUP BY 1 ORDER BY commit_version
    """,
    survey="S7 V25 — row provenance (Delta row-commit metadata, "
    "operators/vtable.py read_with_provenance): every served row "
    "stamped with the commit that physically wrote its segment, via "
    "one broadcast join of the identified scan against the O(files) "
    "segment→commit map (no data-side shuffle; a restore keeps the "
    "original writer, a rewrite reassigns to the rewriting commit) — "
    "and the stamp doubles as an independent audit of the whole DML "
    "history: which bytes each of the 7 commits is serving at head",
)
def vtable_provenance_read(spark, sf_dir) -> DataFrame:
    """Group the head by row provenance: slices 0/1/3 still serve their
    original append commits, the replaced quarter serves the v5
    replaceWhere batch, and the surviving update images serve the v6
    COW rewrite (the v4 MOR images were rewritten at v6, so nothing at
    head carries v4 — exactly what file provenance must report).  The
    oracle reconstructs the same assignment from key arithmetic
    alone."""
    vt = staged_vtable_dml(spark, sf_dir)
    return (
        vt.read_with_provenance()
        .groupBy(F.col("_commit_version").alias("commit_version"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_checksum"),
        )
        .orderBy("commit_version")
    )


@register(
    "vtable_rename_read",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 7 IN (0, 1, 2)
    ),
    head AS (
      -- the v3 update predates the v5 evolve-append: %7=2 rows never
      -- double
      SELECT o_orderkey, o_orderstatus AS status,
             CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 7 IN (0, 1)
                  THEN o_totalprice * 2
                  ELSE o_totalprice END AS price_usd
      FROM base
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('price_usd')} AS total_price
    FROM head GROUP BY status
    """,
    survey="extension (lakehouse DDL): ALTER TABLE RENAME COLUMN as a "
    "metadata-only commit (Delta column-mapping semantics, "
    "operators/vtable.py rename_column) — the head read coalesces each "
    "logical column across files physically storing THREE column-name "
    "generations (pre-rename, post-rename-1, post-update post-images), "
    "with a DV-backed MOR update applied ACROSS the rename boundary; "
    "zero data rewrite anywhere",
    tags=("vtable",),
)
def vtable_rename_read(spark, sf_dir) -> DataFrame:
    """Head read of the rename table: (o_orderkey, status, price_usd)
    served over files written as o_totalprice/o_orderstatus (v0),
    price_usd (v2 append), and the v3 MOR-update post-images — value
    parity proves the coalesce chain, the DV mask, and the doubled
    update arithmetic all compose."""
    vt = staged_vtable_rename(spark, sf_dir)
    return vt.read().groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
        scaled_sum(F.col("price_usd")).alias("total_price"),
    )


@register(
    "vtable_rename_time_travel",
    oracle=f"""
    WITH v0 AS (
      SELECT o_orderkey, o_totalprice AS price FROM orders
      WHERE o_orderkey % 7 = 0
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice AS price FROM orders
      WHERE o_orderkey % 7 IN (0, 1)
    )
    SELECT 'v0_o_totalprice' AS snapshot,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {scaled_sum_sql('price')} AS total_price
    FROM v0
    UNION ALL
    SELECT 'v2_price_usd' AS snapshot,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {scaled_sum_sql('price')} AS total_price
    FROM v2
    """,
    survey="extension (lakehouse DDL): time travel across rename "
    "boundaries serves each version's OWN schema — v0 still reads "
    "o_totalprice, v2 (after the first rename + an append) reads "
    "price_usd with no update applied; the snapshot column names double "
    "as the schema assertion (a wrong-era name would KeyError the "
    "aggregation)",
    tags=("vtable",),
)
def vtable_rename_time_travel(spark, sf_dir) -> DataFrame:
    vt = staged_vtable_rename(spark, sf_dir)
    v0 = vt.read(0).agg(
        F.count(F.lit(1)).alias("n_orders"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    ).select(F.lit("v0_o_totalprice").alias("snapshot"), "*")
    v2 = vt.read(2).agg(
        F.count(F.lit(1)).alias("n_orders"),
        scaled_sum(F.col("price_usd")).alias("total_price"),
    ).select(F.lit("v2_price_usd").alias("snapshot"), "*")
    return v0.unionByName(v2)


@register(
    "vtable_drop_column_history",
    oracle="""
    WITH base AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 7 IN (0, 1, 2)
    )
    SELECT 'v5_with_note' AS snapshot,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_orderkey % 7 = 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_note
    FROM base
    UNION ALL
    SELECT 'head_note_dropped' AS snapshot,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(-1 AS BIGINT) AS n_note
    FROM base
    """,
    survey="extension (lakehouse DDL): DROP COLUMN as a metadata-only "
    "commit (operators/vtable.py drop_column) — the head serves the "
    "narrowed schema with IDENTICAL rows (the -1 marker is emitted only "
    "when the column is really gone from read().columns), while time "
    "travel to the pre-drop version still serves the column's values; "
    "zero rewrite, and re-introducing the name is refused "
    "(append_evolve retired-name guard)",
    tags=("vtable",),
)
def vtable_drop_column_history(spark, sf_dir) -> DataFrame:
    """v5 (note live: one non-null per evolve-appended row) vs head
    (note dropped: the -1 marker doubles as the schema assertion — it
    is only produced down the column-absent branch)."""
    vt = staged_vtable_rename(spark, sf_dir)
    v5 = vt.read(5).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.col("note").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_note"),
    ).select(F.lit("v5_with_note").alias("snapshot"), "*")
    head_df = vt.read()
    assert "note" not in head_df.columns, "drop_column left the column"
    head = head_df.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.lit(-1).cast("long").alias("n_note"),
    ).select(F.lit("head_note_dropped").alias("snapshot"), "*")
    return v5.unionByName(head)


@register(
    "vtable_sql_source_renamed_scan",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 7 IN (0, 1, 2) AND o_orderkey % 2 = 1
    )
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM base GROUP BY status
    """,
    survey="extension (lakehouse DDL x sources): the Python DataSource "
    "batch read over a RENAMED table — per-file first-present-wins "
    "projection across three physical column-name generations "
    "(sources/vtable_batch.py align_arrow_table chains), DV masks "
    "applied, Catalyst-pushed predicate on the renamed column resolved "
    "through the chain for stats/bloom pruning; odd keys only, so the "
    "MOR update's post-images contribute nothing and value parity "
    "proves the masks + chain projection compose",
    tags=("vtable",),
)
def vtable_sql_source_renamed_scan(spark, sf_dir) -> DataFrame:
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    vt = staged_vtable_rename(spark, sf_dir)
    register_vtable_source(spark)
    src = (
        spark.read.format("eel_vtable").option("path", vt.root).load()
    )
    return (
        src.filter(F.col("o_orderkey") % 2 == 1)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            scaled_sum(F.col("price_usd")).alias("total_price"),
        )
    )


#: Shared oracle CTE: the widen table's head state, reconstructed from
#: orders in ANSI SQL.  price is quantized through FLOAT (the narrow
#: write-time type) then upcast — float32 -> float64 is value-exact, and
#: the MOR update's *2 is exact in either width, so both engines see
#: identical doubles.
_WIDEN_HEAD_SQL = """
    base AS (
      SELECT CAST(o_orderkey AS BIGINT) AS k,
             CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE) AS price,
             o_orderstatus,
             CASE WHEN o_orderkey % 5 = 2 THEN 'late' END AS src
      FROM orders WHERE o_orderkey % 5 IN (0, 1, 2)
    ),
    head AS (
      SELECT k,
             CASE WHEN k % 2 = 0 THEN price * 2 ELSE price END AS price,
             o_orderstatus, src
      FROM base
    )
"""


@register(
    "vtable_type_widening_read",
    oracle=f"""
    WITH {_WIDEN_HEAD_SQL}
    SELECT o_orderstatus AS status, src,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(k) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('price')} AS total_price
    FROM head GROUP BY o_orderstatus, src
    """,
    survey="extension (lakehouse DDL): ALTER COLUMN TYPE as a metadata-"
    "only LOSSLESS WIDENING commit (Delta typeWidening semantics, "
    "operators/vtable.py widen_column_type) — the head read serves "
    "(bigint, double) over files physically storing three type "
    "generations (int32/float32, int64/float32, int64/float64) with "
    "ZERO rewrite: the scan layer upcasts per file; a DV-backed MOR "
    "update applied ACROSS both widen boundaries and a narrow-batch "
    "append upcast at write time both feed the same head",
    tags=("vtable",),
)
def vtable_type_widening_read(spark, sf_dir) -> DataFrame:
    """Head read of the widen table: value parity proves the per-file
    read-time upcast, the write-path narrow-batch upcast, the evolve
    alignment, and the DV mask all compose across type generations."""
    vt = staged_vtable_widen(spark, sf_dir)
    return vt.read().groupBy(
        F.col("o_orderstatus").alias("status"), "src"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
        scaled_sum(F.col("price")).alias("total_price"),
    )


@register(
    "vtable_widen_time_travel",
    oracle=f"""
    WITH narrow AS (
      SELECT CAST(o_orderkey AS BIGINT) AS k,
             CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    {_WIDEN_HEAD_SQL}
    SELECT 'v0_narrow' AS snapshot, 'int' AS key_type,
           'float' AS price_type,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(k) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('price')} AS total_price
    FROM narrow
    UNION ALL
    SELECT 'v5_head' AS snapshot, 'bigint' AS key_type,
           'double' AS price_type,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(k) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('price')} AS total_price
    FROM head
    """,
    survey="extension (lakehouse DDL): time travel across a type "
    "widening serves EACH ERA'S TYPE — v0 reads as (int, float) with "
    "the values written then, the head as (bigint, double); the "
    "key_type/price_type columns are the Spark-side dtypes observed on "
    "the snapshot DataFrames, value-pinned against the oracle's "
    "expected literals",
    tags=("vtable",),
)
def vtable_widen_time_travel(spark, sf_dir) -> DataFrame:
    """Era'd snapshot reads: dtypes come from the ACTUAL DataFrame
    schemas (not literals), so a widen map leaking backwards through
    time travel flips key_type/price_type and breaks parity."""
    vt = staged_vtable_widen(spark, sf_dir)

    def era(label: str, df: DataFrame) -> DataFrame:
        dt = dict(df.dtypes)
        return df.agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
            scaled_sum(F.col("price").cast("double")).alias("total_price"),
        ).select(
            F.lit(label).alias("snapshot"),
            F.lit(dt["o_orderkey"]).alias("key_type"),
            F.lit(dt["price"]).alias("price_type"),
            "n_orders",
            "key_checksum",
            "total_price",
        )

    return era("v0_narrow", vt.read(0)).unionByName(
        era("v5_head", vt.read())
    )


@register(
    "vtable_sql_source_widened_scan",
    oracle=f"""
    WITH {_WIDEN_HEAD_SQL}
    SELECT o_orderstatus AS status, src,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {scaled_sum_sql('price')} AS total_price
    FROM head WHERE k % 2 = 1 GROUP BY o_orderstatus, src
    """,
    survey="extension (lakehouse DDL x sources): the Python DataSource "
    "batch read over a WIDENED table — the commit log's widen map "
    "overrides the stale narrow footer types in the Arrow target "
    "schema (sources/vtable_batch.py _target_schema_at), each file "
    "upcast in align_arrow_table, DV masks applied; odd keys only, so "
    "the MOR post-images contribute nothing and parity proves masks + "
    "per-file upcast compose",
    tags=("vtable",),
)
def vtable_sql_source_widened_scan(spark, sf_dir) -> DataFrame:
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    vt = staged_vtable_widen(spark, sf_dir)
    register_vtable_source(spark)
    src = spark.read.format("eel_vtable").option("path", vt.root).load()
    return (
        src.filter(F.col("o_orderkey") % 2 == 1)
        .groupBy(F.col("o_orderstatus").alias("status"), "src")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            scaled_sum(F.col("price")).alias("total_price"),
        )
    )


@register(
    "vtable_partition_pruned_scan",
    oracle=f"""
    WITH t94 AS (
      SELECT * FROM orders
      WHERE o_orderdate >= TIMESTAMP '1994-01-01'
        AND o_orderdate <  TIMESTAMP '1995-01-01'
    ),
    t95 AS (
      SELECT * FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <  TIMESTAMP '1996-01-01'
    ),
    t96 AS (
      SELECT * FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
    ),
    -- file-plan arithmetic, derived from the SAME data the build
    -- partitioned: era A wrote one segment per 1995 month, era B one
    -- per md5-bucket(o_custkey, 8) over 1996 rows (the repo's portable
    -- hash primitive, identical in both engines for integral columns)
    months95 AS (
      SELECT CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m'))
                  AS BIGINT) AS n FROM t95
    ),
    buckets96 AS (
      SELECT CAST(COUNT(DISTINCT
                 ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
                 ::BIGINT % 8) AS BIGINT) AS n FROM t96
    ),
    march AS (
      SELECT * FROM t95
      WHERE o_orderdate >= TIMESTAMP '1995-03-01'
        AND o_orderdate <  TIMESTAMP '1995-04-01'
    ),
    -- the probe key must HAVE 1996 rows: pv pruning keeps exactly its
    -- bucket, and the stats fold can then never skip that segment (it
    -- provably holds the key).  A key absent from 1996 would let stats
    -- legitimately skip even its own bucket (observed at sf0.1).
    kmin AS (SELECT MIN(o_custkey) AS k FROM t96),
    krows AS (
      SELECT o.* FROM orders o, kmin
      WHERE o.o_custkey = kmin.k
        AND o.o_orderdate >= TIMESTAMP '1994-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    )
    -- month probe: pv pruning drops every 1995 month but March; the v0
    -- 1994 segment and all era-B bucket segments are scanned (timestamp
    -- footer stats are not JSON-safe, so ONLY partition values skip)
    SELECT 'month_1995_03' AS probe,
           (SELECT 2 + n FROM buckets96) AS n_planned,
           (SELECT n - 1 FROM months95) AS n_skipped,
           CAST((SELECT COUNT(*) FROM march) AS BIGINT) AS n_rows,
           (SELECT {scaled_sum_sql('o_totalprice')} FROM march)
             AS total_price
    UNION ALL
    -- bucket probe (era-B segments only: counts among segments carrying
    -- the bucket pv field — exactly one bucket holds the probe key)
    SELECT 'custkey_min_bucket' AS probe,
           CAST(1 AS BIGINT) AS n_planned,
           (SELECT n - 1 FROM buckets96) AS n_skipped,
           CAST((SELECT COUNT(*) FROM krows) AS BIGINT) AS n_rows,
           (SELECT {scaled_sum_sql('o_totalprice')} FROM krows)
             AS total_price
    """,
    survey="extension (lakehouse layout): Iceberg-style HIDDEN "
    "PARTITIONING with spec evolution as metadata commits "
    "(operators/vtable.py set_partition_spec) — partitioned writes "
    "record per-segment partition tuples; planning prunes on them "
    "BEFORE the stats fold; the planned/skipped file counts under a "
    "month probe and a bucket equality probe are value-pinned against "
    "counts the oracle derives from the same data, and the row values "
    "prove pruning never drops a holding segment",
    tags=("vtable",),
)
def vtable_partition_pruned_scan(spark, sf_dir) -> DataFrame:
    """Two probes over the spec table: files planned/skipped come from
    the engine's ACTUAL plan (pruned_segments); the oracle re-derives
    the expected counts from the data (months present in 1995, buckets
    present in 1996), so a pruning regression in either direction —
    over-skip OR over-scan — breaks parity."""
    import datetime

    vt = staged_vtable_spec(spark, sf_dir)
    snap = vt._replay()
    lo = datetime.datetime(1995, 3, 1)
    hi = datetime.datetime(1995, 3, 31, 23, 59, 59, 999999)
    scanned_m, skipped_m = vt._prune_range(snap, "o_orderdate", lo, hi)
    march = vt.read_pruned("o_orderdate", lo, hi).filter(
        (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    row_m = march.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    ).select(
        F.lit("month_1995_03").alias("probe"),
        F.lit(len(scanned_m)).cast("long").alias("n_planned"),
        F.lit(len(skipped_m)).cast("long").alias("n_skipped"),
        "n_rows",
        "total_price",
    )

    # min custkey WITH 1996 rows (see the oracle's kmin comment): its
    # bucket segment provably holds it, so planned_b is exactly 1
    k = (
        vt.read()
        .filter(F.year("o_orderdate") == 1996)
        .agg(F.min("o_custkey"))
        .collect()[0][0]
    )
    scanned_b, skipped_b = vt._prune_range(snap, "o_custkey", k, k)
    pvs = snap["pvs"]
    bkey = "bucket(o_custkey,8)"
    planned_b = sum(1 for r in scanned_b if bkey in pvs.get(r, {}))
    skipped_bn = sum(1 for r in skipped_b if bkey in pvs.get(r, {}))
    krows = vt.read_pruned("o_custkey", k, k).filter(F.col("o_custkey") == k)
    row_b = krows.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    ).select(
        F.lit("custkey_min_bucket").alias("probe"),
        F.lit(planned_b).cast("long").alias("n_planned"),
        F.lit(skipped_bn).cast("long").alias("n_skipped"),
        "n_rows",
        "total_price",
    )
    return row_m.unionByName(row_b)


@register(
    "vtable_stats_broadcast_join",
    oracle=f"""
    WITH dim AS (
      -- the admin table's head: customer + the restored-era +2M batch
      SELECT c_custkey, c_mktsegment FROM customer
      UNION ALL
      SELECT c_custkey + 2000000, c_mktsegment FROM customer
      WHERE c_custkey % 7 = 0
    )
    SELECT d.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {scaled_sum_sql('o.o_totalprice')} AS total_price
    FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
    GROUP BY d.c_mktsegment
    """,
    survey="extension (CBO): the commit log's ANALYZE stats CONSUMED by "
    "the planner — a Python DataSource reports no statistics (Spark "
    "costs it at defaultSizeInBytes, so a KB-sized dim never "
    "auto-broadcasts); VersionedTable.read_source feeds the log's "
    "live-set byte estimate (table_stats) into the broadcast decision "
    "and the star join against the vtable dim flips from shuffle to "
    "BroadcastHashJoin (plan-pinned in tests/test_plan_quality.py)",
    tags=("vtable",),
)
def vtable_stats_broadcast_join(spark, sf_dir) -> DataFrame:
    """Orders fact (parquet scan) x admin vtable dim (eel_vtable source
    + log-stats broadcast): value parity proves the hinted plan reads
    the same head snapshot; the broadcast flip itself is plan-asserted
    in tests."""
    vt = staged_vtable_admin(spark, sf_dir)
    dim = vt.read_source().select("c_custkey", "c_mktsegment")
    orders = t(spark, sf_dir, "orders")
    return (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            scaled_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "catalog_as_of_consistent_cut",
    oracle=f"""
    -- catalog v1 pinned: orders has thirds 0+1, customer still lacks
    -- BUILDING (the second transaction — orders third 2 + the BUILDING
    -- backfill — landed in catalog v2 and must be invisible at v1)
    WITH o_v1 AS (
      SELECT * FROM orders WHERE o_orderkey % 3 IN (0, 1)
    ),
    c_v1 AS (
      SELECT * FROM customer WHERE c_mktsegment <> 'BUILDING'
    )
    SELECT 'customer' AS side,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('c_acctbal')} AS value_sum,
           TRUE AS matches_time_travel
    FROM c_v1
    UNION ALL
    SELECT 'orders',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT),
           {scaled_sum_sql('o_totalprice')},
           TRUE
    FROM o_v1
    ORDER BY side
    """,
    survey="extension (catalog time travel): catalog.read_as_of — a "
    "CROSS-TABLE-CONSISTENT historical cut (Nessie tag / Iceberg "
    "catalog-snapshot shape, operators/catalog.py CatalogSnapshot): "
    "both tables served at the versions ONE catalog commit pinned, so "
    "a multi-table transaction is all-visible or all-invisible; the "
    "matches_time_travel column equates each snapshot read with the "
    "per-table time travel of its pinned version",
    tags=("vtable",),
)
def catalog_as_of_consistent_cut(spark, sf_dir) -> DataFrame:
    """Two multi-table transactions, then read AS OF the intermediate
    catalog version: txn2's orders rows AND its customer backfill must
    both be invisible (consistent cut), and each snapshot read must
    equal the per-table time travel of the version the cut pinned."""
    import shutil as _shutil

    from energy_emissions_lakehouse_spark.operators.catalog import (
        TableCatalog,
    )
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select(*_ORDER_COLS)
    cust = t(spark, sf_dir, "customer")
    base = os.path.join(
        staging_dir("vtable_catalog"),
        f"asof_{table_cache_key(sf_dir, 'orders', 'catalog', _HISTORY_REV)}",
    )
    _shutil.rmtree(base, ignore_errors=True)
    key = F.col("o_orderkey")
    t_orders = VersionedTable.create(
        spark, os.path.join(base, "orders"), orders.filter(key % 3 == 0)
    )
    t_cust = VersionedTable.create(
        spark,
        os.path.join(base, "customer"),
        cust.filter(F.col("c_mktsegment") != "BUILDING"),
    )
    cat = TableCatalog.create(
        spark, base, {"orders": t_orders.root, "customer": t_cust.root}
    )
    txn1 = cat.begin()
    txn1.table("orders").append(orders.filter(key % 3 == 1))
    v_mid = txn1.commit()
    txn2 = cat.begin()
    txn2.table("orders").append(orders.filter(key % 3 == 2))
    txn2.table("customer").append(
        cust.filter(F.col("c_mktsegment") == "BUILDING")
    )
    txn2.commit()

    snap = cat.read_as_of(v_mid)

    def _side(name: str, key_col: str, val_col: str) -> DataFrame:
        aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(key_col).cast("long").alias("key_checksum"),
            scaled_sum(F.col(val_col)).alias("value_sum"),
        ]
        got = snap.read(name).agg(*aggs)
        # per-table time travel of the pinned version must agree —
        # equated IN the result, so a divergence breaks value parity
        tt = (
            VersionedTable(spark, snap.entries[name]["root"])
            .read(snap.table_version(name))
            .agg(*[a.alias(f"tt_{i}") for i, a in enumerate(aggs)])
        )
        return got.crossJoin(F.broadcast(tt)).select(
            F.lit(name).alias("side"),
            "n_rows",
            "key_checksum",
            "value_sum",
            (
                (F.col("n_rows") == F.col("tt_0"))
                & (F.col("key_checksum") == F.col("tt_1"))
                & (F.col("value_sum") == F.col("tt_2"))
            ).alias("matches_time_travel"),
        )

    return (
        _side("customer", "c_custkey", "c_acctbal")
        .unionAll(_side("orders", "o_orderkey", "o_totalprice"))
        .orderBy("side")
    )


@register(
    "vtable_partition_compaction_identity",
    oracle=f"""
    WITH y95 AS (
      SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <  TIMESTAMP '1996-01-01'
    ),
    march AS (
      SELECT * FROM y95
      WHERE o_orderdate >= TIMESTAMP '1995-03-01'
        AND o_orderdate <  TIMESTAMP '1995-04-01'
    ),
    -- segment census for the months that stay UNTOUCHED: one segment
    -- per (month, key parity) half that has data (the build appends the
    -- two parities separately); January lives in the unpartitioned v0
    seg_other AS (
      SELECT CAST(COALESCE(SUM(
               CASE WHEN has_even THEN 1 ELSE 0 END
               + CASE WHEN has_odd THEN 1 ELSE 0 END), 0) AS BIGINT) AS n
      FROM (
        SELECT strftime(o_orderdate, '%m') AS m,
               BOOL_OR(o_orderkey % 2 = 0) AS has_even,
               BOOL_OR(o_orderkey % 2 = 1) AS has_odd
        FROM y95
        WHERE strftime(o_orderdate, '%m') NOT IN ('01', '03')
        GROUP BY 1
      )
    )
    SELECT 'march_after_optimize' AS probe,
           -- v0 (Jan, unpartitioned, timestamp stats unusable) + the
           -- ONE packed March segment (or the single pre-existing one
           -- when only one parity had data — no-op either way)
           CAST(2 AS BIGINT) AS n_planned,
           (SELECT n FROM seg_other) AS n_skipped,
           CAST((SELECT COUNT(*) FROM march) AS BIGINT) AS n_rows,
           CAST((SELECT SUM(o_orderkey) FROM march) AS BIGINT)
             AS key_checksum,
           (SELECT {scaled_sum_sql('o_totalprice')} FROM march)
             AS total_price
    """,
    survey="extension (table maintenance x layout, round 10): "
    "partition-scoped OPTIMIZE (Delta's OPTIMIZE ... WHERE; "
    "operators/vtable.py compact_partition) — only the probed month's "
    "segments are bin-packed, selected by pure pv METADATA (never a "
    "data scan); the packed segment keeps its partition tuple so "
    "pruning still works after the compaction; planned/skipped counts "
    "and March values pinned against data-derived oracle counts",
    tags=("vtable",),
)
def vtable_partition_compaction_identity(spark, sf_dir) -> DataFrame:
    """Build (v0 Jan unpartitioned; month spec; Feb-Dec appended as two
    key-parity halves = two segments per month), OPTIMIZE March only,
    then probe March: exactly v0 + the packed segment plan; every other
    month's two halves stay untouched and pv-pruned."""
    import datetime
    import shutil as _shutil

    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    y95 = orders.filter(F.year("o_orderdate") == 1995)
    root = os.path.join(
        staging_dir("vtable_catalog"),
        f"optwhere_{table_cache_key(sf_dir, 'orders', 'optw', _HISTORY_REV)}",
    )
    _shutil.rmtree(root, ignore_errors=True)
    mon = F.month("o_orderdate")
    key = F.col("o_orderkey")
    vt = VersionedTable.create(spark, root, y95.filter(mon == 1))
    vt.set_partition_spec([("o_orderdate", "month")])
    rest = y95.filter(mon != 1)
    vt.append(rest.filter(key % 2 == 0))
    vt.append(rest.filter(key % 2 == 1))
    vt.compact_partition("o_orderdate", datetime.date(1995, 3, 15))

    v = vt.latest_version()
    lo = datetime.datetime(1995, 3, 1)
    hi = datetime.datetime(1995, 3, 31, 23, 59, 59, 999999)
    scanned, skipped = vt.pruned_segments(v, "o_orderdate", lo, hi)
    march = vt.read_pruned("o_orderdate", lo, hi).filter(
        (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    return march.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    ).select(
        F.lit("march_after_optimize").alias("probe"),
        F.lit(len(scanned)).cast("long").alias("n_planned"),
        F.lit(len(skipped)).cast("long").alias("n_skipped"),
        "n_rows",
        "key_checksum",
        "total_price",
    )


@register(
    "vtable_describe_history",
    oracle="""
    -- the staged table's deterministic 6-commit history (see the module
    -- docstring): every column here is a protocol invariant of the
    -- build — op sequence, add/remove file-diff shapes, which commits
    -- wrote a change feed, which evolved the schema
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'create',  CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE, FALSE),
      (CAST(1 AS BIGINT), 'append',  CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE, FALSE),
      (CAST(2 AS BIGINT), 'merge',   CAST(1 AS BIGINT), CAST(2 AS BIGINT), TRUE,  FALSE),
      (CAST(3 AS BIGINT), 'delete',  CAST(1 AS BIGINT), CAST(1 AS BIGINT), TRUE,  FALSE),
      (CAST(4 AS BIGINT), 'compact', CAST(1 AS BIGINT), CAST(1 AS BIGINT), FALSE, FALSE),
      (CAST(5 AS BIGINT), 'append',  CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE, TRUE)
    ) AS t(version, op, n_added, n_removed, wrote_cdf, evolved_schema)
    """,
    survey="extension (warehouse ops, round 10): DESCRIBE HISTORY "
    "(Delta's table-history surface) served straight from the commit "
    "log as a DataFrame — per-version operation, file-diff shape, "
    "change-feed presence and schema-evolution markers, value-pinned "
    "against the staged build's protocol invariants; O(versions) "
    "driver metadata, no data read",
    tags=("vtable",),
)
def vtable_describe_history(spark, sf_dir) -> DataFrame:
    """The audit surface every lakehouse exposes: the commit log AS a
    table.  A wrong op label, a misfolded file diff, a merge that stops
    writing its feed, or an evolve losing its marker all break parity."""
    vt = staged_vtable(spark, sf_dir)
    rows = [
        (
            e["version"],
            e["op"],
            len(e["add"]),
            len(e["remove"]),
            bool(e.get("cdf")),
            bool(e.get("evolved")),
        )
        for e in vt.history()
    ]
    return spark.createDataFrame(
        rows,
        "version long, op string, n_added long, n_removed long, "
        "wrote_cdf boolean, evolved_schema boolean",
    )


@register(
    "vtable_concurrent_disjoint_rebase",
    oracle=f"""
    -- two writers raced disjoint-range replaceWheres: low keys got
    -- price*2, high keys price+5.  Disjoint ops COMMUTE, so the end
    -- state is deterministic whichever writer won the version race —
    -- and auto-rebase means BOTH landed with zero caller retries:
    -- exactly 4 commits (create, append, 2 replace_where), pinned in
    -- n_versions/ops_signature.
    WITH lim AS (
      SELECT MAX(o_orderkey) // 2 AS cut FROM orders
    ),
    final AS (
      SELECT o_orderkey, o_custkey,
             o_totalprice * 2 AS o_totalprice,
             CASE WHEN TRUE THEN 'low' END AS slice
      FROM orders, lim WHERE o_orderkey <= cut
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice + 5, 'high'
      FROM orders, lim WHERE o_orderkey > cut
    )
    SELECT slice,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           {scaled_sum_sql('o_totalprice')} AS value_sum,
           CAST(3 AS BIGINT) AS head_version,
           'append,create,replace_where,replace_where' AS ops_signature
    FROM final
    GROUP BY slice
    ORDER BY slice
    """,
    survey="extension (concurrency, round 11): SEMANTIC conflict "
    "resolution — Delta ConflictChecker semantics on the vtable commit "
    "log: two writers genuinely racing (threads, barrier-released) on "
    "DISJOINT key ranges both land with ZERO caller-visible retries "
    "(a lost os.link race is auto-rebased after proving the "
    "interleaved commit's adds/removes disjoint via log stats/pv), "
    "pinned by head_version=3 + the op multiset; the value oracle "
    "checks the commuted end state exactly.  True conflicts "
    "(overlapping removes/reads, metadata changes) still raise typed "
    "ConcurrentCommitError subclasses — pinned in "
    "tests/test_round11_ops.py",
    tags=("vtable",),
)
def vtable_concurrent_disjoint_rebase(spark, sf_dir) -> DataFrame:
    """Two racing writers, disjoint ranges, one table: writer A
    replaceWheres the low half (price*2), writer B the high half
    (price+5), released simultaneously.  Whoever loses the version-claim
    race auto-rebases (operators/vtable.py _commit_rebased) instead of
    surfacing ConcurrentCommitError — the Delta PROTOCOL.md conflict
    table, re-expressed over the JSON log.  Deterministic because
    disjoint replaces commute."""
    import shutil as _shutil
    import threading

    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cut = orders.agg(F.max("o_orderkey")).first()[0] // 2
    low = orders.filter(F.col("o_orderkey") <= cut)
    high = orders.filter(F.col("o_orderkey") > cut)
    root = os.path.join(
        staging_dir("vtable_race"),
        f"rebase_{table_cache_key(sf_dir, 'orders', 'race', _HISTORY_REV)}",
    )
    _shutil.rmtree(root, ignore_errors=True)
    # two segments with disjoint o_orderkey ranges — the stats/pv
    # evidence the rebase disjointness proof runs on
    vt = VersionedTable.create(spark, root, low)
    vt.append(high)

    new_low = low.withColumn("o_totalprice", F.col("o_totalprice") * 2)
    new_high = high.withColumn("o_totalprice", F.col("o_totalprice") + 5)
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def _writer(df, lo, hi):
        try:
            barrier.wait(timeout=120)
            VersionedTable(spark, root).overwrite_range(
                df, "o_orderkey", lo, hi
            )
        except Exception as exc:  # noqa: BLE001 — re-raised on the caller
            errs.append(exc)

    threads = [
        threading.Thread(target=_writer, args=(new_low, 0, cut)),
        threading.Thread(
            target=_writer, args=(new_high, cut + 1, 1 << 62)
        ),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errs:
        raise errs[0]

    ops_sig = ",".join(sorted(e["op"] for e in vt.history()))
    head = vt.latest_version()
    return (
        vt.read()
        .withColumn(
            "slice",
            F.when(F.col("o_orderkey") <= cut, "low").otherwise("high"),
        )
        .groupBy("slice")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
            scaled_sum(F.col("o_totalprice")).alias("value_sum"),
        )
        .withColumn("head_version", F.lit(int(head)).cast("long"))
        .withColumn("ops_signature", F.lit(ops_sig))
        .orderBy("slice")
    )


@register(
    "vtable_ndv_inset_pushdown",
    oracle=f"""
    -- the NDV-driven strategy: the nation dim's log sketch says 15
    -- distinct keys, under the IN threshold, so the fact filter is a
    -- pushed IN list (no join in the plan — used_inset pins it), value
    -- -identical to the semi-join it replaces
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {scaled_sum_sql('c_acctbal')} AS acctbal_sum,
           TRUE AS used_inset
    FROM customer
    WHERE c_nationkey IN (
      SELECT n_nationkey FROM nation WHERE n_regionkey <= 2
    )
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
    survey="extension (CBO, round 11): column-level NDV from the commit "
    "log CONSUMED by the planner — every data commit on an ndv_cols "
    "table folds one HLL sketch per column per segment into its stats "
    "(Iceberg puffin-NDV analog; one grouped aggregate per commit, "
    "O(delta)); table_ndv unions the live set's sketches O(segments), "
    "and distinct_filter flips the dim-key filter between a pushed IN "
    "list (NDV under threshold: footer-pruned fact scan, no shuffle) "
    "and a LEFT SEMI join (the corpus-proportional plan).  Both plan "
    "directions + the no-sketch conservative fallback are asserted in "
    "tests/test_round11_ops.py; used_inset pins the chosen strategy "
    "inside the value oracle",
    tags=("vtable",),
)
def vtable_ndv_inset_pushdown(spark, sf_dir) -> DataFrame:
    """Customer fact filtered by a 15-key nation vtable dim through the
    NDV-driven strategy choice: the log's HLL estimate (15 <= 64)
    selects the IN-pushdown plan — used_inset is computed FROM the
    executed plan, so a silent fallback to the join breaks parity."""
    import shutil as _shutil

    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    nation = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    root = os.path.join(
        staging_dir("vtable_catalog"),
        f"ndv_{table_cache_key(sf_dir, 'nation', 'ndv', _HISTORY_REV)}",
    )
    _shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable.create(
        spark,
        root,
        nation.filter(F.col("n_regionkey") <= 2),
        ndv_cols=["n_nationkey"],
    )
    cust = t(spark, sf_dir, "customer")
    filtered = vt.distinct_filter(
        cust, "c_nationkey", "n_nationkey", max_inset=64
    )
    # Detect the strategy from the executed plan by matching the
    # CONCRETE join-exec node names (BroadcastHashJoin / SortMergeJoin /
    # ShuffledHashJoin / BroadcastNestedLoopJoin — stable across Spark
    # 3.x/4.x), not the bare substring "Join", which any future plan
    # text could contain incidentally and silently flip this pinned
    # column.  Spark-version coupling: if an exec node is ever renamed,
    # the companion pytests (tests/test_round11_ops.py::
    # test_ndv_{low,high}_cardinality_*) assert both directions of the
    # underlying strategy and will catch the drift.
    _plan = filtered._jdf.queryExecution().executedPlan().toString()
    used_inset = not any(
        node in _plan
        for node in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
        )
    )
    return (
        filtered.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            scaled_sum(F.col("c_acctbal")).alias("acctbal_sum"),
        )
        .withColumn("used_inset", F.lit(bool(used_inset)))
        .orderBy("segment")
    )


@register(
    "vtable_skew_salted_join",
    oracle=f"""
    -- stats-driven skew mitigation (round 12): the fact table's commit-
    -- log MCV stat says one key carries ~52% of the skewed build's rows
    -- (>= the 10% skew_frac), so the planner salts that join; the
    -- uniform build's hottest key is ~4%, so it stays a plain shuffle
    -- join.  used_salt pins the chosen strategy inside the value oracle
    -- (both directions in one result), and the salted rewrite must be
    -- row-identical to the plain join.
    WITH fact_skew AS (
      SELECT CAST(CASE WHEN o_orderkey % 2 = 0 THEN 7
                       ELSE o_orderkey % 25 END AS INTEGER) AS k,
             o_totalprice
      FROM orders
    ), fact_unif AS (
      SELECT CAST(o_orderkey % 25 AS INTEGER) AS k, o_totalprice
      FROM orders
    ), dim AS (
      SELECT CAST(n_nationkey AS INTEGER) AS k, n_regionkey AS r
      FROM nation
    )
    SELECT * FROM (
      SELECT 'skewed' AS fact_kind, r,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {scaled_sum_sql('o_totalprice')} AS price_sum,
             TRUE AS used_salt
      FROM fact_skew JOIN dim USING (k) GROUP BY r
      UNION ALL
      SELECT 'uniform' AS fact_kind, r,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             {scaled_sum_sql('o_totalprice')} AS price_sum,
             FALSE AS used_salt
      FROM fact_unif JOIN dim USING (k) GROUP BY r
    )
    ORDER BY fact_kind, r
    """,
    survey="extension (CBO, round 12): commit-log MCV column stats "
    "CONSUMED by join planning — every data commit on an ndv_cols table "
    "records the per-segment most-common-value + count (Postgres "
    "pg_stats.most_common_vals analog; one O(delta) grouped aggregate "
    "per commit), table_mcv folds the live set O(segments), and "
    "join_skew_planned flips the fact-dim join between the salted "
    "rewrite (hot-key fraction >= skew_frac and the dim not provably "
    "broadcastable — the case where AQE's skew split is suppressed by "
    "downstream hash-distribution requirements; measured 1.24x win, "
    "round-9 skew-join stressor) and the plain shuffle join.  Unknown "
    "stats choose conservatively (no salt, no broadcast).  Both plan "
    "directions + fallbacks are asserted in tests/test_round12_ops.py; "
    "used_salt pins the chosen strategy inside the value oracle",
    tags=("vtable",),
)
def vtable_skew_salted_join(spark, sf_dir) -> DataFrame:
    """Two order-derived fact vtables (one hot-keyed, one uniform)
    joined to the nation dim through the stats-driven planner: the
    skewed build must come out salted, the uniform build unsalted —
    detected from the executed plans (the salt column is physical), and
    both value-identical to the plain SQL join."""
    from energy_emissions_lakehouse_spark.operators.skew import SALT_COL
    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )

    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    dim = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("k"),
        F.col("n_regionkey").alias("r"),
    )
    facts = {
        "skewed": orders.select(
            F.when(F.col("o_orderkey") % 2 == 0, F.lit(7))
            .otherwise(F.col("o_orderkey") % 25)
            .cast("int")
            .alias("k"),
            "o_totalprice",
        ),
        "uniform": orders.select(
            (F.col("o_orderkey") % 25).cast("int").alias("k"),
            "o_totalprice",
        ),
    }
    parts = []
    for kind, fact_df in sorted(facts.items()):
        # build-once-serve-many (the fact table is INDEX-like state, and
        # the MCV/HLL stats jobs are its one-time ANALYZE cost): keyed
        # on the source's mtime so a regenerated corpus rebuilds
        def _populate(tmp, fact_df=fact_df):
            VersionedTable.create(
                spark,
                os.path.join(tmp, "t"),
                fact_df,
                ndv_cols=["k"],
            )

        base = staged_artifact(
            "vtable_skewjoin",
            f"{kind}_"
            f"{table_cache_key(sf_dir, 'orders', 'mcv', _HISTORY_REV)}",
            _populate,
        )
        vt = VersionedTable(spark, os.path.join(base, "t"))
        joined = vt.join_skew_planned(dim, "k")
        agg = joined.groupBy("r").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            scaled_sum(F.col("o_totalprice")).alias("price_sum"),
        )
        # the salt column is physical: its presence in the EXECUTED plan
        # is the strategy, not a guess
        used_salt = SALT_COL in (
            agg._jdf.queryExecution().executedPlan().toString()
        )
        parts.append(
            agg.select(
                F.lit(kind).alias("fact_kind"),
                "r",
                "n_rows",
                "price_sum",
                F.lit(bool(used_salt)).alias("used_salt"),
            )
        )
    out = parts[0].unionByName(parts[1])
    return out.orderBy("fact_kind", "r")


@register(
    "stream_vtable_availablenow_drain",
    oracle=f"""
    -- the drained sink must equal the batch read of the table head:
    -- run 1 drains v0+v1 and STOPS (Trigger.AvailableNow), v2 lands
    -- while the stream is down, run 2 restarts from the same checkpoint
    -- and drains ONLY v2 — a replayed version double-counts, a skipped
    -- one under-counts, and either breaks the hash
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey="W4 S4 — Trigger.AvailableNow batch-drain of the vtable "
    "stream source (Delta availableNow backfill: drain everything "
    "committed, stop, restart later for the increment).  Two drains "
    "against ONE durable checkpoint with a commit landing between them: "
    "exactly-once across the restart is pinned by the value oracle "
    "(sink == batch read at the final head), the production backfill "
    "pattern the per-version replay modes don't cover",
    tags=("vtable", "streaming"),
)
def stream_vtable_availablenow_drain(spark, sf_dir) -> DataFrame:
    """Drain a 2-commit orders vtable into a parquet sink via
    Trigger.AvailableNow, append a third commit while the stream is
    stopped, then restart from the same checkpoint and drain again: the
    sink must hold exactly the head's batch content — each of the three
    order slices exactly once."""
    import shutil as _shutil

    from energy_emissions_lakehouse_spark.operators.vtable import (
        VersionedTable,
    )
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )

    base = os.path.join(
        staging_dir("vtable_catalog"),
        f"anow_{table_cache_key(sf_dir, 'orders', 'anow', _HISTORY_REV)}",
    )
    _shutil.rmtree(base, ignore_errors=True)
    troot = os.path.join(base, "t")
    sink = os.path.join(base, "sink")
    ck = os.path.join(base, "ck")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    vt = VersionedTable.create(
        spark, troot, orders.filter(F.col("o_orderkey") % 3 == 0)
    )
    vt.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    register_vtable_source(spark)

    def drain() -> None:
        q = (
            spark.readStream.format("eel_vtable")
            .option("path", troot)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # v0 + v1, then the query STOPS (drained)
    vt.append(orders.filter(F.col("o_orderkey") % 3 == 2))
    drain()  # restart from the durable checkpoint: v2 only
    return (
        spark.read.parquet(sink)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            scaled_sum(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "stream_vtable_starting_version",
    oracle=f"""
    -- startingVersion=5 on the staged 6-version history: the stream
    -- must deliver ONLY the v5 evolved-backfill commit — none of the
    -- v0/v1 history re-streams (the Delta partial-backfill contract);
    -- a full replay would multiply every original row into the counts
    WITH {_V2_SQL}
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {scaled_sum_sql('o_totalprice')} AS total_price
    FROM v2 WHERE (o_orderkey % 13) = 0
    GROUP BY o_orderpriority
    """,
    survey="W4 S4 — startingVersion on the vtable stream source (Delta "
    "readStream .option('startingVersion', N)): a NEW stream begins AT "
    "commit N instead of replaying the whole log — the partial-backfill "
    "/ resume-CDC-from-a-known-point pattern; startingTimestamp resolves "
    "through commit timestamps the same way, the two are mutually "
    "exclusive, a start past the head idles until the log catches up, "
    "and on restart the sink checkpoint's offset wins (the option names "
    "where a NEW query begins — Delta semantics).  Pinned value-exactly: "
    "only the v5 backfill slice may arrive",
    tags=("vtable", "streaming"),
)
def stream_vtable_starting_version(spark, sf_dir) -> DataFrame:
    """Stream the staged history from startingVersion=5 (the evolved
    backfill commit): the aggregate must contain exactly that slice."""
    from energy_emissions_lakehouse_spark.sources.vtable_stream import (
        register_vtable_source,
    )
    from energy_emissions_lakehouse_spark.streaming.jobs import (
        run_to_table,
    )

    vt = staged_vtable(spark, sf_dir)
    register_vtable_source(spark)
    stream = (
        spark.readStream.format("eel_vtable")
        .option("path", vt.root)
        .option("skipChangeCommits", "true")
        .option("startingVersion", "5")
        .load()
    )
    agg = stream.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        scaled_sum(F.col("o_totalprice")).alias("total_price"),
    )
    return run_to_table(agg, "complete")
