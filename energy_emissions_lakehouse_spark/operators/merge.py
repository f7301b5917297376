"""Relational upsert / insert-if-missing (SURVEY.md §2.1 S7/S8).

The reference loads its warehouse with staging tables + Postgres
``INSERT ... ON CONFLICT DO UPDATE`` (load_to_postgres.py:73-117) and
``INSERT ... SELECT ... LEFT JOIN ... WHERE key IS NULL`` (:29-35).
Spark-first equivalents, expressed as pure DataFrame algebra so they run
anywhere (and so the oracle can check them); on a Delta/Iceberg table the
storage-level ``MERGE INTO`` replaces the rewrite with a row-level commit.

Scale: the algebra is a single equi-join on the key columns — shuffle hash
join on big-big, broadcast when the source is small. No collects. The
*physical* scale path is ``upsert_partition_scoped``: a daily 0.1% delta
into a 100 TB table must rewrite only the partitions the delta touches
(dynamic partition overwrite), never the full table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _dedupe_source(source: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE requires at most one source row per key (Delta/SQL MERGE
    errors otherwise). Tie-break: keep the row with the smallest non-key
    column tuple (nulls first) — deterministic, engine-independent."""
    non_keys = [c for c in source.columns if c not in keys]
    if not non_keys:
        return source.distinct()
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc_nulls_first() for c in non_keys]
    )
    return (
        source.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert(target: DataFrame, source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """MERGE semantics: source wins on key conflict, unmatched target rows
    survive, unmatched source rows are inserted. Idempotent: applying the
    same source twice yields the same result (load_to_postgres.py:13).
    A source with duplicate keys is deduped first (smallest non-key tuple
    wins) so the key-uniqueness invariant of the target is preserved."""
    keys = list(keys)
    src = _dedupe_source(source.select(*target.columns), keys)
    kept_target = target.join(src.select(*keys).distinct(), on=keys, how="left_anti")
    return kept_target.unionByName(src)


def scope_to_touched_partitions(
    target: DataFrame, source: DataFrame, partition_col: str
) -> DataFrame:
    """Restrict a partitioned target scan to the partitions present in the
    source, as a broadcast left-semi join on the partition column.

    On a partitioned file source this triggers DYNAMIC PARTITION PRUNING:
    the executed plan carries ``SubqueryBroadcast dynamicpruning`` on the
    target scan's partition filter, so untouched partition directories are
    never listed or read (asserted in tests/test_operators.py). This is
    the read-side half of the partition-scoped MERGE contract."""
    touched = source.select(partition_col).distinct()
    return target.join(F.broadcast(touched), [partition_col], "left_semi")


def upsert_partition_scoped(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    partition_col: str,
) -> None:
    """MERGE into a parquet table partitioned by ``partition_col``,
    rewriting ONLY the partitions present in the source.

    This is the physical design round 1 lacked: the algebraic ``upsert``
    rewrote 100% of the target per merge — a scale-killer for a small
    delta into a huge table. Here:

    1. the source's distinct partition keys are collected *as a broadcast
       semi-join* (never to the driver) to scope the target scan to
       touched partitions — partition pruning makes that scan read only
       those directories;
    2. the merge algebra runs on that scoped slice only;
    3. ``partitionOverwriteMode=dynamic`` overwrites exactly the written
       partitions; untouched partition directories are not listed, read,
       or replaced.

    Constraint (shared with every partitioned MERGE implementation): the
    merge must not move a row across partitions — ``partition_col`` is
    immutable under the update. Cost scales with |touched partitions|,
    not |target|. On Delta/Iceberg the same call becomes MERGE INTO with
    file-level pruning instead of partition-level.
    """
    keys = list(keys)
    target = spark.read.parquet(target_path)
    scoped = scope_to_touched_partitions(target, source, partition_col)
    merged = upsert(scoped, source.select(*target.columns), keys)
    # Materialize before the write: the plan reads the same path it
    # overwrites. Size = touched partitions only (the delta, not the table).
    merged = merged.localCheckpoint(eager=True)
    # dynamic overwrite as a per-write option: only the touched partitions
    # are replaced, and the session conf is never touched
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target_path)
    )


def insert_missing(target: DataFrame, source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Insert-if-missing: append only source rows whose key is absent from
    target (dimension load pattern, load_to_postgres.py:29-35)."""
    keys = list(keys)
    new_rows = source.join(target.select(*keys).distinct(), on=keys, how="left_anti")
    return target.unionByName(new_rows.select(*target.columns))


def upsert_change_feed(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    delete_unmatched: bool = False,
) -> DataFrame:
    """The CHANGE DATA FEED of an upsert — what Delta Lake's CDF
    (``table_changes``) emits for ``MERGE ... WHEN MATCHED UPDATE WHEN
    NOT MATCHED INSERT``: every touched target row as an
    ``update_preimage`` + ``update_postimage`` pair, every new key as an
    ``insert`` row, tagged in a ``_change_type`` column.  Downstream
    incremental consumers (sync jobs, aggregate maintenance, audit) read
    the feed instead of diffing snapshots.

    Semantics match Delta's unconditional WHEN MATCHED UPDATE: matched
    rows emit pre/post images even when values are identical (the row
    was touched).  ``delete_unmatched=True`` adds the WHEN NOT MATCHED
    BY SOURCE THEN DELETE clause — target keys absent from the source
    emit ``delete`` rows, the full-snapshot-sync MERGE shape (dimension
    reloads); the reference's upsert loads never delete, so the default
    is False.

    Scale: key equi-joins (semi/anti) over the same shuffle key —
    Catalyst reuses the exchange; the upsert feed volume is O(|source|)
    (with deletes it is O(|source| + |removed|), inherent to
    full-sync)."""
    keys = list(keys)
    src = _dedupe_source(source.select(*target.columns), keys)
    src_keys = src.select(*keys).distinct()
    tgt_keys = target.select(*keys).distinct()
    pre = target.join(src_keys, on=keys, how="left_semi").withColumn(
        "_change_type", F.lit("update_preimage")
    )
    post = src.join(tgt_keys, on=keys, how="left_semi").withColumn(
        "_change_type", F.lit("update_postimage")
    )
    ins = src.join(tgt_keys, on=keys, how="left_anti").withColumn(
        "_change_type", F.lit("insert")
    )
    feed = pre.unionByName(post).unionByName(ins)
    if delete_unmatched:
        dels = target.join(src_keys, on=keys, how="left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        feed = feed.unionByName(dels)
    return feed
